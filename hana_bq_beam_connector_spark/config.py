"""Pipeline configuration mirroring the reference's Options surface.

The reference declares 10 Beam pipeline options (HanaToBQ.java:175-224):
tableName, connectionString, username, password, driver, destDataset,
timestampColumn, startTime, endTime, chunkSize.  Differences here are
deliberate fixes documented in SURVEY.md §2a quirks:

* ``end_time`` is honored (the reference declares it at
  HanaToBQ.java:216-218 but never reads it; the last chunk's upper
  bound is a hardcoded ``2000000000`` sentinel at HanaToBQ.java:166).
* timestamps are typed values, not strings bound with ``setString``
  (HanaToDBRow.java:107-109).
* ``stringify`` (ref-parity lossy mode, HanaDBRowToTableRowFn.java:26-35)
  is an opt-in toggle, off by default.
* ``destDataset`` has no field: the sink is a parquet directory,
  ``dest_path``, the only sink this build writes.
"""

from __future__ import annotations

from dataclasses import dataclass, field


DEFAULT_JDBC_DRIVER = "com.sap.db.jdbc.Driver"  # HanaToBQ.java:197-200
DEFAULT_CHUNK_SIZE = 1_000_000  # rows per chunk, HanaToBQ.java:220-223


@dataclass
class PipelineConfig:
    """Configuration for the HANA→sink parity pipeline (SURVEY §2a R14)."""

    table_name: str
    timestamp_column: str
    start_time: float
    # Fixed vs reference: end_time honored, default +inf (quirk #2).
    end_time: float = float("inf")
    chunk_size: int = DEFAULT_CHUNK_SIZE

    # JDBC source (unused when reading the parquet test stand-in).
    connection_string: str | None = None
    username: str | None = None
    password: str | None = None
    driver: str = DEFAULT_JDBC_DRIVER

    # Sink: a local parquet "BigQuery" stand-in.
    dest_path: str | None = None

    # Reference-parity toggle (lossy; default off = fixed).
    stringify: bool = False

    jdbc_options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.chunk_size <= 0:
            raise ValueError(f"chunk_size must be positive, got {self.chunk_size}")
        if self.end_time < self.start_time:
            raise ValueError(
                f"end_time {self.end_time} precedes start_time {self.start_time}"
            )
        if not self.table_name:
            raise ValueError("table_name is required")
        if not self.timestamp_column:
            raise ValueError("timestamp_column is required")

    @property
    def jdbc_properties(self) -> dict[str, str]:
        props = {"driver": self.driver, **self.jdbc_options}
        if self.username is not None:
            props["user"] = self.username
        if self.password is not None:
            props["password"] = self.password
        return props
