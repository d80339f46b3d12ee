"""Seeded inputs for the copy workload (numpy/pandas only).

Every generator takes the workload seed and nothing else that varies,
so one seed always yields the same tables; :func:`fingerprint` hashes a
table so a run can record (and a test can pin) what it was fed.

:func:`source_table` and :func:`delta_table` build the copy workload's
JDBC source: a skewed time column (most rows early in the range),
nullable decimal and double columns, and varchar columns.  The
``query_mix`` inputs are not generated: they are the checked-in tables
under ``perfbench/data/``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

EPOCH0_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
DAY_MS = 86_400_000
SPAN_MS = 30 * DAY_MS  # base rows fall in [EPOCH0, EPOCH0 + SPAN)
CATEGORIES = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
NULL_SHARE = 0.05  # of AMOUNT and of SCORE
SKEW = 3.0  # time column = EPOCH0 + SPAN * u**SKEW, u uniform

# Derby DDL for the copy source.  VARCHAR, not the CLOB that Spark's
# Derby dialect would create from a string column, so the source reads
# like a real OLTP table.  AMOUNT arrives as cents and is cast to the
# decimal type on load (see SOURCE_SELECT).
SOURCE_DDL = (
    "CREATE TABLE {table} ("
    "ID BIGINT NOT NULL PRIMARY KEY, "
    "TS TIMESTAMP NOT NULL, "
    "USER_ID INTEGER NOT NULL, "
    "AMOUNT DECIMAL(12,2), "
    "SCORE DOUBLE, "
    "CATEGORY VARCHAR(16), "
    "NOTE VARCHAR(48))"
)
# Spark SQL projection from the generated frame to the DDL's columns.
SOURCE_SELECT = (
    "ID",
    "timestamp_millis(TS_MS) AS TS",
    "USER_ID",
    "CAST(CAST(AMOUNT_CENTS AS DECIMAL(14,0)) / 100 AS DECIMAL(12,2)) "
    "AS AMOUNT",
    "SCORE",
    "CATEGORY",
    "NOTE",
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, table)."""
    key = int.from_bytes(
        hashlib.blake2b(f"{seed}:{stream}".encode(), digest_size=8).digest(),
        "little",
    )
    return np.random.default_rng(key)


def _typed_columns(
    rng: np.random.Generator, ids: np.ndarray, ts_ms: np.ndarray
) -> pd.DataFrame:
    n = len(ids)

    def nulls() -> np.ndarray:
        return rng.random(n) < NULL_SHARE

    cents = pd.array(rng.integers(0, 10_000_000, n), dtype="Int64")
    cents[nulls()] = pd.NA
    score = rng.normal(50.0, 15.0, n).round(4)
    score[nulls()] = np.nan
    category = np.array(CATEGORIES, dtype=object)[
        rng.integers(0, len(CATEGORIES), n)
    ]
    # Spark's JDBC writer binds a null string as CLOB, which a Derby
    # VARCHAR column rejects, so the sparse free-text column carries
    # the literal "null" instead — the text stringify() maps to NULL.
    note = np.array(
        [f"note-{v:x}" for v in rng.integers(0, 1 << 40, n)], dtype=object
    )
    note[rng.random(n) < 0.5] = "null"
    return pd.DataFrame(
        {
            "ID": ids.astype("int64"),
            "TS_MS": ts_ms.astype("int64"),
            "USER_ID": rng.integers(0, 5_000, n).astype("int32"),
            "AMOUNT_CENTS": cents,
            "SCORE": score,
            "CATEGORY": category,
            "NOTE": note,
        }
    )


def source_table(seed: int, rows: int) -> pd.DataFrame:
    """Base copy source: IDs ``0..rows-1`` and a time column skewed
    toward the start of its range (half the rows fall in the first
    eighth)."""
    rng = _rng(seed, "source")
    u = rng.random(rows)
    ts_ms = EPOCH0_MS + np.floor(SPAN_MS * u**SKEW)
    return _typed_columns(rng, np.arange(rows), ts_ms)


def delta_table(
    seed: int, k: int, base_rows: int, delta_rows: int
) -> pd.DataFrame:
    """The ``k``-th increment: ``delta_rows`` late rows with fresh IDs,
    timestamped in day ``k`` after the base range, so every delta is
    strictly newer than everything before it."""
    rng = _rng(seed, f"delta{k}")
    ids = base_rows + k * delta_rows + np.arange(delta_rows)
    ts_ms = (
        EPOCH0_MS + SPAN_MS + k * DAY_MS
        + np.sort(rng.integers(0, DAY_MS, delta_rows))
    )
    return _typed_columns(rng, ids, ts_ms)


def fingerprint(df: pd.DataFrame) -> str:
    """Content hash of a generated frame (values and column names)."""
    h = hashlib.blake2b(digest_size=12)
    h.update("\x1f".join(df.columns).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()
