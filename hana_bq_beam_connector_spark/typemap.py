"""HANA → BigQuery → Spark type mapping (SURVEY §1.3).

The reference's entire type system is one static 21-entry map from
HANA catalog type names to BigQuery types (HanaToBQ.java:59-81),
applied to rows of ``SELECT COLUMN_NAME, DATA_TYPE_NAME FROM
TABLE_COLUMNS ... ORDER BY POSITION ASC`` (HanaToBQ.java:56).  Unknown
types abort the run (HanaToBQ.java:129-132) — we keep that fail-fast
behavior (and fix the silent ``return null`` on SQL failure at
HanaToBQ.java:142).

Two deliberate fidelity fixes, both opt-out for reference parity:

* DECIMAL/SMALLDECIMAL map to ``DecimalType(38, 18)`` by default; the
  reference's lossy DECIMAL→FLOAT64 (HanaToBQ.java:77-80) is behind
  ``decimal_as_double=True``.
* BLOB/VARBINARY map to ``BinaryType``; the reference stringifies LOBs
  (HanaToBQ.java:64-66), which destroys binary data.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    NumericType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# HANA type name -> BigQuery type, verbatim from HanaToBQ.java:59-81.
HANA_TO_BQ: dict[str, str] = {
    "NVARCHAR": "STRING",
    "VARCHAR": "STRING",
    "ALPHANUM": "STRING",
    "SHORTTEXT": "STRING",
    "BLOB": "STRING",
    "CLOB": "STRING",
    "NCLOB": "STRING",
    "TEXT": "STRING",
    "VARBINARY": "BYTES",
    "INTEGER": "INTEGER",
    "DATE": "DATE",
    "TIME": "TIME",
    "DATETIME": "DATETIME",
    # HANA's ACTUAL timestamp catalog types — the reference's map has
    # only the nonexistent "DATETIME" (HanaToBQ.java:59-81), so every
    # table with a timestamp column aborts (SURVEY quirk: the pipeline
    # chunks on exactly such a column).  Both are wall-clock values →
    # TIMESTAMP_NTZ.
    "TIMESTAMP": "DATETIME",
    "SECONDDATE": "DATETIME",
    "BOOLEAN": "BOOLEAN",
    "TINYINT": "INTEGER",
    "SMALLINT": "INTEGER",
    "BIGINT": "INTEGER",
    "SMALLDECIMAL": "FLOAT",
    "DECIMAL": "FLOAT",
    "DOUBLE": "FLOAT",
    "REAL": "FLOAT",
}


class UnknownHanaTypeError(ValueError):
    """Raised for catalog types outside the map (HanaToBQ.java:129-132)."""


def hana_to_spark_type(
    hana_type: str,
    *,
    decimal_as_double: bool = False,
    precision: int | None = None,
    scale: int | None = None,
    time_as_string: bool = True,
) -> DataType:
    """Map one HANA catalog type name to the Spark type we ingest as.

    ``precision``/``scale`` carry the catalog's LENGTH/SCALE for
    DECIMAL columns; without them the non-lossy (38, 18) fallback
    applies.

    ``time_as_string=True`` (default) keeps the documented
    HANA TIME → string mapping for compatibility with sinks that
    predate Spark's TimeType; pass ``False`` on Spark 4.1+ to ingest
    TIME as a real ``TimeType()`` (second precision matches HANA
    TIME's hh:mm:ss domain; Spark's default micro precision is a
    superset, so the mapping is non-lossy in this direction)."""
    name = hana_type.upper()
    if name == "TIME" and not time_as_string:
        try:
            from pyspark.sql.types import TimeType
        except ImportError as exc:  # pragma: no cover - old Spark
            raise UnknownHanaTypeError(
                "time_as_string=False needs Spark 4.1+ (TimeType); "
                "this Spark has none — keep the string mapping"
            ) from exc
        return TimeType()
    if name not in HANA_TO_BQ:
        raise UnknownHanaTypeError(
            f"HANA type {hana_type!r} has no BigQuery mapping "
            "(reference aborts here too, HanaToBQ.java:129-132)"
        )
    if name in ("DECIMAL", "SMALLDECIMAL") and not decimal_as_double:
        if precision is not None:
            # Catalog-exact mapping: a DECIMAL(38,0) surrogate key
            # under a blanket (38,18) would keep only 20 integer
            # digits and corrupt keys silently.
            return DecimalType(precision, scale or 0)
        return DecimalType(38, 18)  # fallback; ref uses FLOAT
    if name in ("BLOB", "VARBINARY"):
        return BinaryType()  # non-lossy; ref stringifies BLOB
    bq = HANA_TO_BQ[name]
    return {
        "STRING": StringType(),
        "BYTES": BinaryType(),
        "INTEGER": LongType(),  # BQ INTEGER is int64 → widen all ints
        "DATE": DateType(),
        "TIME": StringType(),  # Spark has no TIME type; documented
        "DATETIME": TimestampNTZType(),
        "BOOLEAN": BooleanType(),
        "FLOAT": DoubleType(),
    }[bq]


@dataclass(frozen=True)
class CatalogColumn:
    """One row of HANA's TABLE_COLUMNS catalog (name, type, position,
    and for DECIMAL columns the catalog LENGTH/SCALE — without them
    the mapping falls back to DecimalType(38, 18))."""

    column_name: str
    data_type_name: str
    position: int
    precision: int | None = None
    scale: int | None = None


def catalog_to_schema(
    columns: list[CatalogColumn],
    *,
    decimal_as_double: bool = False,
    time_as_string: bool = True,
) -> StructType:
    """Build the ingest StructType from catalog rows, ordered by
    POSITION ASC exactly like the reference's schema query
    (HanaToBQ.java:56,104-143)."""
    ordered = sorted(columns, key=lambda c: c.position)
    return StructType(
        [
            StructField(
                c.column_name,
                hana_to_spark_type(
                    c.data_type_name,
                    decimal_as_double=decimal_as_double,
                    precision=c.precision,
                    scale=c.scale,
                    time_as_string=time_as_string,
                ),
                nullable=True,
            )
            for c in ordered
        ]
    )


# Non-null values of these types print as digits, NaN, Infinity,
# true/false or ISO dates and timestamps, never as "null".
_NEVER_PRINTS_NULL = (
    NumericType,
    BooleanType,
    DateType,
    TimestampType,
    TimestampNTZType,
)


def stringify(df: DataFrame, *, drop_null_strings: bool = True) -> DataFrame:
    """Reference-parity value conversion (HanaDBRowToTableRowFn.java:21-38).

    Every value becomes its string form; values whose lowercase string
    is the literal ``"null"`` become NULL (the reference drops the key
    from the TableRow, which BigQuery stores as NULL).  This is the
    lossy mode — the engine default keeps native types end-to-end.

    The "null" test runs only on columns that can print "null" (strings,
    binary, nested and other types).  Numeric, boolean, date, timestamp
    and timestamp_ntz values never print it, so the test is skipped
    there with the same output.  One ``selectExpr`` over backtick-quoted
    names builds the projection, so names such as ``a.b`` stay literal.
    """
    exprs = []
    for field in df.schema.fields:
        name = "`" + field.name.replace("`", "``") + "`"
        text = f"CAST({name} AS STRING)"
        if drop_null_strings and not isinstance(
            field.dataType, _NEVER_PRINTS_NULL
        ):
            text = f"CASE WHEN lower({text}) = 'null' THEN NULL ELSE {text} END"
        exprs.append(f"{text} AS {name}")
    return df.selectExpr(*exprs)
