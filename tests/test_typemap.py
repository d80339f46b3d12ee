from __future__ import annotations

from collections import Counter
from datetime import date, datetime
from decimal import Decimal
from itertools import zip_longest

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from hana_bq_beam_connector_spark.typemap import (
    HANA_TO_BQ,
    CatalogColumn,
    UnknownHanaTypeError,
    catalog_to_schema,
    hana_to_spark_type,
    stringify,
)


@pytest.mark.parametrize(
    "hana,expected",
    [
        ("NVARCHAR", StringType()),
        ("VARCHAR", StringType()),
        ("ALPHANUM", StringType()),
        ("SHORTTEXT", StringType()),
        ("TEXT", StringType()),
        ("CLOB", StringType()),
        ("NCLOB", StringType()),
        ("BLOB", BinaryType()),  # fixed vs ref STRING (lossy)
        ("VARBINARY", BinaryType()),
        ("INTEGER", LongType()),
        ("TINYINT", LongType()),
        ("SMALLINT", LongType()),
        ("BIGINT", LongType()),
        ("DATE", DateType()),
        ("TIME", StringType()),
        ("DATETIME", TimestampNTZType()),
        ("BOOLEAN", BooleanType()),
        ("DOUBLE", DoubleType()),
        ("REAL", DoubleType()),
        ("DECIMAL", DecimalType(38, 18)),  # fixed vs ref FLOAT (lossy)
        ("SMALLDECIMAL", DecimalType(38, 18)),
    ],
)
def test_type_map_exhaustive(hana, expected):
    assert hana_to_spark_type(hana) == expected


def test_type_map_covers_all_21_reference_entries():
    # HanaToBQ.java:59-81 has exactly 21 entries, plus the engine's
    # two fixes for HANA's REAL timestamp catalog types (TIMESTAMP,
    # SECONDDATE) — the reference maps only the nonexistent
    # "DATETIME", so any table with a timestamp column aborts there.
    assert len(HANA_TO_BQ) == 23
    assert {"TIMESTAMP", "SECONDDATE"} <= set(HANA_TO_BQ)


def test_time_fidelity_flag():
    """HANA TIME: string by default (documented lossy mapping for
    pre-4.1 sink compatibility); a real TimeType behind
    time_as_string=False on Spark 4.1+ (SURVEY §1.3 follow-up)."""
    from pyspark.sql.types import TimeType

    assert hana_to_spark_type("TIME") == StringType()
    assert hana_to_spark_type("TIME", time_as_string=False) == TimeType()

    from hana_bq_beam_connector_spark.typemap import (
        CatalogColumn,
        catalog_to_schema,
    )

    cols = [
        CatalogColumn("id", "INTEGER", 1),
        CatalogColumn("opened_at", "TIME", 2),
    ]
    assert catalog_to_schema(cols)[1].dataType == StringType()
    assert (
        catalog_to_schema(cols, time_as_string=False)[1].dataType
        == TimeType()
    )


def test_time_type_roundtrips_in_spark(spark):
    """The TimeType mapping is usable end-to-end: a TIME-typed column
    survives a Spark round trip with hh:mm:ss values intact."""
    from datetime import time

    from pyspark.sql.types import StructField, StructType, TimeType

    schema = StructType([StructField("t", TimeType(), True)])
    df = spark.createDataFrame([(time(9, 30, 15),), (None,)], schema)
    got = sorted(
        (r["t"] for r in df.collect()), key=lambda v: (v is None, v)
    )
    assert got == [time(9, 30, 15), None]


def test_hana_timestamp_types_map_to_ntz(spark):
    from pyspark.sql.types import TimestampNTZType

    assert hana_to_spark_type("TIMESTAMP") == TimestampNTZType()
    assert hana_to_spark_type("SECONDDATE") == TimestampNTZType()


def test_decimal_catalog_precision_respected():
    from pyspark.sql.types import DecimalType

    assert hana_to_spark_type(
        "DECIMAL", precision=38, scale=0
    ) == DecimalType(38, 0)
    assert hana_to_spark_type("DECIMAL") == DecimalType(38, 18)
    cols = [CatalogColumn("id", "DECIMAL", 1, precision=19, scale=0)]
    schema = catalog_to_schema(cols)
    assert schema.fields[0].dataType == DecimalType(19, 0)


def test_decimal_parity_mode():
    assert hana_to_spark_type("DECIMAL", decimal_as_double=True) == DoubleType()


def test_unknown_type_aborts():
    with pytest.raises(UnknownHanaTypeError):
        hana_to_spark_type("ST_GEOMETRY")


def test_catalog_to_schema_orders_by_position():
    cols = [
        CatalogColumn("b", "INTEGER", 2),
        CatalogColumn("a", "NVARCHAR", 1),
    ]
    schema = catalog_to_schema(cols)
    assert [f.name for f in schema.fields] == ["a", "b"]
    assert schema.fields[1].dataType == LongType()


def test_schema_from_catalog_df_keeps_decimal_precision(spark):
    """TABLE_COLUMNS rows → StructType: fixed-point DECIMAL keeps its
    catalog LENGTH/SCALE (a (38,18) fallback on a DECIMAL(38,0) key
    keeps only 20 integer digits), a floating DECIMAL (null SCALE)
    and non-decimal types keep the type map, POSITION sets the order."""
    from hana_bq_beam_connector_spark.sources.catalog import (
        schema_from_catalog_df,
    )

    catalog = spark.createDataFrame(
        [
            ("T", "amount", "DECIMAL", 2, 12, 2),
            ("T", "id", "DECIMAL", 1, 38, 0),
            ("T", "ratio", "DECIMAL", 4, 34, None),
            ("T", "name", "NVARCHAR", 3, 50, None),
            ("G", "shape", "ST_GEOMETRY", 1, None, None),
        ],
        "TABLE_NAME string, COLUMN_NAME string, DATA_TYPE_NAME string, "
        "POSITION int, LENGTH int, SCALE int",
    )
    assert schema_from_catalog_df(catalog, "T") == StructType(
        [
            StructField("id", DecimalType(38, 0)),
            StructField("amount", DecimalType(12, 2)),
            StructField("name", StringType()),
            StructField("ratio", DecimalType(38, 18)),
        ]
    )
    with pytest.raises(ValueError, match="not found"):
        schema_from_catalog_df(catalog, "MISSING")
    with pytest.raises(UnknownHanaTypeError):
        schema_from_catalog_df(catalog, "G")


def test_stringify_parity(spark):
    df = spark.createDataFrame(
        [Row(a=1, b="x"), Row(a=2, b="NULL"), Row(a=None, b="null")]
    )
    out = {(r["a"], r["b"]) for r in stringify(df).collect()}
    # values stringified; "null"/"NULL" strings dropped to NULL
    # (HanaDBRowToTableRowFn.java:31-35)
    assert out == {("1", "x"), ("2", None), (None, None)}


# (column name, type, values): every type stringify treats apart, the
# strings the "null" rule must and must not drop, and names that only
# resolve when quoted.
STRINGIFY_CASES = [
    ("i", IntegerType(), [1, -7, None]),
    ("b", LongType(), [2**62, None]),
    ("dec", DecimalType(12, 2), [Decimal("1.50"), Decimal("-0.01"), None]),
    ("d", DoubleType(), [1.5, float("nan"), float("inf"), float("-inf"), None]),
    ("bo", BooleanType(), [True, False, None]),
    ("dt", DateType(), [date(2024, 1, 5), None]),
    ("ts", TimestampType(), [datetime(2024, 1, 5, 1, 2, 3, 456789), None]),
    ("tsn", TimestampNTZType(), [datetime(2024, 1, 5, 1, 2, 3), None]),
    ("bin", BinaryType(), [b"null", b"NULL", b"x", None]),
    ("s", StringType(), ["null", "NULL", "Null", " null", "x", None]),
    ("a.b", StringType(), ["null", "a.b", None]),
    ("x`y", IntegerType(), [3, None]),
]


def test_stringify_matches_reference_rule_on_every_type(spark):
    """stringify skips the "null" test on types that never print
    "null"; its output must equal the reference rule
    (HanaDBRowToTableRowFn.java:31-35) applied to every column."""
    schema = StructType(
        [StructField(name, t) for name, t, _ in STRINGIFY_CASES]
    )
    rows = list(zip_longest(*(values for _, _, values in STRINGIFY_CASES)))
    df = spark.createDataFrame(rows, schema)

    def quoted(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    reference = df.selectExpr(
        *(
            f"CASE WHEN lower(CAST({quoted(n)} AS STRING)) = 'null' "
            f"THEN NULL ELSE CAST({quoted(n)} AS STRING) END AS {quoted(n)}"
            for n in df.columns
        )
    )
    out = stringify(df)
    assert out.schema == reference.schema
    assert out.columns == [name for name, _, _ in STRINGIFY_CASES]
    got = out.collect()
    assert Counter(map(tuple, got)) == Counter(
        map(tuple, reference.collect())
    )
    by_col = {n: [r[n] for r in got] for n in out.columns}
    assert by_col["s"] == [None, None, None, " null", "x", None]
    assert by_col["bin"] == [None, None, "x", None, None, None]
    assert by_col["a.b"] == [None, "a.b", None, None, None, None]
    assert by_col["x`y"] == ["3", None, None, None, None, None]
    assert by_col["d"][:4] == ["1.5", "NaN", "Infinity", "-Infinity"]
    # The rule runs only on the three columns that can print "null".
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("lower(") == 3, plan


def test_schema_drift_report():
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from hana_bq_beam_connector_spark.plans.schema_drift import schema_drift

    old = StructType(
        [
            StructField("id", LongType()),
            StructField("v", StringType()),
            StructField(
                "meta",
                StructType([StructField("w", LongType())]),
            ),
            StructField("xs", ArrayType(LongType())),
        ]
    )
    new = StructType(
        [
            StructField("id", LongType()),
            StructField("v", DoubleType()),          # type change
            StructField(
                "meta",
                StructType(
                    [
                        StructField("w", LongType()),
                        StructField("h", LongType()),  # nested add
                    ]
                ),
            ),
            # xs removed; score added
            StructField("score", DoubleType()),
        ]
    )
    d = schema_drift(old, new)
    assert d.added == (("meta.h", "bigint"), ("score", "double"))
    assert d.removed == (("xs.element", "bigint"),)
    assert d.changed == (("v", "string", "double"),)
    assert not d.is_compatible_widening and not d.empty

    add_only = schema_drift(old, StructType(old.fields + [StructField("z", LongType())]))
    assert add_only.is_compatible_widening and add_only.added == (("z", "bigint"),)
    assert schema_drift(old, old).empty
