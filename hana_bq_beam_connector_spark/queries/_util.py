"""Shared helpers enforcing the registry's determinism conventions."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.sources.files import load_table

# Exact-arithmetic casts for double measures (see queries/__init__ doc).
DEC = "decimal(18,2)"  # prices/quantities
DEC_RATE = "decimal(4,3)"  # discounts/taxes in [0,1)


def dec(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def rate(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC_RATE)


def sum_dec_as_double(col: str | Column, alias: str) -> Column:
    """SUM through exact decimal, surfaced as double (bit-identical to
    DuckDB's ``CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)``)."""
    c = dec(col) if isinstance(col, str) else col
    return F.sum(c).cast("double").alias(alias)


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _ts_bound_lit(ts_type: str, bound_us: int) -> Column:
    """A literal comparable to the raw ``ts`` column (so the filter
    reaches parquet ``PushedFilters`` and prunes row groups — the
    difference between scanning a day and scanning a year at 100 TB).
    Bounds are µs-aligned epoch integers; the literal is built with
    pure integer arithmetic (tsdomain.ts_bound_lit) so large
    non-second-aligned epochs never drift 1 µs through a float."""
    from hana_bq_beam_connector_spark.tsdomain import ts_bound_lit

    if ts_type == "bigint":  # legacy int64-nanosecond layout
        return F.lit(bound_us * 1000)
    return ts_bound_lit(ts_type, bound_us)


def ts_epoch_us(ts_type: str, col: str = "ts") -> Column:
    """Raw ``ts`` → epoch microseconds, matching DuckDB ``epoch_us``.

    timestamp_ntz is handled via ``timestampdiff`` from the NTZ epoch
    — session-timezone independent (the driver's verify harness runs
    queries under its own SparkSession whose tz we don't control).
    """
    if ts_type == "bigint":
        return F.expr(f"{col} div 1000")
    if ts_type == "timestamp_ntz":
        return F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {col})")
    return F.unix_micros(F.col(col))


def events_us(
    spark: SparkSession,
    sf_dir: str,
    lo_us: int | None = None,
    hi_us: int | None = None,
) -> DataFrame:
    """events with ts exposed as epoch microseconds, matching DuckDB's
    ``epoch_us(ts)`` on the TIMESTAMP(MICROS) parquet column.

    Window bounds are applied on the RAW timestamp column *before* the
    epoch-µs projection: a filter on a projected expression cannot be
    pushed into the parquet scan (only IsNotNull survives), a filter
    on ``ts`` itself reaches PushedFilters.  Handles all three layouts
    the testdata has shipped as (timestamp_ntz today; int64-ns and
    ltz historically) so the engine is schema-drift proof.
    """
    ev = load_table(spark, sf_dir, "events")
    ts_type = dict(ev.dtypes)["ts"]
    if lo_us is not None:
        ev = ev.where(F.col("ts") >= _ts_bound_lit(ts_type, lo_us))
    if hi_us is not None:
        ev = ev.where(F.col("ts") < _ts_bound_lit(ts_type, hi_us))
    return ev.select(
        "event_id",
        ts_epoch_us(ts_type).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


# Oracle-side fragments (kept next to their Spark twins above).
def SQL_SUM_DEC(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,2))) AS DOUBLE) AS {alias}"
