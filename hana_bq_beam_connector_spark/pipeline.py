"""The reference pipeline end-to-end, Spark-first (SURVEY §3).

Reference dataflow (HanaToBQ.java:246-260):
  driver: catalog → schema; sampling query → chunk intervals
  workers: one JDBC range query per interval → DBRow → TableRow
  service: BigQuery batch load (append)

Spark lifecycle equivalent: driver-side planning stays tiny Python
(interval list ≈ rows/chunk_size entries); everything row-shaped is a
lazy DataFrame so Catalyst fuses scan→filter→stringify→write into one
shuffle-free stage — the pipeline is embarrassingly parallel and the
physical plan must stay that way at 100 TB (no exchange in explain).

Every chunk stays its own range query, but contiguous chunks are packed
into one task (a shuffle-free ``coalesce``) when there are more chunks
than :func:`chunk_tasks` allows: a task and its sink file then cover a
core's share of the rows, like the reference's BigQueryIO file loads,
which write one temp file per worker bundle, not per range query.

Every window, full or incremental, reaches the sink through one
observed write (:func:`copy_window`): the row count and the max event
time an incremental run advances its watermark by come from the
write's own pass, like the reference's one scan and one WRITE_APPEND.
"""

from __future__ import annotations

import math
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.colutil import resolve_column
from hana_bq_beam_connector_spark.config import (
    DEFAULT_CHUNK_SIZE,
    PipelineConfig,
)
from hana_bq_beam_connector_spark.plans.chunking import (
    Interval,
    equi_depth_intervals,
)
from hana_bq_beam_connector_spark.sinks import parquet_append
from hana_bq_beam_connector_spark.sources.jdbc import jdbc_scan
from hana_bq_beam_connector_spark.tsdomain import ts_numeric, window_filter
from hana_bq_beam_connector_spark.typemap import stringify

# Every copy mode writes a parquet sink.
NO_SINK = (
    "dest_path is required: --dest-path (a parquet directory) is the "
    "only sink this build writes"
)


def select_window(df: DataFrame, config: PipelineConfig) -> DataFrame:
    """Half-open ``[start_time, end_time)`` restriction on the
    timestamp column — the reference's per-chunk WHERE clause
    (HanaToBQ.java:58) with end_time honored (quirk #2 fixed).

    Bounds are interpreted in the column's canonical numeric domain
    (tsdomain: native integers for integral columns — no double cast,
    so boundary rows can never be misclassified by float rounding;
    epoch µs for timestamp/date columns).  The comparison is against
    the RAW column with a typed literal, so Catalyst pushes it into
    the scan (``PushedFilters``) — asserted in tests/test_pipeline.py.
    """
    return window_filter(
        df, config.timestamp_column, config.start_time, config.end_time
    )


def chunk_tasks(spark: SparkSession, n_chunks: int, chunk_size: int) -> int:
    """Tasks a chunked scan of ``n_chunks`` runs as: one per core, or
    more when the chunks hold more than ``DEFAULT_CHUNK_SIZE`` rows per
    task, never more than one per chunk.  Small chunks then share a
    task and one sink file instead of each paying a task launch and a
    writer; at the reference's default chunk size nothing is packed."""
    by_rows = math.ceil(n_chunks * chunk_size / DEFAULT_CHUNK_SIZE)
    return min(
        n_chunks, max(spark.sparkContext.defaultParallelism, by_rows)
    )


def run_copy_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    source_df: DataFrame | None = None,
) -> tuple[DataFrame, list[Interval]]:
    """Plan + build the incremental copy; returns (result_df, intervals).

    ``source_df`` supplies a non-JDBC source (the parquet test
    stand-in); with a JDBC config each interval becomes one range
    query via ``predicates=``, packed into :func:`chunk_tasks` tasks.
    The caller (or :func:`copy_window`) triggers the sink action.  An
    empty window plans no intervals.
    """
    if source_df is None:
        df = jdbc_scan(spark, config)  # schema probe; re-read chunked below
        # Checked before planning, which is a full pass over the window.
        _, ts_dtype = resolve_column(df, config.timestamp_column)
        _assert_jdbc_tz_consistent(spark, ts_dtype)
    else:
        df = source_df
    intervals = equi_depth_intervals(
        df,
        config.timestamp_column,
        config.chunk_size,
        config.start_time,
        config.end_time,
    )
    if source_df is None:
        result = jdbc_scan(spark, config, intervals, ts_dtype=ts_dtype)
        n_tasks = chunk_tasks(spark, len(intervals), config.chunk_size)
        if n_tasks < len(intervals):
            # No shuffle: each task reads its chunks one after another.
            result = result.coalesce(n_tasks)
    else:
        result = select_window(df, config)
    if config.stringify:
        result = stringify(result)
    return result, intervals


def _assert_jdbc_tz_consistent(spark: SparkSession, ts_dtype: str) -> None:
    """Fail fast when chunk predicates on an LTZ timestamp column
    would be interpreted in a different timezone than they were
    planned in.

    Interval bounds are epoch-µs instants computed under the SESSION
    timezone, rendered as naive ``{ts '...'}`` wall-clock strings —
    which the JDBC driver and the remote database interpret in the
    JVM default timezone.  If the two differ, every chunk window
    silently shifts by the offset and boundary rows are dropped or
    double-scanned.  NTZ and date columns are naive on both sides and
    unaffected."""
    if ts_dtype != "timestamp":  # only LTZ semantics are tz-sensitive
        return
    jvm_tz = (
        spark.sparkContext._jvm.java.util.TimeZone.getDefault().getID()
    )
    sess_tz = spark.conf.get("spark.sql.session.timeZone")
    utc_names = {"UTC", "Etc/UTC", "GMT", "Z", "+00:00"}
    if jvm_tz == sess_tz or (jvm_tz in utc_names and sess_tz in utc_names):
        return
    raise RuntimeError(
        f"JDBC chunked scan over an LTZ timestamp column: the JVM "
        f"default timezone ({jvm_tz!r}) differs from the Spark session "
        f"timezone ({sess_tz!r}) — chunk-predicate wall-clock literals "
        "would be interpreted with a different offset than they were "
        "planned with, silently shifting every scan window.  Align "
        "them (e.g. -Duser.timezone=UTC and "
        "spark.sql.session.timeZone=UTC) or store the column as "
        "TIMESTAMP_NTZ."
    )


def copy_window(
    spark: SparkSession,
    config: PipelineConfig,
    source_df: DataFrame | None = None,
) -> tuple[int, int | float | None]:
    """Copy the configured window into the sink in one observed write;
    returns (rows written, max of the time column in its canonical
    numeric domain, or None when nothing was written).

    Both figures ride the write itself via an ``Observation`` on the
    *typed* frame, before any ``stringify`` (a stringified max compares
    lexicographically, "999" > "1000"): one source pass, and they
    describe exactly what the sink received, also when rows land in
    the source between planning and the write.  The max stays in the
    canonical integer domain (tsdomain): a double cast rounds past the
    53-bit mantissa.  A window the planner finds empty writes nothing:
    Spark would append an empty part file for an empty frame."""
    from pyspark.sql import Observation

    if config.dest_path is None:
        raise ValueError(NO_SINK)
    result, intervals = run_copy_pipeline(
        spark, replace(config, stringify=False), source_df
    )
    if not intervals:
        return 0, None
    name, dtype = resolve_column(result, config.timestamp_column)
    obs = Observation()
    observed = result.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.max(ts_numeric(name, dtype)).alias("mx"),
    )
    parquet_append(
        stringify(observed) if config.stringify else observed,
        config.dest_path,
    )
    got = obs.get
    return int(got["n"]), got["mx"]


def run_and_append(
    spark: SparkSession,
    config: PipelineConfig,
    source_df: DataFrame | None = None,
) -> int:
    """Execute the copy into the configured sink; returns rows written
    (:func:`copy_window`)."""
    return copy_window(spark, config, source_df)[0]
