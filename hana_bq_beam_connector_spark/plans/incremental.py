"""Checkpointed high-watermark incremental runs (SURVEY §1.4, M4).

The reference's incremental story is "pass a bigger --startTime next
run" (HanaToBQ.java:206-218) — manual, and its endTime is ignored.
Done right: persist the high watermark (max ingested event time) in a
JSON state file next to the sink; each run copies
``[watermark, now)``, then advances the watermark atomically
(write-new + rename).  Re-running after a crash before the rename
re-copies the same window — paired with an append-only sink keyed for
downstream dedup, that's at-least-once; the half-open window
guarantees no gaps.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.pipeline import NO_SINK, run_copy_pipeline
from hana_bq_beam_connector_spark.sinks import parquet_append
from hana_bq_beam_connector_spark.typemap import stringify


def read_watermark(state_path: str, default: float) -> float:
    if not os.path.exists(state_path):
        return default
    with open(state_path) as f:
        return json.load(f)["watermark"]


def write_watermark(state_path: str, watermark: float) -> None:
    """Atomic watermark advance: temp file + rename."""
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(state_path) or ".", suffix=".tmp"
    )
    with os.fdopen(fd, "w") as f:
        json.dump({"watermark": watermark}, f)
    os.replace(tmp, state_path)


def incremental_copy(
    spark: SparkSession,
    config: PipelineConfig,
    state_path: str,
    source_df: DataFrame | None = None,
) -> int:
    """One incremental run: copy [watermark, end_time), advance the
    watermark to max(ts)+1 of the copied rows.  Returns rows copied."""
    if config.dest_path is None:
        raise ValueError(NO_SINK)
    watermark = read_watermark(state_path, config.start_time)
    # Count and max run on the typed frame; only the append is
    # stringified.  A stringified max compares lexicographically
    # ("999" > "1000") and cannot be advanced by one.
    run_config = replace(config, start_time=watermark, stringify=False)
    result, _ = run_copy_pipeline(spark, run_config, source_df)
    # Watermark math stays in the column's canonical integer domain
    # (tsdomain: native for integral columns, epoch µs for timestamp
    # columns): a double cast rounds past the 53-bit mantissa and a
    # rounded-down watermark re-copies the max row forever.
    from hana_bq_beam_connector_spark.colutil import resolve_column
    from hana_bq_beam_connector_spark.tsdomain import ts_numeric

    name, dtype = resolve_column(result, config.timestamp_column)
    mx_col = F.max(ts_numeric(name, dtype))
    agg = result.agg(
        F.count(F.lit(1)).alias("n"), mx_col.alias("mx")
    ).first()
    n, mx = agg["n"], agg["mx"]
    if n == 0:
        return 0
    parquet_append(
        stringify(result) if config.stringify else result, config.dest_path
    )
    # next window starts just past the max ingested event time
    write_watermark(state_path, mx + 1)
    return n
