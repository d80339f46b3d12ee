"""Checkpointed high-watermark incremental runs (SURVEY §1.4, M4).

The reference's incremental story is "pass a bigger --startTime next
run" (HanaToBQ.java:206-218) — manual, and its endTime is ignored.
Done right: persist the high watermark (max ingested event time) in a
JSON state file next to the sink; each run copies
``[watermark, now)``, then advances the watermark atomically
(write-new + rename).  The row count and the new watermark come from
the write's own pass (``pipeline.copy_window``), so rows that land in
the source while a run is in flight are counted and watermarked with
the rows they were written with, never copied twice.  Re-running after
a crash before the rename re-copies the same window — paired with an
append-only sink keyed for downstream dedup, that's at-least-once; the
half-open window guarantees no gaps.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.pipeline import copy_window


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
    watermark = read_watermark(state_path, config.start_time)
    n, mx = copy_window(
        spark, replace(config, start_time=watermark), source_df
    )
    if n:
        # next window starts just past the max ingested event time
        write_watermark(state_path, mx + 1)
    return n
