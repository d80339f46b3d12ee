from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.plans.chunking import (
    Interval,
    equi_depth_intervals,
    equi_depth_intervals_exact,
    intervals_to_jdbc_predicates,
)
from hana_bq_beam_connector_spark.tsdomain import ts_numeric


def _num_ts(df) -> F.Column:
    """ts in its canonical numeric domain (epoch µs for the current
    timestamp_ntz layout; native for the legacy int64-ns layout)."""
    return ts_numeric("ts", dict(df.dtypes)["ts"]).cast("double")


def _scan_count(events, iv: Interval) -> int:
    ts = _num_ts(events)
    cond = ts >= iv.lo
    if not math.isinf(iv.hi):
        cond = cond & (ts < iv.hi)
    return events.where(cond).count()


def test_intervals_cover_and_partition(events):
    """Chunking invariant (SURVEY §5.2 #4): the concat of all chunk
    scans equals the single scan — no seam dupes/skips (quirk #4)."""
    total = events.count()
    intervals = equi_depth_intervals(events, "ts", chunk_rows=100, start=0.0)
    assert len(intervals) >= 5
    # contiguous half-open cover
    for a, b in zip(intervals, intervals[1:]):
        assert a.hi == b.lo
    assert intervals[0].lo == 0.0
    assert math.isinf(intervals[-1].hi)
    assert sum(_scan_count(events, iv) for iv in intervals) == total


def test_equi_depth_balance(events):
    total = events.count()
    intervals = equi_depth_intervals(events, "ts", chunk_rows=100, start=0.0)
    counts = [_scan_count(events, iv) for iv in intervals]
    # equi-depth: no chunk more than 3x the target depth
    assert max(counts) <= 300


def test_exact_variant_matches_reference_shape(events):
    total = events.count()
    intervals = equi_depth_intervals_exact(events, "ts", 250, start=0.0)
    assert sum(_scan_count(events, iv) for iv in intervals) == total
    # ref samples every chunk_rows-th row; when n divides evenly the
    # final sentinel interval holds just the max row (HanaToBQ.java:166)
    assert math.ceil(total / 250) <= len(intervals) <= math.ceil(total / 250) + 1


def test_window_restriction(events):
    ts_mid = events.select(
        F.percentile_approx(_num_ts(events), F.lit(0.5))
    ).first()[0]
    # a ~28h window in the µs domain around the corpus midpoint
    span = 100_000_000_000.0
    intervals = equi_depth_intervals(
        events, "ts", chunk_rows=100, start=ts_mid, end=ts_mid + span
    )
    windowed = events.where(
        (_num_ts(events) >= ts_mid) & (_num_ts(events) < ts_mid + span)
    ).count()
    assert sum(_scan_count(events, iv) for iv in intervals) == windowed


def test_empty_window(events):
    """No rows, no chunks: the empty union is still the window's scan,
    and a copy of it writes nothing."""
    for planner in (equi_depth_intervals, equi_depth_intervals_exact):
        assert planner(events, "ts", 100, start=4e9, end=5e9) == []


def test_all_equal_timestamps(spark):
    df = spark.createDataFrame([(1.0,)] * 500, ["ts"])
    intervals = equi_depth_intervals(df, "ts", chunk_rows=100, start=0.0)
    # degenerate skew collapses to one interval; rows never lost
    assert sum(1 for _ in intervals) >= 1
    assert intervals[0].lo == 0.0


def test_predicates_render(events):
    intervals = [Interval(0.0, 10.5), Interval(10.5, float("inf"))]
    preds = intervals_to_jdbc_predicates(intervals, "ts")
    # Integer-valued bounds render as integer literals (a DOUBLE
    # literal against a BIGINT column is a remote-DB type hazard);
    # fractional bounds keep their exact repr.
    assert preds[0] == "ts >= 0 AND ts < 10.5"
    # An infinite upper bound OMITS the cut — a MAX-value sentinel
    # would strictly-exclude rows at the sentinel (the reference's
    # hardcoded-2000000000 quirk reborn).
    assert preds[1] == "ts >= 10.5"


def test_chunk_rows_validation(events):
    with pytest.raises(ValueError):
        equi_depth_intervals(events, "ts", chunk_rows=0, start=0.0)


def test_equi_depth_balance_past_a_thousand_chunks(spark):
    """The sketch error shrinks with the chunk count: at ~1,000 chunks
    a fixed 0.001 error is as large as a chunk, which merged chunks
    (742 intervals, largest 2.9x chunk_rows on this input) instead of
    planning ceil(n / chunk_rows) balanced ones."""
    import numpy as np

    n, chunk_rows = 200_000, 200
    df = spark.range(n).selectExpr(
        f"CAST(pow(id / {n}.0, 3) * 1e12 AS BIGINT) AS ts"
    )
    intervals = equi_depth_intervals(df, "ts", chunk_rows, start=0.0)
    assert len(intervals) == math.ceil(n / chunk_rows)
    ts = np.sort(np.array([r["ts"] for r in df.collect()]))
    edges = np.searchsorted(ts, [iv.lo for iv in intervals] + [np.inf])
    counts = np.diff(edges)
    assert counts.sum() == n
    assert counts.max() <= 1.5 * chunk_rows
