"""Equi-depth range partition planning (SURVEY §2a R4, §4).

The reference plans read parallelism driver-side by sampling every
chunkSize-th value of the timestamp column with a full-table
``ROW_NUMBER() OVER (ORDER BY ts)`` + ``MOD(rownum, chunk) = 0`` query
pushed into HANA (HanaToBQ.java:57,150-172), then scanning each
``[lo, hi)`` interval with its own JDBC query (HanaToDBRow.java:79-112).

We keep the *plan shape* (equi-depth intervals ⇒ one source partition
per interval ⇒ no stragglers on skewed timestamp distributions, which
is exactly what Spark's stock uniform-stride
``partitionColumn/lowerBound/upperBound`` gets wrong) but compute the
boundaries with ``approxQuantile`` — a single O(n) pass with bounded
memory via Greenwald-Khanna sketches, instead of the reference's full
window sort.  At 100 TB the sort is the difference between a planning
query that finishes and one that doesn't.

Semantics fixes vs the reference (SURVEY §2a quirks #2/#4):
* intervals are half-open ``[lo, hi)`` everywhere, first ``lo`` is
  ``start`` inclusive, last ``hi`` is ``end`` (honored; the reference
  ignores endTime and hardcodes sentinel 2000000000, HanaToBQ.java:166);
* concatenation of all interval scans is provably the single scan of
  ``[start, end)`` — property-tested in tests/test_chunking.py (a
  window with no rows plans no intervals, an empty union).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


@dataclass(frozen=True)
class Interval:
    """Half-open chunk interval [lo, hi) in the column's canonical
    numeric domain (tsdomain: native for integral columns, epoch µs
    for timestamp columns)."""

    lo: float
    hi: float

    def as_predicate(self, column: str, dtype: str | None = None) -> str:
        """SQL predicate string for spark.read.jdbc(predicates=...).

        With a time-typed ``dtype`` the µs-domain bounds render as
        JDBC timestamp-escape literals ``{ts '...'}`` (date columns:
        ``{d '...'}`` with day-ceiling bounds, exact because date
        values are day-aligned) — the one form every JDBC driver
        (HANA, Derby, Postgres, ...) translates to its native literal,
        unlike ANSI ``TIMESTAMP '...'`` which Derby rejects.  Typed
        binds, quirk #3 fixed — the reference binds strings against
        numeric columns (HanaToDBRow.java:107-109).  An infinite upper
        bound simply omits the upper cut on EVERY branch (a MAX-value
        sentinel would strictly-exclude rows at the sentinel — the
        reference's hardcoded-2000000000 quirk reborn).  Numeric
        columns keep numeric literals; integer-valued bounds render as
        integer literals so a DOUBLE literal never meets a BIGINT
        column.
        """
        if dtype == "date":
            from hana_bq_beam_connector_spark.tsdomain import (
                _epoch_us_datetime,
            )

            day_us = 86_400_000_000

            def d_lit(v: float) -> str:
                # day-ceiling: date d (day-aligned) satisfies
                # d_us >= lo  <=>  d >= ceil_day(lo), and
                # d_us <  hi  <=>  d <  ceil_day(hi)
                us = int(math.ceil(v / day_us) * day_us)
                return (
                    f"{{d '{_epoch_us_datetime(us).strftime('%Y-%m-%d')}'}}"
                )

            pred = f"{column} >= {d_lit(self.lo)}"
            if not math.isinf(self.hi):
                pred += f" AND {column} < {d_lit(self.hi)}"
            return pred
        if dtype is not None and dtype.startswith("timestamp"):
            from hana_bq_beam_connector_spark.tsdomain import (
                _epoch_us_datetime,
            )

            def ts_lit(v: float) -> str:
                iso = _epoch_us_datetime(int(v)).strftime(
                    "%Y-%m-%d %H:%M:%S.%f"
                )
                return f"{{ts '{iso}'}}"

            pred = f"{column} >= {ts_lit(self.lo)}"
            if not math.isinf(self.hi):
                pred += f" AND {column} < {ts_lit(self.hi)}"
            return pred

        def num_lit(v: float) -> str:
            return repr(int(v)) if float(v).is_integer() else repr(v)

        pred = f"{column} >= {num_lit(self.lo)}"
        if not math.isinf(self.hi):
            pred += f" AND {column} < {num_lit(self.hi)}"
        return pred


def _windowed_ts(
    df: DataFrame, column: str, start: float, end: float
) -> DataFrame:
    """The rows of ``[start, end)`` projected to ``__ts``, a double in
    the column's canonical numeric domain (tsdomain: epoch µs for
    timestamp/date columns, native value otherwise) so quantile math is
    uniform across column types.  µs values are < 2^53 until ~2255, so
    the double is exact and chunk boundaries never drift off a real row
    value.  The window is cut on the RAW column before projecting, so
    it reaches the scan's pushed filters: an incremental run reads only
    its window, not the whole table."""
    from hana_bq_beam_connector_spark.colutil import resolve_column
    from hana_bq_beam_connector_spark.tsdomain import (
        ts_numeric,
        window_filter,
    )

    column, dtype = resolve_column(df, column)
    return window_filter(df, column, start, end).select(
        ts_numeric(column, dtype).cast("double").alias("__ts")
    )


def equi_depth_intervals(
    df: DataFrame,
    column: str,
    chunk_rows: int,
    start: float,
    end: float = float("inf"),
) -> list[Interval]:
    """Plan ~chunk_rows-deep half-open intervals over ``[start, end)``.

    Scale path: one approxQuantile pass (Greenwald-Khanna, driver holds
    only the sketch) versus the reference's full ROW_NUMBER sort inside
    the source database (HanaToBQ.java:57).  The interval list is tiny
    (≈ rows/chunk_rows entries) and feeds
    ``spark.read.jdbc(predicates=...)``, one range query per interval.
    The sketch's relative error is a tenth of one chunk's share of the
    window (at most 0.001), so chunks stay balanced at any chunk count.
    A window with no rows plans no intervals: there is nothing to scan.
    """
    if chunk_rows <= 0:
        raise ValueError(f"chunk_rows must be positive, got {chunk_rows}")
    from hana_bq_beam_connector_spark.colutil import resolve_column
    from hana_bq_beam_connector_spark.tsdomain import INTEGRAL_TYPES

    _, dtype = resolve_column(df, column)
    # Integer-valued domains (native integrals, epoch-µs time columns)
    # get integer split points: approxQuantile's doubles lose exactness
    # above 2^53, but FLOORED splits keep every boundary an exact
    # integer literal — consecutive intervals still share boundaries,
    # so the partition-union property holds regardless of where the
    # (approximate anyway) split lands.
    int_domain = (
        dtype in INTEGRAL_TYPES
        or dtype.startswith("timestamp")
        or dtype == "date"
    )
    windowed = _windowed_ts(df, column, start, end)
    # Two planning actions (count + quantile sketch) read this frame;
    # without persist each is a full source scan — over JDBC that is
    # the whole table through one connection, twice.
    windowed.persist()
    try:
        n = windowed.count()
        if n == 0:
            return []
        n_chunks = max(1, math.ceil(n / chunk_rows))
        if n_chunks == 1:
            return [Interval(start, end)]
        probs = [i / n_chunks for i in range(1, n_chunks)]
        eps = min(0.001, 1 / (10 * n_chunks))
        splits = windowed.approxQuantile("__ts", probs, eps)
    finally:
        windowed.unpersist()
    bounds: list[float] = [start]
    for s in splits:
        if int_domain:
            s = float(math.floor(s))
        # Quantiles can repeat under heavy skew; keep bounds strictly
        # increasing so every interval is non-empty by construction.
        if s > bounds[-1]:
            bounds.append(s)
    bounds.append(end)
    return [Interval(lo, hi) for lo, hi in zip(bounds, bounds[1:])]


def equi_depth_intervals_exact(
    df: DataFrame,
    column: str,
    chunk_rows: int,
    start: float,
    end: float = float("inf"),
) -> list[Interval]:
    """Reference-exact boundary sampling: every chunk_rows-th value of
    the sorted column becomes a split point (ROW_NUMBER + MOD, the
    literal plan of HanaToBQ.java:57).  Kept for parity testing; the
    global window sort makes it the non-scale path — use
    :func:`equi_depth_intervals` for real inputs.  Like it, a window
    with no rows plans no intervals.
    """
    windowed = _windowed_ts(df, column, start, end)
    if windowed.isEmpty():
        return []
    w = Window.orderBy(F.col("__ts"))
    sampled = (
        windowed.select(
            F.col("__ts"), F.row_number().over(w).alias("__rn")
        )
        .where(F.pmod(F.col("__rn"), F.lit(chunk_rows)) == 0)
        .orderBy("__ts")
        .select("__ts")
    )
    splits = [r["__ts"] for r in sampled.collect()]
    bounds: list[float] = [start]
    for s in splits:
        if s > bounds[-1]:
            bounds.append(s)
    if bounds[-1] < end:
        bounds.append(end)
    elif len(bounds) > 1:
        bounds[-1] = end
    return [Interval(lo, hi) for lo, hi in zip(bounds, bounds[1:])]


def intervals_to_jdbc_predicates(
    intervals: list[Interval], column: str, dtype: str | None = None
) -> list[str]:
    """One predicate string per interval — each becomes one Spark JDBC
    input partition (spark.read.jdbc ``predicates=``), the exact
    semantic analog of the reference's one-prepared-statement-per-chunk
    readAll (HanaToDBRow.java:103-111) with typed literals instead of
    string binds (quirk #3).  Pass the source column's Spark ``dtype``
    so timestamp columns render TIMESTAMP literals."""
    return [iv.as_predicate(column, dtype) for iv in intervals]
