"""Canonical numeric time domain for the engine API (SURVEY §2a R4/R5).

The reference binds its window bounds as *strings* against a numeric
HANA column and lets the database coerce (HanaToDBRow.java:107-109,
quirk #3).  Our engine instead defines one explicit numeric domain per
column type, used consistently by the chunk planner
(plans/chunking.py), the window filter (:func:`window_filter`) and
the incremental watermark (plans/incremental.py):

* integral columns (``bigint``/``int``/...): the column's **native**
  integer domain — whatever unit the data ships in (the legacy
  testdata layout was int64 epoch-nanoseconds; a plain sequence
  column works too).
* ``timestamp`` / ``timestamp_ntz`` / ``date`` columns: **epoch
  microseconds** — matches the parquet TIMESTAMP(MICROS) physical
  layout and DuckDB's ``epoch_us``, and every µs value until the year
  ~2255 is exactly representable as a double (< 2^53), so quantile
  math and JSON watermark state never round a boundary.

Two directions are needed, and they are deliberately asymmetric:

* :func:`ts_numeric` — column → numeric domain, for *math* (quantile
  sampling, max-watermark).  ``timestampdiff`` from the NTZ epoch is
  session-timezone independent; ``unix_micros`` handles instants.
* :func:`ts_bound_lit` — numeric bound → **typed literal** comparable
  to the RAW column, for *filters*.  Comparing ``ts >= TIMESTAMP_NTZ
  '...'`` reaches parquet ``PushedFilters`` and prunes row groups;
  comparing a projected expression ``timestampdiff(...) >= n`` pushes
  only IsNotNull — at 100 TB that is the difference between scanning
  a day and scanning the corpus.

The literal is constructed with pure integer arithmetic
(``datetime(1970,1,1) + timedelta(microseconds=µs)``) — float
division would be off by 1 µs for large non-second-aligned epochs and
silently misclassify a boundary row of a half-open window.
"""

from __future__ import annotations

import math
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

INTEGRAL_TYPES = ("bigint", "int", "smallint", "tinyint")

EPOCH_NTZ_SQL = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"

_US_PER_DAY = 86_400_000_000


def is_time_typed(dtype: str) -> bool:
    return dtype.startswith("timestamp") or dtype == "date"


def ts_numeric(col: str | Column, dtype: str) -> Column:
    """Column → its canonical numeric domain (epoch µs for time-typed
    columns, native value for integral/other numerics).

    Use for driver-side *math* over the column (quantiles, max), never
    for filters — see :func:`ts_bound_lit` for the pushdown-safe
    direction.
    """
    name = col if isinstance(col, str) else None
    c = F.col(col) if isinstance(col, str) else col
    if dtype in INTEGRAL_TYPES:
        return c
    if dtype == "timestamp_ntz":
        # timestampdiff needs SQL text; route through expr on the name.
        if name is None:
            raise ValueError("ts_numeric on timestamp_ntz needs a column name")
        return F.expr(
            f"timestampdiff(MICROSECOND, {EPOCH_NTZ_SQL}, `{name}`)"
        )
    if dtype.startswith("timestamp"):
        return F.unix_micros(c)
    if dtype == "date":
        return F.unix_date(c).cast("bigint") * F.lit(_US_PER_DAY)
    return c


def _bound_us(bound: float | int) -> int:
    """µs-aligned integer bound; rejects fractional µs loudly instead
    of rounding a half-open boundary."""
    b = int(bound)
    if b != bound:
        raise ValueError(
            f"time bound {bound!r} is not µs-aligned; pass integral epoch µs"
        )
    return b


def _epoch_us_datetime(bound_us: int) -> datetime:
    # Integer arithmetic only: fromtimestamp(b/1e6) can drift 1 µs.
    return datetime(1970, 1, 1) + timedelta(microseconds=bound_us)


def ts_bound_lit(dtype: str, bound: float | int) -> Column:
    """Numeric-domain bound → typed literal comparable to the raw
    column, so range filters stay pushdown-eligible.

    For ``date`` columns the literal is an NTZ timestamp; Spark
    widens the date side for the compare, which keeps half-open µs
    semantics exact (a date column is µs-aligned by construction) at
    the cost of pushdown — acceptable, date-chunked copies are not the
    hot path.
    """
    if dtype in INTEGRAL_TYPES:
        # x >= b  <=>  x >= ceil(b) and  x < b  <=>  x < ceil(b) for an
        # integer x, so a fractional bound keeps half-open semantics.
        return F.lit(math.ceil(bound))
    if not is_time_typed(dtype):
        return F.lit(bound)
    us = _bound_us(bound)
    if dtype == "timestamp_ntz" or dtype == "date":
        iso = _epoch_us_datetime(us).strftime("%Y-%m-%d %H:%M:%S.%f")
        return F.expr(f"TIMESTAMP_NTZ '{iso}'")
    # timestamp_ltz: an absolute instant — construct tz-independently.
    return F.timestamp_micros(F.lit(us))


def window_filter(
    df: DataFrame, column: str, start: float, end: float
) -> DataFrame:
    """``df`` restricted to the half-open window ``[start, end)`` of
    ``column``, with the bounds in the column's canonical numeric
    domain.  The compare is on the RAW column against
    :func:`ts_bound_lit` literals, so both bounds reach the scan's
    ``PushedFilters`` (parquet row groups, the JDBC WHERE clause).  An
    infinite bound is omitted; rows with a null timestamp are never in
    a window."""
    from hana_bq_beam_connector_spark.colutil import resolve_column

    name, dtype = resolve_column(df, column)
    col = F.col(name)
    cond = col.isNotNull()
    if not math.isinf(start):
        cond = col >= ts_bound_lit(dtype, start)
    if not math.isinf(end):
        cond = cond & (col < ts_bound_lit(dtype, end))
    return df.where(cond)
