"""Time-series resampling over `events` (SURVEY §2c — [X] extension).

The reference's only time handling is the chunk-interval scan
(`HanaToBQ.java:57-58`); hypertable-style rollups are part of the
extension surface.  Both queries are pure DataFrame compositions —
bucketing is integer arithmetic on the µs timestamp (codegen'd,
pushable), gap-filling is explode(sequence(...)) (map-side fan-out,
no driver loop), forward-fill is one partitioned window scan.

Scale: the hourly grid is generated per key from that key's own
[min, max] bucket range, so grid size is O(active span), not
O(global span × keys); the only shuffles are the per-key hash
aggregate and the per-key window sort — both on user_id, both
AQE-coalesced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hana_bq_beam_connector_spark.queries import register
from hana_bq_beam_connector_spark.queries._util import (
    events_us,
    sum_dec_as_double,
)

_HOUR_US = 3_600_000_000
_SIX_H_US = 21_600_000_000


@register(
    "ts_hourly_gapfill_ffill",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
    ),
    h AS (
      SELECT user_id, ts_us - ts_us % {_HOUR_US} AS hour_us,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM ev GROUP BY user_id, hour_us
    ),
    b AS (
      SELECT user_id, MIN(hour_us) AS lo, MAX(hour_us) AS hi
      FROM h GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, UNNEST(range(lo, hi + 1, {_HOUR_US})) AS hour_us
      FROM b
    )
    SELECT g.user_id, g.hour_us,
           COALESCE(h.cnt, 0) AS n_events,
           LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.hour_us
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
    FROM grid g
    LEFT JOIN h ON g.user_id = h.user_id AND g.hour_us = h.hour_us
    """,
    doc="Hourly rollup with gap-fill + forward-fill.  The oracle "
    "spells it the textbook way (densify via a calendar spine, "
    "left-join real buckets back, ffill with an unbounded-preceding "
    "window); the Spark plan computes the IDENTICAL rows the "
    "100 TB-shaped way: ONE lead() window over the O(users x active "
    "hours) real-bucket frame finds each bucket's successor, then "
    "every bucket emits its own hour plus its gap hours by an IN-ROW "
    "explode carrying (cnt at the real hour, 0 at fills; its own "
    "sum_value as the forward-filled value — the same double, no new "
    "arithmetic).  The dense grid (10x the bucket count here; "
    "unbounded in the gap-heavy worst case) therefore never exists "
    "before a shuffle, join, or sort: measured at sf10 this cut the "
    "query from 159 s (grid join + window over 105M rows) to the "
    "cost of the 1M-row window + a streamed projection.",
)
def ts_hourly_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("user_id", "ts", "value")
    hourly = ev.groupBy(
        "user_id", F.expr(f"ts - ts % {_HOUR_US}").alias("hour_us")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        sum_dec_as_double("value", "sum_value"),
    )
    w = Window.partitionBy("user_id").orderBy("hour_us")
    # Each real bucket owns the half-open hour range up to its
    # successor (the last bucket owns only itself — the grid ends at
    # hi, matching the spine oracle's [lo, hi] span exactly).
    # sum_value is forward-filled ACROSS real buckets first (same
    # window spec — one WindowExec, no extra shuffle): if a bucket's
    # own sum is NULL (an all-NULL-value hour), the oracle's
    # LAST_VALUE IGNORE NULLS carries the previous bucket's sum
    # through it, so the explode must carry the filled value, not the
    # bucket's own.  On non-null data this is the identical double.
    expanded = hourly.withColumn(
        "nxt", F.lead("hour_us").over(w)
    ).withColumn(
        "ffill_sum",
        F.last("sum_value", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).select(
        "user_id",
        "cnt",
        F.col("ffill_sum").alias("sum_value"),
        F.col("hour_us").alias("bucket_us"),
        F.explode(
            F.sequence(
                F.col("hour_us"),
                F.coalesce(
                    F.col("nxt") - _HOUR_US, F.col("hour_us")
                ),
                F.lit(_HOUR_US),
            )
        ).alias("hour_us"),
    )
    return expanded.select(
        "user_id",
        "hour_us",
        F.when(F.col("hour_us") == F.col("bucket_us"), F.col("cnt"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_events"),
        F.col("sum_value").alias("filled_sum"),
    )


@register(
    "ts_ohlc_6h",
    f"""
    WITH b AS (
      SELECT event_type, event_id, value,
             epoch_us(ts) AS ts_us,
             epoch_us(ts) - epoch_us(ts) % {_SIX_H_US} AS bucket_us
      FROM events
    ),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket_us
                           ORDER BY ts_us, event_id) AS rn_a,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket_us
                           ORDER BY ts_us DESC, event_id DESC) AS rn_d
      FROM b
    )
    SELECT event_type, bucket_us,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
           COUNT(*) AS n_events
    FROM r
    GROUP BY event_type, bucket_us
    """,
    doc="OHLC downsample (financial-style resample): 6-hour candles "
    "per event_type.  Open/close are ARGMIN/ARGMAX of value along "
    "the total (ts, event_id) order — min_by/max_by over a struct "
    "key folds with a partial map-side combine, so a candle never "
    "sorts its rows (the previous symmetric-row_number spelling "
    "sorted every (type, bucket) group twice; per-candle row count "
    "grows with event DENSITY, the same axis the geo sweep finding "
    "burned on).  One hash aggregate, zero windows.  The oracle "
    "keeps the engine-portable row_number SQL — with a total "
    "tie-break the selected rows are identical.",
)
def ts_ohlc_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("event_type", "event_id", "ts", "value")
    b = ev.withColumn("bucket_us", F.expr(f"ts - ts % {_SIX_H_US}"))
    tkey = F.struct(F.col("ts"), F.col("event_id"))
    return b.groupBy("event_type", "bucket_us").agg(
        F.min_by("value", tkey).alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max_by("value", tkey).alias("close_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "ts_outlier_mad",
    """
    WITH v AS (
      SELECT event_type, value, event_id FROM events
    ),
    r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    med AS (
      SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2
    ),
    d AS (
      SELECT v.event_type, abs(v.value - m.med) AS adev,
             v.event_id, m.med
      FROM v JOIN med m USING (event_type)
    ),
    r2 AS (
      SELECT event_type, adev, med,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY adev, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    mad AS (
      SELECT event_type, med, adev AS mad FROM r2 WHERE rn = (n + 1) // 2
    )
    SELECT d.event_type, mad.med, mad.mad,
           COUNT(*) FILTER (WHERE d.adev > 3 * mad.mad) AS n_outliers,
           COUNT(*) AS n
    FROM d JOIN mad USING (event_type)
    GROUP BY d.event_type, mad.med, mad.mad
    """,
    doc="Robust outlier detection per series: lower-median and MAD "
    "(median absolute deviation) picked EXACTLY as the k-th order "
    "statistic (k = (n+1) div 2), then |v - med| > 3·MAD flags "
    "outliers.  Counts-first shape (r11, guide §2.3 'aggregate "
    "before you shuffle'): the ONLY full-data pass is one map-side-"
    "combined groupBy((type, value)) whose output is pinned; both "
    "order-statistic selections run a two_phase_scan RUNNING-COUNT "
    "over the distinct-value counts frame (the k-th value is the row "
    "whose cumulative count first reaches k — identical to the "
    "oracle's row_number selection because equal values share one "
    "row and the rank interval (crun-cnt, crun] contains k), and the "
    "final outlier count is a weighted sum over the same frame.  "
    "events is scanned ONCE (was 4×); the range exchanges carry "
    "distinct (type, value, cnt) rows, never the event log; "
    "event_id is no longer read at all (the tie-break never changes "
    "WHICH value the k-th rank lands on).  events has FIVE event "
    "types at any scale, so the scan machinery stays two-phase — a "
    "per-type window would sort n_distinct/5 rows in one task.  "
    "Values identical to the oracle's one-window SQL.",
)
def ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators._common import persist_reused
    from hana_bq_beam_connector_spark.operators.relational import (
        two_phase_scan,
    )

    v = events_us(spark, sf_dir).select("event_type", "value")
    # One full-data pass; everything below reads this bounded frame
    # (≤ distinct (type, value) rows — pinned so all four consumers
    # share the single materialization).
    vc = persist_reused(
        v.groupBy("event_type", "value").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
    )
    n_by = vc.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    k = F.expr("(n + 1) div 2")
    r = two_phase_scan(
        vc, ["event_type"], [F.col("value")], {"crun": F.col("cnt")}
    ).join(F.broadcast(n_by), "event_type")
    med = r.where(
        (F.col("crun") >= k) & (F.col("crun") - F.col("cnt") < k)
    ).select("event_type", F.col("value").alias("med"))
    dc = (
        vc.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type",
            F.abs(F.col("value") - F.col("med")).alias("adev"),
            "med",
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    r2 = two_phase_scan(
        dc, ["event_type"], [F.col("adev")], {"crun": F.col("cnt")}
    ).join(F.broadcast(n_by), "event_type")
    mad = r2.where(
        (F.col("crun") >= k) & (F.col("crun") - F.col("cnt") < k)
    ).select("event_type", "med", F.col("adev").alias("mad"))
    return (
        dc.drop("med")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.col("adev") > 3 * F.col("mad"), F.col("cnt")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("n_outliers"),
            F.sum("cnt").alias("n"),
        )
    )


@register(
    "ts_funnel_signup_purchase",
    """
    WITH steps AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                 THEN epoch_us(ts) END) AS t_signup,
             MIN(CASE WHEN event_type = 'view'
                 THEN epoch_us(ts) END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(ts) END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      COUNT(*) FILTER (WHERE t_signup IS NOT NULL) AS n_signup,
      COUNT(*) FILTER (WHERE t_signup IS NOT NULL
                       AND t_view > t_signup) AS n_signup_view,
      COUNT(*) FILTER (WHERE t_signup IS NOT NULL
                       AND t_view > t_signup
                       AND t_purchase > t_view) AS n_full_funnel
    FROM steps
    """,
    doc="Ordered funnel analysis (signup → view → purchase): one "
    "conditional-MIN aggregate collapses each user to first-touch "
    "timestamps, then ordering predicates count stage survivors — "
    "a single hash shuffle on user_id regardless of event volume, "
    "the standard product-analytics conversion query.",
)
def ts_funnel_signup_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = events_us(spark, sf_dir)
    first = F.min  # first-touch = min event time
    steps = ev.groupBy("user_id").agg(
        first(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        ),
        first(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        first(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    sv = F.col("t_signup").isNotNull() & (F.col("t_view") > F.col("t_signup"))
    return steps.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(F.col("t_signup").isNotNull()).alias("n_signup"),
        F.count_if(sv).alias("n_signup_view"),
        F.count_if(sv & (F.col("t_purchase") > F.col("t_view"))).alias(
            "n_full_funnel"
        ),
    )


@register(
    "ts_hourly_interp_linear",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
    ),
    h AS (
      SELECT user_id, ts_us - ts_us % {_HOUR_US} AS hour_us,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM ev GROUP BY user_id, hour_us
    ),
    b AS (
      SELECT user_id, MIN(hour_us) AS lo, MAX(hour_us) AS hi
      FROM h GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, UNNEST(range(lo, hi + 1, {_HOUR_US})) AS hour_us
      FROM b
    ),
    j AS (
      SELECT g.user_id, g.hour_us, h.sum_value,
        LAST_VALUE(h.sum_value IGNORE NULLS) OVER wp AS prev_v,
        LAST_VALUE(CASE WHEN h.sum_value IS NOT NULL THEN g.hour_us END
                   IGNORE NULLS) OVER wp AS prev_t,
        FIRST_VALUE(h.sum_value IGNORE NULLS) OVER wf AS next_v,
        FIRST_VALUE(CASE WHEN h.sum_value IS NOT NULL THEN g.hour_us END
                    IGNORE NULLS) OVER wf AS next_t
      FROM grid g LEFT JOIN h
        ON g.user_id = h.user_id AND g.hour_us = h.hour_us
      WINDOW
        wp AS (PARTITION BY g.user_id ORDER BY g.hour_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        wf AS (PARTITION BY g.user_id ORDER BY g.hour_us
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, hour_us,
      CASE WHEN sum_value IS NOT NULL THEN sum_value
           ELSE prev_v + (next_v - prev_v)
                * (CAST(hour_us - prev_t AS DOUBLE)
                   / CAST(next_t - prev_t AS DOUBLE))
      END AS interp_value
    FROM j
    """,
    doc="Hourly resample with LINEAR interpolation (the ffill query's "
    "sibling).  The oracle spells it the textbook way (calendar "
    "spine + backward/forward window passes to find the bracketing "
    "known points); the Spark plan computes the IDENTICAL rows the "
    "100 TB-shaped way: ONE lead() window over the real-bucket frame "
    "carries each bucket's successor (next_t, next_v), then an "
    "IN-ROW explode emits the bucket hour plus its gap hours, each "
    "gap hour interpolating prev + (next-prev) * elapsed/gap — the "
    "same IEEE expression tree on the same operands as the window "
    "spelling (prev = the owning bucket, next = its lead), so the "
    "hashes still match bit-for-bit.  The dense grid never exists "
    "before a shuffle, join, or sort: at sf1 this replaced the "
    "186 s grid-join-plus-two-windows plan (the old shape was the "
    "single most expensive query in the registry sweep) with the "
    "1M-row lead window + a streamed projection.  Grid edges are "
    "always known points, so no extrapolation branch is needed.",
)
def ts_hourly_interp_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("user_id", "ts", "value")
    hourly = ev.groupBy(
        "user_id", F.expr(f"ts - ts % {_HOUR_US}").alias("hour_us")
    ).agg(sum_dec_as_double("value", "sum_value"))
    w = Window.partitionBy("user_id").orderBy("hour_us")
    expanded = hourly.select(
        "user_id",
        F.col("hour_us").alias("prev_t"),
        F.col("sum_value").alias("prev_v"),
        F.lead("hour_us").over(w).alias("next_t"),
        F.lead("sum_value").over(w).alias("next_v"),
    ).select(
        "user_id",
        "prev_t",
        "prev_v",
        "next_t",
        "next_v",
        F.explode(
            F.sequence(
                F.col("prev_t"),
                F.coalesce(F.col("next_t") - _HOUR_US, F.col("prev_t")),
                F.lit(_HOUR_US),
            )
        ).alias("hour_us"),
    )
    frac = (F.col("hour_us") - F.col("prev_t")).cast("double") / (
        F.col("next_t") - F.col("prev_t")
    ).cast("double")
    interp = F.when(
        F.col("hour_us") == F.col("prev_t"), F.col("prev_v")
    ).otherwise(
        F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
    )
    return expanded.select(
        "user_id", "hour_us", interp.alias("interp_value")
    )


@register(
    "ts_ewma_hourly",
    f"""
    WITH h AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(ts) % {_HOUR_US} AS hour_us,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY event_type, hour_us
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
           list_reduce(list(v ORDER BY hour_us),
                       (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
    FROM h GROUP BY event_type
    """,
    doc="Exponentially-weighted moving average (alpha = 0.5) of the "
    "hourly value series per event type — the trend-smoothing "
    "primitive of monitoring pipelines.  Two-stage: exact-decimal "
    "hourly sums (one partial-aggregated shuffle of O(types x hours) "
    "rows), then an ordered left fold over each type's own hourly "
    "series.  alpha = 0.5 halves exactly in binary and the fold "
    "order is pinned (sort_array / list ORDER BY), so both engines "
    "run the identical chain of correctly-rounded IEEE ops — the "
    "EWMA doubles hash-match bit-for-bit.  Per-type series fit "
    "memory by construction (hours per type, not events).",
)
def ts_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("event_type", "ts", "value")
    hourly = ev.groupBy(
        "event_type",
        (F.col("ts") - F.col("ts") % _HOUR_US).alias("hour_us"),
    ).agg(sum_dec_as_double("value", "v"))
    series = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sort_array(F.collect_list(F.struct("hour_us", "v"))).alias("s"),
    )
    # Left fold seeded with the first element — same chain as DuckDB's
    # list_reduce (which folds from the head without an explicit init).
    ewma = F.expr(
        "aggregate(slice(transform(s, p -> p.v), 2, size(s) - 1), "
        "element_at(transform(s, p -> p.v), 1), "
        "(acc, x) -> 0.5 * x + 0.5 * acc)"
    )
    return series.select("event_type", "n_hours", ewma.alias("ewma"))


# 2024-01-01 00:00:00 UTC is hour-aligned; hours-since-T0 keeps every
# x small enough that all regression moments stay exact in BIGINT /
# DECIMAL (rebasing matters: absolute hour numbers would overflow
# n*Sxx past int64).
_T0_HOURS = 1_704_067_200_000_000 // _HOUR_US


@register(
    "ts_linear_trend",
    f"""
    WITH pts AS (
      SELECT event_type,
             epoch_us(ts) // {_HOUR_US} - {_T0_HOURS} AS x,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             SUM(y) AS sy,
             SUM(x * y) AS sxy
      FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
      CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_per_hour,
      (CAST(sy AS DOUBLE)
         - (CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        / CAST(n AS DOUBLE) AS intercept
    FROM m
    """,
    doc="Per-type least-squares trend of value over time (slope per "
    "hour + intercept): all five regression moments accumulate in "
    "exact integer/decimal arithmetic — x is hours since a fixed "
    "aligned origin (rebased so n*Sxx fits int64), y goes through "
    "DECIMAL(18,2) — so the only IEEE ops are the final two "
    "divisions and one multiply-subtract, in identical order on "
    "both engines.  One partial-aggregated shuffle of 5 moments per "
    "type; the moments formulation is the map-side-combinable way "
    "to regress — never collect the series.",
)
def ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("event_type", "ts", "value")
    pts = ev.select(
        "event_type",
        (F.floor(F.col("ts") / _HOUR_US) - _T0_HOURS).alias("x"),
        F.col("value").cast("decimal(18,2)").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "event_type",
        "n",
        slope.alias("slope_per_hour"),
        intercept.alias("intercept"),
    )


@register(
    "ts_rolling_median_24h",
    f"""
    WITH h AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(ts) % {_HOUR_US} AS hour_us,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY event_type, hour_us
    )
    SELECT event_type, hour_us,
      list_sort(list(v) OVER w)[
        (len(list(v) OVER w) + 1) // 2
      ] AS rolling_median
    FROM h
    WINDOW w AS (
      PARTITION BY event_type ORDER BY hour_us
      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW
    )
    """,
    doc="24-hour rolling median of the hourly value series per type — "
    "the robust trend line monitoring wants when spikes poison a "
    "rolling mean.  The frame's values collect, sort, and index to "
    "the LOWER median (no even-count interpolation: element "
    "selection involves zero arithmetic, so the doubles pass through "
    "untouched and both engines agree bit-for-bit).  Frame size is "
    "constant (24), so per-row cost is O(24 log 24) on an input "
    "already reduced to hours-per-type — the window sort input is "
    "O(hours), never O(events).",
)
def ts_rolling_median_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("event_type", "ts", "value")
    hourly = ev.groupBy(
        "event_type",
        (F.col("ts") - F.col("ts") % _HOUR_US).alias("hour_us"),
    ).agg(sum_dec_as_double("value", "v"))
    w = Window.partitionBy("event_type").orderBy("hour_us").rowsBetween(
        -23, Window.currentRow
    )
    frame = F.collect_list("v").over(w)
    med = F.expr(
        "element_at(array_sort(__frame), "
        "cast((size(__frame) + 1) / 2 as int))"
    )
    return (
        hourly.withColumn("__frame", frame)
        .withColumn("rolling_median", med)
        .select("event_type", "hour_us", "rolling_median")
    )


@register(
    "ts_hour_of_day_profile",
    f"""
    SELECT event_type,
      (epoch_us(ts) // {_HOUR_US}) % 24 AS hour_of_day,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        AS mean_value
    FROM events
    GROUP BY event_type, hour_of_day
    """,
    doc="Hour-of-day seasonality profile (UTC): per (type, hour 0-23) "
    "event count and exact-decimal mean — the diurnal baseline that "
    "anomaly detection subtracts before flagging.  One "
    "partial-aggregated shuffle of at most types×24 groups; the mean "
    "is one IEEE division of exact operands, so the profile "
    "hash-matches.",
)
def ts_hour_of_day_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("event_type", "ts", "value")
    hod = (F.floor(F.col("ts") / _HOUR_US) % 24).alias("hour_of_day")
    return ev.groupBy("event_type", hod).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_value"),
    )


@register(
    "ts_cusum_changepoint",
    f"""
    WITH h AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(ts) % {_HOUR_US} AS hour_us,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hour_us
    ),
    cum AS (
      SELECT event_type, hour_us,
        CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY hour_us)
             AS BIGINT) AS cum_c,
        CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour_us)
             AS BIGINT) AS k,
        CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_hours
      FROM h
    ),
    scored AS (
      SELECT event_type, hour_us, cum_c, k, total, n_hours,
        n_hours * cum_c - k * total AS cusum_num,
        ROW_NUMBER() OVER (
          PARTITION BY event_type
          ORDER BY ABS(n_hours * cum_c - k * total) DESC, hour_us
        ) AS rnk
      FROM cum WHERE k < n_hours
    )
    SELECT event_type, hour_us AS change_hour_us, k, n_hours, total,
      cusum_num,
      CAST(cum_c AS DOUBLE) / CAST(k AS DOUBLE) AS mean_before,
      CAST(total - cum_c AS DOUBLE) / CAST(n_hours - k AS DOUBLE)
        AS mean_after
    FROM scored WHERE rnk = 1
    """,
    doc="CUSUM change-point detection on the hourly event-count "
    "series per type: the hour k maximizing |CUSUM_k| = "
    "|cum_k - k*mean| — emitted with the level estimate on each side "
    "of the break (the monitoring primitive for 'did the feed rate "
    "shift?').  Exactness: the statistic is cleared of its fraction "
    "— n_hours*cum_k - k*total is an exact BIGINT, the argmax runs "
    "on integers (ties to the earliest hour), and the before/after "
    "means are single IEEE divisions of exact operands.  The bound "
    "|num| <= n_hours*total stays under 2^53 to ~1e11 events x 1e4 "
    "hours — 100 TB headroom without a guard.  Plan: one fact "
    "aggregate to the O(types x hours) frame; every window runs "
    "there, partitioned by type.  The boundary k = n_hours is "
    "excluded (CUSUM_n = 0 identically; interior breaks only), "
    "which also keeps mean_after's divisor nonzero.",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = events_us(spark, sf_dir).select("event_type", "ts")
    h = ev.groupBy(
        "event_type",
        (F.col("ts") - F.col("ts") % _HOUR_US).alias("hour_us"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w_cum = Window.partitionBy("event_type").orderBy("hour_us")
    w_all = Window.partitionBy("event_type")
    cum = h.select(
        "event_type",
        "hour_us",
        F.sum("c")
        .over(w_cum.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_c"),
        F.row_number().over(w_cum).cast("bigint").alias("k"),
        F.sum("c").over(w_all).cast("bigint").alias("total"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_hours"),
    )
    num = F.col("n_hours") * F.col("cum_c") - F.col("k") * F.col("total")
    scored = cum.filter(F.col("k") < F.col("n_hours")).select(
        "event_type",
        "hour_us",
        "cum_c",
        "k",
        "total",
        "n_hours",
        num.alias("cusum_num"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.abs(num).desc(), "hour_us"
            )
        )
        .alias("rnk"),
    )
    return scored.filter(F.col("rnk") == 1).select(
        "event_type",
        F.col("hour_us").alias("change_hour_us"),
        "k",
        "n_hours",
        "total",
        "cusum_num",
        (F.col("cum_c").cast("double") / F.col("k").cast("double")).alias(
            "mean_before"
        ),
        (
            (F.col("total") - F.col("cum_c")).cast("double")
            / (F.col("n_hours") - F.col("k")).cast("double")
        ).alias("mean_after"),
    )



@register(
    "ts_holt_linear_forecast",
    f"""
    WITH RECURSIVE h AS (
      SELECT event_type,
        CAST(epoch_us(ts) // {_SIX_H_US} AS BIGINT) AS bkt,
        CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    o AS (
      SELECT event_type, y,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY bkt) AS rn,
        COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM h
    ),
    st AS (
      SELECT o1.event_type, CAST(1 AS BIGINT) AS rn, o1.n,
        CAST(o1.y AS DOUBLE) AS level,
        CAST(o2.y AS DOUBLE) - CAST(o1.y AS DOUBLE) AS trend
      FROM o o1 JOIN o o2
        ON o2.event_type = o1.event_type AND o1.rn = 1 AND o2.rn = 2
      WHERE o1.n >= 2
      UNION ALL
      SELECT s.event_type, s.rn + 1, s.n,
        0.5 * CAST(o.y AS DOUBLE) + 0.5 * (s.level + s.trend),
        0.25 * ((0.5 * CAST(o.y AS DOUBLE) + 0.5 * (s.level + s.trend))
                - s.level) + 0.75 * s.trend
      FROM st s JOIN o
        ON o.event_type = s.event_type AND o.rn = s.rn + 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_buckets, level, trend,
      level + 1 * trend AS forecast_h1,
      level + 2 * trend AS forecast_h2,
      level + 3 * trend AS forecast_h3
    FROM st WHERE rn = n
    """,
    doc="Holt linear-trend exponential smoothing + 3-step forecast "
    "per event type, over the 6-hour bucket count series (alpha=0.5, "
    "beta=0.25 — exact binary fractions).  The smoothing recursion is "
    "inherently sequential, so the SCALE move is running it on the "
    "O(types x buckets) AGGREGATED frame: the fact scan reduces "
    "map-side to one row per (type, bucket), each type's series "
    "folds INSIDE one row via array_sort + aggregate() (a codegen'd "
    "lambda fold — no driver loop, no Python, no per-step shuffle), "
    "and types parallelize across the cluster.  Both engines execute "
    "the textually identical update expressions (level' = 0.5y + "
    "0.5(level+trend); trend' inlines level' — IEEE ops in the same "
    "order, so the fold is bit-deterministic; DuckDB replays it as a "
    "recursive CTE).  Init: level=y1, trend=y2-y1; types with <2 "
    "buckets are excluded in both engines.",
)
def ts_holt_linear_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = events_us(spark, sf_dir).select("event_type", "ts")
    h = ev.groupBy(
        "event_type",
        F.floor(F.col("ts") / _SIX_H_US).cast("bigint").alias("bkt"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    arr = (
        h.groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("bkt", "y"))
            ).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        )
        .where(F.col("n_buckets") >= 2)
    )
    fold = (
        "aggregate("
        "  slice(s, 2, size(s) - 1),"
        "  named_struct("
        "    'level', CAST(s[0].y AS DOUBLE),"
        "    'trend', CAST(s[1].y AS DOUBLE) - CAST(s[0].y AS DOUBLE)),"
        "  (acc, x) -> named_struct("
        "    'level',"
        "    0.5D * CAST(x.y AS DOUBLE) + 0.5D * (acc.level + acc.trend),"
        "    'trend',"
        "    0.25D * ((0.5D * CAST(x.y AS DOUBLE)"
        "              + 0.5D * (acc.level + acc.trend)) - acc.level)"
        "    + 0.75D * acc.trend)"
        ")"
    )
    return arr.select(
        "event_type",
        "n_buckets",
        F.expr(fold).alias("hw"),
    ).select(
        "event_type",
        "n_buckets",
        F.col("hw.level").alias("level"),
        F.col("hw.trend").alias("trend"),
        F.expr("hw.level + 1 * hw.trend").alias("forecast_h1"),
        F.expr("hw.level + 2 * hw.trend").alias("forecast_h2"),
        F.expr("hw.level + 3 * hw.trend").alias("forecast_h3"),
    )


# pre/post split shared with the experimentation / drift families:
# 2024-01-15 UTC in epoch µs.
_SEAS_SPLIT_US = 1_705_276_800_000_000
_HOUR_US = 3_600_000_000


@register(
    "ts_seasonal_hour_baseline",
    f"""
    WITH ev AS (
      SELECT event_type, epoch_us(ts) AS ts_us FROM events
    ),
    cells AS (
      SELECT event_type,
        (ts_us // {_HOUR_US}) % 24 AS hour_of_day,
        CAST(SUM(CASE WHEN ts_us < {_SEAS_SPLIT_US}
                 THEN 1 ELSE 0 END) AS BIGINT) AS base_n,
        CAST(SUM(CASE WHEN ts_us < {_SEAS_SPLIT_US}
                 THEN 0 ELSE 1 END) AS BIGINT) AS cur_n
      FROM ev GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(base_n) AS BIGINT) AS base_total,
             CAST(SUM(cur_n) AS BIGINT) AS cur_total
      FROM cells
    )
    SELECT c.event_type, c.hour_of_day, c.base_n, c.cur_n,
      CAST(c.base_n AS DOUBLE) * CAST(t.cur_total AS DOUBLE)
        / CAST(t.base_total AS DOUBLE) AS expected_n,
      CAST(c.cur_n AS DOUBLE)
        - CAST(c.base_n AS DOUBLE) * CAST(t.cur_total AS DOUBLE)
          / CAST(t.base_total AS DOUBLE) AS residual
    FROM cells c CROSS JOIN tot t
    """,
    doc="Seasonal-naive anomaly baseline: the pre-split history "
    "builds an (event_type x hour-of-day) seasonal profile, the "
    "post-split window is compared against it volume-normalized — "
    "expected = base_n * cur_total / base_total — and the residual "
    "is the anomaly signal a seasonal-naive detector alarms on "
    "(pure offsets from epoch-µs integer arithmetic; no timezone "
    "functions, so hour extraction is engine-identical).  ONE "
    "CASE-split scan to the O(types x 24) cell frame, a 1-row "
    "totals broadcast, and two textually identical closing IEEE "
    "expressions — the transcendental-free cousin of an STL "
    "decomposition, sized for 100 TB (nothing but the cell frame "
    "ever leaves the scan stage).",
)
def ts_seasonal_hour_baseline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = events_us(spark, sf_dir).select("event_type", "ts")
    is_base = F.col("ts") < _SEAS_SPLIT_US
    # Integer DIV, not double '/': trunc(rounded double quotient) can
    # land one hour off near bucket boundaries; DuckDB's // is exact.
    cells = ev.groupBy(
        "event_type",
        F.expr(f"(ts DIV {_HOUR_US}) % 24").alias("hour_of_day"),
    ).agg(
        F.sum(F.when(is_base, 1).otherwise(0))
        .cast("bigint")
        .alias("base_n"),
        F.sum(F.when(is_base, 0).otherwise(1))
        .cast("bigint")
        .alias("cur_n"),
    )
    tot = cells.agg(
        F.sum("base_n").cast("bigint").alias("base_total"),
        F.sum("cur_n").cast("bigint").alias("cur_total"),
    )
    expected = (
        "CAST(base_n AS DOUBLE) * CAST(cur_total AS DOUBLE)"
        " / CAST(base_total AS DOUBLE)"
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "hour_of_day",
        "base_n",
        "cur_n",
        F.expr(expected).alias("expected_n"),
        F.expr(f"CAST(cur_n AS DOUBLE) - {expected}").alias("residual"),
    )
