"""Behavioral / event-sequence analytics over `events` (SURVEY §2c
time-series [X] extension — batch counterparts of the streaming
session/window operators).

The reference's only notion of event time is the chunk-interval scan
(`HanaToBQ.java:57-58`); sessionization, retention cohorts, throttle
dedup and multi-grain rollups are engine extensions a training-data /
product-analytics pipeline needs.

Scale design (all four queries):

* every per-user computation partitions on ``user_id`` — ONE hash
  exchange each, window sorts are per-user (bounded by a user's own
  event count, never a global sort);
* session/cohort aggregates happen AFTER the window pass, on data the
  map side has already reduced to session/day granularity — the second
  exchange moves rows per (user, session), orders of magnitude fewer
  than raw events;
* the multi-grain rollup is GROUPING SETS over pre-bucketed integer
  columns: Spark expands grouping sets map-side and partial-aggregates
  before the single exchange, so three grains cost one shuffle of
  already-tiny partial aggregates, not three scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hana_bq_beam_connector_spark.operators._common import persist_reused
from hana_bq_beam_connector_spark.queries import register
from hana_bq_beam_connector_spark.queries._util import (
    SQL_SUM_DEC,
    events_us,
    sum_dec_as_double,
)

_MIN_US = 60_000_000
_SESSION_GAP_US = 30 * _MIN_US
_THROTTLE_US = 10 * _MIN_US
_DAY_US = 86_400_000_000
_H6_US = 21_600_000_000


@register(
    "ts_sessionize_gap",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                       OR ts_us - LAG(ts_us) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
      SELECT user_id, ts_us, event_id,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
    doc="Batch sessionization by 30-minute inactivity gap: LAG flags "
    "session starts, a running SUM numbers sessions within each user, "
    "then per-session bounds/duration/size.  Ties on ts break by "
    "event_id so session numbering is deterministic.",
)
def ts_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("ts") - prev > _SESSION_GAP_US), 1
    ).otherwise(0)
    numbered = ev.withColumn("session_no", F.sum(new_sess).over(run))
    return numbered.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start_us"),
        F.max("ts").alias("session_end_us"),
        (F.max("ts") - F.min("ts")).alias("duration_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "ts_cohort_retention",
    f"""
    WITH ev AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(ts) % {_DAY_US} AS day_us
      FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(day_us) AS cohort_day_us FROM ev GROUP BY user_id
    ),
    active AS (SELECT DISTINCT user_id, day_us FROM ev)
    SELECT c.cohort_day_us,
           CAST((a.day_us - c.cohort_day_us) / {_DAY_US} AS BIGINT)
             AS day_offset,
           COUNT(*) AS n_users
    FROM active a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY c.cohort_day_us, day_offset
    """,
    doc="Cohort retention matrix: users cohorted by first-active day; "
    "for each (cohort day, day offset) the count of cohort users still "
    "active.  Both the cohort min and the active-day distinct partition "
    "on user_id, so the join is co-partitioned (no extra exchange "
    "beyond the two user_id aggregates); the final matrix aggregate "
    "moves one row per (user, active day).",
)
def ts_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id", (F.col("ts") - F.col("ts") % _DAY_US).alias("day_us")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day_us").alias("cohort_day_us"))
    active = ev.distinct()
    return (
        active.join(cohort, "user_id")
        .select(
            "cohort_day_us",
            ((F.col("day_us") - F.col("cohort_day_us")) / _DAY_US)
            .cast("bigint")
            .alias("day_offset"),
        )
        .groupBy("cohort_day_us", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "dedup_event_throttle",
    f"""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events
    )
    SELECT event_id, user_id, event_type, ts_us
    FROM (
      SELECT event_id, user_id, event_type, ts_us,
             LAG(ts_us) OVER (
               PARTITION BY user_id, event_type ORDER BY ts_us, event_id
             ) AS prev_us
      FROM ev
    )
    WHERE prev_us IS NULL OR ts_us - prev_us > {_THROTTLE_US}
    """,
    doc="Time-window throttle dedup: within each (user, event_type) "
    "stream, keep an event only if the previous raw event of the same "
    "key is more than 10 minutes older (or absent).  LAG against the "
    "raw stream — not the kept rows — so the rule is one window pass, "
    "deterministic, and needs no iteration.  The batch twin of "
    "dropDuplicatesWithinWatermark.",
)
def dedup_event_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.col("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    kept = ev.withColumn("prev_us", F.lag("ts_us").over(w)).where(
        F.col("prev_us").isNull()
        | (F.col("ts_us") - F.col("prev_us") > _THROTTLE_US)
    )
    return kept.drop("prev_us")


@register(
    "ts_multi_grain_rollup",
    f"""
    WITH ev AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(ts) % {_DAY_US} AS day_us,
             epoch_us(ts) - epoch_us(ts) % {_H6_US} AS h6_us,
             value
      FROM events
    )
    SELECT event_type, day_us, h6_us,
           GROUPING(day_us) + 2 * GROUPING(h6_us) AS grain,
           COUNT(*) AS n,
           {SQL_SUM_DEC("value", "sum_value")}
    FROM ev
    GROUP BY GROUPING SETS ((event_type, day_us), (event_type, h6_us),
                            (event_type))
    """,
    doc="Hypertable-style multi-grain rollup: one GROUPING SETS pass "
    "produces per-(type, day), per-(type, 6h) and per-type aggregates "
    "— the continuous-aggregate ladder materialized in one shuffle of "
    "map-side partials instead of three scans.  The grain id "
    "(GROUPING bits) disambiguates rows whose bucket columns are NULL.",
)
def ts_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "event_type",
        (F.col("ts") - F.col("ts") % _DAY_US).alias("day_us"),
        (F.col("ts") - F.col("ts") % _H6_US).alias("h6_us"),
        "value",
    )
    return (
        ev.groupingSets(
            [["event_type", "day_us"], ["event_type", "h6_us"], ["event_type"]],
            "event_type",
            "day_us",
            "h6_us",
        )
        .agg(
            (F.grouping("day_us") + F.lit(2) * F.grouping("h6_us"))
            .cast("long")
            .alias("grain"),
            F.count(F.lit(1)).alias("n"),
            sum_dec_as_double("value", "sum_value"),
        )
    )


@register(
    "ts_session_concurrency",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                       OR ts_us - LAG(ts_us) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    numbered AS (
      SELECT user_id, ts_us,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_no
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, session_no,
             MIN(ts_us) AS s, MAX(ts_us) AS e
      FROM numbered GROUP BY user_id, session_no
    ),
    pts AS (
      SELECT s AS ts_us, 1 AS delta FROM sessions
      UNION ALL
      SELECT e AS ts_us, -1 AS delta FROM sessions
    ),
    run AS (
      SELECT delta, SUM(delta) OVER (
        ORDER BY ts_us, delta DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS conc
      FROM pts
    )
    SELECT CAST(MAX(conc) AS BIGINT) AS max_concurrent,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions
    FROM run
    """,
    doc="Peak session concurrency (sweep line over session intervals): "
    "sessions from the 30-min-gap rule become +1/-1 boundary points; "
    "the maximum of the running sum over (time, starts-before-ends at "
    "ties: closed intervals) is the peak concurrent-session count — "
    "the capacity-planning number.  The Spark prefix sum is TWO-PHASE "
    "(per-day partials + a per-day offset cumsum over O(#days) rows), "
    "never a single-partition global window — the oracle's one-window "
    "spelling is the semantic definition, the engine's is the plan "
    "that survives 10^9 sessions.  Phase-2's window orders O(days) "
    "rows; ties inside one (ts, delta) group are sum-order-invariant, "
    "so the max is deterministic.  Both ±1 points explode from ONE "
    "session pass (no self-union rescan) and n_sessions folds into "
    "the same final aggregate as the peak (count of +1 points), so "
    "the session frame is computed once and nothing cross-joins.",
)
def ts_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull() | (F.col("ts") - prev > _SESSION_GAP_US), 1
    ).otherwise(0)
    sessions = (
        ev.withColumn("session_no", F.sum(new_sess).over(run))
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    pts = sessions.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s").alias("ts_us"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("e").alias("ts_us"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("p")
    ).select("p.ts_us", "p.delta")
    pts = pts.withColumn(
        "day_us", F.col("ts_us") - F.col("ts_us") % _DAY_US
    )
    # Both the in-day window and the day-totals branch read pts: pin
    # so the session build runs once, not twice (same pattern as the
    # dedup self-joins).
    pts = persist_reused(pts)
    w_in = Window.partitionBy("day_us").orderBy(
        F.col("ts_us"), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    within = pts.withColumn("run_in_day", F.sum("delta").over(w_in))
    day_tot = pts.groupBy("day_us").agg(F.sum("delta").alias("day_sum"))
    w_off = Window.orderBy("day_us").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_tot.withColumn(
        "offset", F.coalesce(F.sum("day_sum").over(w_off), F.lit(0))
    ).select("day_us", "offset")
    conc = within.join(offsets, "day_us").select(
        "delta", (F.col("run_in_day") + F.col("offset")).alias("conc")
    )
    return conc.agg(
        F.max("conc").cast("long").alias("max_concurrent"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_sessions"),
    )


@register(
    "ts_click_to_purchase_latency",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, event_type, ts_us,
        MIN(CASE WHEN event_type = 'purchase' THEN ts_us END) OVER (
          PARTITION BY user_id ORDER BY ts_us, event_id
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
        ) AS next_purchase_us
      FROM ev
    ),
    clicks AS (
      SELECT user_id,
             ts_us - ts_us % {_DAY_US} AS day_us,
             next_purchase_us - ts_us AS latency_us
      FROM flagged WHERE event_type = 'click'
    )
    SELECT day_us,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(COUNT(latency_us) AS BIGINT) AS n_converted,
           CAST(SUM(latency_us) AS BIGINT) AS total_latency_us,
           CAST(MAX(latency_us) AS BIGINT) AS max_latency_us
    FROM clicks GROUP BY day_us
    """,
    doc="Click→purchase attribution latency: for every click, the "
    "time to the SAME user's next purchase (strictly later; MIN over "
    "the following frame of an ordered per-user window — the "
    "nearest future purchase because time ascends), rolled up per "
    "click-day: clicks, conversions, total/max latency — the "
    "conversion-lag report attribution pipelines feed from.  One "
    "hash exchange on user_id for the window, one tiny day rollup; "
    "all-integer µs arithmetic, so the report is exact.",
)
def ts_click_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        1, Window.unboundedFollowing
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    clicks = (
        ev.withColumn("next_purchase_us", nxt)
        .where(F.col("event_type") == "click")
        .select(
            (F.col("ts") - F.col("ts") % _DAY_US).alias("day_us"),
            (F.col("next_purchase_us") - F.col("ts")).alias("latency_us"),
        )
    )
    return clicks.groupBy("day_us").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count("latency_us").alias("n_converted"),
        F.sum("latency_us").cast("long").alias("total_latency_us"),
        F.max("latency_us").cast("long").alias("max_latency_us"),
    )


_COVER_US = 5 * _MIN_US  # each event covers [ts, ts + 5 min)


@register(
    "ts_interval_union_coverage",
    f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ),
    iv AS (
      SELECT user_id, ts_us, ts_us + {_COVER_US} AS end_us, event_id
      FROM ev
    ),
    flagged AS (
      SELECT user_id, ts_us, end_us, event_id,
             CASE WHEN MAX(end_us) OVER w IS NULL
                       OR ts_us > MAX(end_us) OVER w
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    numbered AS (
      SELECT user_id, ts_us, end_us,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island_id
      FROM flagged
    ),
    islands AS (
      SELECT user_id, island_id,
             MAX(end_us) - MIN(ts_us) AS covered
      FROM numbered GROUP BY user_id, island_id
    )
    SELECT user_id, COUNT(*) AS n_islands,
           CAST(SUM(covered) AS BIGINT) AS covered_us
    FROM islands GROUP BY user_id
    """,
    doc="Interval-union coverage (sweep line): each event covers a "
    "5-minute interval; overlapping/adjacent intervals merge into "
    "islands (new island when ts exceeds the running MAX of prior "
    "interval ends), and each user reports island count + total "
    "covered microseconds.  The running-max formulation is the "
    "O(n log n) per-user sweep — never a self-join over interval "
    "pairs, which is O(n^2) and the classic scale trap for overlap "
    "queries.  One user_id exchange; islands reduce before the final "
    "per-user rollup.",
)
def ts_interval_union_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = events_us(spark, sf_dir).select("user_id", "ts", "event_id")
    iv = ev.select(
        "user_id",
        "ts",
        (F.col("ts") + _COVER_US).alias("end_us"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max_end = F.max("end_us").over(w_prev)
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_end.isNull() | (F.col("ts") > prev_max_end), 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    numbered = flagged.withColumn(
        "island_id", F.sum("new_island").over(w_run)
    )
    islands = numbered.groupBy("user_id", "island_id").agg(
        (F.max("end_us") - F.min("ts")).alias("covered")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("covered").alias("covered_us"),
    )


@register(
    "ts_event_transitions",
    """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events
    ),
    seq AS (
      SELECT event_type AS next_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
             ) AS prev_type
      FROM ev
    ),
    cnt AS (
      SELECT prev_type, next_type, COUNT(*) AS n_pairs
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n_pairs,
           CAST(n_pairs AS DOUBLE)
             / CAST(CAST(SUM(n_pairs) OVER (PARTITION BY prev_type)
                         AS BIGINT) AS DOUBLE) AS prob
    FROM cnt
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: LAG pairs each event with its predecessor, pair "
    "counts aggregate exactly, and the transition probability is one "
    "IEEE division of exact integers (count / row-sum via a window "
    "over the 25-cell matrix).  The expensive part — sequencing — is "
    "one user_id exchange; the matrix itself is alphabet^2 rows.",
)
def ts_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    cnt = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w_row = Window.partitionBy("prev_type")
    return cnt.withColumn(
        "prob",
        F.col("n_pairs").cast("double")
        / F.sum("n_pairs").over(w_row).cast("double"),
    )


@register(
    "ts_position_attribution",
    """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events
    ),
    seg AS (
      SELECT user_id, ts_us, event_id, event_type,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS seg_id
      FROM ev
    ),
    touch AS (
      SELECT user_id, seg_id, event_type, ts_us, event_id
      FROM seg WHERE seg_id >= 1 AND event_type <> 'purchase'
    ),
    pos AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, seg_id
                                ORDER BY ts_us, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id, seg_id) AS n_touch
      FROM touch
    ),
    credit AS (
      SELECT event_type,
             CASE WHEN n_touch = 1 THEN 1000000
                  WHEN n_touch = 2 THEN 500000
                  WHEN rn = 1 OR rn = n_touch THEN 400000
                  ELSE 200000 // (n_touch - 2) END AS credit_ppm
      FROM pos
    )
    SELECT event_type, COUNT(*) AS n_touches,
           CAST(SUM(credit_ppm) AS BIGINT) AS credit_ppm_total
    FROM credit GROUP BY event_type
    """,
    doc="Position-based (U-shaped) multi-touch attribution: each "
    "purchase closes a segment of preceding touches (segments keyed "
    "by the count of purchases still to come — one descending-frame "
    "window, no self-join); within a segment the first and last touch "
    "earn 40% each and middles split the remaining 20%.  Credit is "
    "integer parts-per-million (floor division, remainder dropped by "
    "design) so the rollup is exact whatever the partial-agg order.  "
    "Two windows over one user_id exchange + one alphabet-sized "
    "rollup.",
)
def ts_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w_follow = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    seg = ev.withColumn(
        "seg_id",
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).over(w_follow),
    )
    touch = seg.where(
        (F.col("seg_id") >= 1) & (F.col("event_type") != "purchase")
    )
    w_seg = Window.partitionBy("user_id", "seg_id").orderBy(
        "ts", "event_id"
    )
    w_all = Window.partitionBy("user_id", "seg_id")
    pos = touch.select(
        "event_type",
        F.row_number().over(w_seg).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_touch"),
    )
    credit = pos.withColumn(
        "credit_ppm",
        F.when(F.col("n_touch") == 1, F.lit(1000000))
        .when(F.col("n_touch") == 2, F.lit(500000))
        .when(
            (F.col("rn") == 1) | (F.col("rn") == F.col("n_touch")),
            F.lit(400000),
        )
        .otherwise(F.expr("200000 div (n_touch - 2)")),
    )
    return credit.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit_ppm").cast("bigint").alias("credit_ppm_total"),
    )


@register(
    "ts_top_event_paths",
    """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
      FROM events
    ),
    seq AS (
      SELECT event_type AS step3,
             LAG(event_type, 1) OVER w AS step2,
             LAG(event_type, 2) OVER w AS step1
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    paths AS (
      SELECT step1, step2, step3, COUNT(*) AS n_paths
      FROM seq WHERE step1 IS NOT NULL
      GROUP BY step1, step2, step3
    ),
    ranked AS (
      SELECT step1, step2, step3, n_paths,
             ROW_NUMBER() OVER (ORDER BY n_paths DESC,
                                step1, step2, step3) AS rn
      FROM paths
    )
    SELECT step1, step2, step3, n_paths
    FROM ranked WHERE rn <= 10
    """,
    doc="Top event paths (3-step sequence mining): two LAGs over the "
    "per-user order turn each event into the path ending at it, paths "
    "aggregate exactly (alphabet^3-bounded matrix), and the global "
    "top-10 ranks with full lexicographic tie-breaks so the cut is "
    "deterministic.  The user_id window exchange is the only "
    "row-volume shuffle; ranking happens on <=125 aggregate rows.",
)
def ts_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("step1"),
        F.lag("event_type", 1).over(w).alias("step2"),
        F.col("event_type").alias("step3"),
    )
    paths = (
        seq.where(F.col("step1").isNotNull())
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )
    w_rank = Window.orderBy(
        F.col("n_paths").desc(), "step1", "step2", "step3"
    )
    return (
        paths.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= 10)
        .drop("rn")
    )


@register(
    "ts_event_regex_match",
    """
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             substr(event_type, 1, 1) AS ch
      FROM events
    ),
    j AS (
      SELECT user_id,
             string_agg(ch, '' ORDER BY ts_us, event_id) AS journey,
             COUNT(*) AS n_events
      FROM ev GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
      CAST(len(regexp_extract_all(journey, 'v[ce]*p')) AS BIGINT)
        AS n_conversion_paths
    FROM j
    WHERE len(regexp_extract_all(journey, 'v[ce]*p')) > 0
    """,
    doc="Complex-event-processing-lite (MATCH_RECOGNIZE's most-used "
    "80%): each user's event history compresses to a journey STRING "
    "(one char per event — the five types have distinct initials — "
    "ordered by ts with event_id tiebreak, so the encoding is total "
    "and deterministic), and behavioral patterns become regexes: "
    "'v[ce]*p' counts view→purchase conversions that tolerate "
    "clicks/errors between, scanned left-to-right non-overlapping — "
    "identical greedy semantics in both engines' regex libraries.  "
    "Spark builds the ordered journey via "
    "array_sort(collect_list(struct(ts, event_id, ch))) — "
    "aggregation, not a window, so ONE shuffle on user_id.  100 TB "
    "shape: per-user state is a few-hundred-byte string (cap long "
    "tails with slice() when users are unbounded); the pattern "
    "scan is embarrassingly parallel after the one exchange.",
)
def ts_event_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_us(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )
    j = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "ch"))
                ),
                lambda s: s["ch"],
            ),
            "",
        ).alias("journey"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    n_match = F.size(
        F.expr("regexp_extract_all(journey, 'v[ce]*p', 0)")
    ).cast("bigint")
    return (
        j.withColumn("n_conversion_paths", n_match)
        .where(F.col("n_conversion_paths") > 0)
        .select("user_id", "n_events", "n_conversion_paths")
    )
