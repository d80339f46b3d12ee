"""Relational operators beyond plain DataFrame calls (SURVEY §2c).

The reference implements none of these (SURVEY §2b: no joins, aggs,
set ops anywhere in its 439 LoC); this module is the [X] extension
surface.  Plain equi-joins/aggregates stay literal ``df.join`` /
``df.groupBy`` at call sites — wrapping them would only hide the plan
from the reader.  What lives here are the operators that need a real
strategy decision at 100 TB:

* ``broadcast_join`` — explicit build-side choice for dim tables;
* ``salted_join`` — hot-key mitigation when AQE skew-split isn't
  available (e.g. pre-3.0 clusters) or the skew is in a single key;
* ``topk_per_group`` / ``topk`` — rank-then-filter instead of global
  sort: the shuffle carries only per-partition top-k candidates;
* ``asof_join`` — point-in-time join (Spark has no ASOF JOIN);
  implemented as union + partitioned window scan: O(n log n) within
  partitions, never a range cross-product;
* ``range_join`` — interval containment join with an equi-bucket
  prefilter so Catalyst gets an equi-condition to hash on instead of
  a broadcast-nested-loop over the full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def broadcast_join(
    large: DataFrame, small: DataFrame, on: list[str] | Column, how: str = "inner"
) -> DataFrame:
    """Equi-join with the small side explicitly broadcast.

    At 100 TB the fact side must never shuffle for a dim-table join;
    ``F.broadcast`` pins the build side regardless of stale stats
    (autoBroadcastJoinThreshold only sees size estimates).
    """
    return large.join(F.broadcast(small), on=on, how=how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed left side's key into
    ``salt`` shards and explode the right side to match, so one hot
    key spreads over ``salt`` reducers instead of one straggler.

    AQE's skew-join split (enabled in session.py) handles most cases
    at runtime; explicit salting remains the tool when a single key
    dominates a partition beyond what AQE re-splits, at the cost of
    replicating the right side ``salt``×, so keep the right side the
    smaller input.

    The salt is a deterministic xxhash64 of the left row — not of the
    key: a key-derived salt is constant for a hot key and leaves all
    its rows on one reducer (found by tests/test_skew.py's race,
    where 4M hot-key rows sat on one task).  Map-typed columns are
    excluded from the hash (Spark defines no hash for MapType); rows
    identical in every hashable column share a salt, so at
    50%-duplicate pathology prefer exact dedup first.
    """
    # xxhash64 rejects MapType RECURSIVELY (maps nested in structs or
    # arrays included), so test containment, not the dtype prefix.
    hashable = [c for c, t in left.dtypes if "map<" not in t]
    if not hashable:
        raise ValueError(
            "salted_join: left frame has no hashable (non-map) "
            "columns to derive a row salt from"
        )
    salt_col = F.pmod(
        F.xxhash64(*[F.col(c) for c in hashable]), F.lit(salt)
    ).cast("int")
    salted_left = left.withColumn("__salt", salt_col)
    salted_right = right.withColumn(
        "__salt", F.explode(F.array([F.lit(i) for i in range(salt)]))
    )
    return (
        salted_left.join(salted_right, on=[on, "__salt"], how=how)
        .drop("__salt")
    )


def topk(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """Global top-k.  ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject: each partition keeps only k rows and the
    driver merges — no global sort shuffle."""
    return df.orderBy(*order).limit(k)


def topk_per_group(
    df: DataFrame,
    partition_by: list[str],
    order: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k rows per group via row_number rank-and-filter.  One hash
    shuffle on the group key; the window scan is in-partition.  Ties
    must be broken by a unique column in ``order`` for determinism."""
    w = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= k)
    )


def topk_per_group_skewed(
    df: DataFrame,
    partition_by: list[str],
    order: list[Column],
    k: int,
    rank_col: str = "rn",
    fanout: int = 64,
) -> DataFrame:
    """Skew-robust exact top-k per group (two-phase cap).

    ``topk_per_group`` windows directly on the group key, so one hot
    key (a dominant crawl domain in a per-domain document cap) lands
    on one task and sorts the whole group — AQE cannot split a window.
    This variant exploits a selection identity: the global k smallest
    rows of a group equal the k smallest of each subgroup's k
    smallest, for ANY disjoint subgrouping.  Phase 1 windows on
    (key, salt) — the hot key spreads over ``fanout`` tasks and every
    subgroup truncates to k rows; phase 2 re-windows on the key alone
    over at most ``k * fanout`` survivors per key.  Two shuffles, but
    the second moves a bounded sliver; peak per-task work drops from
    O(hot_group) to O(hot_group / fanout).  Salt is a deterministic
    xxhash64 of the full row, not a RNG, so results stay run-stable.

    Exactness requires a total order: ``order`` must end in a unique
    tiebreaker (same contract as ``topk_per_group``).
    """
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(fanout)
    )
    w1 = Window.partitionBy(*partition_by, "__salt").orderBy(*order)
    phase1 = (
        df.withColumn("__salt", salt)
        .withColumn("__rn1", F.row_number().over(w1))
        .where(F.col("__rn1") <= k)
        .drop("__rn1")
    )
    w2 = Window.partitionBy(*partition_by).orderBy(*order)
    return (
        phase1.withColumn(rank_col, F.row_number().over(w2))
        .where(F.col(rank_col) <= k)
        .drop("__salt")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_cols: list[str],
    tolerance: int | float | None = None,
    strict: bool = False,
) -> DataFrame:
    """Point-in-time (as-of backward) join.

    For each left row, attach the most recent right row with the same
    ``on`` key and right.ts <= left.ts (< when ``strict``).  Spark has
    no ASOF JOIN operator; a naive range join explodes into a
    cross-product per key.  This implementation unions both sides
    tagged, then runs ``last(..., ignorenulls)`` over one
    partition-by-key window — a single shuffle on the key, linear scan
    per partition, no pair blow-up, which is the only shape that
    survives 100 TB of events.

    Equivalent to DuckDB's ``ASOF JOIN`` (the oracle for it).
    """
    lcols = left.columns
    tagged_left = left.select(
        *lcols,
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in right_cols],
        F.lit(1).alias("__is_left"),
    )
    tagged_right = right.select(
        *[
            F.col(c) if c in (on, ts) else F.lit(None).cast(dict(left.dtypes).get(c, "string")).alias(c)
            for c in lcols
        ],
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
        F.lit(0).alias("__is_left"),
    )
    unioned = tagged_left.unionByName(tagged_right)
    # Order: ts asc, right rows before left rows at equal ts (so a
    # right row at exactly left.ts is visible unless strict).
    tie = F.col("__is_left").asc() if not strict else F.col("__is_left").desc()
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), tie)
        .rowsBetween(Window.unboundedPreceding, -1 if strict else 0)
    )
    filled = unioned.select(
        *lcols,
        "__is_left",
        *[
            F.last(F.when(F.col("__is_left") == 0, F.col(f"__r_{c}")), ignorenulls=True)
            .over(w)
            .alias(f"__r_{c}")
            for c in right_cols
        ],
        F.last(F.when(F.col("__is_left") == 0, F.col(ts)), ignorenulls=True)
        .over(w)
        .alias("__r_ts"),
    )
    result = filled.where(F.col("__is_left") == 1)
    if tolerance is not None:
        within = F.col("__r_ts") >= (F.col(ts) - F.lit(tolerance))
        result = result.select(
            *lcols,
            *[
                F.when(within, F.col(f"__r_{c}")).alias(f"__r_{c}")
                for c in right_cols
            ],
        )
    return result.select(
        *lcols, *[F.col(f"__r_{c}").alias(f"right_{c}") for c in right_cols]
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    point: str,
    lo: str,
    hi: str,
    bucket_width: int | float,
    extra_on: list[str] | None = None,
) -> DataFrame:
    """Interval-containment join: left.point ∈ [right.lo, right.hi).

    A raw theta-join compiles to BroadcastNestedLoopJoin (O(n·m)).
    Bucketizing both sides on ``bucket_width`` turns it into an
    equi-join on the bucket id (right intervals exploded over the
    buckets they span) + a residual range filter — the standard
    bucketed range-join of Databricks/Trino, hash-shuffled and
    AQE-eligible.  ``bucket_width`` should be ≥ the typical interval
    length so the explode factor stays ~O(1).
    """
    on = extra_on or []
    lbuck = left.withColumn(
        "__bucket", F.floor(F.col(point) / F.lit(bucket_width)).cast("long")
    )
    rbuck = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(hi) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    return (
        lbuck.join(rbuck, on=on + ["__bucket"], how="inner")
        .where((F.col(point) >= F.col(lo)) & (F.col(point) < F.col(hi)))
        .drop("__bucket")
    )


def bloom_prefilter(
    big: DataFrame,
    small: DataFrame,
    key: str,
    small_key: str | None = None,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """Semi-join reduction: filter ``big`` down to rows whose ``key``
    *might* appear in ``small``, via a driver-built Bloom filter —
    the hand-rolled version of the runtime filters a warehouse engine
    injects (Spark's own `spark.sql.optimizer.runtimeFilter` family).

    Why it matters at 100 TB: a join's shuffle moves the FULL big side
    before the join drops non-matching rows.  When the small side is
    selective (e.g. 1% of orders are urgent), pre-filtering the big
    side where the scan runs cuts the exchange by ~the selectivity,
    at the cost of one aggregate over the small side plus a
    ~``m_bits/8``-byte broadcast.  No false negatives — the downstream
    join sees every matching row, so results are IDENTICAL to the
    unfiltered join (false positives just ride along and are dropped
    by the join itself); any hash function works, no cross-engine
    reproducibility needed.

    The driver collect is bounded by construction: ≤ ``m_bits/64``
    words (128 KiB at the default), independent of data scale.

    The filter ships to executors as ONE BinaryType literal
    (``lit(bytes)`` is a single py4j transfer).  The earlier
    array<bigint> spelling cost ``m_bits/64`` separate ``lit()``
    py4j round-trips just to CONSTRUCT the Column (~13 s of driver
    time at the 2^20-bit default, measured — more than the query's
    whole execution).  Probing is byte-addressed: binary
    ``substring`` is O(1) byte slicing (unlike string substring,
    whose UTF-8 seek is O(pos) per access — the quadratic-fold trap
    SCALE.md documents), ``hex``+``conv`` turn the byte into an int,
    ``getbit`` tests the bit — all codegen'd scalar ops.
    """
    m_words = m_bits // 64
    pos = [
        F.pmod(
            F.xxhash64(F.col(small_key or key), F.lit(seed)), F.lit(m_bits)
        )
        for seed in range(k_hashes)
    ]
    cells = small.select(
        F.explode(F.array(*pos)).alias("__pos")
    ).select(
        (F.col("__pos") / 64).cast("long").alias("__w"),
        F.expr("shiftleft(cast(1 as bigint), pmod(__pos, 64))").alias(
            "__bit"
        ),
    )
    words_rows = (
        cells.groupBy("__w").agg(F.expr("bit_or(__bit)").alias("__word"))
    ).collect()
    # Pack the 64-bit words into a little-endian byte map: bit p lives
    # in byte p//8 at in-byte position p%8.
    payload = bytearray(m_bits // 8)
    for r in words_rows:
        w, word = r["__w"], r["__word"]
        for j in range(8):
            payload[w * 8 + j] = (word >> (8 * j)) & 0xFF
    blit = F.lit(bytes(payload))  # one BinaryType literal
    cond = None
    for seed in range(k_hashes):
        p = F.pmod(F.xxhash64(F.col(key), F.lit(seed)), F.lit(m_bits))
        byte_val = (
            F.conv(F.hex(F.substring(blit, (p / 8).cast("int") + 1, 1)), 16, 10)
            .cast("int")
        )
        hit = F.getbit(byte_val, F.pmod(p, F.lit(8))) == 1
        cond = hit if cond is None else (cond & hit)
    return big.where(cond)


def two_phase_scan(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[Column],
    vals: dict[str, Column],
    slices: int | None = None,
    range_cols: list[Column] | None = None,
) -> DataFrame:
    """Distributed running aggregates over FEW, HUGE groups.

    ``SUM(v) OVER (PARTITION BY g ORDER BY o ROWS UNBOUNDED
    PRECEDING)`` hash-partitions by ``g`` alone: with a constant-
    cardinality ``g`` (lang=5, event_type=5, l_returnflag=3) every
    group is ONE task sorting n/|g| rows — the few-huge-groups regime
    the round-8 sf10 sweep measured at 164s on 60M rows.  This is the
    classic two-phase parallel prefix scan instead:

    1. ``repartitionByRange`` on (part, order) — each task holds a
       contiguous, size-balanced slice of every group's global order
       (the same exchange a global sort uses; boundaries come from
       Spark's range sampler and cannot affect values);
    2. slice-local running aggregates via a window keyed by
       (slice id, part) — bounded by the slice size, never by the
       group;
    3. per-(part, slice) totals form a summary frame of
       O(|groups| x slices) rows; a tiny window over it turns them
       into per-slice offsets, broadcast-joined back.

    Rows and values are identical to the one-window spelling whenever
    ``order_cols`` is a TOTAL order within each group (every call
    site already carries a unique tiebreak — without one, even the
    naive window's per-row running values are tie-order arbitrary).

    ``vals`` maps output column name -> summable column expression
    (use exact types: longs / decimals).  Each named output is the
    RUNNING (inclusive) sum of its expression in (part, order) order.
    ``slices`` defaults to spark.sql.shuffle.partitions.

    NULL partition values are kept as a normal group, exactly like
    the one-window spelling (the offset rejoin is null-safe).

    ``range_cols``: optional REPLACEMENT sort key for the range
    exchange only — the local window still orders by the full
    ``order_cols``.  Use when an order column is unbounded (multi-MB
    document keys): ``repartitionByRange``'s sampler collects sampled
    keys to the DRIVER, so range on a bounded prefix instead.  The
    contract: ``range_cols`` must be a monotone COARSENING of
    ``order_cols`` within each partition — whenever
    range_key(a) < range_key(b), the full order must also put a
    before b (a prefix of the first order expression qualifies).
    Rows with EQUAL range keys always land in one slice
    (RangePartitioner maps equal keys to one partition), where the
    full-key window orders them; ranks are therefore unchanged.
    """
    from hana_bq_beam_connector_spark.operators._common import persist_reused

    sess = df.sparkSession
    n_slices = slices or int(
        sess.conf.get("spark.sql.shuffle.partitions", "32")
    )
    keys = [F.col(c) for c in part_cols] + list(
        range_cols if range_cols is not None else order_cols
    )
    # The sliced frame feeds TWO branches (the offsets summary and
    # the final join), and the slice id comes from the range
    # sampler's boundaries.  Those boundaries are only guaranteed
    # identical if both branches read the SAME materialization: under
    # AQE each exchange subtree is re-optimized independently, so an
    # unpersisted lineage can range-sample different upstream splits
    # per branch and assign DIFFERENT slice ids to the same row —
    # offsets then misalign and ranks silently shift (caught by the
    # driver-contract run on ts_outlier_mad: mad picked a neighbor
    # row).  persist_reused materializes once; every branch reads the
    # one slicing.  This is the same concurrent-branch trap SCALE.md
    # documents for self-joins.
    # The pin outlives this call (the output is lazy), so it is freed
    # by release_session_pins between queries, never here.
    ranged = persist_reused(
        df.repartitionByRange(n_slices, *keys).withColumn(
            "__slice", F.spark_partition_id()
        )
    )
    local_w = (
        Window.partitionBy("__slice", *part_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged
    for name, expr in vals.items():
        local = local.withColumn(f"__run_{name}", F.sum(expr).over(local_w))
    # Summary frame: one row per (part, slice) — O(|groups| x slices).
    # Slice totals are direct sums of the value expressions (NOT the
    # max of the running column, which is only the slice total when
    # every summand is non-negative).
    totals = local.groupBy(*part_cols, "__slice").agg(
        *[
            F.sum(expr).alias(f"__tot_{name}")
            for name, expr in vals.items()
        ]
    )
    off_w = (
        Window.partitionBy(*part_cols)
        .orderBy("__slice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        *part_cols,
        "__slice",
        *[
            (
                F.sum(f"__tot_{name}").over(off_w) - F.col(f"__tot_{name}")
            ).alias(f"__off_{name}")
            for name in vals
        ],
    )
    # Null-safe rejoin: a NULL partition value is a normal group in
    # the one-window spelling (and in the windows above); a plain
    # equi-join here would silently drop its rows.  EqualNullSafe is
    # still a hash-join key for Catalyst, so the broadcast plan is
    # unchanged.
    loc = local.alias("__tps_l")
    off = offsets.alias("__tps_o")
    cond = F.col("__tps_l.__slice") == F.col("__tps_o.__slice")
    for c in part_cols:
        cond = cond & F.col(f"__tps_l.{c}").eqNullSafe(
            F.col(f"__tps_o.{c}")
        )
    joined = loc.join(F.broadcast(off), on=cond, how="inner")
    out = joined.select(
        *[F.col(f"__tps_l.{c}") for c in df.columns],
        *[
            (
                F.col(f"__tps_l.__run_{name}")
                + F.col(f"__tps_o.__off_{name}")
            ).alias(name)
            for name in vals
        ],
    )
    return out


def two_phase_rank(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[Column],
    out: str = "rn",
    slices: int | None = None,
    range_cols: list[Column] | None = None,
) -> DataFrame:
    """ROW_NUMBER over few, huge groups without a per-group sort task:
    the running COUNT(1) under :func:`two_phase_scan`.  Identical
    values to ``row_number() OVER (PARTITION BY part ORDER BY
    order)`` given a total ``order_cols`` (see two_phase_scan;
    ``range_cols`` forwards the bounded-range-key contract)."""
    return two_phase_scan(
        df,
        part_cols,
        order_cols,
        {out: F.lit(1).cast("long")},
        slices=slices,
        range_cols=range_cols,
    )
