"""Property-based tests (SURVEY §5.2 #4): chunking invariants under
random timestamp distributions, and sketch-accuracy checks."""

from __future__ import annotations

import math
import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.plans.chunking import (
    equi_depth_intervals,
    equi_depth_intervals_exact,
)
from hana_bq_beam_connector_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"

_ts_lists = st.lists(
    st.floats(
        min_value=0.0, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=1,
    max_size=300,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ts=_ts_lists, chunk=st.integers(min_value=1, max_value=100))
def test_chunk_scans_partition_the_input(spark, ts, chunk):
    """Concat of all chunk scans ≡ the single scan: same multiset,
    for arbitrary (skewed, duplicated) timestamp distributions —
    the seam property the reference gets only accidentally right
    (SURVEY §2a quirk #4)."""
    df = spark.createDataFrame([(t,) for t in ts], ["ts"]).cache()
    try:
        for planner in (equi_depth_intervals, equi_depth_intervals_exact):
            intervals = planner(df, "ts", chunk, start=0.0)
            # cover: contiguous half-open, starts at 0, ends at +inf
            assert intervals[0].lo == 0.0
            assert math.isinf(intervals[-1].hi)
            for a, b in zip(intervals, intervals[1:]):
                assert a.hi == b.lo
            total = 0
            for iv in intervals:
                cond = F.col("ts") >= iv.lo
                if not math.isinf(iv.hi):
                    cond = cond & (F.col("ts") < iv.hi)
                total += df.where(cond).count()
            assert total == len(ts)
    finally:
        df.unpersist()


def test_approx_percentile_brackets_exact(spark):
    """GK-sketch quantiles must land within rank-error of exact."""
    li = load_table(spark, SF, "lineitem")
    approx = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("m")
    ).first()["m"]
    exact = li.agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("m")
    ).first()["m"]
    lo, hi = li.agg(
        F.expr("percentile(l_extendedprice, 0.45)"),
        F.expr("percentile(l_extendedprice, 0.55)"),
    ).first()
    assert lo <= approx <= hi, (approx, exact)


def test_hll_sketch_within_rsd(spark):
    """approx_count_distinct (HyperLogLog++) honors its error bound —
    the sketch the 100 TB path uses instead of an exact distinct
    shuffle."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    exact = li.select("l_orderkey").distinct().count()
    approx = li.select(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("a")
    ).first()["a"]
    assert abs(approx - exact) / exact < 0.06  # 3x rsd safety margin


_edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=30),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


def _union_find_components(edges):
    """Reference connected components: min node id per component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edge_lists)
def test_near_dup_clusters_match_union_find(spark, edges):
    """Min-label propagation + pointer jumping equals a driver-side
    union-find on random graphs — including chains, cycles,
    self-merging stars, and multi-edge duplicates."""
    from hana_bq_beam_connector_spark.operators.dedup import (
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["label"]
        for r in near_dup_clusters(pairs).collect()
    }
    assert got == _union_find_components(edges)


def _random_edges(seed: int, n_nodes: int, n_edges: int):
    rnd = random.Random(seed)
    return [
        (rnd.randrange(n_nodes), rnd.randrange(n_nodes))
        for _ in range(n_edges)
    ]


@pytest.mark.parametrize(
    "name,edges",
    [
        ("chain", [(i, i + 1) for i in range(100)]),
        ("reverse_chain", [(i + 1, i) for i in range(50)]),
        ("star", [(0, i) for i in range(1, 20)]),
        (
            "cliques_bridge",
            [(i, j) for i in range(5) for j in range(i + 1, 5)]
            + [(10 + i, 10 + j) for i in range(5) for j in range(i + 1, 5)]
            + [(4, 10)],
        ),
        # subcritical random graph (one 111-node component) that needs
        # 22 rounds: past the old 20-round budget, which raised on it
        ("random_200", _random_edges(7, 200, 150)),
    ],
)
def test_near_dup_clusters_shapes_match_union_find(spark, name, edges):
    """Fixed graph shapes label propagation finds hardest — long
    chains in both id orders, a hub, two cliques joined by one bridge,
    a deep random graph — equal a driver-side union-find."""
    from hana_bq_beam_connector_spark.operators.dedup import (
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["label"] for r in near_dup_clusters(pairs).collect()
    }
    assert got == _union_find_components(edges), name


def test_near_dup_clusters_over_budget_raises_and_frees_cache(
    spark, monkeypatch
):
    """A graph that needs more rounds than the budget fails with the
    named error, and release_session_pins() then leaves nothing
    cached: the last round's plain persist is freed on the raise path
    too, not only on success."""
    from hana_bq_beam_connector_spark.operators import dedup
    from hana_bq_beam_connector_spark.operators._common import (
        release_session_pins,
    )

    release_session_pins()
    spark.catalog.clearCache()
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 3)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        dedup.near_dup_clusters(pairs)
    release_session_pins()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty(), "frames left cached after a failed run"


_key_lists = st.lists(
    st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=300
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_key_lists)
def test_cms_never_undercounts(spark, keys):
    """Count-Min guarantee: estimate >= true count for every key, and
    exact when the tiny grid has no collisions for that key."""
    from collections import Counter

    from hana_bq_beam_connector_spark.operators.sketch import (
        cms_estimate,
        count_min_sketch,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    # w=16 forces collisions so the over-count path is exercised.
    sketch = count_min_sketch(df, "k", w=16, d=4)
    probes = df.distinct()
    est = {
        r["k"]: r["est"]
        for r in cms_estimate(sketch, probes, "k", w=16, d=4).collect()
    }
    truth = Counter(keys)
    assert set(est) == set(truth)
    for k, true_cnt in truth.items():
        assert est[k] >= true_cnt


def test_near_dup_clusters_deep_chain(spark):
    """A 60-node path needs 60 rounds under plain min-label
    propagation (the pre-fix code silently returned half-merged
    labels past 20 rounds, and its uncheckpointed per-round plan
    doubled until the driver OOMed stringifying it); pointer jumping
    + localCheckpoint converge it in ~log2(60) rounds with a flat
    plan."""
    from hana_bq_beam_connector_spark.operators.dedup import (
        near_dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["label"] for r in near_dup_clusters(pairs).collect()
    }
    assert got == {i: 0 for i in range(61)}


_ts_lists = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=50),   # heavy duplicates
        st.integers(min_value=0, max_value=100_000),
    ),
    min_size=1,
    max_size=400,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ts=_ts_lists, chunk_rows=st.integers(min_value=1, max_value=200))
def test_chunk_scans_partition_any_distribution(spark, ts, chunk_rows):
    """Quirk-#4 seam invariant under adversarial distributions
    (duplicate-heavy, skewed, tiny): the chunk scans are contiguous
    half-open intervals whose concatenation equals the single scan —
    no row duplicated or skipped at any seam."""
    import math

    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.plans.chunking import (
        equi_depth_intervals,
    )

    df = spark.createDataFrame([(float(t),) for t in ts], ["ts"])
    intervals = equi_depth_intervals(
        df, "ts", chunk_rows=chunk_rows, start=0.0
    )
    for a, b in zip(intervals, intervals[1:]):
        assert a.hi == b.lo
    assert intervals[0].lo == 0.0 and math.isinf(intervals[-1].hi)
    col = F.col("ts")
    n = 0
    for iv in intervals:
        cond = col >= iv.lo
        if not math.isinf(iv.hi):
            cond = cond & (col < iv.hi)
        n += df.where(cond).count()
    assert n == len(ts)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),     # group key (few → hot)
            st.integers(min_value=-1000, max_value=1000),  # value (dups ok)
        ),
        min_size=1,
        max_size=120,
    ),
    k=st.integers(min_value=1, max_value=6),
    fanout=st.integers(min_value=1, max_value=9),
)
def test_two_phase_cap_equals_direct_window(spark, rows, k, fanout):
    """Selection identity under arbitrary key skew, duplicate values,
    k, and fanout (incl. fanout=1 and k > group size): the two-phase
    salted cap returns exactly the direct window's rows."""
    from hana_bq_beam_connector_spark.operators.relational import (
        topk_per_group,
        topk_per_group_skewed,
    )

    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], ["g", "v", "uid"]
    )
    order = [F.col("v").desc(), F.col("uid")]
    direct = topk_per_group(df, ["g"], order, k).drop("rn")
    salted = topk_per_group_skewed(df, ["g"], order, k, fanout=fanout).drop(
        "rn"
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, salted.collect())
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # lang key
            st.integers(min_value=1, max_value=400),    # doc size
        ),
        min_size=1,
        max_size=80,
    ),
    budget=st.integers(min_value=1, max_value=2000),
)
def test_budget_mixture_invariants(spark, rows, budget):
    """The greedy budgeted selection (curation_budget_mixture shape):
    per key, the kept set (a) never starts a doc at/after the budget,
    (b) is a PREFIX of the hash-priority order (no doc skipped then a
    later one taken), and (c) overshoots the budget by at most one
    final doc."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(g, n, i) for i, (g, n) in enumerate(rows)], ["g", "n", "uid"]
    )
    w = (
        Window.partitionBy("g")
        .orderBy(F.xxhash64("uid").asc(), F.col("uid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    all_rows = df.withColumn(
        "before", F.coalesce(F.sum("n").over(w), F.lit(0))
    ).collect()
    kept = [r for r in all_rows if r["before"] < budget]
    by_key: dict[int, list] = {}
    for r in sorted(all_rows, key=lambda r: r["before"]):
        by_key.setdefault(r["g"], []).append(r)
    for g, ordered in by_key.items():
        kept_g = [r for r in ordered if r["before"] < budget]
        # prefix of the priority order
        assert kept_g == ordered[: len(kept_g)]
        total = sum(r["n"] for r in kept_g)
        if kept_g:
            # at most one doc of overshoot
            assert total - kept_g[-1]["n"] < budget
        # never under-filled while more docs existed
        if len(kept_g) < len(ordered):
            assert total >= budget
    assert len(kept) == sum(
        1 for g in by_key for r in by_key[g] if r["before"] < budget
    )


_kv_frames = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.one_of(st.none(), st.text(alphabet="abc", max_size=2)),
    ),
    max_size=60,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(old_rows=_kv_frames, new_rows=_kv_frames)
def test_diff_then_cdc_apply_roundtrips(spark, old_rows, new_rows):
    """snapshot_diff(old, new) re-encoded as a CDC batch and applied to
    ``old`` reproduces ``new`` exactly — the algebraic contract tying
    the two table-maintenance operators together, for arbitrary keyed
    frames including NULL payloads and empty sides."""
    from hana_bq_beam_connector_spark.plans.cdc import apply_cdc
    from hana_bq_beam_connector_spark.plans.diff import snapshot_diff

    # last-wins dedup so each side is a valid keyed snapshot
    old_map = dict(old_rows)
    new_map = dict(new_rows)
    schema = "k int, v string"
    old = spark.createDataFrame(list(old_map.items()) or [], schema)
    new = spark.createDataFrame(list(new_map.items()) or [], schema)

    delta = snapshot_diff(old, new, key="k", compare=["v"]).collect()
    changes_rows = []
    for r in delta:
        if r["change_type"] == "added":
            changes_rows.append((r["k"], r["new_v"], "I"))
        elif r["change_type"] == "removed":
            changes_rows.append((r["k"], None, "D"))
        else:
            changes_rows.append((r["k"], r["new_v"], "U"))
    changes = spark.createDataFrame(
        changes_rows or [], "k int, v string, op string"
    )
    applied = {
        (r["k"]): r["v"]
        for r in apply_cdc(old, changes, key="k", op_col="op").collect()
    }
    assert applied == new_map


_bucket_sets = st.sets(st.integers(min_value=0, max_value=60), max_size=40)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(src_days=_bucket_sets, sink_days=_bucket_sets)
def test_backfill_ranges_cover_exactly_the_missing_buckets(
    spark, src_days, sink_days
):
    """backfill_ranges invariants for arbitrary day sets: the emitted
    [start, end) ranges are sorted, disjoint, non-adjacent (maximally
    folded), and their union of buckets is exactly src - sink."""
    from hana_bq_beam_connector_spark.plans.backfill import backfill_ranges

    bucket = 10  # small numeric-domain bucket for the test
    src = spark.createDataFrame(
        [(d * bucket + 3,) for d in src_days] or [], "ts bigint"
    )
    sink = spark.createDataFrame(
        [(d * bucket + 7,) for d in sink_days] or [], "ts bigint"
    )
    ranges = backfill_ranges(src, sink, "ts", bucket=bucket).collect()

    missing = {d * bucket for d in src_days - sink_days}
    covered = set()
    prev_end = None
    for r in ranges:
        lo, hi, n = r["range_start"], r["range_end"], r["n_buckets"]
        assert lo < hi and (hi - lo) % bucket == 0
        assert n == (hi - lo) // bucket  # contiguous: every bucket missing
        if prev_end is not None:
            assert lo > prev_end  # sorted, disjoint, non-adjacent
        prev_end = hi
        covered |= set(range(lo, hi, bucket))
    assert covered == missing


_fp_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(10**6), max_value=10**6),  # ts
        st.integers(min_value=-(2**40), max_value=2**40),  # key
    ),
    min_size=1,
    max_size=120,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_fp_rows, split=st.integers(min_value=0, max_value=119),
       bucket=st.sampled_from([1, 7, 1000]))
def test_fingerprint_merge_is_the_whole(spark, rows, split, bucket):
    """chunk_fingerprints(A ∪ B) == merge(fp(A), fp(B)) for ANY split
    of the rows and bucket size — the algebra that lets the streaming
    sink maintain fingerprints without re-reading history.  Negative
    timestamps included (floor bucketing)."""
    from hana_bq_beam_connector_spark.plans.reconcile import (
        chunk_fingerprints,
        merge_fingerprints,
    )

    split = min(split, len(rows))
    schema = "ts bigint, k bigint"
    whole = spark.createDataFrame(rows, schema)
    a = spark.createDataFrame(rows[:split] or [(0, 0)], schema).where(
        F.lit(split > 0)
    )
    b = spark.createDataFrame(rows[split:] or [(0, 0)], schema).where(
        F.lit(split < len(rows))
    )

    def canon(df):
        return {
            (
                r["bucket_lo"],
                r["n_rows"],
                r["key_xor"],
                r["key_sum"],
                r["row_xor"],
            )
            for r in df.collect()
        }

    want = canon(chunk_fingerprints(whole, "ts", "k", bucket))
    got = canon(
        merge_fingerprints(
            chunk_fingerprints(a, "ts", "k", bucket),
            chunk_fingerprints(b, "ts", "k", bucket),
        )
    )
    assert got == want
