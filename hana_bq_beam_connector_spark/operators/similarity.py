"""Similarity search over embedding columns (LLM-data surface).

Exact brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH bucketing as the scale path (ANN): at 100 TB /
10^10 vectors the cross product is impossible; LSH buckets cut the
candidate set by ~2^n_planes while keeping recall tunable.

All vector math is fold-based SQL expressions (strict left fold, cast
to double element-wise) so the DuckDB oracle reproduces every bit —
and it's whole-stage-codegen JVM arithmetic, no Python in the loop.
An IVF variant would swap the plane-sign bucket id for a nearest-
centroid id; the plumbing (bucket → per-bucket self-join) is shared.

Driver-side training memo (PQ codebooks, corpus counts): eager
driver work in the PQ/IVF builders is memoized per SparkSession in a
64-entry insertion-order-evicting dict (``_PQ_MEMO_CAP``; see
``_session_memo``/``_memo_put``).  The cap bounds what a long
session sweeping many corpora can pin (each trained codebook is a
literal relation held in driver memory); keys pair the analyzed
plan's semanticHash with a digest of ``inputFiles()`` so an
in-session overwrite of the same path invalidates naturally, and
file-less plans (JDBC, cached, local relations) decline memoization
entirely rather than risk staleness.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hana_bq_beam_connector_spark.operators._common import spread
from hana_bq_beam_connector_spark.operators.relational import topk_per_group

# Deterministic pseudo-random hyperplanes: plane p, component i
# (0-based) = (((p*73856093) XOR (i*19349663)) % 13) - 6 ∈ [-6, 6].
# Computable inline in both engines — no plane table to ship.
#
# The mix MUST be non-linear in (p, i): the original linear family
# ((p*37 + i*101) % 13 - 6) is PERIODIC in p with period 13 — only 13
# distinct planes exist, so "independent" multi-table LSH blocks were
# near-identical partitions and capacity-refinement bits were exact
# copies of the original bits (caught by the round-8 sf10 sweep:
# dedup_embedding_cosine filled 78 GB of spill from 500M candidate
# pairs; the worst bucket held 3131 vectors and refused to split).
# The XOR of two coprime multiplicative mixes gives 208/208 distinct
# planes over the index range we use, pairwise |cos| mean 0.099, and
# the same sf10 corpus's candidate volume drops 8x with worst bucket
# 559 before refinement even starts.
N_PLANES = 8


def _dot_fold(a: str, b: str) -> str:
    """Spark expr: dot(a, b) as a strict left fold in double — works
    for any vector width, bit-identical to DuckDB's list_reduce
    spelling (same IEEE add order).

    Measured (sf0.1, local[32]): unrolling this into a flat
    ``element_at`` sum for a known dim is ~20% faster in a pure scan
    but SLOWER when the expression lands in a join condition (the
    giant tree falls out of whole-stage codegen), and 32 unrolled
    copies in one banding projection OOM janino on a default-sized
    driver JVM — so the fold is the keeper."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        f"(x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def dot(a: str, b: str) -> Column:
    return F.expr(_dot_fold(a, b))


def norm(a: str) -> Column:
    return F.sqrt(F.expr(_dot_fold(a, a)))


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def unit(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """L2-normalize ``vec_col`` into ``out`` — norm computed ONCE per
    vector.  Every pair-scoring operator here normalizes its inputs
    first and scores with a plain dot: cosine-per-pair costs 3 folds
    (dot + both norms), dot-on-unit-vectors costs 1 — a 3× cut of the
    dominant per-pair compute, and at 10^6+ candidate pairs per query
    the pair stage dwarfs the one-time normalize scan."""
    nrm = f"sqrt({_dot_fold(vec_col, vec_col)})"
    return (
        df.withColumn("__nrm", F.expr(nrm))
        .withColumn(
            out,
            F.expr(f"transform({vec_col}, x -> cast(x as double) / __nrm)"),
        )
        .drop("__nrm")
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    The (small) query set broadcasts against the candidate corpus —
    one scan of the big side, no shuffle of the vectors; per-query
    top-k is rank-and-filter.  Scales linearly in candidates; for
    corpus-sized query sets use :func:`lsh_bucket_topk`.
    """
    q = unit(queries, vec_col, "qv").select(
        F.col(id_col).alias("query_id"), "qv"
    )
    c = unit(
        spread(candidates.select(id_col, vec_col)), vec_col, "cv"
    ).select(F.col(id_col).alias("cand_id"), "cv")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            dot("qv", "cv").alias("cos_sim"),
        )
    )
    return topk_per_group(
        scored,
        partition_by=["query_id"],
        order=[F.col("cos_sim").desc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


def _plane_dot(vec_col: str, p: int | str, dim: int) -> str:
    """Spark expr: dot(vec, plane_p) with the inline plane formula.
    ``p`` is the *global* plane index — multi-table LSH uses
    consecutive index blocks as independent tables.  ``p`` is spliced
    TEXTUALLY into the returned SQL fragment, so besides a Python int
    it may be any integer-valued SQL expression string (dedup's
    embedding refinement splices a per-row plane-index expression);
    a string caller must pre-parenthesize anything with operators.

    Deliberately a fold, NOT an unrolled sum: a banding projection
    evaluates n_tables × n_planes of these at once (32 for the dedup
    defaults), and unrolling all of them puts ~2000 arithmetic nodes
    into one whole-stage-codegen method — janino compilation then
    OOMs a default-sized (1 GiB) driver JVM.  The fold costs one pass
    per vector in the ONE banding scan.

    For a Python-int ``p`` the plane COMPONENTS are pure constants —
    the xor/mod formula depends only on (p, i), never the vector —
    yet the fold is interpreted (HOFs are CodegenFallback), so the
    old spelling re-ran ~6 arithmetic nodes per vector element per
    plane.  r11: precompute the dim components here (identical
    integer arithmetic — Python and SQL agree exactly on these
    positive-operand ^/% expressions; values are small ints in
    [-6, 6], exact as doubles) and splice them as an array literal
    OUTSIDE the per-element work: ConstantFolding collapses the
    array constructor to one Literal, so each step is one
    element_at on a materialized array instead of the 5-op integer
    formula.  Measured 1.8× on the 8-table banding scan at sf0.1,
    bucket ids byte-identical (exceptAll both ways = 0).  An
    expression-valued ``p`` (the per-row refinement plane index)
    keeps the formula spelling — its components are row-dependent."""
    if isinstance(p, int):
        comps = ", ".join(
            "cast({} as double)".format(
                (((p * 73856093) ^ ((i - 1) * 19349663)) % 13) - 6
            )
            for i in range(1, dim + 1)
        )
        return (
            f"aggregate(sequence(1, {dim}), cast(0.0 as double), "
            f"(acc, i) -> acc + cast(element_at({vec_col}, i) as double)"
            f" * element_at(array({comps}), i))"
        )
    return (
        f"aggregate(sequence(1, {dim}), cast(0.0 as double), "
        f"(acc, i) -> acc + cast(element_at({vec_col}, i) as double) * "
        f"cast((((({p}) * cast(73856093 as bigint)) ^ "
        f"((i - 1) * cast(19349663 as bigint))) % 13) - 6 as double))"
    )


def _bucket_expr(
    vec_col: str, dim: int, n_planes: int, table: int
) -> Column:
    base = table * n_planes
    bits = [
        f"CASE WHEN {_plane_dot(vec_col, base + p, dim)} > 0 "
        f"THEN {1 << p} ELSE 0 END"
        for p in range(n_planes)
    ]
    return F.expr(" + ".join(bits)).cast("long")


def lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = N_PLANES,
    out: str = "bucket",
    table: int = 0,
) -> DataFrame:
    """Random-hyperplane LSH bucket id: bit p = sign(dot(v, plane_p)).

    Nearby vectors (small angle) agree on most plane signs, so they
    collide in buckets; 8 planes → 256 buckets → ~256× candidate
    reduction at recall governed by the angle distribution.  ``table``
    selects an independent block of planes for multi-table LSH."""
    return df.withColumn(out, _bucket_expr(vec_col, dim, n_planes, table))


def lsh_banded(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = N_PLANES,
    n_tables: int = 1,
) -> DataFrame:
    """(id, table_id, bucket) for ALL tables in ONE scan of ``df``.

    The union-per-table formulation re-reads the corpus ``n_tables``
    times; at 100 TB that is ``n_tables`` full scans.  Here every row
    computes its per-table buckets once and explodes — one scan, same
    rows out.  Vectors are deliberately dropped: candidate generation
    downstream shuffles 8-byte ids, never 256-byte arrays."""
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_id"),
                _bucket_expr(vec_col, dim, n_planes, t).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return df.select(id_col, F.explode(entries).alias("tb")).select(
        id_col, "tb.table_id", "tb.bucket"
    )


def lsh_bucket_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 4,
) -> DataFrame:
    """ANN: exact cosine top-k restricted to LSH-bucket collisions.

    Multi-table LSH (the standard recall lever): ``n_tables``
    independent plane blocks, a pair is a candidate if it collides in
    ANY table.  Candidate volume ≈ n · n_tables / 2^n_planes per side
    — still an equi-join on (table, bucket), never a cross product;
    tune (n_planes, n_tables) for the recall/cost point, the plan
    shape is scale-invariant."""

    cand_base = spread(candidates.select(id_col, vec_col))
    qb = lsh_banded(queries, id_col, vec_col, dim, n_planes, n_tables).select(
        F.col(id_col).alias("query_id"), "table_id", "bucket"
    )
    cb = lsh_banded(
        cand_base, id_col, vec_col, dim, n_planes, n_tables
    ).select(F.col(id_col).alias("cand_id"), "table_id", "bucket")
    cand = (
        cb.join(qb, on=["table_id", "bucket"])
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    qv = unit(queries, vec_col, "qv").select(
        F.col(id_col).alias("query_id"), "qv"
    )
    cv = unit(cand_base, vec_col, "cv").select(
        F.col(id_col).alias("cand_id"), "cv"
    )
    scored = (
        cand.join(qv, on="query_id")
        .join(cv, on="cand_id")
        .select("query_id", "cand_id", dot("qv", "cv").alias("cos_sim"))
    )
    return topk_per_group(
        scored,
        partition_by=["query_id"],
        order=[F.col("cos_sim").desc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


def quantize_int8(
    df: DataFrame,
    vec_col: str,
    qvec: str = "qvec",
    qscale: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q[i] = round(v[i] /
    scale)`` with ``scale = max|v| / 127`` — values in [-127, 127].

    THE memory lever for a corpus-scale vector index: the stored
    payload drops 8× (1 byte vs 8 per component; 64-dim: 64 B + one
    double scale vs 512 B), which at 10^10 vectors is the difference
    between an index that fits executor memory and one that doesn't.
    Scoring stays JVM-side integer folds; the approximate dot is
    ``int_dot * scale_a * scale_b``.  Quantize AFTER :func:`unit` so
    scores approximate cosine.  Deterministic and oracle-replayable:
    round-half-away-from-zero on IEEE doubles agrees between Spark
    and DuckDB."""
    mx = f"array_max(transform({vec_col}, x -> abs(cast(x as double))))"
    return (
        df.withColumn(qscale, F.expr(mx) / F.lit(127.0))
        .withColumn(
            qvec,
            F.expr(
                f"transform({vec_col}, x -> "
                f"cast(round(cast(x as double) / {qscale}) as bigint))"
            ),
        )
    )


def _int_dot_fold(a: str, b: str) -> str:
    """Spark expr: integer dot product fold (all BIGINT — |q| <= 127,
    dim <= 2^40 before overflow is even near)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0 as bigint), (acc, v) -> acc + v)"
    )


def quantized_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k by int8-quantized approximate cosine.

    Same broadcast-bounded-query shape as :func:`cosine_topk`, but
    the candidate side carries 1-byte codes + one scale instead of
    doubles — the memory-side scale path (combine with LSH/IVF
    candidate pruning for the compute side).  Score =
    ``int_dot * qscale_q * qscale_c``; ranking quality vs the exact
    baseline is asserted in tests (recall@k)."""
    q = quantize_int8(unit(queries, vec_col, "uv"), "uv", "qq", "qs").select(
        F.col(id_col).alias("query_id"), "qq", "qs"
    )
    c = quantize_int8(
        unit(spread(candidates.select(id_col, vec_col)), vec_col, "uv"),
        "uv",
        "cq",
        "cs",
    ).select(F.col(id_col).alias("cand_id"), "cq", "cs")
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (
                F.expr(_int_dot_fold("qq", "cq")).cast("double")
                * F.col("qs")
                * F.col("cs")
            ).alias("approx_cos"),
        )
    )
    return topk_per_group(
        scored,
        partition_by=["query_id"],
        order=[F.col("approx_cos").desc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    sim_col: str | None = None,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids by dot
    product (== cosine when both sides are L2-normalized via
    :func:`unit`; ties broken on centroid id).  ``sim_col`` optionally
    keeps the winning dot product as a column.

    Centroids broadcast as ONE aggregated row holding the sorted
    (centroid_id, cvec) struct array, and the top-``n_probe`` pick is
    an in-expression sort over that array (guide §2.4): the previous
    crossJoin + ROW_NUMBER window spelling fanned every vector into
    n_centroids rows and shuffled ALL of them — vectors included —
    through an Exchange just to rank per vector id.  At 10^10 vectors
    that is n_centroids × corpus bytes through the wire for a
    decision that is purely row-local.  Now assignment is a narrow
    projection over the corpus scan: zero Exchange, zero Window, same
    rows out.  Ordering parity with the window spelling: the
    comparator ranks sim DESC then centroid_id ASC with strict
    ``>``/``<`` double compares — dot folds of finite unit vectors
    never produce NaN, and a left fold seeded with +0.0 can never
    return -0.0, so the comparator agrees with the SortOrder total
    order on every reachable value."""
    cents_row = F.broadcast(
        centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
        )
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("centroid_id", "cvec"))
            ).alias("__cents")
        )
    )
    scored_arr = (
        "transform(__cents, c -> "
        f"struct({_dot_fold(vec_col, 'c.cvec')} AS sim, "
        "c.centroid_id AS cid))"
    )
    cmp = (
        "(l, r) -> CASE WHEN l.sim > r.sim THEN -1 "
        "WHEN l.sim < r.sim THEN 1 "
        "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 "
        "ELSE 0 END"
    )
    picked = f"slice(array_sort({scored_arr}, {cmp}), 1, {n_probe})"
    extra = (
        [F.col("__pick.sim").alias(sim_col)] if sim_col is not None else []
    )
    return (
        df.crossJoin(cents_row)
        .select(*df.columns, F.explode(F.expr(picked)).alias("__pick"))
        .select(
            *df.columns,
            F.col("__pick.cid").alias("centroid_id"),
            *extra,
        )
    )


def kmeans_centroids(
    corpus_u: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 16,
    rounds: int = 1,
) -> DataFrame:
    """Spherical k-means refinement of the IVF seed centroids —
    ``rounds`` Lloyd iterations, fully distributed, DETERMINISTIC.

    Input must be unit vectors (see :func:`unit`); centroids are
    refined as (a) assign every vector to its nearest centroid by dot
    product (broadcast centroids, zero vector shuffle — exactly
    :func:`ivf_assign`), (b) per-centroid component means, (c)
    re-project to the unit sphere.  The mean's floating-point sum is
    folded in EXPLICIT ``id_col`` order (collect_list → array_sort →
    strict left fold) so the result is independent of partitioning
    and bit-reproducible in the DuckDB oracle (``list(val ORDER BY
    vec_id)``).  A production run at 10^10 vectors would use the
    plain hash-agg ``avg`` instead — order-drift of ~1 ulp is
    harmless for clustering — and keep everything else identical; the
    ordered fold is the oracle-checkable spelling.  Per-round cost:
    one corpus scan + one (centroid, component) shuffle whose volume
    is corpus rows × dim scalars — at 100 TB prefer sampling the
    update step (standard minibatch k-means), the assign/update
    plumbing is unchanged.
    """
    cents = corpus_u.where(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cvec"),
    )
    for _ in range(rounds):
        assigned = ivf_assign(
            corpus_u, cents.select(
                F.col("centroid_id").alias(id_col),
                F.col("cvec").alias(vec_col),
            ),
            id_col, vec_col, n_probe=1,
        )
        comp = assigned.select(
            "centroid_id",
            F.col(id_col).alias("__vid"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        )
        means = (
            comp.groupBy("centroid_id", "pos")
            .agg(
                F.collect_list(F.struct("__vid", "val")).alias("vals"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                "centroid_id",
                "pos",
                F.expr(
                    "aggregate(array_sort(vals), cast(0.0 as double), "
                    "(acc, s) -> acc + s.val) / n"
                ).alias("m"),
            )
        )
        raw = (
            means.groupBy("centroid_id")
            .agg(F.collect_list(F.struct("pos", "m")).alias("pm"))
            .select(
                "centroid_id",
                F.expr(
                    "transform(array_sort(pm), s -> s.m)"
                ).alias("cvec_raw"),
            )
        )
        cents = unit(raw, "cvec_raw", "cvec").select("centroid_id", "cvec")
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """ANN top-k via IVF (inverted-file) coarse quantization.

    The corpus is partitioned once into ``n_centroids`` cells by
    nearest centroid; a query probes only its ``n_probe`` nearest
    cells, so exact scoring touches ~n_probe/n_centroids of the corpus
    — the candidate-pruning alternative to LSH when the data is
    clustered.  Centroids here are the first ``n_centroids`` corpus
    vectors (deterministic, oracle-replayable); production would run
    k-means first — the assignment/probe plumbing is identical, and
    that is the part with a distributed shape to get right.
    """
    # normalize the corpus ONCE; assignment and pair scoring are then
    # plain dot products (cosine semantics on unit vectors)
    corpus_u = unit(
        spread(corpus.select(id_col, vec_col)), vec_col, "uv"
    ).select(id_col, F.col("uv").alias(vec_col))
    queries_u = unit(
        queries.select(id_col, vec_col), vec_col, "uv"
    ).select(id_col, F.col("uv").alias(vec_col))
    cents = corpus_u.where(F.col(id_col) < n_centroids)
    cells = ivf_assign(corpus_u, cents, id_col, vec_col, n_probe=1).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        "centroid_id",
    )
    probes = ivf_assign(
        queries_u, cents, id_col, vec_col, n_probe=n_probe
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        "centroid_id",
    )
    # each corpus vector lives in exactly one cell, so a (query, cand)
    # pair arises from at most one probed cell — no dedup needed
    scored = (
        cells.join(probes, on="centroid_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", dot("qv", "cv").alias("cos_sim"))
    )
    return topk_per_group(
        scored,
        partition_by=["query_id"],
        order=[F.col("cos_sim").desc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """Materialize the IVF index as a parquet layout PARTITIONED BY
    centroid cell — the serving-side half of :func:`ivf_topk`.

    Each unit-normalized corpus vector lands in the directory of its
    nearest centroid, so a later probe that filters
    ``centroid_id IN (<n_probe cells>)`` is answered by PARTITION
    PRUNING: the scan lists and reads only the probed cells'
    files, ~n_probe/n_centroids of the corpus, without any index
    structure beyond the directory layout.  At 10^10 vectors this is
    what turns ANN serving from a corpus scan per query batch into a
    bounded read.  Returns the (deterministic) centroid frame the
    prober must reuse.
    """
    corpus_u = unit(
        spread(corpus.select(id_col, vec_col)), vec_col, "uv"
    ).select(id_col, F.col("uv").alias(vec_col))
    cents = corpus_u.where(F.col(id_col) < n_centroids)
    cells = ivf_assign(corpus_u, cents, id_col, vec_col, n_probe=1)
    cells.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    return cents


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_probe: int = 2,
) -> DataFrame:
    """Serve ANN top-k from a :func:`write_ivf_index` layout.

    The query batch (bounded, serving-sized) is assigned to its
    ``n_probe`` nearest centroids; the DISTINCT probed cell ids —
    ≤ queries × n_probe of them, collected driver-side by
    construction — become an ``IN`` filter on the index's partition
    column, which Spark turns into partition pruning (asserted in
    tests: the scan's PartitionFilters prune unprobed directories).
    Scoring then joins only the pruned cells against the broadcast
    query batch.
    """
    queries_u = unit(
        queries.select(id_col, vec_col), vec_col, "uv"
    ).select(id_col, F.col("uv").alias(vec_col))
    probes = ivf_assign(
        queries_u, centroids, id_col, vec_col, n_probe=n_probe
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        "centroid_id",
    )
    probed_cells = [
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    ]
    cells = (
        spark.read.parquet(path)
        .where(F.col("centroid_id").isin(probed_cells))
        .select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("cv"),
            "centroid_id",
        )
    )
    scored = (
        cells.join(F.broadcast(probes), on="centroid_id")
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", dot("qv", "cv").alias("cos_sim"))
    )
    return topk_per_group(
        scored,
        partition_by=["query_id"],
        order=[F.col("cos_sim").desc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


def _sub_slice(vec: str, s: str, sub_dim: int) -> str:
    """Spark expr: subvector ``s`` (0-based) of ``vec``."""
    return f"slice({vec}, {s} * {sub_dim} + 1, {sub_dim})"


_PQ_MEMO_CAP = 64  # distinct (corpus, params) pairs per session


def _session_memo(df: DataFrame) -> dict:
    """Per-SparkSession memo dict, stashed on the session object
    itself (lifecycle-tied, same pattern as plan_reset's checkpoint
    guard: a new session starts clean, no stale id()-reuse hazard).
    Callers evict insertion-order-oldest entries past _PQ_MEMO_CAP
    via :func:`_memo_put` — a long session sweeping many corpora
    must not pin every trained codebook forever."""
    s = df.sparkSession
    memo = getattr(s, "_graft_pq_memo", None)
    if memo is None:
        memo = {}
        s._graft_pq_memo = memo
    return memo


def _memo_put(memo: dict, key, value) -> None:
    while len(memo) >= _PQ_MEMO_CAP:
        memo.pop(next(iter(memo)))
    memo[key] = value


def _plan_memo_key(df: DataFrame):
    """A memo key identifying ``df``'s analyzed plan AND the concrete
    files backing it.  semanticHash alone is not enough: it hashes the
    canonicalized plan, which survives an in-session overwrite of the
    same path — the memo would then serve a codebook trained on
    deleted data (review r10).  ``inputFiles()`` changes on overwrite
    (parquet part files carry fresh UUID names), so the pair key
    invalidates naturally; it also breaks most 32-bit semanticHash
    collisions.  The file list is DIGESTED (16-byte blake2b), not
    embedded: a 100k-part corpus must not be sorted into every key
    and pinned in the memo (review r10).  Returns None — don't
    memoize — when the plan is not introspectable OR when it is not
    file-backed (JDBC / catalog / local relations report no input
    files, so overwrite-invalidation would silently not exist for
    them; review r10).  A CACHED corpus also reports no input files
    (InMemoryRelation) and is likewise not memoized — conservative,
    and cheap: a cached corpus makes the training chain itself fast,
    which is most of what the memo buys."""
    import hashlib

    try:
        files = sorted(df.inputFiles())
        if not files:
            return None
        digest = hashlib.blake2b(
            "\x00".join(files).encode(), digest_size=16
        ).hexdigest()
        return (
            df._jdf.queryExecution().analyzed().semanticHash(),
            len(files),
            digest,
        )
    except Exception:
        return None


def pq_encode_codebook(
    corpus_u: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ks: int,
    sub_dim: int,
    rounds: int = 1,
    train_div: int = 1,
):
    """Product-quantization codebook + corpus codes.

    Codebook: the first ``ks`` corpus vectors' subvectors (same
    deterministic seeding rule as the IVF centroids — production runs
    per-subspace k-means on top, exactly like `kmeans_centroids`
    refines the IVF seeds; the distributed shape is identical).
    Returns ``(cb_rows, codes)``:

    * cb_rows: the TRAINED codebook as an immutable sorted tuple of
      (s, code, cw tuple[float]) rows — m·ks rows, KBs, collected
      once per (session, corpus plan + backing files, params) and
      memoized (callers re-embed it as a literal frame / closure, so
      no lineage back through the training chain survives into
      consumer plans; immutability means a caller cannot corrupt
      later memoized builds);
    * codes: (id, s, code) — each vector's nearest codeword per
      subspace.  The argmin is a vectorized numpy scan inside
      ``mapInPandas`` over the broadcast-by-closure codebook — a
      NARROW map over the corpus scan (zero shuffles, zero extra
      rows), Arrow-batched at C speed; see ``_assign`` for the
      bit-parity argument vs the oracle's fold.

    At 10^10 vectors the stored code is m bytes (+ nothing else)
    versus dim·8 for raw doubles — with dim=64, m=8 that is a 64×
    memory cut, the PQ trade: coarser than int8 scalar quantization
    (8×) but another order cheaper, with scoring still
    lookup-table-exact per subspace.
    """
    def _assign(cb_rows: list, frame: DataFrame) -> DataFrame:
        # Vectorized Arrow encode (round 9).  History: the original
        # join-then-min spelling materialized n·m·ks rows (204.8M at
        # sf10 for ks=64 — measured spilling); round 8 folded the
        # argmin into an in-expression Catalyst fold (zero extra
        # rows, no shuffle) but the INTERPRETED lambda constant
        # (n·m × ks codewords × sub_dim multiply-adds through the
        # expression interpreter) still measured 32.6× wall at 10×
        # data.  This is the production move the round-8 docstring
        # named: collect the tiny codebook to the driver (m·ks rows,
        # KBs — a bounded driver-side collect, same class as the
        # Bloom bitmap and IVF probe cells), close over its numpy
        # matrices, and argmin whole Arrow batches at C speed in
        # mapInPandas.  Zero shuffles (narrow map over the corpus
        # scan); the subvector explode AND the broadcast join both
        # disappear.
        #
        # Bit-parity with the round-8 fold (the DuckDB oracle
        # replays it): the distance accumulates COMPONENT-MAJOR —
        # d += (sv_i - cw_i)^2 for i in subspace order — which is
        # the fold's exact left-associated IEEE order (the leading
        # 0.0 + t1 is exact: squares are never -0.0); codewords are
        # scanned in ascending code order and np.argmin keeps the
        # FIRST minimum, matching the fold's strict less-than that
        # keeps the lowest code on exact ties.  Codes may be sparse
        # after Lloyd refinement (empty cells drop), so the code ids
        # ride alongside the matrix instead of being positional.
        import numpy as np

        by_s: dict[int, list] = {}
        for s_val, code, cw in cb_rows:
            by_s.setdefault(s_val, []).append((code, cw))
        mats = {}
        for s_key, items in by_s.items():
            items.sort()
            mats[s_key] = (
                np.array([c for c, _ in items], dtype=np.int64),
                np.array([w for _, w in items], dtype=np.float64),
            )

        out_schema = StructType(
            [
                StructField("__id", corpus_u.schema[id_col].dataType),
                StructField("s", IntegerType()),
                StructField("code", LongType()),
                StructField("sv", ArrayType(DoubleType())),
            ]
        )

        def encode(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                ids = pdf[id_col].to_numpy()
                vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                n = len(ids)
                id_out, s_out, code_out, sv_out = [], [], [], []
                for s_key in range(m):
                    codes_arr, cw = mats[s_key]
                    vs = vecs[:, s_key * sub_dim : (s_key + 1) * sub_dim]
                    d = np.zeros((n, len(codes_arr)))
                    for i in range(sub_dim):
                        diff = vs[:, i : i + 1] - cw[None, :, i]
                        d += diff * diff
                    best = codes_arr[np.argmin(d, axis=1)]
                    id_out.append(ids)
                    s_out.append(np.full(n, s_key, dtype=np.int32))
                    code_out.append(best)
                    sv_out.append(vs)
                yield pd.DataFrame(
                    {
                        "__id": np.concatenate(id_out),
                        "s": np.concatenate(s_out),
                        "code": np.concatenate(code_out),
                        "sv": [
                            row
                            for block in sv_out
                            for row in block.tolist()
                        ],
                    }
                )

        return frame.mapInPandas(encode, schema=out_schema)

    # Lloyd refinement per subspace: recompute each codeword as the
    # mean of its assigned subvectors — the same order-pinned fold
    # `kmeans_centroids` uses (collect → sort by id → strict fold),
    # so refined codewords are bit-reproducible in the oracle.  One
    # round closes most of the gap untrained seed codebooks leave;
    # production would iterate to tolerance with plain avg().
    # Lloyd refinement runs on a bounded TRAINING SAMPLE (round 9):
    # the means stage collects-and-folds every assigned subvector
    # component in id order (bit-reproducible in the oracle), so its
    # per-(s, code, pos) groups grow linearly with the corpus — a
    # few-huge-groups fold that measured as sim_pq_topk's residual
    # constant at sf10.  Training on a deterministic modulo sample
    # (id % train_div == 0, ~50k vectors at any corpus — the caller
    # sizes it) bounds refinement work BY CONSTRUCTION; the full
    # corpus still encodes against the trained codebook, which is
    # how production PQ trains anyway (offline sample-trained
    # codebooks, full-corpus encode).
    # Per-session memo of the TRAINED codebook rows (ADVICE r9: the
    # training chain collects at DataFrame-BUILD time, so plan-only
    # consumers — explain_audit, registry enumeration, repeated bench
    # builds — were paying full Lloyd-refinement execution on every
    # build).  The first build per (session, corpus plan, params)
    # still trains (offline-trained codebooks are how production PQ
    # works anyway); every later build reuses the rows and stays a
    # pure lazy plan.
    memo = _session_memo(corpus_u)
    plan_key = _plan_memo_key(corpus_u)
    memo_key = (
        "pq_cb", plan_key, id_col, vec_col, m, ks, sub_dim, rounds,
        train_div,
    )
    if plan_key is not None and memo_key in memo:
        cb_rows = memo[memo_key]
        codes = _assign(cb_rows, corpus_u).select("__id", "s", "code")
        return cb_rows, codes

    # Lloyd refinement runs ENTIRELY driver-side on the bounded
    # training sample (r11, guide §1.2/§2.4): the sample is ≤ 50k
    # vectors BY CONSTRUCTION (train_div above), i.e. ≤ ~26 MB — the
    # same bounded-collect class as the codebook itself — so the
    # previous distributed spelling (seed-collect job + an Arrow
    # encode stage + two collect_list shuffles + a second collect,
    # PER ROUND) bought distribution for work that fits in one
    # driver array.  One collect of the sample replaces the whole
    # chain; the numpy/pure-float replay below reproduces the
    # distributed fold BIT-FOR-BIT: assignment accumulates distances
    # component-major with first-min argmin over ascending codes
    # (exactly ``_assign``), and each codeword mean is a strict
    # left fold over its members' components in ascending __id order
    # (exactly the ``aggregate(array_sort(vals), 0.0, acc + x.val) /
    # size(vals)`` spelling — Python float adds are the same IEEE
    # doubles in the same order).  The full-corpus encode below stays
    # a distributed Arrow map — that is the part that scales with n.
    import numpy as np

    train = (
        corpus_u
        if train_div <= 1
        else corpus_u.where(F.col(id_col) % train_div == 0)
    )
    train_rows = sorted(
        (r[id_col], r[vec_col])
        for r in train.select(id_col, vec_col).collect()
    )
    t_ids = [r[0] for r in train_rows]
    t_vecs = np.array([r[1] for r in train_rows], dtype=np.float64)
    # seeds: first-ks corpus vectors — at train_div == 1 they are the
    # first ks sample rows (ids 0..ks-1); a thinned sample may lack
    # some, so fall back to one tiny bounded collect for the rest
    seed_vecs: dict[int, list] = {
        i: t_vecs[pos].tolist()
        for pos, i in enumerate(t_ids)
        if i < ks
    }
    missing = [i for i in range(ks) if i not in seed_vecs]
    if missing:
        for r in (
            corpus_u.where(F.col(id_col) < ks)
            .select(id_col, vec_col)
            .collect()
        ):
            seed_vecs[r[id_col]] = list(r[vec_col])
    cb_rows = tuple(
        sorted(
            (s, code, tuple(vec[s * sub_dim : (s + 1) * sub_dim]))
            for code, vec in seed_vecs.items()
            if code < ks
            for s in range(m)
        )
    )

    def _argmin_codes(cb: tuple, sub: "np.ndarray", s_key: int):
        """First-min nearest codeword per row — the identical
        component-major accumulation ``_assign`` runs on executors."""
        items = sorted(
            (code, cw) for s_val, code, cw in cb if s_val == s_key
        )
        codes_arr = np.array([c for c, _ in items], dtype=np.int64)
        cw = np.array([w for _, w in items], dtype=np.float64)
        d = np.zeros((len(sub), len(codes_arr)))
        for i in range(sub_dim):
            diff = sub[:, i : i + 1] - cw[None, :, i]
            d += diff * diff
        return codes_arr[np.argmin(d, axis=1)]

    for _ in range(rounds):
        new_rows = []
        for s_key in range(m):
            sub = t_vecs[:, s_key * sub_dim : (s_key + 1) * sub_dim]
            best = _argmin_codes(cb_rows, sub, s_key)
            for code in np.unique(best):
                members = sub[best == code]  # rows stay in id order
                acc = [0.0] * sub_dim
                for row in members.tolist():
                    for j in range(sub_dim):
                        acc[j] += row[j]
                n_mem = len(members)
                new_rows.append(
                    (
                        s_key,
                        int(code),
                        tuple(v / n_mem for v in acc),
                    )
                )
        # Empty cells keep no codeword — codes simply never map there
        # (the min over the surviving codebook is still total).
        cb_rows = tuple(sorted(new_rows))

    if plan_key is not None:
        _memo_put(memo, memo_key, cb_rows)
    codes = _assign(cb_rows, corpus_u).select("__id", "s", "code")
    return cb_rows, codes


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 16,
    ks: int = 64,
    dim: int = 64,
    rounds: int = 1,
) -> DataFrame:
    """ANN top-k via product quantization with asymmetric distance.

    The corpus is stored as m-byte PQ codes; each query builds a
    lookup table LUT[s, code] = dot(query_subvector_s, codeword) —
    m·ks doubles per query, broadcast — and a candidate's approximate
    cosine is the sum of m LUT hits: the query side stays exact
    (asymmetric PQ), only the corpus side is quantized.  Plan shape:
    encode = one map-side-combined shuffle; scoring = codes ⋈
    broadcast(LUT) then a (query, cand) partial agg — the shuffled
    rows carry (ids, one double), never vectors.  The per-pair sum
    pivots the m LUT hits into fixed columns (one first(when(s=i))
    per subspace — a codegen'd HashAggregate) and adds them in a
    left-nested chain, the identical IEEE order of a subspace-sorted
    fold, so scores are bit-reproducible; production would use plain
    SUM (≤1 ulp drift) — same plan, cheaper agg.

    Scale note: the encode is a vectorized Arrow ``mapInPandas``
    stage since round 9 — numpy argmin over the closure-shipped
    codebook, a narrow map over the corpus scan.  Round 8's
    interpreted Catalyst fold (linear in n but n·m·ks·sub_dim
    interpreter steps) measured 32.6× wall at 10× data; the
    join-explosion spelling before it materialized n·m·ks rows and
    spilled.  Codes are byte-identical across all three spellings
    (the DuckDB oracle still replays the fold).  A production run
    would additionally train the codebook OFFLINE and reuse it
    across corpus versions; this operator keeps the same scoring
    path either way.
    """
    sub_dim = dim // m
    # Bounded training sample for the Lloyd refinement: ~50k vectors
    # at any corpus (pure-integer ceil-div, replayed by the oracle
    # from the same COUNT(*); 1 — i.e. no sampling — at any corpus
    # <= 50k, so driver/bench results are unchanged).  The count is
    # parquet-metadata-cheap on a plain scan, and memoized per
    # (session, corpus plan) alongside the trained codebook so
    # repeated builds stay lazy (ADVICE r9).
    memo = _session_memo(corpus)
    count_key = ("pq_count", _plan_memo_key(corpus.select(id_col)))
    if count_key[1] is not None and count_key in memo:
        n_corpus = memo[count_key]
    else:
        n_corpus = corpus.count()
        if count_key[1] is not None:
            _memo_put(memo, count_key, n_corpus)
    train_div = max(1, -(-n_corpus // 50_000))
    corpus_u = unit(
        spread(corpus.select(id_col, vec_col)), vec_col, "uv"
    ).select(id_col, F.col("uv").alias(vec_col))
    queries_u = unit(
        queries.select(id_col, vec_col), vec_col, "uv"
    ).select(id_col, F.col("uv").alias(vec_col))
    cb_rows, codes = pq_encode_codebook(
        corpus_u, id_col, vec_col, m=m, ks=ks, sub_dim=sub_dim,
        rounds=rounds, train_div=train_div,
    )
    # The trained codebook re-enters the plan as a LITERAL local
    # relation (m·ks rows, KBs): the LUT join below broadcasts it,
    # and the returned plan carries no lineage back through the
    # training chain — explain/audit of the result is pure planning.
    cb = corpus.sparkSession.createDataFrame(
        list(cb_rows), "s int, code bigint, cw array<double>"
    )
    lut = (
        queries_u.select(
            F.col(id_col).alias("query_id"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
            F.col(vec_col).alias("__q"),
        )
        .select(
            "query_id",
            "s",
            F.expr(_sub_slice("__q", "s", sub_dim)).alias("qs"),
        )
        .join(F.broadcast(cb), "s")
        .select(
            "query_id", "s", "code", F.expr(_dot_fold("qs", "cw")).alias("pdot")
        )
    )
    # Fixed-width pivot instead of collect_list + array_sort +
    # interpreted fold (r11, guide §2.3): every (query, cand) group
    # holds EXACTLY one LUT hit per subspace s ∈ [0, m), so m
    # first(when(s = i)) aggregates pivot the group into m columns —
    # a codegen'd HashAggregate with no per-group array allocation —
    # and the left-nested addition chain ((0.0 + p0) + p1) + … is the
    # identical IEEE fold order the sorted-fold spelling evaluated.
    # Scoring is the stage that rides the full candidate volume at
    # scale; the ObjectHashAggregate this replaces was the one
    # codegen break in the pipeline.
    pivot = [
        F.first(
            F.when(F.col("s") == i, F.col("pdot")), ignorenulls=True
        ).alias(f"__p{i}")
        for i in range(m)
    ]
    chain = "cast(0.0 as double)"
    for i in range(m):
        chain = f"({chain} + __p{i})"
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .where(F.col("__id") != F.col("query_id"))
        .groupBy("query_id", F.col("__id").alias("cand_id"))
        .agg(*pivot)
        .select(
            "query_id", "cand_id", F.expr(chain).alias("approx_cos")
        )
    )
    return topk_per_group(
        scored,
        partition_by=["query_id"],
        order=[F.col("approx_cos").desc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))
