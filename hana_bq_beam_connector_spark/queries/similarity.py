"""Similarity-search queries (SURVEY §2c similarity [X]).

Brute-force cosine top-k (correctness baseline) and LSH-bucketed ANN
(scale path) over the embeddings table.  All vector math is the same
strict left fold in both engines (operators/similarity.py), so even
the cosine doubles — and therefore the top-k ranking — hash-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hana_bq_beam_connector_spark.operators.similarity import (
    N_PLANES,
    cosine_topk,
    lsh_bucket,
    lsh_bucket_topk,
)
from hana_bq_beam_connector_spark.queries import register
from hana_bq_beam_connector_spark.sources.files import load_table

DIM = 64


def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {DIM} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _duck_unit_cte(name: str = "unitv") -> str:
    """CTE: embeddings L2-normalized once (same two-step as the Spark
    ``unit`` operator, so every normalized element is bit-identical);
    pair scores downstream are plain dot folds."""
    return f"""{name} AS (
      SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS uv
      FROM (SELECT vec_id, embedding,
              sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
            FROM embeddings)
    )"""


def _duck_cosine_topk_sql(k: int = 5) -> str:
    return f"""
    WITH {_duck_unit_cte()},
    q AS (
      SELECT vec_id AS query_id, uv AS qv FROM unitv WHERE vec_id < 10
    ),
    c AS (SELECT vec_id AS cand_id, uv AS cv FROM unitv),
    scored AS (
      SELECT query_id, cand_id, {_duck_dot('qv', 'cv')} AS cos_sim
      FROM c, q WHERE cand_id != query_id
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id
      ) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "sim_cosine_topk_exact",
    _duck_cosine_topk_sql(),
    doc="Exact top-5 cosine neighbors for 10 query vectors: query set "
    "broadcasts against the corpus (one scan, no vector shuffle), "
    "per-query rank-and-filter.  The brute-force baseline ANN "
    "variants are measured against.",
)
def sim_cosine_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 10)
    return cosine_topk(queries, emb, k=5).select(
        "query_id", "cand_id", "cos_sim", "rank"
    )


def _duck_quant_cte(name: str = "qv") -> str:
    """CTE: per-vector int8 quantization of the unit vectors —
    mirrors operators/similarity.quantize_int8 exactly (same
    round-half-away-from-zero on the same IEEE doubles)."""
    return f"""{name} AS (
      SELECT vec_id, qs,
        list_transform(uv, x -> CAST(round(CAST(x AS DOUBLE) / qs)
                                     AS BIGINT)) AS qq
      FROM (SELECT vec_id, uv,
              list_max(list_transform(uv, x -> abs(CAST(x AS DOUBLE))))
                / 127.0 AS qs
            FROM unitv)
    )"""


def _duck_int_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, {DIM} + 1), "
        f"i -> {a}[i] * {b}[i])), (acc, v) -> acc + v)"
    )


@register(
    "sim_quantized_topk",
    f"""
    WITH {_duck_unit_cte()},
    {_duck_quant_cte()},
    q AS (SELECT vec_id AS query_id, qq AS qa, qs AS sa FROM qv
          WHERE vec_id < 10),
    c AS (SELECT vec_id AS cand_id, qq AS ca, qs AS sb FROM qv),
    scored AS (
      SELECT query_id, cand_id,
        (CAST({_duck_int_dot('qa', 'ca')} AS DOUBLE) * sa) * sb
          AS approx_cos
      FROM c, q WHERE cand_id != query_id
    )
    SELECT query_id, cand_id, approx_cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_cos DESC, cand_id
      ) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="Int8-quantized top-5: the candidate index carries 1-byte "
    "codes + one scale per vector (8x memory cut — at 10^10 vectors "
    "the difference between an index that fits executor memory and "
    "one that doesn't); scoring is a BIGINT fold rescaled by the two "
    "scales.  Recall vs the exact-cosine baseline asserted in tests; "
    "oracle replays quantization, integer dot and rescale "
    "bit-for-bit.",
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.similarity import (
        quantized_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 10)
    return quantized_topk(queries, emb, k=5).select(
        "query_id", "cand_id", "approx_cos", "rank"
    )


def _duck_plane_dot(vec: str, p: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {DIM} + 1), "
        f"i -> CAST({vec}[i] AS DOUBLE) * "
        f"CAST(((xor({p} * CAST(73856093 AS BIGINT), "
        f"(i - 1) * CAST(19349663 AS BIGINT))) % 13) - 6 AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _duck_bucket(vec: str, n_planes: int = N_PLANES, table: int = 0) -> str:
    bits = [
        f"CASE WHEN {_duck_plane_dot(vec, table * n_planes + p)} > 0 "
        f"THEN {1 << p} ELSE 0 END"
        for p in range(n_planes)
    ]
    return "CAST(" + " + ".join(bits) + " AS BIGINT)"


@register(
    "sim_lsh_bucket_histogram",
    f"""
    SELECT {_duck_bucket('embedding')} AS bucket, COUNT(*) AS n_vectors
    FROM embeddings
    GROUP BY 1
    """,
    doc="Random-hyperplane LSH bucket assignment (8 planes, 256 "
    "buckets) — the ANN partitioning primitive; histogram checks "
    "the full sign-bit arithmetic against the oracle.",
)
def sim_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        lsh_bucket(emb, "embedding", DIM)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def _duck_lsh_topk_sql(k: int = 3, n_planes: int = 4, n_tables: int = 4) -> str:
    per_table = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, embedding, {t} AS table_id, "
        f"{_duck_bucket('embedding', n_planes, t)} AS bucket FROM embeddings"
        for t in range(n_tables)
    )
    return f"""
    WITH {_duck_unit_cte()},
    b AS (
      {per_table}
    ),
    q AS (SELECT vec_id AS query_id, table_id, bucket FROM b
          WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS cand_id
      FROM b c JOIN q ON c.table_id = q.table_id AND c.bucket = q.bucket
      WHERE c.vec_id != q.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.cand_id,
             {_duck_dot('qe.uv', 'ce.uv')} AS cos_sim
      FROM cand
      JOIN unitv qe ON qe.vec_id = cand.query_id
      JOIN unitv ce ON ce.vec_id = cand.cand_id
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id
      ) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "sim_ann_lsh_topk",
    _duck_lsh_topk_sql(),
    doc="ANN top-3 via multi-table LSH (4 tables x 4 planes): a pair "
    "is a candidate if it collides in ANY table — the standard "
    "recall lever; still an equi-join on (table, bucket), never a "
    "cross product.  Recall vs the exact baseline asserted in tests.",
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 10)
    return lsh_bucket_topk(
        queries, emb, dim=DIM, k=3, n_planes=4, n_tables=4
    ).select("query_id", "cand_id", "cos_sim", "rank")


def _duck_ivf_topk_sql(
    k: int = 3, n_centroids: int = 16, n_probe: int = 2
) -> str:
    dot_ec = _duck_dot("e.uv", "c.cvec")
    return f"""
    WITH {_duck_unit_cte()},
    cents AS (
      SELECT vec_id AS centroid_id, uv AS cvec FROM unitv
      WHERE vec_id < {n_centroids}
    ),
    cells AS (
      SELECT cand_id, cv, centroid_id FROM (
        SELECT e.vec_id AS cand_id, e.uv AS cv, c.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY {dot_ec} DESC, c.centroid_id) AS rn
        FROM unitv e, cents c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, centroid_id FROM (
        SELECT e.vec_id AS query_id, e.uv AS qv, c.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY {dot_ec} DESC, c.centroid_id) AS rn
        FROM unitv e, cents c
        WHERE e.vec_id < 10
      ) WHERE rn <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, cells.cand_id,
             {_duck_dot('p.qv', 'cells.cv')} AS cos_sim
      FROM cells JOIN probes p ON cells.centroid_id = p.centroid_id
      WHERE cells.cand_id != p.query_id
    )
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id
      ) AS rank FROM scored
    ) WHERE rank <= {k}
    """


def _duck_kmeans_assign_sql(n_centroids: int = 16) -> str:
    dot_ec = _duck_dot("e.uv", "c.cvec")
    return f"""
    WITH {_duck_unit_cte()},
    cents0 AS (
      SELECT vec_id AS centroid_id, uv AS cvec FROM unitv
      WHERE vec_id < {n_centroids}
    ),
    assign0 AS (
      SELECT vec_id, centroid_id, uv FROM (
        SELECT e.vec_id, e.uv, c.centroid_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY {dot_ec} DESC, c.centroid_id) AS rn
        FROM unitv e, cents0 c
      ) WHERE rn = 1
    ),
    comp AS (
      SELECT centroid_id, vec_id, pos, uv[pos] AS val
      FROM assign0, (SELECT unnest(range(1, {DIM} + 1)) AS pos)
    ),
    means AS (
      SELECT centroid_id, pos,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                 list(val ORDER BY vec_id)),
                    (acc, v) -> acc + v) / COUNT(*) AS m
      FROM comp GROUP BY centroid_id, pos
    ),
    raw AS (
      SELECT centroid_id, list(m ORDER BY pos) AS cvec_raw
      FROM means GROUP BY centroid_id
    ),
    cents1 AS (
      SELECT centroid_id,
        list_transform(cvec_raw, x -> CAST(x AS DOUBLE) / nrm) AS cvec
      FROM (SELECT centroid_id, cvec_raw,
              sqrt({_duck_dot('cvec_raw', 'cvec_raw')}) AS nrm
            FROM raw)
    )
    SELECT vec_id, centroid_id, assign_sim FROM (
      SELECT e.vec_id, c.centroid_id, {dot_ec} AS assign_sim,
        ROW_NUMBER() OVER (PARTITION BY e.vec_id
          ORDER BY {dot_ec} DESC, c.centroid_id) AS rn
      FROM unitv e, cents1 c
    ) WHERE rn = 1
    """


@register(
    "sim_kmeans_ivf_assign",
    _duck_kmeans_assign_sql(),
    doc="Spherical k-means refinement of the IVF coarse quantizer "
    "(one distributed Lloyd round: broadcast-assign, per-centroid "
    "component means, unit re-projection) then the refined "
    "assignment of every corpus vector.  Replaces the seed-vectors-"
    "as-centroids shortcut with the real clustering step; "
    "deterministic because the mean's float sum folds in explicit "
    "vec_id order (the oracle-checkable spelling; production uses "
    "plain avg and accepts ~1 ulp of partitioning drift).  The "
    "centroid broadcast is 16 rows — the allowlisted nested-loop "
    "shape shared with sim_ivf_topk.",
)
def sim_kmeans_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.operators._common import spread
    from hana_bq_beam_connector_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
        unit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus_u = unit(
        spread(emb.select("vec_id", "embedding")), "embedding", "uv"
    ).select("vec_id", F.col("uv").alias("embedding"))
    cents = kmeans_centroids(
        corpus_u, vec_col="embedding", dim=DIM, rounds=1
    )
    # In-expression argmax over the broadcast centroid array (r11,
    # guide §2.4): the crossJoin + ROW_NUMBER spelling fanned the
    # corpus 16× and shuffled it — vectors included — to rank rows
    # that never leave their vector.  Same (sim DESC, centroid ASC)
    # order, zero Exchange, zero Window.
    return ivf_assign(
        corpus_u,
        cents.select(
            F.col("centroid_id").alias("vec_id"),
            F.col("cvec").alias("embedding"),
        ),
        "vec_id",
        "embedding",
        n_probe=1,
        sim_col="assign_sim",
    ).select("vec_id", "centroid_id", "assign_sim")


@register(
    "sim_ivf_topk",
    _duck_ivf_topk_sql(),
    doc="ANN top-3 via IVF coarse quantization: corpus partitioned "
    "once into 16 cells by nearest (broadcast) centroid, each query "
    "probes its 2 nearest cells — exact scoring touches ~1/8 of the "
    "corpus.  Deterministic seed centroids so the oracle replays the "
    "full assign/probe/score pipeline bit-for-bit.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 10)
    return ivf_topk(queries, emb, k=3, n_centroids=16, n_probe=2).select(
        "query_id", "cand_id", "cos_sim", "rank"
    )


@register(
    "sim_label_centroids",
    """
    WITH pos AS (
      SELECT label, vec_id,
             unnest(embedding) AS v,
             unnest(range(0, len(embedding))) AS dim
      FROM embeddings
    )
    SELECT label, dim,
           list_reduce(
             list_prepend(CAST(0.0 AS DOUBLE),
                          list(CAST(v AS DOUBLE) ORDER BY vec_id)),
             (a, b) -> a + b
           ) / COUNT(*) AS mean_v
    FROM pos GROUP BY label, dim
    """,
    doc="Per-label centroid (element-wise mean embedding) — the "
    "class-prototype builder behind few-shot retrieval and cluster "
    "seeding.  posexplode fans each vector into (label, dim, value) "
    "rows; the per-(label, dim) mean then partial-aggregates "
    "map-side, so a 100 TB corpus shuffles one partial per "
    "(label, dim, partition), never raw vectors.  Float summation "
    "order is pinned by folding over the vec_id-sorted value list in "
    "BOTH engines (collect_list -> array_sort -> aggregate vs "
    "list(ORDER BY) -> list_reduce), so the doubles match "
    "bit-for-bit; at real scale swap the sorted fold for a plain "
    "sum and accept last-ulp nondeterminism.",
)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    pos = e.select(
        "label", "vec_id", F.posexplode("embedding").alias("dim", "v")
    )
    sorted_vals = F.array_sort(
        F.collect_list(
            F.struct("vec_id", F.col("v").cast("double").alias("v"))
        )
    )
    total = F.aggregate(
        sorted_vals, F.lit(0.0), lambda acc, x: acc + x["v"]
    )
    return pos.groupBy("label", F.col("dim").cast("long").alias("dim")).agg(
        (total / F.count(F.lit(1))).alias("mean_v")
    )


def _duck_sub_l2sq(a: str, b: str, sub_dim: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {sub_dim} + 1), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * "
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), "
        f"(acc, v) -> acc + v)"
    )


def _duck_sub_dot(a: str, b: str, sub_dim: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {sub_dim} + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _duck_pq_topk_sql(k: int = 3, m: int = 16, ks: int = 64) -> str:
    sub_dim = DIM // m
    l2 = _duck_sub_l2sq("sub.sv", "cb0.cw", sub_dim)
    l2t = _duck_sub_l2sq("sub.sv", "cb1.cw", sub_dim)
    pdot = _duck_sub_dot("sub.sv", "cb1.cw", sub_dim)
    return f"""
    WITH {_duck_unit_cte()},
    ss AS (SELECT unnest(range(0, {m})) AS s),
    sub AS (
      SELECT vec_id AS id, s,
             list_slice(uv, s * {sub_dim} + 1, (s + 1) * {sub_dim}) AS sv
      FROM unitv, ss
    ),
    cb0 AS (
      SELECT s, id AS code, sv AS cw FROM sub WHERE id < {ks}
    ),
    ts AS (
      SELECT GREATEST(CAST(1 AS BIGINT), (COUNT(*) + 49999) // 50000)
        AS t
      FROM embeddings
    ),
    a0 AS (
      SELECT id, s, code, sv FROM (
        SELECT sub.id, sub.s, cb0.code, sub.sv,
          ROW_NUMBER() OVER (PARTITION BY sub.id, sub.s
            ORDER BY {l2}, cb0.code) AS rn
        FROM sub JOIN cb0 ON sub.s = cb0.s
        CROSS JOIN ts
        WHERE sub.id % ts.t = 0
      ) WHERE rn = 1
    ),
    comp AS (
      SELECT s, code, id, pos, sv[pos] AS val
      FROM a0, (SELECT unnest(range(1, {sub_dim} + 1)) AS pos)
    ),
    means AS (
      SELECT s, code, pos,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                 list(val ORDER BY id)),
                    (acc, v) -> acc + v) / COUNT(*) AS mval
      FROM comp GROUP BY s, code, pos
    ),
    cb1 AS (
      SELECT s, code, list(mval ORDER BY pos) AS cw
      FROM means GROUP BY s, code
    ),
    codes AS (
      SELECT id, s, code FROM (
        SELECT sub.id, sub.s, cb1.code,
          ROW_NUMBER() OVER (PARTITION BY sub.id, sub.s
            ORDER BY {l2t}, cb1.code) AS rn
        FROM sub JOIN cb1 ON sub.s = cb1.s
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT sub.id AS query_id, sub.s, cb1.code, {pdot} AS pdot
      FROM sub JOIN cb1 ON sub.s = cb1.s
      WHERE sub.id < 10
    ),
    scored AS (
      SELECT l.query_id, c.id AS cand_id,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                 list(l.pdot ORDER BY l.s)),
                    (acc, v) -> acc + v) AS approx_cos
      FROM codes c JOIN lut l ON c.s = l.s AND c.code = l.code
      WHERE c.id != l.query_id
      GROUP BY l.query_id, c.id
    )
    SELECT query_id, cand_id, approx_cos, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_cos DESC, cand_id
      ) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@register(
    "sim_pq_topk",
    _duck_pq_topk_sql(),
    doc="ANN top-3 via product quantization with asymmetric distance: "
    "corpus stored as 16 one-byte codes per vector (64× smaller than "
    "raw doubles, 8× smaller than int8 scalar quantization), scored "
    "against per-query lookup tables of subspace dot products.  "
    "Codebooks: deterministic seeds + ONE distributed Lloyd round "
    "per subspace (order-pinned mean folds) on a ~50k-vector modulo "
    "training sample (id % T == 0, T = max(1, ceil(n/50000)) from "
    "the same COUNT(*) in both engines; T = 1 at driver/bench SFs), "
    "so refinement work is bounded by construction — production PQ "
    "trains codebooks on samples offline anyway — and the oracle "
    "replays training, encoding, LUT build and ranking bit-for-bit. "
    "Plan: encode is a vectorized Arrow mapInPandas argmin (narrow "
    "map over the corpus scan), scoring shuffles (id, double) pairs "
    "only.  Recall@10 vs the exact baseline ≈ 0.6 on this corpus — "
    "whose exact neighbors are noise-thin (top-10 same-label "
    "fraction: 0.11), the PQ-hostile worst case; asserted ≥ 0.4 in "
    "tests alongside the plan shape.",
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 10)
    return pq_topk(queries, emb, k=3).select(
        "query_id", "cand_id", "approx_cos", "rank"
    )


def _duck_recall_sql(k: int = 5, n_planes: int = 4, n_tables: int = 4) -> str:
    per_table = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, embedding, {t} AS table_id, "
        f"{_duck_bucket('embedding', n_planes, t)} AS bucket FROM embeddings"
        for t in range(n_tables)
    )
    return f"""
    WITH {_duck_unit_cte()},
    q AS (SELECT vec_id AS query_id, uv AS qv FROM unitv WHERE vec_id < 10),
    c AS (SELECT vec_id AS cand_id, uv AS cv FROM unitv),
    exact_topk AS (
      SELECT query_id, cand_id FROM (
        SELECT query_id, cand_id, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, cand_id
        ) AS rk FROM (
          SELECT query_id, cand_id, {_duck_dot('qv', 'cv')} AS cos_sim
          FROM c, q WHERE cand_id != query_id
        )
      ) WHERE rk <= {k}
    ),
    b AS (
      {per_table}
    ),
    qb AS (SELECT vec_id AS query_id, table_id, bucket FROM b
           WHERE vec_id < 10),
    cand AS (
      SELECT DISTINCT qb.query_id, cb.vec_id AS cand_id
      FROM b cb JOIN qb ON cb.table_id = qb.table_id AND cb.bucket = qb.bucket
      WHERE cb.vec_id != qb.query_id
    ),
    ann_topk AS (
      SELECT query_id, cand_id FROM (
        SELECT cand.query_id, cand.cand_id, ROW_NUMBER() OVER (
          PARTITION BY cand.query_id
          ORDER BY {_duck_dot('qe.uv', 'ce.uv')} DESC, cand.cand_id
        ) AS rk
        FROM cand
        JOIN unitv qe ON qe.vec_id = cand.query_id
        JOIN unitv ce ON ce.vec_id = cand.cand_id
      ) WHERE rk <= {k}
    )
    SELECT e.query_id, CAST(COUNT(a.cand_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.cand_id) AS DOUBLE) / {k}.0 AS recall_at_{k}
    FROM exact_topk e
    LEFT JOIN ann_topk a
      ON e.query_id = a.query_id AND e.cand_id = a.cand_id
    GROUP BY e.query_id
    """


@register(
    "sim_ann_recall_report",
    _duck_recall_sql(),
    doc="ANN quality evaluation: recall@5 of the multi-table LSH "
    "index against the exact cosine top-5, per query — the metric "
    "that decides n_tables/n_planes before an index ships.  Runs "
    "both pipelines (each already scale-shaped: broadcast-bounded "
    "exact baseline over the sampled query set, banded equi-join "
    "ANN) and joins their top-k sets; at production scale the exact "
    "side is computed for a small audit sample of queries exactly "
    "like this one, so the evaluation never does all-pairs work.",
)
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(emb["vec_id"] < 10)
    k = 5
    exact = cosine_topk(queries, emb, k=k).select("query_id", "cand_id")
    ann = lsh_bucket_topk(
        queries, emb, dim=DIM, k=k, n_planes=4, n_tables=4
    ).select("query_id", F.col("cand_id").alias("ann_cand_id"))
    joined = exact.join(
        ann,
        (exact["query_id"] == ann["query_id"])
        & (exact["cand_id"] == ann["ann_cand_id"]),
        "left",
    ).select(exact["query_id"], ann["ann_cand_id"])
    return joined.groupBy("query_id").agg(
        F.count("ann_cand_id").alias("n_hits"),
        (F.count("ann_cand_id").cast("double") / float(k)).alias(
            f"recall_at_{k}"
        ),
    )
