"""Deduplication queries (LLM-data surface; SURVEY §2c dedup [X]).

The MinHash/SimHash oracles are *generated* SQL sharing the exact
integer-hash constants with the Spark exprs (functions/hashing.py),
so the driver's value-hash gate checks the full pipeline — shingling,
16 affine min-hashes, LSH banding, candidate join, Jaccard verify —
not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hana_bq_beam_connector_spark.functions.hashing import (
    band_exprs,
    duck_minhash,
    duck_polyhash,
    duck_shingle_hash_chain,
)
from hana_bq_beam_connector_spark.operators.dedup import (
    hamming,
    jaccard,
    jaccard_ge,
    keep_first_by_key,
    minhash_near_dup_pairs,
    near_dup_clusters,
    shingle_hashes,
    simhash,
)
from hana_bq_beam_connector_spark.operators.relational import (
    two_phase_rank,
)
from hana_bq_beam_connector_spark.queries import register
from hana_bq_beam_connector_spark.sources.files import load_table


@register(
    "dedup_exact_groups",
    """
    SELECT text, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    doc="Exact dedup: one hash shuffle on the content key; keeper is "
    "the min doc_id (deterministic survivor).",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "dedup_keep_first_by_key",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    doc="Keep-first-by-key dedup: deterministic earliest doc per "
    "(lang, source) as an argmin aggregate (min_by) — keep-first "
    "never needs a rank window: the agg folds map-side and scales "
    "identically for 100 keys or 10^9 (the rank-and-filter spelling "
    "sorted n/|keys| rows in one task per key; (lang, source) has "
    "100 values at ANY corpus size).",
)
def dedup_keep_first_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return keep_first_by_key(
        d.select("doc_id", "lang", "source"),
        key=["lang", "source"],
        order=[F.col("doc_id")],
    )


def _duck_minhash_ctes(
    threshold: float = 0.8, pair_pred: str = "a.doc_id < b.doc_id"
) -> str:
    """CTE chain ending in ``verified`` (id_a, id_b, jaccard) — shared
    by the pair query, the connected-components cluster query, and
    (with an asymmetric ``pair_pred``) the incremental-dedup query."""
    sig_cols = [f"mh{i}" for i in range(16)]
    minhashes = ",\n      ".join(
        f"{duck_minhash('hashes', i)} AS mh{i}" for i in range(16)
    )
    bands = band_exprs(sig_cols, 4)
    band_union = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {i} AS band_idx, {b} AS band_hash FROM sig"
        for i, b in enumerate(bands)
    )
    return f"""toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    whs AS (
      SELECT doc_id, list_transform(w, x -> {duck_polyhash('x')}) AS wh
      FROM toks
    ),
    xs AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, len(wh) - 1),
          i -> {duck_shingle_hash_chain('wh', 'i', 3)})) AS hashes
      FROM whs
    ),
    sig AS (
      SELECT doc_id, hashes,
      {minhashes}
      FROM xs
    ),
    bands AS (
      {band_union}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a
      JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND ({pair_pred})
    ),
    verified AS (
      SELECT id_a, id_b,
        CAST(len(list_intersect(xa.hashes, xb.hashes)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(xa.hashes, xb.hashes)))
                 AS DOUBLE) AS jaccard
      FROM cand
      JOIN xs xa ON cand.id_a = xa.doc_id
      JOIN xs xb ON cand.id_b = xb.doc_id
      WHERE CAST(len(list_intersect(xa.hashes, xb.hashes)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(xa.hashes, xb.hashes)))
                 AS DOUBLE) >= {threshold}
    )"""


def _duck_minhash_sql(threshold: float = 0.8) -> str:
    return f"""
    WITH {_duck_minhash_ctes(threshold)}
    SELECT id_a, id_b, jaccard FROM verified
    """


@register(
    "dedup_minhash_lsh_pairs",
    _duck_minhash_sql(),
    doc="MinHash-LSH near-duplicate pairs: word-3-shingles → 16 affine "
    "min-hashes → 4 LSH bands → bucket self-join candidates → exact "
    "Jaccard >= 0.8 verify.  Linear in corpus size (never the O(n^2) "
    "pair space); the oracle replays the identical integer hashes.",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        d, id_col="doc_id", text_col="text", k=3, threshold=0.8
    )


@register(
    "dedup_cluster_canonical",
    f"""
    WITH RECURSIVE {_duck_minhash_ctes()},
    e2 AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e2),
    walk(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e2.dst, walk.label FROM walk JOIN e2 ON e2.src = walk.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id,
           node = MIN(label) AS is_canonical
    FROM walk GROUP BY node
    """,
    doc="Near-dup CLUSTERS (connected components over MinHash-LSH "
    "pairs) with a deterministic canonical survivor per cluster "
    "(min doc_id).  Pair lists alone under-delete: A~B, B~C must "
    "collapse to one survivor even when A~C never became a candidate "
    "pair.  Spark side is iterative min-label propagation with "
    "pointer jumping (per round: one join + one agg shuffle, plus a "
    "label self-join from round 3), so a chain converges in "
    "O(log diameter) rounds; each round is persisted and the previous "
    "one released, and a localCheckpoint every fifth round truncates "
    "the plan.  The oracle replays it as a DuckDB recursive CTE "
    "reachability walk.",
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, id_col="doc_id", text_col="text", k=3, threshold=0.8
    )
    labels = near_dup_clusters(pairs, id_a="id_a", id_b="id_b")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


@register(
    "dedup_ngram_jaccard_sample",
    """
    WITH s AS (
      SELECT doc_id, lang,
        list_distinct(string_split(text, ' ')) AS ws
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, ws,
        row_number() OVER (
          PARTITION BY lang
          ORDER BY array_to_string(list_sort(ws), ' '), doc_id
        ) AS rn
      FROM s
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE)
        AS jaccard
    FROM r a JOIN r b
      ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 10
    WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE)
        >= 0.6
    """,
    doc="Exact word-set Jaccard near-dup via SORTED-NEIGHBORHOOD "
    "blocking (Hernandez & Stolfo's SNM): docs are ranked within "
    "their lang block by a permutation-invariant key (the sorted "
    "word string, so shuffled copies land adjacent), and only pairs "
    "within rank distance W=10 are compared — an O(n*W) pair budget "
    "that holds at any corpus size, unlike constant-fraction "
    "sampling (still ~n^2).  The Spark join is banded: bucket = "
    "(rn-1) DIV W, probe side exploded to {bkt, bkt+1}, so the join "
    "itself is an equi-join on (lang, bucket) touching O(n*W) "
    "candidates — never a rank-range filter over a lang-wide hash "
    "join.  The oracle keeps the simple rank-range form (it needs "
    "to be correct, not fast).  The rank itself is two_phase_rank "
    "(range-partitioned slice-local row_number + offsets) — no task "
    "ever sorts a whole lang block, at any corpus size.",
)
def dedup_ngram_jaccard_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = 10
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.array_distinct(F.split(F.col("text"), " ")).alias("ws"),
    )
    # Two-phase rank: lang is constant-cardinality, so the SNM rank
    # must not sort a whole lang block in one task (the docstring's
    # promised range-partitioned sort, now the shipped plan).
    keyed = d.withColumn("__key", F.array_join(F.array_sort("ws"), " "))
    # Range-exchange on a bounded PREFIX of the multi-KB sort key:
    # repartitionByRange's sampler ships sampled keys to the driver,
    # and the slicing is cached — full documents as range keys become
    # driver-memory and cache pressure at exactly the scale the
    # two-phase rewrite targets.  Equal prefixes land in one slice;
    # the slice-local window still orders by the FULL key, so ranks
    # are unchanged (two_phase_scan's range_cols contract).
    r = two_phase_rank(
        keyed,
        ["lang"],
        [F.col("__key"), F.col("doc_id")],
        out="rn",
        range_cols=[F.substring("__key", 1, 128)],
    ).drop("__key").withColumn("bkt", F.expr(f"(rn - 1) DIV {W}"))
    a = r.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("ws").alias("ws_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("pbkt"),
    )
    b = r.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("ws").alias("ws_b"),
        F.col("rn").alias("rn_b"),
        F.col("bkt").alias("bkt_b"),
    )
    # jaccard_ge's size-ratio prefilter gates the intersect pass; the
    # survivors recompute the identical value (union size is
    # |A|+|B|-|A∩B| — same exact integers as the array_union
    # spelling, so the emitted double is bit-identical).
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("pbkt") == F.col("bkt_b")),
        )
        .where((F.col("rn_b") - F.col("rn_a")).between(1, W))
        .where(jaccard_ge("ws_a", "ws_b", 0.6))
        .withColumn("jaccard", jaccard("ws_a", "ws_b"))
        .select("id_a", "id_b", "jaccard")
    )


def _duck_simhash_sql(extra_cols: str = "") -> str:
    """DuckDB replay of operators.dedup.simhash; ``extra_cols`` adds
    passthrough columns (e.g. ``"lang, "``)."""
    vote = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(xs, x -> CAST(CASE WHEN "
        "(x // (CAST(1 AS BIGINT) << b)) % 2 = 1 THEN 1 ELSE -1 END "
        "AS BIGINT))), (vacc, c2) -> vacc + c2)"
    )
    fingerprint = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(0, 32), b -> "
        f"CAST(CASE WHEN {vote} > 0 THEN (CAST(1 AS BIGINT) << b) "
        "ELSE 0 END AS BIGINT))), (facc, v) -> facc + v)"
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {extra_cols}
        list_transform(list_distinct(string_split(text, ' ')),
                       s -> {duck_polyhash('s')}) AS xs
      FROM documents
    )
    SELECT doc_id, {extra_cols} {fingerprint} AS simhash FROM t
    """


@register(
    "dedup_simhash_values",
    _duck_simhash_sql(),
    doc="32-bit SimHash fingerprint per document (sign-aggregated "
    "token hashes) — the constant-size sketch for hamming-distance "
    "near-dup; oracle replays the identical bit arithmetic.",
)
def dedup_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash(d.select("doc_id", "text"), "text").select(
        "doc_id", "simhash"
    )


def _duck_simhash_pairs_sql() -> str:
    return f"""
    WITH sh AS ({_duck_simhash_sql(extra_cols="lang,")}),
    kd AS (
      SELECT GREATEST(CAST(10 AS BIGINT),
               (COUNT(*) + 4999) // 5000) AS k_div
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
             AS hamming_dist
    FROM sh a CROSS JOIN kd JOIN sh b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND a.doc_id % kd.k_div = 0
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """


@register(
    "dedup_simhash_pairs",
    _duck_simhash_pairs_sql(),
    doc="SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= 6 "
    "over a SIZE-BOUNDED audit panel x same-lang block "
    "(bit_count(xor) — no re-tokenization at pair time).  The panel "
    "divisor k = max(10, ceil_div(n, 5000)) keeps the panel ~5000 "
    "docs at any corpus size, so total work is ~5000 x n/|langs| — "
    "LINEAR in n; the previous doc_id%10 constant-fraction sample "
    "was Θ(n²) by construction (the round-8 sf10 sweep measured it "
    "at 530s, 22x — the repo's own rule: pair stages bound by SIZE, "
    "never by FRACTION).  The join also salts the 5-value lang key "
    "(block side xxhash64%32, panel side exploded) so no reducer "
    "owns a whole language.  Banding the fingerprint is NOT the "
    "scale path here: a 32-bit simhash split 7 ways for k<=6 leaves "
    "<= 32 buckets per band (and measured bit skew is worse) — "
    "full-corpus simhash dedup needs 64-bit fingerprints with "
    "Manku-style permuted tables plus an occupancy envelope; this "
    "query is the bounded AUDIT face, like dedup_lsh_recall_report.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    k_div = max(10, -(-d.count() // 5000))
    s = simhash(d.select("doc_id", "lang", "text"), "text").select(
        "doc_id", "lang", "simhash"
    )
    _SALT = 32
    a = s.where(F.col("doc_id") % k_div == 0).select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("simhash").alias("sh_a"),
        F.explode(
            F.array(*[F.lit(x) for x in range(_SALT)])
        ).alias("salt_a"),
    )
    b = s.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("simhash").alias("sh_b"),
        F.pmod(F.xxhash64("doc_id"), F.lit(_SALT)).alias("salt_b"),
    )
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("salt_a") == F.col("salt_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("hamming_dist", hamming("sh_a", "sh_b"))
        .where(F.col("hamming_dist") <= 6)
        .select("id_a", "id_b", "hamming_dist")
    )


def _duck_embedding_pairs_sql(
    threshold: float = 0.4,
    n_tables: int = 8,
    target_bucket_size: int = 64,
) -> str:
    """DuckDB replay of embedding_near_dup_pairs with
    ``n_planes="auto"``: the plane count is computed IN SQL with the
    identical PURE-INTEGER formula the Spark operator evaluates in
    Python — q = max(2, ceil_div(n, target)); np = max(4,
    bit_length(q-1)), where bit_length is a shift-compare fold.  No
    transcendental (no LOG2) anywhere in the hash-gated path: integer
    shifts cannot carry a cross-engine ULP disagreement, so the
    chosen plane count (and therefore every bucket id) agrees.  The
    bucket fold is dynamic in np: Σ_{p<np} (1<<p)·[plane_dot > 0],
    with the global plane index t·np + p inlined into the plane
    formula — nested lambdas over a correlated scalar, the same
    shape the SimHash oracle already exercises."""
    from hana_bq_beam_connector_spark.queries.similarity import (
        _duck_dot,
        _duck_unit_cte,
    )

    plane_dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, 65), i -> "
        "CAST(e.embedding[i] AS DOUBLE) * "
        "CAST(((xor((t.t * pa.np + p) * CAST(73856093 AS BIGINT), "
        "(i - 1) * CAST(19349663 AS BIGINT))) % 13) - 6 "
        "AS DOUBLE))), (acc, v) -> acc + v)"
    )
    bucket = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(0, pa.np), p -> "
        f"CASE WHEN {plane_dot} > 0 "
        "THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)), "
        "(acc, v) -> acc + v)"
    )
    return f"""
    WITH {_duck_unit_cte()},
    pa AS (
      SELECT CAST(GREATEST(CAST(4 AS BIGINT),
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(0, 63), p ->
            CASE WHEN ((qv - 1) >> p) > 0
                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, v) -> acc + v)) AS INTEGER) AS np
      FROM (SELECT GREATEST(CAST(2 AS BIGINT),
              (COUNT(*) + {target_bucket_size - 1}) // {target_bucket_size}
            ) AS qv FROM embeddings) q
    ),
    banded AS (
      SELECT e.vec_id, t.t AS table_id, {bucket} AS bucket
      FROM embeddings e
      CROSS JOIN pa
      CROSS JOIN (SELECT unnest(range(0, {n_tables})) AS t) t
    ),
    -- capacity refinement: occupancy c > target splits its bucket
    -- with R = min(16, bit_length(ceil_div(c, target) - 1)) reserved
    -- planes — the identical pure-integer formula the operator runs.
    heavy AS (
      SELECT table_id, bucket,
        LEAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(0, 63), pp ->
            CASE WHEN ((((c + {target_bucket_size - 1})
                         // {target_bucket_size}) - 1) >> pp) > 0
                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, v) -> acc + v), CAST(16 AS BIGINT)) AS rbits
      FROM (
        SELECT table_id, bucket, COUNT(*) AS c
        FROM banded GROUP BY table_id, bucket
      ) WHERE c > {target_bucket_size}
    ),
    refined AS (
      SELECT b.vec_id, b.table_id, b.bucket,
        CASE WHEN h.rbits IS NULL THEN CAST(0 AS BIGINT)
        ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(0, CAST(h.rbits AS INTEGER)), rr ->
            CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(1, 65), i ->
                CAST(e.embedding[i] AS DOUBLE) *
                CAST(((xor(({n_tables} * pa.np + b.table_id * 16 + rr)
                           * CAST(73856093 AS BIGINT),
                           (i - 1) * CAST(19349663 AS BIGINT))) % 13) - 6
                     AS DOUBLE))), (acc, v) -> acc + v) > 0
            THEN (CAST(1 AS BIGINT) << rr) ELSE CAST(0 AS BIGINT) END)),
          (acc, v) -> acc + v) END AS extra
      FROM banded b
      LEFT JOIN heavy h
        ON b.table_id = h.table_id AND b.bucket = h.bucket
      JOIN embeddings e ON e.vec_id = b.vec_id
      CROSS JOIN pa
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
      FROM refined x
      JOIN refined y ON x.table_id = y.table_id AND x.bucket = y.bucket
       AND x.extra = y.extra AND x.vec_id < y.vec_id
    )
    SELECT id_a, id_b, {_duck_dot('ea.uv', 'eb.uv')} AS cos_sim
    FROM cand
    JOIN unitv ea ON ea.vec_id = cand.id_a
    JOIN unitv eb ON eb.vec_id = cand.id_b
    WHERE {_duck_dot('ea.uv', 'eb.uv')} >= {threshold}
    """


@register(
    "dedup_embedding_cosine",
    _duck_embedding_pairs_sql(),
    doc="Embedding-cosine near-dup pairs (semantic dedup): 8-table "
    "AUTO-plane LSH blocks the pair space (planes = max(4, "
    "bit_length(ceil_div(n,64)-1)), a pure-integer ceil-log2, holds "
    "expected bucket occupancy ~constant, so "
    "candidate volume stays LINEAR in n — the round-7 sf10 spot "
    "sweep caught the previous fixed-4-plane version going "
    "quadratic: 16 buckets at any corpus size means within-bucket "
    "pairs grow n²), exact double-fold cosine >= 0.4 verifies — "
    "equi-joins only, no cross product; recall vs the exhaustive "
    "pair scan asserted in tests.  The oracle computes the SAME "
    "plane count in SQL from the same count, so the dynamic choice "
    "is itself oracle-gated.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        e, dim=64, threshold=0.4, n_planes="auto", target_bucket_size=64
    )


@register(
    "dedup_levenshtein_pairs",
    """
    WITH r AS (
      SELECT c_custkey, c_nationkey, c_name,
        row_number() OVER (
          PARTITION BY c_nationkey ORDER BY c_name, c_custkey
        ) AS rn
      FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM r a JOIN r b
      ON a.c_nationkey = b.c_nationkey AND b.rn - a.rn BETWEEN 1 AND 20
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
    doc="Fuzzy-match dedup via edit distance over SORTED-NEIGHBORHOOD "
    "blocking: customers are ranked within their nation block by "
    "name (name-similar records land adjacent in the sort), and "
    "only pairs within rank distance W=20 run the levenshtein DP — "
    "an O(n*W) pair budget that holds at any table size.  The "
    "previous constant-fraction sample (% 10) still grew ~n^2/250 "
    "because nation has FIXED cardinality (25); the sf1 sweep "
    "measured it 28x at 10x data, which is why it was replaced.  "
    "Spark side uses a banded equi-join — bucket = (rn-1) DIV W, "
    "probe exploded to {bkt, bkt+1} — so the join compares O(n*W) "
    "candidates, never a lang-wide hash-join filter.  The full "
    "production fuzzy-linkage path (discriminating blocks + loud "
    "max_block_nodes guard) is er_blocked_pairs (queries/entity.py).",
)
def dedup_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = 20
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_name"
    )
    # nation is FIXED 25-cardinality — rank via two_phase_rank, never
    # a per-nation window sorting n/25 rows in one task.
    r = two_phase_rank(
        c, ["c_nationkey"], [F.col("c_name"), F.col("c_custkey")], out="rn"
    ).withColumn("bkt", F.expr(f"(rn - 1) DIV {W}"))
    a = r.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_nationkey").alias("nk_a"),
        F.col("c_name").alias("name_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("pbkt"),
    )
    b = r.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_nationkey").alias("nk_b"),
        F.col("c_name").alias("name_b"),
        F.col("rn").alias("rn_b"),
        F.col("bkt").alias("bkt_b"),
    )
    return (
        a.join(
            b,
            (F.col("nk_a") == F.col("nk_b"))
            & (F.col("pbkt") == F.col("bkt_b")),
        )
        .where((F.col("rn_b") - F.col("rn_a")).between(1, W))
        .withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b").cast("long"),
        )
        .where(F.col("edit_dist") <= 2)
        .select("id_a", "id_b", "edit_dist")
    )


@register(
    "dedup_incremental_vs_corpus",
    f"""
    WITH {_duck_minhash_ctes(
        0.8,
        pair_pred="a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0",
    )}
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id % 10 = 0
      AND doc_id NOT IN (SELECT id_a FROM verified)
    """,
    doc="Incremental dedup — the production shape: new documents "
    "(doc_id % 10 = 0 stands in for today's increment) are probed "
    "against the existing corpus's LSH band index and survive only "
    "with no verified near-dup (Jaccard >= 0.8).  Per-run cost is "
    "O(increment): the increment's bands broadcast into the index "
    "probe, verification touches candidate pairs only, and the "
    "final anti-join carries 8-byte ids.  The corpus band table is "
    "the write-once artifact a daily pipeline persists (bucketed by "
    "band_hash) instead of ever re-deduping 100 TB.",
)
def dedup_incremental_vs_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.dedup import (
        incremental_near_dup_filter,
    )

    d = load_table(spark, sf_dir, "documents")
    new = d.where(F.col("doc_id") % 10 == 0)
    corpus = d.where(F.col("doc_id") % 10 != 0)
    return incremental_near_dup_filter(
        new, corpus, id_col="doc_id", text_col="text", k=3, threshold=0.8
    ).select("doc_id", "n_chars")


@register(
    "dedup_semantic_not_lexical",
    f"""
    WITH pairs AS ({_duck_embedding_pairs_sql()})
    SELECT p.id_a, p.id_b, p.cos_sim,
           CAST(levenshtein(
             substr(da.text, 1, 40), substr(db.text, 1, 40)
           ) AS BIGINT) AS prefix_edit_dist
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    WHERE regexp_replace(lower(da.text), '\\s+', ' ', 'g')
       <> regexp_replace(lower(db.text), '\\s+', ' ', 'g')
    """,
    doc="Cross-table curation analysis: embedding near-dup pairs "
    "(LSH-blocked, exact-cosine verified) whose documents are NOT "
    "lexical duplicates after whitespace/case normalization — the "
    "'paraphrase duplicate' population that lexical dedup "
    "(exact/MinHash) misses and only semantic dedup catches, with a "
    "bounded-prefix edit distance as evidence.  The pair output is "
    "persist_reused BEFORE the doc joins: its lineage would "
    "otherwise feed two broadcast subtrees that evaluate EAGERLY in "
    "parallel driver threads, re-running the whole LSH pipeline per "
    "branch (the concurrent-branch trap persist_reused documents; "
    "the r8 sf10 sweep measured this composition at 22.0x while the "
    "standalone pipeline is 13.6x).  Documents are then restricted "
    "by a broadcast semi-join on the surviving pair ids before any "
    "normalization, so the regex/levenshtein run on pair members "
    "only, never corpus-wide.",
)
def dedup_semantic_not_lexical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hana_bq_beam_connector_spark.operators._common import persist_reused
    from hana_bq_beam_connector_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings")
    pairs = persist_reused(
        embedding_near_dup_pairs(
            e, dim=64, threshold=0.4, n_planes="auto",
            target_bucket_size=64,
        )
    )
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")

    def _side(tag: str) -> DataFrame:
        ids = pairs.select(F.col(f"id_{tag}").alias("doc_id")).distinct()
        survivors = d.join(F.broadcast(ids), "doc_id", "left_semi")
        # normalization sits ABOVE the semi-join: pair members only
        return survivors.select(
            F.col("doc_id").alias(f"id_{tag}"),
            norm.alias(f"norm_{tag}"),
            F.substring("text", 1, 40).alias(f"pre_{tag}"),
        )

    return (
        pairs.join(_side("a"), "id_a")
        .join(_side("b"), "id_b")
        .where(F.col("norm_a") != F.col("norm_b"))
        .select(
            "id_a",
            "id_b",
            "cos_sim",
            F.levenshtein("pre_a", "pre_b")
            .cast("long")
            .alias("prefix_edit_dist"),
        )
    )


@register(
    "dedup_substring_spans",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 5
    ),
    whs AS (
      SELECT doc_id, list_transform(w, x -> {duck_polyhash('x')}) AS wh
      FROM toks
    ),
    spans AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(wh) - 3),
               i -> {duck_shingle_hash_chain('wh', 'i', 5)})) AS span_hash
      FROM whs
    )
    SELECT span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS keeper_id
    FROM spans
    GROUP BY span_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc="Exact repeated-span detection (substring-level dedup signal, "
    "Lee et al. 2022 shape): every 5-word span occurrence hashed with "
    "the shared integer rolling hash, aggregated globally; spans in "
    "≥2 distinct docs survive.  Only 8-byte (hash, id) pairs reach "
    "the exchange, with map-side partial agg — corpus text never "
    "shuffles.",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.dedup import (
        repeated_span_stats,
    )

    d = load_table(spark, sf_dir, "documents")
    return repeated_span_stats(d, id_col="doc_id", text_col="text", k=5)


@register(
    "dedup_containment_pairs",
    """
    WITH s AS (
      SELECT doc_id, lang,
        list_distinct(
          CASE WHEN len(string_split(text, ' ')) < 3 THEN []
          ELSE list_transform(
            range(1, len(string_split(text, ' ')) - 1),
            i -> array_to_string(
              list_slice(string_split(text, ' '), i, i + 2), ' '))
          END) AS gs
      FROM documents
    )
    , r AS (
      SELECT doc_id, lang, gs,
        row_number() OVER (
          PARTITION BY lang
          ORDER BY array_to_string(list_sort(gs), '|'), doc_id
        ) AS rn
      FROM s
      WHERE len(gs) > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / CAST(len(a.gs) AS DOUBLE) AS containment
    FROM r a JOIN r b
      ON a.lang = b.lang AND abs(b.rn - a.rn) BETWEEN 1 AND 10
    WHERE CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
        / CAST(len(a.gs) AS DOUBLE) >= 0.04
    """,
    doc="Asymmetric containment near-dup (quote / subset detection): "
    "containment(A in B) = |3-grams(A) ∩ 3-grams(B)| / |3-grams(A)| — "
    "unlike Jaccard it flags a short document embedded in a long one, "
    "the shape LLM corpus curation needs for boilerplate and quoted "
    "reposts.  Pair space is SORTED-NEIGHBORHOOD: docs ranked within "
    "their lang block by the sorted 3-gram string, pairs limited to "
    "rank distance W=10 in BOTH directions (asymmetric — (A,B) and "
    "(B,A) are distinct rows) — O(n*W) pairs at any corpus size, "
    "replacing the %10 probe sample the sf1 sweep measured at 26x "
    "for 10x data.  Spark side bands the join (bucket = (rn-1) DIV "
    "W, probe exploded to {bkt-1, bkt, bkt+1}) so the join itself "
    "is an equi-join on (lang, bucket) touching O(n*W) candidates.  "
    "The scale path for full-recall containment replaces the "
    "neighborhood with MinHash band buckets, unchanged math.  The "
    "0.04 bar is tuned to this synthetic corpus's overlap "
    "distribution so the result is non-vacuous at every test SF.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators.text import word_ngrams

    W = 10
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.split("text", " ").alias("w"))
        .select(
            "doc_id", "lang", F.array_distinct(word_ngrams("w", 3)).alias("gs")
        )
        .where(F.size("gs") > 0)
    )
    # Two-phase rank — same constant-cardinality-lang reasoning as
    # dedup_ngram_jaccard_sample above.
    keyed = d.withColumn("__key", F.array_join(F.array_sort("gs"), "|"))
    # Bounded range-key prefix — same driver-memory/cache reasoning
    # as dedup_ngram_jaccard_sample above (range_cols contract).
    r = two_phase_rank(
        keyed,
        ["lang"],
        [F.col("__key"), F.col("doc_id")],
        out="rn",
        range_cols=[F.substring("__key", 1, 128)],
    ).drop("__key").withColumn("bkt", F.expr(f"(rn - 1) DIV {W}"))
    a = r.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("gs").alias("gs_a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)
        ).alias("pbkt"),
    )
    b = r.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("gs").alias("gs_b"),
        F.col("rn").alias("rn_b"),
        F.col("bkt").alias("bkt_b"),
    )
    cont = F.expr("size(array_intersect(gs_a, gs_b))").cast("double") / F.size(
        "gs_a"
    ).cast("double")
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("pbkt") == F.col("bkt_b")),
        )
        .where(F.abs(F.col("rn_b") - F.col("rn_a")).between(1, W))
        .withColumn("containment", cont)
        .where(F.col("containment") >= 0.04)
        .select("id_a", "id_b", "containment")
    )


@register(
    "dedup_threshold_histogram",
    f"""
    WITH {_duck_minhash_ctes(0.0)}
    SELECT CAST(LEAST(FLOOR(jaccard * 20), 19) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM verified GROUP BY bucket
    """,
    doc="Dedup threshold tuning: the Jaccard histogram of ALL LSH "
    "candidate pairs (threshold 0, 0.05-wide buckets) — the artifact "
    "that tells you where to set the near-dup cutoff before deleting "
    "half a corpus.  Same linear candidate generation as the pair "
    "query (never O(n²)); the bucket floor is evaluated on "
    "bit-identical doubles, so the histogram matches exactly.  One "
    "extra tiny shuffle over the pair query (bucket partial "
    "aggregation).",
)
def dedup_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, id_col="doc_id", text_col="text", k=3, threshold=0.0
    )
    bucket = F.least(F.floor(F.col("jaccard") * 20), F.lit(19)).cast("long")
    return pairs.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@register(
    "dedup_lsh_recall_report",
    f"""
    WITH {_duck_minhash_ctes()},
    dl AS (SELECT doc_id, lang FROM documents),
    ks AS (
      SELECT GREATEST(CAST(10 AS BIGINT), (COUNT(*) + 1999) // 2000) AS k
      FROM documents
    ),
    bs AS (
      SELECT GREATEST(CAST(1 AS BIGINT), (COUNT(*) + 19999) // 20000) AS b
      FROM documents
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM xs a
      JOIN xs b ON a.doc_id < b.doc_id
      JOIN dl la ON la.doc_id = a.doc_id
      JOIN dl lb ON lb.doc_id = b.doc_id AND la.lang = lb.lang
      CROSS JOIN ks
      CROSS JOIN bs
      WHERE a.doc_id % ks.k = 0
        AND b.doc_id % bs.b = bs.b - 1
        AND CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(a.hashes, b.hashes)))
                 AS DOUBLE) >= 0.8
    ),
    lsh AS (
      SELECT v.id_a, v.id_b
      FROM verified v
      JOIN dl la ON la.doc_id = v.id_a
      JOIN dl lb ON lb.doc_id = v.id_b AND la.lang = lb.lang
      CROSS JOIN ks
      CROSS JOIN bs
      WHERE v.id_a % ks.k = 0
        AND v.id_b % bs.b = bs.b - 1
    ),
    merged AS (
      SELECT CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_truth,
             CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh
      FROM truth t
      FULL OUTER JOIN lsh l ON t.id_a = l.id_a AND t.id_b = l.id_b
    )
    SELECT CAST(SUM(in_truth) AS BIGINT) AS n_truth,
           CAST(SUM(in_lsh) AS BIGINT) AS n_lsh,
           CAST(SUM(in_truth * in_lsh) AS BIGINT) AS n_hit,
           CASE WHEN SUM(in_truth) = 0 THEN NULL
                ELSE CAST(CAST(SUM(in_truth * in_lsh) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(SUM(in_truth) AS BIGINT) AS DOUBLE)
           END AS recall
    FROM merged
    """,
    doc="MinHash-LSH recall audit (the dedup twin of "
    "sim_ann_recall_report): ground truth is exact shingle-set "
    "Jaccard >= 0.8 on a deterministic FIXED-SIZE left-sample "
    "(doc_id % K == 0 with K = max(10, ceil(n/2000)) — ~2000 sampled "
    "queries at any corpus size; the r8 sweep measured the 5000-doc "
    "panel at 575s/25x at sf10 — the audit's value is the recall "
    "ESTIMATE, and 2000 panelists bound its work at any corpus) "
    "blocked by lang, against a ~20000-doc modulo block sample "
    "(doc_id % B == B-1 with B = max(1, ceil(n/20000)); B = 1 — no "
    "cap — at driver/bench SFs), so truth work is O(panel x "
    "block_sample) by construction; candidates use the SAME "
    "banding as the production pipeline but as an asymmetric probe "
    "— panel bands join block-sample bands (collision depends only "
    "on each doc's own signature, so the pair set equals the "
    "filtered corpus-wide self-join) — and shingling/signatures/"
    "banding run on panel ∪ block only, making the WHOLE audit "
    "O(panel + block) at any corpus.  The hit/truth ratio over one "
    "shared sampled universe is an "
    "unbiased recall estimate needing no correction factor.  The "
    "adaptive divisor is the round-7 fix for the second quadratic "
    "the sf10 spot sweep exposed: a CONSTANT-FRACTION sample against "
    "a fixed-cardinality lang block is still Θ(n²) pair work (the "
    "sf1 ratio 7.39 slid under the 12x bar; sf10 hung).  K is "
    "computed from the same COUNT(*) by both engines, so the "
    "data-dependent sample is itself oracle-gated — and unchanged at "
    "the driver/bench SFs (n ≤ 20k keeps K = 10).  Full-outer merge "
    "-> one-row report (truth/candidate/hit counts + recall as one "
    "IEEE division).  This measures exactly what banding loses — "
    "with 16 hashes / 4 bands, expected recall at j=0.8 is ~0.93; a "
    "regression here means the banding parameters drifted.",
)
def dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hana_bq_beam_connector_spark.operators._common import persist_reused
    from hana_bq_beam_connector_spark.operators.dedup import (
        band_table,
        minhash_signature,
    )

    d = load_table(spark, sf_dir, "documents")
    # Fixed-SIZE truth sample: the divisor scales with the corpus so
    # the brute-force truth side stays ~2000 queries x same-lang
    # block — linear in n — instead of a constant fraction against a
    # fixed-cardinality block (Θ(n²), the sf10 hang).  Same
    # pure-integer ceil-div the oracle evaluates from the same count
    # (r8: no float division in a sample-gating path).
    n_docs = d.count()
    k_div = max(10, -(-n_docs // 2000))
    # Block-side cap (round 9): the r8 fixes bounded the PANEL at
    # ~2000 docs and salted the lang join, but the truth side still
    # compared each panelist against its ENTIRE same-lang block —
    # linear in n, yet 2000 x n/5 full-array Jaccards measured 27.9x
    # wall at 10x data.  The block side now takes a deterministic
    # 1/b_div modulo sample sized to ~20000 docs at any corpus, so
    # the audit is O(panel x block_sample) BY CONSTRUCTION.  The
    # recall estimator needs no correction: truth and candidate
    # sides are restricted to the SAME sampled universe, so the
    # hit/truth ratio is an unbiased estimate of pairwise recall.
    # b_div = 1 at n <= 20000 — driver/bench SFs are byte-identical
    # to the uncapped audit.  Same pure-integer ceil-div the oracle
    # evaluates from the same COUNT(*).
    b_div = max(1, -(-n_docs // 20000))
    # The audit only ever touches PANEL ∪ BLOCK docs (truth compares
    # panel x block; the candidate side is restricted to the same
    # universe), so shingling, signatures and banding run on that
    # union — O(panel + block) total work regardless of corpus size;
    # a panel/block doc's shingles, signature and band hashes depend
    # only on its own text, so every value is identical to the
    # full-corpus computation.  ONE shingle pass feeds the exact
    # truth AND the LSH side (pinned: both sides re-read it).
    in_panel = F.col("doc_id") % k_div == 0
    in_block = F.col("doc_id") % b_div == b_div - 1
    universe = d.where(in_panel | in_block)
    hashed = persist_reused(
        shingle_hashes(
            universe.select("doc_id", "lang", "text"), "text", 3
        ).select("doc_id", "lang", "shingle_hashes")
    )

    # The truth join MUST NOT key on lang alone: lang has FIVE values
    # at any scale, so a plain equi-join lands each lang's whole
    # (panel x block) comparison — shingle arrays included — on ONE
    # reducer task (the round-8 sf10 sweep sat 26+ minutes on a
    # single 100%-CPU straggler exactly here).  Deterministic salt:
    # the block side takes s = xxhash64(id) % 32, the panel side
    # replicates to all 32 salts — same pair set, same Jaccards,
    # 5x32 balanced tasks instead of 5.
    _SALT = 32
    a = hashed.where(F.col("doc_id") % k_div == 0).select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("shingle_hashes").alias("sh_a"),
        F.explode(
            F.array(*[F.lit(s) for s in range(_SALT)])
        ).alias("salt_a"),
    )
    b = hashed.where(F.col("doc_id") % b_div == b_div - 1).select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("shingle_hashes").alias("sh_b"),
        F.pmod(F.xxhash64("doc_id"), F.lit(_SALT)).alias("salt_b"),
    )
    truth = (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("salt_a") == F.col("salt_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .where(jaccard_ge("sh_a", "sh_b", 0.8))
        .select("id_a", "id_b")
    )

    # Asymmetric candidate join (round 9): the audit consumes only
    # candidate pairs whose smaller id is a PANELIST and larger id is
    # a BLOCK member, and band-bucket collision depends only on each
    # doc's own signature — so instead of the corpus-wide bucket
    # self-join followed by a filter, the panel's bands probe the
    # block sample's bands directly (the incremental_near_dup_filter
    # probe shape).  Identical pair set, O(panel x block collisions)
    # join work.
    sig = minhash_signature(hashed)
    banded = persist_reused(band_table(sig, "doc_id"))
    ba = banded.where(F.col("doc_id") % k_div == 0).select(
        F.col("doc_id").alias("id_a"), "band_idx", "band_hash"
    )
    bb = banded.where(F.col("doc_id") % b_div == b_div - 1).select(
        F.col("doc_id").alias("id_b"), "band_idx", "band_hash"
    )
    cands = (
        ba.join(bb, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # The verify rejoin needs the shingle sets anyway; carrying lang on
    # the same rows gives the same-lang restriction for free instead
    # of two extra joins against the documents table.
    sets_a = hashed.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("la"),
        F.col("shingle_hashes").alias("sh_a"),
    )
    sets_b = hashed.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lb"),
        F.col("shingle_hashes").alias("sh_b"),
    )
    lsh = (
        cands.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .where(
            (F.col("la") == F.col("lb"))
            & jaccard_ge("sh_a", "sh_b", 0.8)
        )
        .select("id_a", "id_b")
    )

    merged = truth.withColumn("in_truth", F.lit(1)).join(
        lsh.withColumn("in_lsh", F.lit(1)),
        ["id_a", "id_b"],
        "full_outer",
    ).select(
        F.coalesce(F.col("in_truth"), F.lit(0)).alias("in_truth"),
        F.coalesce(F.col("in_lsh"), F.lit(0)).alias("in_lsh"),
    )
    n_truth = F.sum("in_truth").cast("bigint")
    n_hit = F.sum(F.col("in_truth") * F.col("in_lsh")).cast("bigint")
    return merged.agg(
        n_truth.alias("n_truth"),
        F.sum("in_lsh").cast("bigint").alias("n_lsh"),
        n_hit.alias("n_hit"),
        F.when(n_truth == 0, F.lit(None).cast("double"))
        .otherwise(n_hit.cast("double") / n_truth.cast("double"))
        .alias("recall"),
    )


@register(
    "dedup_cluster_survivor_policy",
    None,  # oracle attached below (needs the curation model CTE)
    doc="Quality-aware survivorship: near-dup clusters keep the "
    "HIGHEST-quality member (classifier score from "
    "curation_model_score), not the arbitrary min-id — the policy "
    "real corpus dedup ships, where the best-written duplicate "
    "survives.  Composition of three existing stages (MinHash-LSH "
    "pairs -> min-label clusters -> broadcast-scored window rank), "
    "each already scale-audited; the survivor window partitions on "
    "cluster_id over member-granularity rows.  Ties break on doc_id "
    "so the choice is deterministic.",
)
def dedup_cluster_survivor_policy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from hana_bq_beam_connector_spark.queries.curation import _model_scored

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        d, id_col="doc_id", text_col="text", k=3, threshold=0.8
    )
    labels = near_dup_clusters(pairs, id_a="id_a", id_b="id_b")
    scored = _model_scored(spark, sf_dir).select("doc_id", "score")
    members = labels.join(
        scored, labels.node == scored.doc_id, "inner"
    ).select(
        F.col("label").alias("cluster_id"),
        F.col("node").alias("member_id"),
        "score",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("member_id").asc()
    )
    w_all = Window.partitionBy("cluster_id")
    ranked = members.select(
        "cluster_id",
        "member_id",
        "score",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_members"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "cluster_id",
        F.col("member_id").alias("survivor_doc_id"),
        F.col("score").alias("survivor_score"),
        "n_members",
    )


def _attach_survivor_oracle() -> None:
    """The survivor oracle splices the curation model CTE into the
    MinHash recursive-CTE chain; attached post-definition to keep the
    cross-module import out of module top-level."""
    from hana_bq_beam_connector_spark.queries import _REGISTRY, QuerySpec
    from hana_bq_beam_connector_spark.queries.curation import (
        _DUCK_MODEL_CTE,
    )

    sql = f"""
    WITH RECURSIVE {_duck_minhash_ctes()},
    {_DUCK_MODEL_CTE},
    e2 AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    nodes AS (SELECT DISTINCT src AS node FROM e2),
    walk(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e2.dst, walk.label FROM walk JOIN e2 ON e2.src = walk.node
    ),
    members AS (
      SELECT w.node AS member_id, MIN(w.label) AS cluster_id, s.score
      FROM walk w JOIN scored s ON s.doc_id = w.node
      GROUP BY w.node, s.score
    ),
    ranked AS (
      SELECT cluster_id, member_id, score,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY score DESC, member_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM members
    )
    SELECT cluster_id, member_id AS survivor_doc_id,
           score AS survivor_score,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """
    spec = _REGISTRY["dedup_cluster_survivor_policy"]
    _REGISTRY["dedup_cluster_survivor_policy"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=sql, doc=spec.doc
    )


_attach_survivor_oracle()
