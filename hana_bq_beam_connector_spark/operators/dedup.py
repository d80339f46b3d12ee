"""Deduplication operators (LLM-data pipeline surface).

Exact, key-based, MinHash-LSH near-dup, and SimHash — the standard
toolbox for training-data dedup at 100 TB:

* exact dedup: one hash shuffle on the dup key (``dropDuplicates``);
* keep-first-by-key: rank-and-filter, deterministic tie-break;
* MinHash-LSH: shingle → 16 affine min-hashes → 4 LSH bands →
  candidate pairs via band-bucket self-join → exact Jaccard verify.
  Cost is O(n · shingles) + O(candidate pairs); the full O(n²) pair
  space is never materialized, which is the only shape that works on
  10^9+ documents.  All hashing is whole-stage-codegen'd SQL
  expressions (functions/hashing.py) — zero Python in the hot path;
* SimHash: 32-bit sign-aggregated fingerprint, hamming distance via
  bit_count(xor) for near-dup pairing.

The reference implements none of this (SURVEY §2b); capability target
comes from the driver's north star (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hana_bq_beam_connector_spark.functions.hashing import (
    MINHASH_COEFFS,
    PRIME,
    band_exprs,
    spark_polyhash,
    spark_shingle_hash_chain,
)
from hana_bq_beam_connector_spark.operators._common import (
    persist_reused as _persist,
)
from hana_bq_beam_connector_spark.operators._common import (
    plan_reset as _plan_reset,
)
from hana_bq_beam_connector_spark.operators._common import spread

SIMHASH_BITS = 32


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact deduplication: hash shuffle on the dup columns, first row
    per group wins (non-deterministic which; use keep_first_by_key for
    a deterministic survivor)."""
    return df.dropDuplicates(cols)


def _is_sort_order(c: Column) -> bool:
    """True if ``c`` wraps a SortOrder (``.asc()``/``.desc()``) rather
    than a value expression.  Inspects the underlying expression class
    — the JVM expression on classic pyspark, the typed client-side
    expression on Spark Connect — and only falls back to the
    repr-substring heuristic when neither is introspectable (ADVICE
    r9: the bare heuristic is coupled to repr format and can
    false-positive on an alias containing the substring)."""
    jc = getattr(c, "_jc", None)
    if jc is not None:
        for accessor in ("node", "expr"):  # Spark 4 / Spark 3 names
            try:
                node = getattr(jc, accessor)()
                # Unwrap Alias wrappers: .asc().alias('y') is
                # Alias(SortOrder) and must still be rejected (review
                # r10 — the guard otherwise passes and the job dies
                # later with an opaque INTERNAL_ERROR), while a value
                # expression under a hostile alias unwraps to a
                # non-SortOrder and is correctly accepted.
                for _ in range(8):
                    if node.getClass().getSimpleName() != "Alias":
                        break
                    node = node.child()
                return node.getClass().getSimpleName() == "SortOrder"
            except Exception:
                continue
    expr = getattr(c, "_expr", None)
    if expr is not None and type(expr).__module__.startswith(
        "pyspark.sql.connect"
    ):
        # Spark Connect typed client-side expression: same unwrap,
        # and TRUST the typed answer — falling through to the repr
        # heuristic here would reintroduce the alias-text false
        # positive on Connect (review r10).  Connect's alias class is
        # named ColumnAlias (child in ``_child``), not Alias (ADVICE
        # r10 — matching only "Alias" skipped the unwrap and let
        # col.asc().alias('y') through the guard).
        node = expr
        for _ in range(8):
            if type(node).__name__ not in ("Alias", "ColumnAlias"):
                break
            child = getattr(node, "_child", None) or getattr(
                node, "child", None
            )
            if child is None or child is node:
                break
            node = child
        return type(node).__name__ == "SortOrder"
    r = repr(c)
    return " ASC NULLS" in r or " DESC NULLS" in r


def keep_first_by_key(
    df: DataFrame, key: list[str], order: list[Column]
) -> DataFrame:
    """Deterministic survivor per key, as an ARGMIN aggregate.

    Keep-first is argmin, not ranking: ``min_by(struct(other cols),
    struct(order))`` folds with a partial map-side combine and never
    sorts a group, so it scales identically whether the key has two
    values or two billion — the previous rank-and-filter window
    sorted n/|keys| rows in one task per key, which for constant-
    cardinality keys like (lang, source) is the few-huge-groups
    regime the round-8 sweep measured at 164s/60M rows on the
    weighted median.  Output rows and schema are identical to the
    window spelling.

    ``order`` must be plain ascending, non-null column expressions
    forming a total order per key (struct comparison is lexicographic,
    ascending only; a SortOrder from ``.asc()/.desc()`` is not an
    expression and cannot ride a struct — negate numerics to
    descend).  Ties would make the survivor arbitrary in BOTH
    spellings, so callers already pass a unique tiebreak.
    """
    for c in order:
        # .asc()/.desc() wrap a SortOrder, which is not a value
        # expression: inside struct() it only fails deep in analysis
        # with an opaque error.  Fail loudly here instead.
        if _is_sort_order(c):
            raise ValueError(
                "keep_first_by_key order must be plain ascending "
                "value expressions (argmin over a struct); got a "
                f"SortOrder {c!r} — negate numerics / flip strings "
                "to descend, see docstring"
            )
    others = [c for c in df.columns if c not in set(key)]
    picked = df.groupBy(*key).agg(
        F.min_by(F.struct(*others), F.struct(*order)).alias("__first")
    )
    return picked.select(
        *[
            F.col(c) if c in set(key) else F.col(f"__first.{c}").alias(c)
            for c in df.columns
        ]
    )


def shingle_hashes(
    df: DataFrame, text_col: str, k: int = 3, out: str = "shingle_hashes"
) -> DataFrame:
    """Distinct word-k-shingle hashes of ``text_col`` as BIGINT.

    Each word is character-hashed exactly once, then shingle hashes
    compose the k word hashes with a second polynomial
    (functions/hashing.spark_shingle_hash_chain) — O(chars + words·k)
    integer ops per document, no per-shingle string materialization.
    Documents with fewer than k tokens are dropped (no shingles to
    compare).  Pure SQL expressions, no Python in the hot path."""
    words = f"split({text_col}, ' ')"
    word_hashes = f"transform({words}, w -> {spark_polyhash('w')})"
    chain = spark_shingle_hash_chain("__wh", "i", k)
    shingles = (
        f"array_distinct(transform("
        f"sequence(1, size(__wh) - {k - 1}), i -> {chain}))"
    )
    return (
        spread(df)
        .where(F.expr(f"size({words}) >= {k}"))
        .withColumn("__wh", F.expr(word_hashes))
        .withColumn(out, F.expr(shingles))
        .drop("__wh")
    )


def repeated_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated k-word spans — the exact-substring-dedup
    signal (find the boilerplate/templates duplicated across a corpus,
    then cut those *spans*, not whole documents).

    Unlike :func:`shingle_hashes` (distinct per-doc set, MinHash
    input), every span OCCURRENCE counts here: a span repeated inside
    one document still inflates ``n_occurrences`` (licence headers
    pasted twice), while ``n_docs`` counts distinct documents.  Output
    is one row per span hash seen in ≥ ``min_docs`` documents, with a
    deterministic keeper (min id).

    Scale shape: per-doc work is O(chars + words·k) codegen'd integer
    ops; only (8-byte hash, id) pairs enter the exchange, with
    map-side partial aggregation — the corpus text itself is never
    shuffled.  This is the hash-bucketed approximation of suffix-array
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): collisions at 1e-9 hash density
    are tolerable because downstream span-cut verifies the text.
    """
    words = f"split({text_col}, ' ')"
    word_hashes = f"transform({words}, w -> {spark_polyhash('w')})"
    chain = spark_shingle_hash_chain("__wh", "i", k)
    spans = f"transform(sequence(1, size(__wh) - {k - 1}), i -> {chain})"
    exploded = (
        spread(df.select(id_col, text_col))
        .where(F.expr(f"size({words}) >= {k}"))
        .withColumn("__wh", F.expr(word_hashes))
        .select(id_col, F.explode(F.expr(spans)).alias("span_hash"))
    )
    return (
        exploded.groupBy("span_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("keeper_id"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def minhash_signature(
    df: DataFrame, hashes_col: str = "shingle_hashes", n: int = 16
) -> DataFrame:
    """Append ``n`` MinHash columns mh0..mh{n-1} (affine permutations
    of the shingle hashes, functions/hashing.MINHASH_COEFFS).

    Spelled as ONE ``aggregate`` pass folding ``least`` per
    permutation (r11): the former ``array_min(transform(...))`` made
    two interpreted passes per permutation — one materializing the
    permuted array, one scanning it for the min — so each document
    paid 2·n·|shingles| lambda steps plus n throwaway array
    allocations.  The fold keeps the identical values (min over the
    same permuted hashes; shingle hashes are < PRIME ≈ 1e9 and
    a < PRIME, so a·x + b < 1.1e18 never wraps int64) and the size
    guard reproduces ``array_min``'s NULL on an empty array exactly
    (callers feed shingle_hashes output, which is non-empty by its
    size >= k filter — the guard is one cheap per-row check, not a
    per-element one).  Microbench at 100 hashes/doc: 1.3×,
    ``exceptAll`` both ways empty."""
    out = df
    imax = (1 << 63) - 1
    for i in range(n):
        a, b = MINHASH_COEFFS[i]
        out = out.withColumn(
            f"mh{i}",
            F.expr(
                f"IF(size({hashes_col}) = 0, cast(null as bigint), "
                f"aggregate({hashes_col}, cast({imax} as bigint), "
                f"(acc, x) -> least(acc, ({a} * x + {b}) % {PRIME})))"
            ),
        )
    return out


def band_table(
    sig: DataFrame, id_col: str, n_bands: int = 4, n_sig: int = 16
) -> DataFrame:
    """(id, band_idx, band_hash) rows — the LSH index shape.  In a
    production incremental pipeline this is the frame you persist as
    the corpus dedup index (bucketed by band_hash) and probe with
    each new increment."""
    bands = band_exprs([f"mh{i}" for i in range(n_sig)], n_bands)
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.expr(b).alias("band_hash"),
                    )
                    for i, b in enumerate(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, n_bands: int = 4, n_sig: int = 16
) -> DataFrame:
    """Candidate pairs from LSH banding: docs sharing any band bucket.

    Two MinHash-identical-in-one-band docs land in the same bucket;
    the self-join runs per (band_idx, band_hash) bucket — tiny groups,
    never the global cross product.  Output: (id_a, id_b), id_a < id_b.
    """
    # Both sides of the self-join read this frame; without persist the
    # whole shingle+signature lineage recomputes once per side.
    banded = _persist(band_table(sig, id_col, n_bands, n_sig))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard(col_a: str, col_b: str) -> Column:
    """Exact Jaccard over two distinct-element array columns.

    ``|A ∪ B|`` is computed arithmetically as ``|A| + |B| - |A ∩ B|``
    (exact integers for distinct arrays), so each pair pays ONE
    hash-set pass (``array_intersect``) instead of two (guide §1.2:
    cheapen the per-task work).  The division is over the same two
    exact integers as the ``array_union`` spelling — bit-identical
    result.  The intersection size is bound once via the
    single-element-transform let idiom so the optimizer cannot
    duplicate the expensive subtree."""
    return F.expr(
        f"element_at(transform("
        f"array(size(array_intersect({col_a}, {col_b}))), "
        f"i -> cast(i as double) / "
        f"cast(size({col_a}) + size({col_b}) - i as double)), 1)"
    )


def jaccard_ge(col_a: str, col_b: str, threshold: float) -> Column:
    """Boolean ``jaccard(col_a, col_b) >= threshold``, cheaper.

    Two-step short-circuit (guide §1.2/§2.3 — run the O(1) test
    first, skip the expensive one):

    1. size-ratio prefilter: J = i/u with i = |A∩B| ≤ min(|A|,|B|)
       and u = |A∪B| ≥ max(|A|,|B|), so J ≤ min/max in the reals.
       Both J and min/max are correctly-rounded IEEE quotients of
       exact integers and rounding is monotone, so
       fl(J) ≥ t ⟹ fl(min/max) ≥ t: the prefilter can NEVER reject
       a pair the plain predicate accepts, at any threshold.  Pairs
       failing it (most random pairs at t = 0.8 — measured 77% of
       the recall-audit truth pairs at sf0.1) skip the
       ``array_intersect`` hash-set pass entirely.
    2. survivors evaluate :func:`jaccard` (one intersect pass, union
       arithmetic) against the same literal.

    Edge cases follow the plain spelling bit-for-bit: 0/0 = NaN
    compares greater than any threshold in both engines; NULL arrays
    yield NULL and the row is dropped either way."""
    sa = F.expr(f"size({col_a})")
    sb = F.expr(f"size({col_b})")
    pre = (
        F.least(sa, sb).cast("double") / F.greatest(sa, sb).cast("double")
        >= F.lit(threshold)
    )
    return pre & (jaccard(col_a, col_b) >= F.lit(threshold))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup pipeline: shingle → MinHash → LSH candidates →
    exact-Jaccard verification at ``threshold``.

    Returns (id_a, id_b, jaccard).  With 16 hashes / 4 bands the LSH
    recall at j=0.8 is ≈ 1-(1-0.8^4)^4 ≈ 0.93; raise n_sig/bands for
    stricter recall — the shape stays linear in corpus size.
    """
    # hashed feeds three branches (signatures + both verify sides) —
    # materialize the shingle stage once.
    hashed = _persist(shingle_hashes(df.select(id_col, text_col), text_col, k))
    sig = minhash_signature(hashed)
    cands = lsh_candidate_pairs(sig, id_col)
    sets_a = hashed.select(
        F.col(id_col).alias("id_a"), F.col("shingle_hashes").alias("sh_a")
    )
    sets_b = hashed.select(
        F.col(id_col).alias("id_b"), F.col("shingle_hashes").alias("sh_b")
    )
    # jaccard_ge's size-ratio prefilter gates the expensive intersect;
    # survivors (few) recompute it once more for the output value —
    # cheaper than running the full fold on every candidate.
    return (
        cands.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .where(jaccard_ge("sh_a", "sh_b", threshold))
        .withColumn("jaccard", jaccard("sh_a", "sh_b"))
        .select("id_a", "id_b", "jaccard")
    )


def corpus_dedup_index(
    corpus_df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> tuple[DataFrame, DataFrame]:
    """Build-once corpus LSH index: (shingle sets, band table), both
    persisted.  This is the artifact a production pipeline writes
    bucketed by band_hash and probes with every increment — pass it
    to :func:`incremental_near_dup_filter` so repeated probes (e.g.
    one per streaming micro-batch) never re-shingle the corpus."""
    sh_cor = _persist(
        shingle_hashes(corpus_df.select(id_col, text_col), text_col, k)
    )
    bands_cor = _persist(band_table(minhash_signature(sh_cor), id_col))
    return sh_cor, bands_cor


def incremental_near_dup_filter(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental dedup: rows of ``new_df`` with NO near-duplicate in
    ``corpus_df`` (the production shape at 100 TB — you never re-dedup
    the corpus, you probe each increment against its LSH index).

    Plan: band tables for both sides, increment-bands ⋈ corpus-bands
    on (band_idx, band_hash) — the increment side is small, so its
    bands broadcast and the corpus index is probed without a corpus
    shuffle — then exact-Jaccard verify, then an 8-byte-id anti-join
    back to the increment.  Per-run cost is O(increment), not
    O(corpus): the corpus band table and shingle sets are write-once
    artifacts (band_table docstring) recomputed here only because the
    test fixture is tiny.  Documents too short to shingle have no
    band and survive by construction (nothing to collide with).
    """
    sh_new = _persist(
        shingle_hashes(new_df.select(id_col, text_col), text_col, k)
    )
    sh_cor, bands_cor = (
        index
        if index is not None
        else corpus_dedup_index(corpus_df, id_col, text_col, k)
    )
    bands_new = band_table(minhash_signature(sh_new), id_col)
    cand = (
        bands_new.select(
            F.col(id_col).alias("new_id"), "band_idx", "band_hash"
        )
        .join(
            bands_cor.select(
                F.col(id_col).alias("corpus_id"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    dup_ids = (
        cand.join(
            sh_new.select(
                F.col(id_col).alias("new_id"),
                F.col("shingle_hashes").alias("sh_a"),
            ),
            "new_id",
        )
        .join(
            sh_cor.select(
                F.col(id_col).alias("corpus_id"),
                F.col("shingle_hashes").alias("sh_b"),
            ),
            "corpus_id",
        )
        .where(jaccard_ge("sh_a", "sh_b", threshold))
        .select("new_id")
        .distinct()
    )
    return new_df.join(
        dup_ids, new_df[id_col] == dup_ids["new_id"], "left_anti"
    )


def simhash(df: DataFrame, text_col: str, out: str = "simhash") -> DataFrame:
    """32-bit SimHash over word token hashes: bit b of the fingerprint
    is set iff more token hashes have bit b set than unset.

    The token-hash array is bound as a LAMBDA VARIABLE via the
    single-element-transform let idiom — ``element_at(transform(
    array(<xs>), xs -> <fold over xs>), 1)`` — NOT as a projected
    column the fold references.  A projected column looks evaluated-
    once in the optimized plan, but the measured physical behavior
    re-hashed every token per fingerprint bit: the round-8 sf10
    sweep clocked dedup_simhash_values at 291s/80x, and this
    one-line rebinding took the same 50k-row workload from 20.6s to
    1.7s (12x) with byte-identical fingerprints.  Lambda variables
    are evaluated exactly once by construction — the array
    constructor runs before the lambda body can.
    """
    words = f"array_distinct(split({text_col}, ' '))"
    hashes = f"transform({words}, w -> {spark_polyhash('w')})"
    # shiftright(x, b) ≡ x div 2^b for the non-negative polyhash
    # values (∈ [0, PRIME)) — one interpreted op per fold step
    # instead of shiftleft + div (r11; fingerprints byte-identical).
    vote = (
        "aggregate(xs, cast(0 as bigint), "
        "(vacc, x) -> vacc + CASE WHEN "
        "shiftright(x, b) % 2 = 1 "
        "THEN 1 ELSE -1 END)"
    )
    fingerprint = (
        f"element_at(transform(array({hashes}), xs -> "
        f"aggregate(transform(sequence(0, {SIMHASH_BITS - 1}), b -> "
        f"CASE WHEN {vote} > 0 "
        f"THEN shiftleft(cast(1 as bigint), b) ELSE cast(0 as bigint) END), "
        f"cast(0 as bigint), (facc, v) -> facc + v)), 1)"
    )
    return spread(df).withColumn(out, F.expr(fingerprint))


def hamming(col_a: str, col_b: str) -> Column:
    return F.expr(f"bit_count({col_a} ^ {col_b})").cast("long")


# Round budget of near_dup_clusters (measured, simulation in tests):
# pointer jumping makes label-REFERENCE chains logarithmic, but rounds
# are still bounded by min-DISCOVERY propagation, which on sparse
# subcritical random graphs (many mid-size tree-ish components)
# empirically needs ~22-26 rounds regardless of whether extra jump
# hops are added — a 200-node random graph needs 22, a 10^5-node one
# 15.  50 covers every measured shape with 2× headroom; a graph that
# needs more fails with a named RuntimeError, never half-merged labels.
CC_MAX_ROUNDS = 50


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair list: (node,
    cluster_id) where cluster_id = MIN node id in the component.

    Pair generation (MinHash/SimHash/embedding LSH) yields *edges*; a
    dedup pipeline needs the transitive closure — A~B and B~C must
    collapse to ONE surviving document even when A~C was never a
    candidate pair.  Iterative min-label propagation: each round every
    node takes the min label among itself and its neighbors (one
    shuffle join + one shuffle agg per round; self rows carry the
    previous label through the agg, so convergence detection is a
    free extra agg column instead of a second join; the symmetric
    edge list is one explode scan of the pair lineage, not a
    two-branch union that computes it twice), plus POINTER JUMPING —
    each node also takes its label's own label (one self-join of the
    tiny (node, label) frame) — so rounds are O(log diameter), not
    O(diameter): a 10^6-node chain converges in ~20 rounds instead
    of 10^6.  The loop runs to a detected fixpoint and RAISES after
    ``CC_MAX_ROUNDS`` rounds — silently returning half-merged clusters
    would under-delete duplicates.

    Rounds persist (fast: AQE-coalesced millisecond jobs) with a
    ``localCheckpoint`` every 5th round: ``persist`` alone truncates
    recomputation but NOT the logical plan, which doubles per round
    (the labels frame feeds the neighbor join, the jump join, and the
    self branch) — by round ~25 the driver OOMs just stringifying the
    plan.  The rationed checkpoint resets the plan to a leaf, so plan
    size is bounded at 2^5 leaf copies while shallow graphs never pay
    checkpoint materialization (measured 5× cheaper per round than
    checkpointing every round).  Pass ``checkpoint_dir`` at cluster
    scale to use a reliable ``checkpoint`` — executor-local
    ``localCheckpoint`` blocks die with a lost executor, which would
    kill a 10-round job.  The label frame is (id, id) pairs only — at
    10^9 nodes ≈ 16 GB cluster-wide, far below the raw corpus.  Only
    nodes with ≥1 edge appear (singletons are trivially their own
    cluster; leaving them out keeps the state proportional to the
    duplicate population, a small fraction of the corpus).
    """
    edges = _persist(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                    ),
                    F.struct(
                        F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    pinned = _persist(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    labels = pinned
    converged = False
    prev_persisted = None
    for it in range(CC_MAX_ROUNDS):
        # min over {self} ∪ {neighbor labels} ∪ {label's label}; self
        # rows are tagged so the same agg also yields the previous
        # label — convergence detection costs one more agg column,
        # not a second join+job
        nbr = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(
            F.col("dst").alias("node"),
            "label",
            F.lit(None).cast("long").alias("old"),
        )
        merged = nbr
        if it >= 2:
            # pointer jump: every label value is itself a node id
            # present in the frame (labels start as node ids and only
            # ever copy other labels), so the inner self-join is
            # total.  Deferred to round 3+: real near-dup graphs are
            # dense/shallow and reach the fixpoint in ≤2 rounds, and
            # the label frame is so small that the extra join is pure
            # fixed-overhead there (measured ~2× round cost); deep
            # chains still get O(log diameter) from round 3 on.
            lab2 = labels.select(
                F.col("node").alias("j_node"),
                F.col("label").alias("j_label"),
            )
            jump = labels.join(
                lab2, labels["label"] == lab2["j_node"]
            ).select(
                "node",
                F.col("j_label").alias("label"),
                F.lit(None).cast("long").alias("old"),
            )
            merged = merged.unionByName(jump)
        round_df = (
            merged.unionByName(
                labels.select("node", "label", F.col("label").alias("old"))
            )
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
        )
        # persist is the fast path (AQE-coalesced ~ms jobs); a
        # localCheckpoint every 5th round truncates the logical plan,
        # which otherwise doubles per round (label frame feeds 3
        # branches) — bounded at 2^5 leaf copies between resets
        # instead of OOMing the driver on deep graphs.  Checkpointing
        # EVERY round costs ~5× on shallow graphs (uncoalesced
        # partition materialization), so it's rationed.
        if (it + 1) % 5 == 0:
            new_labels = _plan_reset(round_df, checkpoint_dir)
            if prev_persisted is not None:
                prev_persisted.unpersist()
                prev_persisted = None
        else:
            # persist WITHOUT an eager count: the convergence count
            # below touches every partition and doubles as the
            # materializing action — one job per round, not two.
            # (persist_reused's eager materialization exists for
            # CONCURRENT branch fan-out; rounds here are sequential,
            # so the first action fills the cache race-free.)
            from pyspark import StorageLevel

            new_labels = round_df.persist(StorageLevel.MEMORY_AND_DISK)
            if prev_persisted is not None:
                prev_persisted.unpersist()
            prev_persisted = new_labels
        changed = new_labels.where(
            F.col("label") != F.col("old")
        ).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if converged:
        # Hand the caller a checkpointed leaf, not the iterative
        # lineage: the accumulated plan is exponentially large as a
        # tree (fine to EXECUTE through the per-round caches,
        # pathological to reprint / reoptimize downstream, and
        # silently recomputed from scratch if the caches are evicted).
        # Cheap: reads the final cached round.
        out = _plan_reset(labels, checkpoint_dir)
    # One release path for both outcomes: the last round's plain
    # persist is not a session pin, so release_session_pins() would
    # never free it.
    edges.unpersist()
    pinned.unpersist()
    if prev_persisted is not None:
        prev_persisted.unpersist()
    if not converged:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {CC_MAX_ROUNDS} "
            "rounds — the graph needs more min-label rounds than the "
            "budget, or the edge list is being regenerated "
            "nondeterministically between rounds"
        )
    return out


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.4,
    n_planes: int | str = 4,
    n_tables: int = 8,
    target_bucket_size: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-blocked.

    The semantic-dedup shape for 100 TB corpora: multi-table
    random-hyperplane LSH blocks the O(n²) pair space into
    per-(table, bucket) self-joins — a pair is a candidate iff it
    collides in ANY table — then exact cosine (strict double fold)
    verifies ``>= threshold``.  Candidate volume ≈
    n · n_tables / 2^n_planes per bucket side; recall is tuned by
    (n_planes, n_tables), and the plan is equi-join + window, never a
    cross product.  Returns (id_a, id_b, cos_sim) with id_a < id_b.

    FIXED ``n_planes`` does not survive a scale-up: bucket occupancy
    grows with n, and within-bucket pairs grow with its SQUARE — the
    r4 sf1.0 smoke measured 76× wall at 10× data with n_planes=4
    (current sweep: REGISTRY_sf1_sweep.json).  Pass ``n_planes="auto"``
    to size planes from the corpus with PURE INTEGER arithmetic:
    ``q = max(2, ceil_div(n, target_bucket_size))``, planes =
    ``max(4, (q-1).bit_length())``.  Since 2^k is an integer,
    2^k >= n/target  ⟺  2^k >= ceil_div(n, target), so this equals
    the textbook ``max(4, ceil(log2(max(2, n/target))))`` at every n
    — but with no transcendental in a hash-gated path (a 1-ULP libm
    disagreement at an exact power-of-two boundary would flip the
    plane count and every bucket id across engines; integers can't
    disagree).  Keeps expected occupancy ~constant, so candidate
    volume stays ~n · n_tables · target_bucket_size — linear in n.
    Costs one count() job; more planes lower per-table recall, so
    raise ``n_tables`` together with corpus size when recall is
    pinned (the recall audit query measures exactly this trade).
    """
    if n_planes == "auto":
        n = df.count()
        q = max(2, -(-n // target_bucket_size))
        n_planes = max(4, (q - 1).bit_length())
    elif not isinstance(n_planes, int):
        raise ValueError(f"n_planes must be int or 'auto', got {n_planes!r}")
    from hana_bq_beam_connector_spark.operators.similarity import (
        dot,
        lsh_banded,
        unit,
    )

    base = spread(df.select(id_col, vec_col))
    banded = _persist(
        lsh_banded(base, id_col, vec_col, dim, n_planes, n_tables)
    )
    # Capacity refinement (round 8): LSH occupancy is SKEWED on real
    # embedding distributions — the sf10 sweep measured a worst
    # bucket of 3131 vectors against a mean of 52 (within-bucket
    # pairs ride the SQUARE, 500M candidates, 78 GB of spill), and
    # the heavy buckets are NOISE, not true near-dup clusters
    # (sampled mean pairwise cos 0.065 inside the worst bucket).  A
    # bucket with occupancy c > target splits with
    # R = min(16, bit_length(ceil_div(c, target) - 1)) extra planes
    # — pure integer, just enough bits to land back at ~target, and
    # buckets already <= target keep R = 0 by the same formula.  The
    # refinement plane indices live in a reserved block
    # (n_tables*n_planes + table*16 + r), so they are independent of
    # the banding planes.  Only heavy-bucket members re-join their
    # vectors (broadcast heavy list, O(violating rows)); candidate
    # volume is then ~n·n_tables·target under ANY skew.  The oracle
    # replays the same counts, the same R formula, and the same
    # reserved planes in SQL.
    bit_len = (
        "aggregate(sequence(0, 62), 0, (acc, pp) -> acc + "
        "IF(shiftright(cast(qd as bigint), pp) > 0, 1, 0))"
    )
    heavy = (
        banded.groupBy("table_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > target_bucket_size)
        .withColumn(
            "qd",
            F.expr(
                f"(c + {target_bucket_size - 1}) div {target_bucket_size} - 1"
            ),
        )
        .withColumn("rbits", F.least(F.expr(bit_len), F.lit(16)))
        .select("table_id", "bucket", "rbits")
    )
    tagged = banded.join(
        F.broadcast(heavy), on=["table_id", "bucket"], how="left"
    )
    light = tagged.where(F.col("rbits").isNull()).select(
        id_col, "table_id", "bucket", F.lit(0).cast("long").alias("extra")
    )
    from hana_bq_beam_connector_spark.operators.similarity import (
        _plane_dot,
    )

    # _plane_dot splices ``p`` textually, so a column-expression
    # string gives the per-row reserved plane index.
    refine_plane = _plane_dot(
        vec_col, f"({n_tables} * {n_planes} + table_id * 16 + rr)", dim
    )
    heavy_rows = (
        tagged.where(F.col("rbits").isNotNull())
        .join(base, on=id_col)
        .withColumn(
            "extra",
            F.expr(
                "aggregate(sequence(0, rbits - 1), cast(0 as bigint), "
                f"(acc, rr) -> acc + IF({refine_plane} > 0, "
                "shiftleft(cast(1 as bigint), rr), cast(0 as bigint)))"
            ),
        )
        .select(id_col, "table_id", "bucket", "extra")
    )
    # Pinned (r11, guide §5 / §2.3): the candidate self-join reads
    # `refined` from BOTH sides, and each side evaluates both union
    # branches — without materialization the expensive interpreted
    # refine-plane folds (and the light/heavy branch joins) ran SIX
    # times (4 branch evaluations + 2 join-side shuffles; measured
    # ~250 CPU-s of the ~290 CPU-s total at sf0.1).  One
    # materialization, every consumer reads the cache.
    refined = _persist(light.unionByName(heavy_rows))
    a = refined.select(
        F.col(id_col).alias("id_a"), "table_id", "bucket", "extra"
    )
    b = refined.select(
        F.col(id_col).alias("id_b"), "table_id", "bucket", "extra"
    )
    cand = (
        a.join(b, on=["table_id", "bucket", "extra"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # normalize once per vector; the pair verify is then a single dot
    u = _persist(unit(base, vec_col, "uv"))
    ea = u.select(F.col(id_col).alias("id_a"), F.col("uv").alias("va"))
    eb = u.select(F.col(id_col).alias("id_b"), F.col("uv").alias("vb"))
    return (
        cand.join(ea, on="id_a")
        .join(eb, on="id_b")
        .withColumn("cos_sim", dot("va", "vb"))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
