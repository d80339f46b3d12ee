"""CDC apply — fold an insert/update/delete change batch into a base
snapshot (the tombstone half the reference's append-only 'CDC' lacks,
HanaToBQ.java:206-218 + 256-259).

Semantics: for each key, a ``D`` row removes it, a ``U`` row replaces
its payload, an ``I`` row adds a new key.  Deletes take precedence
over updates on the same key within one batch (apply order
D > U — the conventional compaction rule when a batch carries both).
A batch may carry at most ONE surviving (U/I) row per key — otherwise
the output would no longer be a valid keyed snapshot and the next
apply's anti-join would misbehave; pass ``seq_col`` to resolve
multi-row keys last-wins, or the default validation raises.

Plan shape: the base anti-joins the touched-key set (one
co-partitioned shuffle where only the *change batch's keys* move for
the broadcastable case — Spark broadcasts the small side of the anti
join automatically under AQE), then unions the surviving change rows.
No window, no global sort; with the base bucketed on the key the
exchange on the 100 TB side disappears.  The change batch is O(delta),
so at scale the whole apply is bounded by delta size, not table size
(the uniqueness validation is likewise one count over the delta).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hana_bq_beam_connector_spark.operators._common import persist_reused


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    seq_col: str | None = None,
    validate: bool = True,
) -> DataFrame:
    """Apply a single CDC batch to ``base``.

    ``changes`` carries the base's columns plus ``op_col`` in
    ('D', 'U', 'I') and optionally ``seq_col``.  Returns the
    post-apply snapshot with the base's schema.

    ``seq_col``: monotonic per-key sequence (log offset, LSN); the
    batch resolves TRUE last-wins per key across ALL ops — a D at a
    lower sequence than a later I/U does NOT delete the key (the log's
    final operation decides its fate; a delete-then-reinsert batch
    keeps the reinsert).  Ties on equal sequence break by op
    precedence U > I > D, deterministically and without ordering by
    payload columns (so unorderable payload types like maps stay
    supported); rows tying on (key, seq, op) have no deterministic
    winner, so ``validate=True`` (default) raises on them — one
    delta-bounded check, never touching the base.  Without ``seq_col``, D beats U/I within the batch
    (the conventional compaction rule) and ``validate=True`` (default)
    raises on multi-U/I keys instead of silently emitting a
    duplicate-key snapshot — an eager driver-side check costing one
    aggregation over the DELTA (never the base), sharing the delta's
    scan/window with the returned plan via persist; streaming
    callers that cannot afford it pass a seq_col or validate=False.

    ``validate=True`` additionally rejects ``op_col`` values outside
    ('D', 'U', 'I') in BOTH branches: an unknown op otherwise acts as
    a silent DELETE — its key joins the touched set (leaves the base)
    but a non-U/I row never survives to re-add it.
    """
    cols = base.columns
    allowed = (*cols, op_col) + ((seq_col,) if seq_col else ())
    extra = [c for c in changes.columns if c not in allowed]
    if extra:
        raise ValueError(f"unexpected change columns: {extra}")
    if seq_col is not None:
        # Last-op-wins: one row per key survives the window (op
        # precedence 'U' > 'I' > 'D' on seq ties via string descent);
        # its op then routes the key to delete or upsert.  The
        # ambiguity check rides the SAME window pass as the selection:
        # a tie on (seq, op) is exactly "the next row in the ordered
        # partition carries the same (seq, op)", i.e. lead() == self —
        # no second aggregation job.  The annotated delta is pinned
        # (persist_reused) so the eager check and the returned plan
        # share one computation (delta-bounded; freed by
        # release_session_pins once the snapshot is materialized).
        w = Window.partitionBy(key).orderBy(
            F.col(seq_col).desc(), F.col(op_col).desc()
        )
        top_key = F.struct(F.col(seq_col), F.col(op_col))
        annotated = changes.select(
            "*",
            F.row_number().over(w).alias("_cdc_rn"),
            (F.lead(top_key).over(w) == top_key).alias("_cdc_tie"),
        )
        if validate:
            annotated = persist_reused(annotated)
            flags = annotated.agg(
                F.max(
                    F.when(
                        (F.col("_cdc_rn") == 1) & F.col("_cdc_tie"), 1
                    ).otherwise(0)
                ).alias("tie"),
                F.max(
                    F.when(
                        ~F.col(op_col).isin("D", "U", "I"), 1
                    ).otherwise(0)
                ).alias("badop"),
            ).first()
            if flags and flags["badop"]:
                raise ValueError(
                    f"apply_cdc: change batch carries {op_col!r} values "
                    "outside ('D', 'U', 'I') — an unknown op on the "
                    "last-wins row would silently delete its key.  Fix "
                    "the op column (or map your CDC source's markers "
                    "onto D/U/I) before applying."
                )
            if flags and flags["tie"]:
                raise ValueError(
                    "apply_cdc: change batch carries rows tying on "
                    f"({key!r}, {seq_col!r}, {op_col!r}) — the winner "
                    "would be arbitrary and the snapshot not "
                    "reproducible on replay.  Use a finer sequence "
                    "(LSN, not second-granularity timestamps) or "
                    "pre-dedupe the batch."
                )
        latest = annotated.where(F.col("_cdc_rn") == 1).drop(
            "_cdc_rn", "_cdc_tie"
        )
        survivors = latest.where(F.col(op_col).isin("U", "I"))
        touched = annotated.select(key).distinct()
        kept = base.join(touched, on=key, how="left_anti")
        return kept.unionByName(survivors.select(*cols))
    if validate:
        # One aggregation job over the (persisted) delta decides both
        # error classes — multiple surviving U/I rows per key, and ops
        # outside the D/U/I domain (an unknown op acts as a silent
        # delete: its key is touched but never re-added).  Pinning
        # (persist_reused) means the returned plan reuses this scan
        # instead of re-deriving the delta.
        changes = persist_reused(changes)
        flags = (
            changes.groupBy(key)
            .agg(
                F.sum(
                    F.when(F.col(op_col).isin("U", "I"), 1).otherwise(0)
                ).alias("_n_ui"),
                F.max(
                    F.when(F.col(op_col) == "D", 1).otherwise(0)
                ).alias("_has_d"),
                F.max(
                    F.when(
                        ~F.col(op_col).isin("D", "U", "I"), 1
                    ).otherwise(0)
                ).alias("_bad"),
            )
            .agg(
                F.max(
                    F.when(
                        (F.col("_n_ui") > 1) & (F.col("_has_d") == 0), 1
                    ).otherwise(0)
                ).alias("dup"),
                F.max("_bad").alias("badop"),
            )
            .first()
        )
        if flags and flags["badop"]:
            raise ValueError(
                f"apply_cdc: change batch carries {op_col!r} values "
                "outside ('D', 'U', 'I') — unknown ops would be "
                "silently ignored.  Fix the op column (or map your "
                "CDC source's markers onto D/U/I) before applying."
            )
        if flags and flags["dup"]:
            raise ValueError(
                "apply_cdc: change batch carries multiple U/I rows for "
                f"one {key!r} and no seq_col was given — the result "
                "would not be a valid keyed snapshot.  Pass seq_col "
                "for last-wins resolution or pre-dedupe the batch."
            )
    deletes = changes.where(F.col(op_col) == "D").select(key).distinct()
    # D wins over U on the same key: drop updates whose key is deleted.
    survivors = changes.where(F.col(op_col).isin("U", "I")).join(
        deletes, on=key, how="left_anti"
    )
    touched = changes.select(key).distinct()
    kept = base.join(touched, on=key, how="left_anti")
    return kept.unionByName(survivors.select(*cols))
