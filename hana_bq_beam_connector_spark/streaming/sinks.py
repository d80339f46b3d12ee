"""Streaming sinks & built-in streaming dedup.

Two production patterns the window/stateful modules don't cover:

* ``dedup_within_watermark`` — Spark's built-in streaming dedup
  (``dropDuplicatesWithinWatermark``): state for a key is held only
  until the watermark passes it, so an at-least-once upstream (Kafka
  replays, retried micro-batches) becomes effectively-once without
  unbounded state — the built-in alternative to the
  applyInPandasWithState flag machine when dup keys arrive close in
  event time.
* ``foreach_batch_idempotent_append`` — exactly-once file sink: each
  micro-batch writes to a batch-id-keyed subdirectory, so a replayed
  batch (failure between write and checkpoint commit) OVERWRITES its
  own previous attempt instead of appending duplicates.  This is the
  standard idempotent-writer recipe for sinks without transactions.
* ``stream_apply_cdc``, ``stream_merge_aggregate`` and
  ``stream_maintain_fingerprints`` — keyed snapshots maintained by
  folding each micro-batch into the published one; all three publish
  through ``_fold_into_snapshot``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from hana_bq_beam_connector_spark.operators._common import pins_freed_after


def _current_epoch(pointer: str) -> str | None:
    """Path the snapshot pointer names, or None before first publish."""
    if not os.path.exists(pointer):
        return None
    with open(pointer) as fh:
        return fh.read().strip()


def _each_batch(stream: DataFrame, checkpoint: str, write_batch):
    """Start an availableNow query that hands every micro-batch to
    ``write_batch(batch_df, batch_id)``."""
    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _fold_into_snapshot(
    stream: DataFrame, snapshot_dir: str, checkpoint: str, fold
):
    """Maintain a published snapshot as ``fold(current, batch_df)``
    over the micro-batches — the one pointer-swap publish protocol of
    every snapshot sink, for sinks without transactions.

    ``{snapshot_dir}/CURRENT`` names the published epoch directory.
    Batch N reads that snapshot (``None`` before the first publish),
    writes ``fold(current, batch_df)`` to ``v{N}``, then atomically
    repoints CURRENT (``os.replace`` of a fully written temp file:
    readers see the old epoch or the new one, never a torn pointer).
    Readers resolve CURRENT once and read an immutable directory;
    ``gc_snapshot_epochs`` deletes superseded ones.

    A micro-batch replays when the process dies before its checkpoint
    commit, and the replay is exactly-once on both sides of the swap:
    before it, the replay rewrites the unreferenced ``v{N}`` with the
    same content and repoints; after it, CURRENT already names ``v{N}``
    and the batch is skipped — folding it into its own output would
    count it twice, and would read and overwrite one path.

    The frames the fold pins (``persist_reused``) are freed once the
    epoch write has materialized them, so a long stream holds no
    per-batch cache; pins other threads made are left alone."""
    pointer = os.path.join(snapshot_dir, "CURRENT")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        epoch_dir = os.path.join(snapshot_dir, f"v{batch_id}")
        cur_path = _current_epoch(pointer)
        if cur_path == epoch_dir:
            return
        cur = (
            None
            if cur_path is None
            else batch_df.sparkSession.read.parquet(cur_path)
        )
        with pins_freed_after():
            fold(cur, batch_df).write.mode("overwrite").parquet(epoch_dir)
        tmp = pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(epoch_dir)
        os.replace(tmp, pointer)

    return _each_batch(stream, checkpoint, write_batch)


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    event_time_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop duplicate ``keys`` arriving within the watermark horizon;
    per-key state is evicted once the watermark passes — bounded
    state under unbounded duplicate streams."""
    return events.withWatermark(event_time_col, watermark)\
        .dropDuplicatesWithinWatermark(keys)


def foreach_batch_idempotent_append(
    stream: DataFrame, base_path: str, checkpoint: str
):
    """Start an availableNow query appending parquet per micro-batch,
    idempotently: batch N always lands in ``{base_path}/batch={N}``
    with overwrite, so replays cannot duplicate rows."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{base_path}/batch={batch_id}"
        )

    return _each_batch(stream, checkpoint, write_batch)


def streaming_dedup_against_corpus(
    doc_stream: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    base_path: str,
    checkpoint: str,
    k: int = 3,
    threshold: float = 0.8,
):
    """Streaming corpus curation: each micro-batch of incoming
    documents is probed against a build-once corpus LSH index
    (operators/dedup.corpus_dedup_index); survivors (no near-dup in
    the corpus) land in a batch-id-keyed directory, so replays
    overwrite their own attempt — effectively-once end to end.

    The index is built and persisted BEFORE the query starts and
    closed over by the foreachBatch callback: per-batch cost is
    O(micro-batch) — shingle the increment, broadcast-probe the band
    index, anti-join — the corpus is never re-shingled or shuffled.
    This is the production shape for continuous ingestion at 100 TB
    corpus scale: the band table lives bucketed on band_hash, and
    accepted batches append their own bands to it downstream.
    """
    from hana_bq_beam_connector_spark.operators.dedup import (
        corpus_dedup_index,
        incremental_near_dup_filter,
    )

    index = corpus_dedup_index(corpus_df, id_col, text_col, k)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        fresh = incremental_near_dup_filter(
            batch_df,
            corpus_df,
            id_col,
            text_col,
            k,
            threshold,
            index=index,
        )
        fresh.write.mode("overwrite").parquet(
            f"{base_path}/batch={batch_id}"
        )

    return _each_batch(doc_stream, checkpoint, write_batch)


def stream_apply_cdc(
    changes: DataFrame,
    snapshot_dir: str,
    key: str,
    checkpoint: str,
    op_col: str = "op",
    seq_col: str | None = None,
    validate: bool = True,
):
    """Continuously fold a CDC change stream into a published keyed
    snapshot — the streaming twin of ``plans/cdc.apply_cdc``.

    Each micro-batch is ``apply_cdc``-ed onto the current snapshot (an
    empty frame of the change columns before the first publish) and
    published by ``_fold_into_snapshot``.  A batch folded twice would
    read and overwrite its own epoch directory — Spark refuses that
    write, so the query would crash-loop on the replay.

    At scale the per-batch cost is one co-partitioned anti-join +
    union of the change batch against the snapshot (bounded by delta
    size, see plans/cdc.py); with the snapshot bucketed on the key the
    base side never shuffles.

    A CDC log routinely carries several changes for one key inside one
    micro-batch (maxFilesPerTrigger coalesces files) — pass ``seq_col``
    so apply_cdc resolves them last-wins instead of raising, which in
    a stream would otherwise be a permanent crash loop (the failed
    batch replays and raises again); ``validate=False`` opts out of
    the guard entirely for pre-deduped feeds.
    """
    from hana_bq_beam_connector_spark.plans.cdc import apply_cdc

    drop = {op_col} | ({seq_col} if seq_col else set())

    def fold(cur: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        if cur is None:
            cur = batch_df.select(
                *[c for c in batch_df.columns if c not in drop]
            ).limit(0)
        return apply_cdc(
            cur,
            batch_df,
            key=key,
            op_col=op_col,
            seq_col=seq_col,
            validate=validate,
        )

    return _fold_into_snapshot(changes, snapshot_dir, checkpoint, fold)


def read_cdc_snapshot(spark, snapshot_dir: str) -> DataFrame:
    """Resolve the published snapshot pointer and read it."""
    with open(os.path.join(snapshot_dir, "CURRENT")) as fh:
        return spark.read.parquet(fh.read().strip())


def gc_snapshot_epochs(snapshot_dir: str, keep: int = 2) -> list[str]:
    """Delete superseded epoch directories, keeping the published one
    plus the ``keep`` newest others (grace for in-flight readers that
    resolved CURRENT just before a swap).

    Every pointer-swap sink (CDC snapshot, merged aggregate,
    fingerprint table) accretes one ``v{batch_id}`` directory per
    micro-batch forever without this; the published epoch is never
    deleted regardless of age, so a crashed/lagging stream cannot GC
    itself into data loss.  Returns the removed paths.  Run it from a
    maintenance schedule, not the hot path — it lists O(epochs)
    directories."""
    import shutil

    cur = _current_epoch(os.path.join(snapshot_dir, "CURRENT"))
    epochs = sorted(
        (
            e
            for e in os.listdir(snapshot_dir)
            if e.startswith("v") and e[1:].isdigit()
        ),
        key=lambda e: int(e[1:]),
        reverse=True,
    )
    removed: list[str] = []
    spared = 0
    for e in epochs:
        path = os.path.join(snapshot_dir, e)
        if cur is not None and os.path.abspath(path) == os.path.abspath(cur):
            continue  # the published epoch is immortal
        if spared < keep:
            spared += 1
            continue
        shutil.rmtree(path)
        removed.append(path)
    return removed


def stream_merge_aggregate(
    events: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    checkpoint: str,
    value_col: str = "value",
):
    """Incremental materialized-view maintenance: per-key running
    (count, sum) kept current by merging each micro-batch's partial
    aggregate into a published snapshot — the streaming twin of a
    grouped aggregate table, without reprocessing history.

    Each micro-batch reduces to its own per-key partials (map-side
    combined — the batch's raw rows never shuffle past the first
    aggregate), which are full-outer-merged with the current snapshot
    by key and published by ``_fold_into_snapshot``.  A batch folded
    twice would be counted twice.  Sums accumulate through
    DECIMAL(18,2) so the maintained view equals the from-scratch batch
    aggregate exactly, not approximately.  Snapshot size is O(distinct
    keys); at 10^9 keys bucket the snapshot on the key so the merge
    join never shuffles the big side.
    """
    from pyspark.sql import functions as F

    zero = F.lit(0).cast("decimal(18,2)")

    def fold(cur: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = batch_df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("total"),
        )
        if cur is None:
            return part
        return (
            cur.select(
                *keys, F.col("n").alias("n_old"), F.col("total").alias("t_old")
            )
            .join(
                part.select(
                    *keys,
                    F.col("n").alias("n_new"),
                    F.col("total").alias("t_new"),
                ),
                on=keys,
                how="full_outer",
            )
            .select(
                *keys,
                (
                    F.coalesce(F.col("n_old"), F.lit(0))
                    + F.coalesce(F.col("n_new"), F.lit(0))
                ).alias("n"),
                (
                    F.coalesce(F.col("t_old"), zero)
                    + F.coalesce(F.col("t_new"), zero)
                ).cast("decimal(18,2)").alias("total"),
            )
        )

    return _fold_into_snapshot(events, snapshot_dir, checkpoint, fold)


def streaming_dedup_self_extending(
    doc_stream: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    base_path: str,
    index_dir: str,
    checkpoint: str,
    k: int = 3,
    threshold: float = 0.8,
):
    """Continuous self-deduplicating ingestion: each micro-batch is
    probed against the corpus LSH index PLUS the bands of every
    previously-accepted batch — so a document that duplicates an
    earlier *accepted* arrival is rejected even though it never
    entered the base corpus.  This closes the loop the plain
    streaming probe leaves open (``streaming_dedup_against_corpus``
    dedups only against the build-once corpus).

    Index maintenance is idempotent the same way the data is: batch
    N's accepted shingle sets and band rows land in
    ``{index_dir}/{sh,bands}/batch=N`` with overwrite, so a replayed
    batch rewrites its own contribution.  Per-batch cost stays
    O(batch): the accumulated index is only ever *probed* via the
    band equi-join (at scale: written bucketed by band_hash, so the
    probe is a bucket-local join).  Intra-batch near-dups are not
    resolved here — run the batch pair operator on ingest batches
    where that matters.
    """
    from hana_bq_beam_connector_spark.operators.dedup import (
        band_table,
        corpus_dedup_index,
        incremental_near_dup_filter,
        minhash_signature,
        shingle_hashes,
    )

    sh_cor, bands_cor = corpus_dedup_index(corpus_df, id_col, text_col, k)
    sh_dir = os.path.join(index_dir, "sh")
    bands_dir = os.path.join(index_dir, "bands")

    def _read_accumulated(spark, path, exclude_batch_id):
        # batch_N subdir names (NOT key=value: partition inference
        # would add a column and silently break the union); absent
        # dir = no accepted batches yet.  The CURRENT batch's own
        # subdir is excluded: on micro-batch replay (failure after the
        # index write but before the checkpoint commit) the replayed
        # batch would otherwise probe against its OWN shingles/bands,
        # self-match every document at Jaccard 1.0, and overwrite its
        # accepted output with empty — silent loss.
        if not os.path.isdir(path):
            return None
        own = f"batch_{exclude_batch_id}"
        subdirs = [
            os.path.join(path, d)
            for d in sorted(os.listdir(path))
            if d.startswith("batch_")
            and d != own
            and os.path.isdir(os.path.join(path, d))
        ]
        if not subdirs:
            return None
        return spark.read.parquet(*subdirs)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sh_idx, bands_idx = sh_cor, bands_cor
        sh_acc = _read_accumulated(spark, sh_dir, batch_id)
        bands_acc = _read_accumulated(spark, bands_dir, batch_id)
        if sh_acc is not None and bands_acc is not None:
            sh_idx = sh_idx.unionByName(sh_acc)
            bands_idx = bands_idx.unionByName(bands_acc)
        fresh = incremental_near_dup_filter(
            batch_df,
            corpus_df,
            id_col,
            text_col,
            k,
            threshold,
            index=(sh_idx, bands_idx),
        )
        fresh.write.mode("overwrite").parquet(
            f"{base_path}/batch={batch_id}"
        )
        accepted = spark.read.parquet(f"{base_path}/batch={batch_id}")
        sh_new = shingle_hashes(
            accepted.select(id_col, text_col), text_col, k
        )
        sh_new.write.mode("overwrite").parquet(
            f"{sh_dir}/batch_{batch_id}"
        )
        band_table(minhash_signature(sh_new), id_col).write.mode(
            "overwrite"
        ).parquet(f"{bands_dir}/batch_{batch_id}")

    return _each_batch(doc_stream, checkpoint, write_batch)


def compact_dedup_index(spark, index_dir: str) -> dict:
    """Fold the self-extending index's per-batch contributions into
    one compacted directory per component (sh/, bands/).

    The streaming sink accretes ``batch_N`` subdirs forever; every
    micro-batch then unions O(batches) parquet roots just to probe.
    Compaction merges all existing contributions (including earlier
    compactions) into ``batch_compacted_{max_id}`` — still matched by
    the sink's ``batch_*`` listing, never colliding with a numeric
    replay exclusion — then deletes the sources.

    Run it BETWEEN stream runs (availableNow jobs), over committed
    batches only: a compacted dir containing a batch that later
    replays would defeat the replay self-match exclusion.  Crash
    safety: the merged dir is written to a temp path and renamed
    before sources are deleted; a crash in between leaves duplicate
    index rows, which are semantically harmless to the probe (any
    candidate match rejects a duplicate regardless of multiplicity)
    and disappear at the next compaction.  Returns per-component
    source counts."""
    import shutil

    stats: dict[str, int] = {}
    for comp in ("sh", "bands"):
        root = os.path.join(index_dir, comp)
        if not os.path.isdir(root):
            stats[comp] = 0
            continue
        sources = [
            d
            for d in sorted(os.listdir(root))
            if d.startswith("batch_")
            and os.path.isdir(os.path.join(root, d))
        ]
        numeric = [
            int(d.split("_")[1])
            for d in sources
            if d.split("_")[1].isdigit()
        ]
        stats[comp] = len(sources)
        if len(sources) <= 1 or not numeric:
            continue  # nothing to fold
        max_id = max(numeric)
        dest = os.path.join(root, f"batch_compacted_{max_id}")
        # Dotted temp name: must NOT match the 'batch_*' prefix that
        # _read_accumulated and this compactor's own source listing
        # use, or a crash between the Spark write and the rename would
        # leave a half-written dir the next run tries to read — a
        # crash LOOP instead of crash safety.
        tmp = os.path.join(root, f".tmp_compacted_{max_id}")
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)  # stale leftover from a prior crash
        spark.read.parquet(
            *[os.path.join(root, d) for d in sources]
        ).write.mode("overwrite").parquet(tmp)
        if os.path.isdir(dest):
            shutil.rmtree(dest)  # idempotent re-run
        os.rename(tmp, dest)
        for d in sources:
            shutil.rmtree(os.path.join(root, d))
    return stats


def stream_maintain_fingerprints(
    events: DataFrame,
    snapshot_dir: str,
    ts_col: str,
    key_col: str,
    checkpoint: str,
    bucket: int = 86_400_000_000,
    *,
    full_row: bool = True,
    measure_cols: list[str] | None = None,
):
    """Incrementally-maintained copy-validation fingerprints — the
    streaming twin of ``plans/reconcile.chunk_fingerprints``.

    At 100 TB you don't re-checksum the corpus per verification run;
    you fold each arriving micro-batch's per-bucket partials (count,
    key XOR, key sum, full-row hash XOR, measure sums — all mergeable:
    counts/sums add, XORs xor) into a fingerprint snapshot published
    by ``_fold_into_snapshot``.  ``reconcile_chunks`` can then diff
    this snapshot against the sink's at any moment without touching
    source history.  A batch folded twice would XOR its keys back OUT
    of the fingerprint — the worst kind of wrong, a corruption the
    verify tool itself introduced.

    ``full_row``/``measure_cols`` mirror ``chunk_fingerprints``; the
    fingerprint SHAPE is part of the snapshot's contract — changing
    options against an existing snapshot makes ``merge_fingerprints``
    raise loudly instead of zero-filling the missing column.  Pass
    ``full_row=False`` to keep maintaining a pre-row_xor snapshot
    (the upgrade path that avoids re-checksumming source history),
    or when the stream carries map-typed columns (no canonical hash
    order).
    """
    from hana_bq_beam_connector_spark.plans.reconcile import (
        chunk_fingerprints,
        merge_fingerprints,
    )

    def fold(cur: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = chunk_fingerprints(
            batch_df,
            ts_col,
            key_col,
            bucket,
            full_row=full_row,
            measure_cols=measure_cols,
        )
        return part if cur is None else merge_fingerprints(cur, part)

    return _fold_into_snapshot(events, snapshot_dir, checkpoint, fold)
