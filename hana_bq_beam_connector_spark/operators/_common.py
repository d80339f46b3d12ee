"""Shared operator plumbing."""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame


# Every frame persist_reused() pins is registered here and stays
# cached until release_session_pins().  A pin cannot be freed by the
# function that made it: most are read by lazy consumers (self-join
# sides, two_phase_scan's ranged slicing) that only run when the
# CALLER materializes the returned frame.  Neither `del` nor the
# ContextCleaner frees a persisted frame — only an explicit unpersist
# (or clearCache) does — so without the registry a long session (the
# driver contract runs 271 queries in one) would accumulate
# corpus-sized cached frames.  list.append is atomic under the GIL,
# so pool threads may pin concurrently (rec_user_candidates).
_SESSION_PINS: list[DataFrame] = []
# The frames this thread pinned inside its innermost open
# pins_freed_after() block (unset or None outside one).
_SCOPE = threading.local()


def persist_reused(df: DataFrame) -> DataFrame:
    """Persist AND materialize (one count job, now) a frame that
    multiple downstream branches read — self-join sides, verify
    rejoins — and register it for :func:`release_session_pins`.

    Persist alone is not enough: broadcast exchanges evaluate eagerly
    in parallel driver threads, so both sides of a self-join start
    computing the shared lineage CONCURRENTLY before either fills the
    lazy cache — the full upstream recomputes once per branch anyway
    (measured 2.6× end-to-end on the embedding-dedup pipeline at
    sf0.1).  Forcing materialization first makes every branch read the
    cache.  MEMORY_AND_DISK — at 100 TB the materialized intermediate
    (ids + hashes, not raw text/vectors) spills to local disk instead
    of OOMing; this is the stage checkpoint a production dedup
    pipeline would persist anyway."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _SESSION_PINS.append(out)
    scoped = getattr(_SCOPE, "pins", None)
    if scoped is not None:
        scoped.append(out)
    out.count()
    return out


def release_session_pins() -> None:
    """Unpersist every frame pinned via :func:`persist_reused` since
    the last release (frames a caller already unpersisted are a no-op).

    MUST only run after every DataFrame built since the last release
    has been fully materialized (collected/written).  This is a
    correctness contract, not a recompute-cost note: two_phase_scan's
    ranged pin exists precisely because an unpersisted recompute
    under AQE can range-sample different slice boundaries per branch
    and silently shift ranks — releasing a pin while a still-lazy
    two_phase_scan output is outstanding reintroduces that corruption
    (ADVICE r9).  Harnesses satisfy this by releasing only BETWEEN
    fully-collected queries."""
    while _SESSION_PINS:
        _SESSION_PINS.pop().unpersist()


@contextmanager
def pins_freed_after():
    """Unpersist, on leaving the block, the frames THIS thread pinned
    inside it, and drop them from the session registry.

    For a block that materializes everything it builds (a write), on a
    thread that cannot wait for the next :func:`release_session_pins`:
    a streaming sink's callback pins once per micro-batch, and a
    blanket release there would free pins a driver-thread query still
    reads lazily.  Pins made by pool threads the block starts are not
    its own and stay registered for the session-wide release."""
    outer = getattr(_SCOPE, "pins", None)
    _SCOPE.pins = mine = []
    try:
        yield
    finally:
        _SCOPE.pins = outer
        for df in mine:
            df.unpersist()
            try:
                _SESSION_PINS.remove(df)
            except ValueError:  # a release_session_pins() got it first
                pass


def plan_reset(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Truncate iterative-lineage to a leaf: reliable ``checkpoint``
    when a dir is given (blocks live on the checkpoint FS, so a lost
    executor cannot kill a multi-round job — required on a real
    cluster), ``localCheckpoint`` otherwise (executor-local blocks;
    correct and measurably cheaper on local[*]).

    The last dir THIS helper set is stashed on the SparkContext object
    itself (lifecycle-tied: a new context starts clean, so no stale
    id()-reuse hazard).  getCheckpointDir() can't serve as the guard:
    Spark returns the qualified UUID-suffixed subdirectory it created
    (file:/dir/<uuid>), which never string-equals the requested dir —
    comparing against it re-invoked setCheckpointDir every call,
    scattering each reset into a fresh UUID subdir."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        if getattr(sc, "_graft_checkpoint_dir", None) != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
            sc._graft_checkpoint_dir = checkpoint_dir
        return df.checkpoint()
    return df.localCheckpoint()


def explode_nonempty(col):
    """``explode`` for array columns the caller guarantees non-empty
    and non-null — spelled as ``explode_outer`` to dodge a Catalyst
    performance trap.

    For a plain ``explode``, ``InferFiltersFromGenerate`` adds
    ``size(arr) > 0 AND arr IS NOT NULL`` above the child, and
    ``PushDownPredicates`` then pushes that filter through the
    projections that *define* the array, substituting the full array
    expression into the filter.  If the array is built from
    higher-order functions over a bound intermediate (e.g. per-word
    hashes), the substitution re-inlines the intermediate into every
    lambda reference — turning an O(words) projection into an
    O(words·k·words) filter evaluated per input row.  Measured on the
    5-gram decontamination query at sf0.1: 72 s → 2 s.  Outer
    generators are exempt from the infer rule, and on non-empty
    arrays ``explode_outer`` ≡ ``explode`` row-for-row."""
    from pyspark.sql import functions as F

    return F.explode_outer(col)


def posexplode_nonempty(col):
    """``posexplode`` variant of :func:`explode_nonempty` — same
    Catalyst trap, same non-empty/non-null caller contract."""
    from pyspark.sql import functions as F

    return F.posexplode_outer(col)


# All unordered pairs (p1 < p2) of a sorted ``items`` array, as a SQL
# expression (basket pairs in rec.py, co-supply edges in graph.py).
# Explode it with explode_outer + IS NOT NULL instead of a plain
# explode: the outer generator is exempt from InferFiltersFromGenerate,
# so the pair array is built once per row instead of twice (see
# explode_nonempty), and single-item rows (empty pair array) drop via
# the null filter.
PAIR_ARR = (
    "flatten(transform(items, (x, i) -> "
    "transform(slice(items, i + 2, size(items)), "
    "y -> named_struct('p1', x, 'p2', y))))"
)


# spread()'s partition probe (df.rdd.getNumPartitions) runs the full
# analyze→optimize→physical-plan pipeline per call; dedup/similarity
# pipelines call spread() on the SAME fresh table scans dozens of times
# per session, so the (count, width) pair is memoized by the analyzed
# plan's semanticHash.  Assumption (fine for a batch engine,
# documented): the files behind a semantically-identical scan don't
# change partition count mid-session.  Bounded so a pathological
# workload can't leak.
_SPREAD_MEMO: dict[tuple[int, int | None], tuple[int, int]] = {}
_SPREAD_MEMO_MAX = 1024

# Floor on estimated input bytes per task when spread() widens a
# narrow frame ahead of a PYTHON stage (r12, guide §2.5/§4): every
# Python-boundary task pays a fixed ~15-40 ms (worker handshake, UDF
# deserialize, Arrow stream setup), so fanning a few-hundred-KB frame
# out to 32 tasks buys ~1 s of pure overhead to parallelize
# milliseconds of compute (measured: a trivial chained pandas UDF
# over 5 000 rows runs 0.60 s at 32 partitions vs 0.24 s at 4; the
# unfused two-Python-node JPEG row ran 0.73 s on 8 cores vs 2.12 s on
# 32 in the r11 driver bench).  The floor derives the width from the
# frame's own optimizer size estimate, so it is scale-adaptive: at
# sf0.1 the pruned 5 000-row media-id frame (~110 KB) gets ~7 tasks,
# while at sf10 (and any real corpus) the estimate exceeds
# parallelism × floor and the stage keeps every core.  Callers whose
# per-row work runs in the JVM (codegen'd hash folds) do NOT pass a
# floor — a JVM task's fixed cost is ~1 ms, so full width stays free
# for them.
_SPREAD_PY_MIN_BYTES_PER_TASK = 16 * 1024


def _spread_width(
    df: DataFrame, parallelism: int, min_bytes_per_task: int | None
) -> int:
    """Target partition count for a narrow frame: full parallelism,
    unless the caller declared a per-task byte floor (Python stage
    downstream) — then just enough tasks that each carries >= the
    floor of estimated input bytes.  Falls back to full parallelism
    when the optimizer has no usable size estimate."""
    if min_bytes_per_task is None:
        return parallelism
    try:
        raw = (
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # py4j maps scala.math.BigInt to a Python int when it fits;
        # str() covers a passthrough java object on the odd path.
        size = raw if isinstance(raw, int) else int(str(raw))
    except Exception:
        return parallelism
    if size <= 0 or min_bytes_per_task <= 0:
        return parallelism
    return max(1, min(parallelism, -(-size // min_bytes_per_task)))


def spread(
    df: DataFrame, min_bytes_per_task: int | None = None
) -> DataFrame:
    """Round-robin repartition to cluster parallelism before CPU-heavy
    per-row work (hashing, vector folds) — but ONLY when the input is
    actually narrow, and (for Python stages that declare
    ``min_bytes_per_task``) never wider than the per-task byte floor
    justifies (see ``_SPREAD_PY_MIN_BYTES_PER_TASK``).

    A small input — e.g. one parquet file under maxPartitionBytes —
    scans as ONE task, serializing compute on a single core while the
    rest of the cluster idles; there the repartition's shuffle is
    negligible next to the compute it parallelizes.  At 100 TB the
    scan already yields thousands of splits, and an unconditional
    ``repartition`` would shuffle every byte of text/vectors to fix a
    problem that no longer exists — so a frame already at (or past)
    the target width passes through untouched, keeping the dedup /
    similarity plans free of the round-robin Exchange (asserted in
    tests/test_plan_audit.py).  The probe result is memoized per
    analyzed plan (one physical-planning pass per distinct plan per
    session instead of per call)."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    try:
        # Keyed on (plan, floor): the same pruned scan may be spread
        # by a Python-stage caller (floored width) and a JVM caller
        # (full width) in one session.
        key = (
            df._jdf.queryExecution().analyzed().semanticHash(),
            min_bytes_per_task,
        )
    except Exception:
        key = None
    memo = _SPREAD_MEMO.get(key) if key is not None else None
    if memo is None:
        n = df.rdd.getNumPartitions()
        width = (
            _spread_width(df, parallelism, min_bytes_per_task)
            if n < parallelism
            else parallelism
        )
        if key is not None:
            if len(_SPREAD_MEMO) >= _SPREAD_MEMO_MAX:
                _SPREAD_MEMO.clear()
            _SPREAD_MEMO[key] = (n, width)
    else:
        n, width = memo
    return df if n >= width else df.repartition(width)
