"""The benchmark workloads and the loop that times them.

A workload stages its inputs, runs one untimed warm pass that
also checks outputs, then repeats its timed operation until the
measurement window closes, checking each output outside the timed
region, and summarises the operations by medians.  With tracing on,
half the window runs untraced (for the overhead figure), half runs each
operation inside a :class:`~perfbench.trace.Tracer` span, and a
decomposition then times each engine layer by calling its public
function directly.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from types import SimpleNamespace

import pyarrow.parquet as pq

from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.operators._common import (
    release_session_pins,
)
from hana_bq_beam_connector_spark.pipeline import run_and_append
from hana_bq_beam_connector_spark.plans.chunking import equi_depth_intervals
from hana_bq_beam_connector_spark.plans.incremental import incremental_copy
from hana_bq_beam_connector_spark.queries import registry
from hana_bq_beam_connector_spark.sinks import jdbc_append, parquet_append
from hana_bq_beam_connector_spark.sources.jdbc import jdbc_scan
from hana_bq_beam_connector_spark.typemap import stringify
from perfbench import gen
from perfbench.trace import Tracer, geomean, median, plan_fingerprint

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
SOURCE_ROWS = 100_000
CHUNK_ROWS = 10_000  # ten chunks per full copy
DELTA_ROWS = 1_000
INCREMENTS = 4  # timed increments in the traced copy_bulk run
LAYER_REPS = 3  # repetitions of each call in the traced decomposition

# query_mix reads a checked-in copy of the seed-42 sf0.01 testdata
# tables (~60k lineitem rows); the seed does not change them.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "data", "sf0.01")
# Behaviours the copy workloads never reach: the reference-parity window
# scan, shuffle + aggregation, a higher-order-function fold, and the
# Python/Arrow boundary.  perfbench/README.md names the queries left
# out for run time.
MIX = (
    "etl_window_copy",
    "agg_pricing_summary",
    "join_topk_revenue",
    "text_tfidf_topk",
    "dedup_minhash_lsh_pairs",
    "udf_grouped_map_demean",
    "mm_jpeg_decode_stats",
)
QUERY_STATS = (
    "wall_s", "driver_s", "jobs", "tasks", "executor_cpu_s",
    "shuffle_bytes", "spill_bytes",
)
COPY_LAYERS = (
    "plans.chunking.plan_s", "plans.chunking.rows_read",
    "plans.chunking.chunks", "plans.chunking.chunk_skew",
    "sources.jdbc.scan_s", "sources.jdbc.task_skew",
    "sources.jdbc.executor_cpu_s", "typemap.stringify_s",
    "sinks.parquet_append_s", "sinks.bytes_written", "sinks.files_written",
    "sinks.jdbc_append_rows_per_s",
    "pipeline.run_and_append_s", "pipeline.jobs", "pipeline.driver_s",
    "plans.incremental.run_s", "plans.incremental.jobs",
    "plans.incremental.driver_s",
    "plans.incremental.rows_read_per_row_copied",
)
PER_LAYER = (
    ("session.start_s", "session.warmup_s")
    + COPY_LAYERS
    + tuple(f"queries.{q}.{s}" for q in MIX for s in QUERY_STATS)
    + ("trace.overhead_s",)
)


@dataclass
class Ctx:
    """State of one benchmark process."""

    spark: object
    run_dir: str
    seed: int
    tracer: Tracer | None = None
    oracle_s: float = 0.0  # DuckDB time in the warm pass, not set-up
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fingerprint(self, key: str, df) -> None:
        self.info.setdefault("plan_fingerprints", {})[key] = (
            plan_fingerprint(df, (self.run_dir,))
        )


@dataclass
class Op:
    wall: float
    rows: int
    parts: dict[str, float] = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet part files under ``path``."""
    size = files = 0
    for dp, _dns, fns in os.walk(path):
        for f in fns:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
    return size, files


def _ids_ok(spark, path: str, ids: range) -> bool:
    """The sink holds exactly ``ids``: row count, unique IDs, ID sum."""
    r = (
        spark.read.parquet(path)
        .selectExpr(
            "count(*) AS n",
            "count(DISTINCT ID) AS u",
            "sum(CAST(ID AS BIGINT)) AS s",
        )
        .first()
    )
    n = len(ids)
    want_sum = (ids.start + ids.stop - 1) * n // 2
    return r["n"] == n and r["u"] == n and r["s"] == want_sum


class _Derby:
    """The copy source: table ``SRC`` in an embedded Derby database in
    the run directory, fed through the engine's own JDBC sink."""

    table = "SRC"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.url = f"jdbc:derby:{ctx.path('derby', 'src')};create=true"
        ctx.spark._jvm.java.lang.Class.forName(DERBY)
        self.load_s: list[float] = []
        self.load_rows: list[int] = []

    def _execute(self, sql: str) -> None:
        jvm = self.ctx.spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(self.url)
        try:
            st = conn.createStatement()
            st.executeUpdate(sql)
            st.close()
        finally:
            conn.close()

    def create(self) -> None:
        self._execute(gen.SOURCE_DDL.format(table=self.table))

    def append(self, pdf, name: str) -> None:
        """Generated frame -> parquet -> jdbc_append into the table."""
        path = self.ctx.path("gen", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pdf.to_parquet(path, index=False)
        df = self.ctx.spark.read.parquet(path).selectExpr(*gen.SOURCE_SELECT)
        t0 = time.perf_counter()
        jdbc_append(df, self.url, self.table, driver=DERBY)
        self.load_s.append(time.perf_counter() - t0)
        self.load_rows.append(len(pdf))

    def config(self, dest: str, stringify: bool = False) -> PipelineConfig:
        return PipelineConfig(
            table_name=self.table,
            timestamp_column="TS",
            start_time=0,
            chunk_size=CHUNK_ROWS,
            connection_string=self.url,
            driver=DERBY,
            dest_path=dest,
            stringify=stringify,
        )


def _chunk_skew(intervals, ts_ms) -> float:
    """max / median rows per planned chunk, counted on the generator's
    own time column (intervals are in epoch microseconds)."""
    us = ts_ms * 1000
    counts = [int(((us >= iv.lo) & (us < iv.hi)).sum()) for iv in intervals]
    counts = [c for c in counts if c] or [1]
    return max(counts) / statistics.median(counts)


def _copy_layers(ctx: Ctx, db: _Derby, ts_ms) -> None:
    """Time planning, scan, stringify and append one by one over the
    whole source, each through its public function."""
    tr, spark = ctx.tracer, ctx.spark
    cfg = db.config("", stringify=True)
    probe = jdbc_scan(spark, cfg)
    ts_dtype = dict(probe.dtypes)["TS"]

    def scan():
        return jdbc_scan(spark, cfg, intervals, ts_dtype=ts_dtype)

    plan, scans, strf, app = [], [], [], []
    for r in range(LAYER_REPS):
        with tr.span("plans.chunking") as sp:
            intervals = equi_depth_intervals(
                probe, "TS", cfg.chunk_size, cfg.start_time
            )
        plan.append(tr.stats(sp))
        with tr.span("sources.jdbc") as sp:
            _noop(scan())
        scans.append(tr.stats(sp))
        with tr.span("typemap") as sp:
            _noop(stringify(scan()))
        strf.append(tr.stats(sp))
        df = stringify(scan())
        if r == 0:
            ctx.fingerprint("copy", df)
        with tr.span("sinks") as sp:
            parquet_append(df, ctx.path("layers", f"append{r}"))
        app.append(tr.stats(sp))

    def wall(stats) -> float:
        return median([s.wall_s for s in stats])

    L = ctx.layers
    L["plans.chunking.plan_s"] = wall(plan)
    L["plans.chunking.rows_read"] = median([s.input_records for s in plan])
    L["plans.chunking.chunks"] = len(intervals)
    L["plans.chunking.chunk_skew"] = _chunk_skew(intervals, ts_ms)
    L["sources.jdbc.scan_s"] = wall(scans)
    L["sources.jdbc.task_skew"] = tr.task_skew(scans[-1])
    L["sources.jdbc.executor_cpu_s"] = median(
        [s.executor_cpu_s for s in scans]
    )
    L["typemap.stringify_s"] = wall(strf) - wall(scans)
    L["sinks.parquet_append_s"] = wall(app) - wall(strf)


class Workload:
    name = ""
    # Untimed operations after the warm pass and outside setup_s: at
    # least warm_ops, and until warm_seconds have passed.
    warm_ops = 0
    warm_seconds = 0.0
    # Timed operations a measurement window holds at the least.
    min_ops = 1

    def stage(self, ctx: Ctx) -> None:
        """Build the inputs."""
        raise NotImplementedError

    def warm(self, ctx: Ctx) -> None:
        """Untimed warm pass, with its output checks."""
        raise NotImplementedError

    def op(self, ctx: Ctx, i: int) -> Op:
        raise NotImplementedError

    def check(self, ctx: Ctx, i: int, op: Op) -> None:
        pass

    def traced_op(self, ctx: Ctx, i: int, op_stats: list) -> Op:
        with ctx.tracer.span(self.name) as sp:
            op = self.op(ctx, i)
        op_stats.append(ctx.tracer.stats(sp))
        return op

    def summary(self, ops: list[Op]) -> dict[str, float]:
        """``wall_s``, ``rows_per_s`` and ``geomean_s`` of the
        successful operations ``ops``."""
        walls = [op.wall for op in ops]
        wall = median(walls)
        return {
            "wall_s": wall,
            "rows_per_s": median([op.rows for op in ops]) / wall,
            "geomean_s": geomean(walls),
        }

    def layers(self, ctx: Ctx, op_stats: list) -> None:
        """Per-layer metrics into ``ctx.layers`` (traced runs only)."""

    def input_sizes(self) -> dict:
        return {}


class CopyBulk(Workload):
    """One full stringified copy of the Derby table per operation."""

    name = "copy_bulk"
    # A copy keeps getting faster for several repetitions while the JIT
    # compiles the driver and scan paths.
    warm_ops = 3
    warm_seconds = 6.0

    def stage(self, ctx: Ctx) -> None:
        self.db = _Derby(ctx)
        self.pdf = gen.source_table(ctx.seed, SOURCE_ROWS)
        ctx.info["source_fingerprint"] = gen.fingerprint(self.pdf)
        self.db.create()
        self.db.append(self.pdf, "source")

    def _copy(self, ctx: Ctx, i: int) -> Op:
        dest = ctx.path("sink", f"bulk{i}")
        cfg = self.db.config(dest, stringify=True)
        t0 = time.perf_counter()
        n = run_and_append(ctx.spark, cfg)
        return Op(time.perf_counter() - t0, n)

    def warm(self, ctx: Ctx) -> None:
        self.check(ctx, -1, self._copy(ctx, -1))

    def op(self, ctx: Ctx, i: int) -> Op:
        return self._copy(ctx, i)

    def check(self, ctx: Ctx, i: int, op: Op) -> None:
        dest = ctx.path("sink", f"bulk{i}")
        ok = op.rows == SOURCE_ROWS and _ids_ok(
            ctx.spark, dest, range(SOURCE_ROWS)
        )
        ctx.check(ok, f"copy {i}")
        shutil.rmtree(dest, ignore_errors=True)

    def layers(self, ctx: Ctx, op_stats: list) -> None:
        L = ctx.layers
        L["pipeline.run_and_append_s"] = median([s.wall_s for s in op_stats])
        L["pipeline.jobs"] = median([s.jobs for s in op_stats])
        L["pipeline.driver_s"] = median([s.driver_s for s in op_stats])
        L["sinks.jdbc_append_rows_per_s"] = median(
            [r / s for r, s in zip(self.db.load_rows, self.db.load_s)]
        )
        _copy_layers(ctx, self.db, self.pdf["TS_MS"].to_numpy())
        size, files = _dir_stats(ctx.path("layers", "append0"))
        L["sinks.bytes_written"] = size
        L["sinks.files_written"] = files
        self._incremental_layers(ctx)

    def _incremental_layers(self, ctx: Ctx) -> None:
        """plans.incremental: a first run sets the watermark, then each
        increment appends a seeded late delta (untimed, through
        jdbc_append) and times one incremental_copy."""
        tr = ctx.tracer
        cfg = self.db.config(ctx.path("sink", "incremental"))
        state = ctx.path("watermark.json")
        first = incremental_copy(ctx.spark, cfg, state)
        ctx.check(first == SOURCE_ROWS, "incremental first run")
        stats = []
        for k in range(INCREMENTS):
            delta = gen.delta_table(ctx.seed, k, SOURCE_ROWS, DELTA_ROWS)
            self.db.append(delta, f"delta{k}")
            with tr.span("plans.incremental") as sp:
                n = incremental_copy(ctx.spark, cfg, state)
            ctx.check(n == DELTA_ROWS, f"increment {k}")
            stats.append(tr.stats(sp))
        ids = range(SOURCE_ROWS + INCREMENTS * DELTA_ROWS)
        ctx.check(_ids_ok(ctx.spark, cfg.dest_path, ids), "incremental sink")
        L = ctx.layers
        L["plans.incremental.run_s"] = median([s.wall_s for s in stats])
        L["plans.incremental.jobs"] = median([s.jobs for s in stats])
        L["plans.incremental.driver_s"] = median([s.driver_s for s in stats])
        L["plans.incremental.rows_read_per_row_copied"] = median(
            [s.input_records / DELTA_ROWS for s in stats]
        )

    def input_sizes(self) -> dict:
        return {
            "source_rows": SOURCE_ROWS,
            "chunk_rows": CHUNK_ROWS,
            "delta_rows": DELTA_ROWS,
            "increments": INCREMENTS,
        }


class _TimedOracle:
    """A DuckDB connection for ``compare_query`` that runs each oracle
    query at once and tallies its time in ``seconds``."""

    def __init__(self, con) -> None:
        self.con = con
        self.seconds = 0.0

    def sql(self, query: str) -> SimpleNamespace:
        t0 = time.perf_counter()
        rel = self.con.sql(query)
        rows = rel.fetchall()
        self.seconds += time.perf_counter() - t0
        return SimpleNamespace(
            columns=rel.columns, types=rel.types, fetchall=lambda: rows
        )


class QueryMix(Workload):
    """The MIX registry queries to the noop sink, one query per
    operation, in turn.  A pass is summarised as the sum of each
    query's median wall, so a window holds several samples of every
    query and one slow execution moves no figure."""

    name = "query_mix"
    # The warm pass collects results for the oracle; two noop passes
    # more warm the path the timed executions take and let the JIT
    # compiler's backlog drain before timing starts.
    warm_ops = 2 * len(MIX)
    min_ops = len(MIX)

    def stage(self, ctx: Ctx) -> None:
        self.dir = DATA_DIR
        self.sizes = {
            f[: -len(".parquet")]: pq.read_metadata(
                os.path.join(self.dir, f)
            ).num_rows
            for f in sorted(os.listdir(self.dir))
        }
        self.specs = registry()

    def _cleanup(self, ctx: Ctx) -> None:
        ctx.spark.catalog.clearCache()
        release_session_pins()

    def warm(self, ctx: Ctx) -> None:
        """The untimed warm pass is the oracle check: each query runs
        in Spark and in DuckDB over the same tables.  The DuckDB time
        goes to ``ctx.oracle_s`` so set-up can leave it out."""
        import duckdb

        from hana_bq_beam_connector_spark.oracle import compare_query

        con = _TimedOracle(duckdb.connect())
        for name in self.sizes:
            path = os.path.join(self.dir, f"{name}.parquet")
            con.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        self.result_rows = 0
        for q in MIX:
            spec = self.specs[q]

            def fn(spark, sf_dir, _fn=spec.fn, _q=q):
                df = _fn(spark, sf_dir)
                if ctx.tracer is not None:
                    ctx.fingerprint(_q, df)
                return df

            res = compare_query(ctx.spark, con, q, fn, spec.oracle, self.dir)
            ctx.check(res.ok, f"oracle {q}: {'; '.join(res.mismatches[:2])}")
            self.result_rows += res.spark_rows
            self._cleanup(ctx)
        ctx.oracle_s = con.seconds
        con.con.close()

    def op(self, ctx: Ctx, i: int) -> Op:
        """One execution of query ``i`` (mod the mix) to the noop sink;
        a NaN wall, counted as a failure, if it raises."""
        q = MIX[i % len(MIX)]
        t0 = time.perf_counter()
        try:
            _noop(self.specs[q].fn(ctx.spark, self.dir))
            wall = time.perf_counter() - t0
            ctx.check(True, q)
        except Exception as exc:  # noqa: BLE001 - counted, run continues
            wall = math.nan
            ctx.check(False, f"{q}: {type(exc).__name__}: {exc}")
        self._cleanup(ctx)
        return Op(wall, 0, {q: wall})

    def traced_op(self, ctx: Ctx, i: int, op_stats: list) -> Op:
        q = MIX[i % len(MIX)]
        with ctx.tracer.span(q) as sp:
            op = self.op(ctx, i)
        op_stats.append((q, ctx.tracer.stats(sp)))
        return op

    def summary(self, ops: list[Op]) -> dict[str, float]:
        walls = [
            median([op.parts[q] for op in ops if q in op.parts])
            for q in MIX
        ]
        wall = sum(walls)
        return {
            "wall_s": wall,
            "rows_per_s": self.result_rows / wall,
            "geomean_s": geomean(walls),
        }

    def layers(self, ctx: Ctx, op_stats: list) -> None:
        for q in MIX:
            stats = [st for name, st in op_stats if name == q]
            for s in QUERY_STATS:
                ctx.layers[f"queries.{q}.{s}"] = median(
                    [getattr(st, s) for st in stats]
                )

    def input_sizes(self) -> dict:
        return dict(self.sizes)


WORKLOADS = {w.name: w for w in (CopyBulk, QueryMix)}


def measure(ctx: Ctx, wl: Workload, seconds: float, traced: bool,
            op_stats: list, start_index: int = 0,
            min_ops: int | None = None) -> list[Op]:
    """Run operations until ``seconds`` have passed and at least
    ``min_ops`` (default ``wl.min_ops``) were attempted."""
    if min_ops is None:
        min_ops = wl.min_ops
    ops: list[Op] = []
    end = time.perf_counter() + seconds
    i = start_index
    while True:
        try:
            op = wl.traced_op(ctx, i, op_stats) if traced else wl.op(ctx, i)
        except Exception as exc:  # noqa: BLE001 - counted, run continues
            ctx.check(False, f"{wl.name} {i}: {type(exc).__name__}: {exc}")
        else:
            wl.check(ctx, i, op)
            ops.append(op)
        i += 1
        if time.perf_counter() >= end and i - start_index >= min_ops:
            return ops
