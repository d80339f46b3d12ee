"""Benchmark entry point.

    python3 perfbench/run.py --workload copy_bulk --seed 1 --seconds 16 \\
        --trace 0

Run from the repository root.  One process: it starts the engine's
SparkSession on ``local[N]`` (N = half the CPUs available to the
process), stages the workload's inputs, runs an untimed warm pass that
checks outputs (the end of set-up), then a few untimed warm operations,
then times the workload's operation for ``--seconds`` and reports
medians.  Everything it writes
(Spark local and warehouse dirs, the Derby source, sinks, temp files)
lives in a per-run directory under ``.perfbench_tmp/`` that is removed
at exit.

Standard output ends with two JSON lines: an ``info`` record (the
environment, input sizes, samples, named failures and, when traced,
plan fingerprints), then the result ``{"correct", "attempted",
"failed", "metrics"}``.  ``--trace 0`` reports the end-to-end metrics
and ``--trace 1`` the per-layer ones; ``perfbench/README.md`` lists
them.  Exits non-zero, printing no result, when the engine cannot be
imported or set up.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("copy_bulk", "query_mix")
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "rows/s",
    "geomean_s": "s",
    "peak_rss_mb": "MB",
}


def _parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_PROCESS:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def _start_spark(run_dir: str, cores: int):
    """The engine's session, with every file it writes kept in
    ``run_dir`` and the package importable by Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # The environment variable overrides spark.local.dir.
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Chunk predicates on the LTZ source column must be read in the
    # timezone they were planned in (pipeline._assert_jdbc_tz_consistent).
    os.environ["TZ"] = "UTC"
    time.tzset()
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            # The source database is scratch: skip its commit fsyncs.
            "-Dderby.system.durability=test",
            "-Duser.timezone=UTC",
            "-XX:-UsePerfData",  # no hsperfdata file outside run_dir
        ]
    )
    from hana_bq_beam_connector_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_confs={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up(spark, cores: int, python_workers: bool) -> None:
    """JVM/codegen warmup and, for workloads that run Python UDFs, one
    Arrow round trip per core (as bench.py does)."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if python_workers:
        spark.range(cores * 2, numPartitions=cores).mapInPandas(
            lambda it: (pdf for pdf in it), schema="id long"
        ).write.format("noop").mode("overwrite").save()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop Spark, end the gateway JVM and every process under it, and
    wait for each to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    workers = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in workers:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _reset_peak_rss(pids: tuple[int, ...]) -> str:
    """Restart the peak-RSS counters, so the peak covers the timed
    operations and not the set-up (the DuckDB oracle check, for one,
    runs in this process).  Returns where the peak is counted from."""
    try:
        for pid in pids:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
    except OSError:
        return "process start"
    return "first timed operation"


def _peak_rss_mb(pids: tuple[int, ...]) -> float:
    """Summed peak resident memory of ``pids`` since the last reset."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(
                int(line.split()[1]) for line in f
                if line.startswith("VmHWM:")
            )
    return kb / 1024.0


def _cpu_ticks(jvm_pid: int) -> tuple[int, int, int]:
    """(machine steal, machine total, driver JVM user+system) clock
    ticks, so a record can tell ambient slowdown from a slower program."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return cpu[7], sum(cpu), int(fields[11]) + int(fields[12])


def _run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    from perfbench import workloads as W
    from perfbench.trace import Tracer

    available = len(os.sched_getaffinity(0))
    # Half the CPUs run tasks; the rest keep the driver thread, JIT and
    # GC threads and Python workers from queueing behind them, so a
    # timing moves with the program rather than with the scheduler.
    cores = max(1, available // 2)
    t0 = time.perf_counter()
    spark = _start_spark(run_dir, cores)
    t1 = time.perf_counter()
    _log("session started")
    try:
        _warm_up(spark, cores, args.workload == "query_mix")
        t2 = time.perf_counter()
        ctx = W.Ctx(spark, run_dir, args.seed)
        if args.trace:
            ctx.tracer = Tracer(spark)
        wl = W.WORKLOADS[args.workload]()
        ts = time.perf_counter()
        wl.stage(ctx)
        stage_s = time.perf_counter() - ts
        _log("inputs staged")
        wl.warm(ctx)
        setup_s = time.perf_counter() - T_PROCESS - ctx.oracle_s
        _log("warm pass done")
        warm = []
        if wl.warm_ops:
            warm = W.measure(ctx, wl, wl.warm_seconds, False, [],
                             -wl.warm_ops, wl.warm_ops)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        driver_pids = (jvm_pid, os.getpid())
        rss_since = _reset_peak_rss(driver_pids)
        ticks0 = _cpu_ticks(jvm_pid)
        if args.trace:
            untraced = W.measure(ctx, wl, args.seconds / 2, False, [])
            op_stats: list = []
            ops = W.measure(
                ctx, wl, args.seconds / 2, True, op_stats, len(untraced)
            )
        else:
            untraced, ops = [], W.measure(ctx, wl, args.seconds, False, [])
        _log("measured")
        steal, total, jvm = (
            b - a for a, b in zip(ticks0, _cpu_ticks(jvm_pid))
        )
        ok_ops = _succeeded(ops)
        if not ok_ops:
            raise RuntimeError(f"no operation succeeded: {ctx.failures[:3]}")
        walls = [op.wall for op in ok_ops]
        summary = wl.summary(ok_ops)
        e2e = {
            "setup_s": setup_s,
            **summary,
            "peak_rss_mb": _peak_rss_mb(driver_pids),
        }
        if args.trace:
            # Layers the workload never calls report 0.
            values = {name: 0.0 for name in W.PER_LAYER}
            values["session.start_s"] = t1 - t0
            values["session.warmup_s"] = t2 - t1
            wl.layers(ctx, op_stats)
            values.update(ctx.layers)
            values["trace.overhead_s"] = (
                summary["wall_s"] - wl.summary(_succeeded(untraced))["wall_s"]
            )
            ctx.info["end_to_end_traced"] = e2e
        else:
            values = e2e
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "cores_available": available,
            "master": f"local[{cores}]",
            "spark": spark.version,
            "python": platform.python_version(),
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "inputs": wl.input_sizes(),
            "samples": len(walls),
            "walls_s": [round(w, 4) for w in walls],
            "part_walls_s": {
                k: [round(op.parts[k], 4) for op in ok_ops if k in op.parts]
                for k in dict.fromkeys(k for op in ok_ops for k in op.parts)
            },
            "error_rate": len(ctx.failures) / max(ctx.attempted, 1),
            "measure_steal_share": steal / max(total, 1),
            "measure_jvm_cpu_s": jvm / os.sysconf("SC_CLK_TCK"),
            "peak_rss_jvm_mb": _peak_rss_mb((jvm_pid,)),
            "peak_rss_since": rss_since,
            "failures": ctx.failures,
            "setup_stage_s": stage_s,
            "setup_oracle_excluded_s": ctx.oracle_s,
            "warm_walls_s": [round(op.wall, 4) for op in warm],
            **ctx.info,
        }
        result = {
            "correct": not ctx.failures,
            "attempted": ctx.attempted,
            "failed": len(ctx.failures),
            "metrics": metrics(values, bool(args.trace)),
        }
        return info, result
    finally:
        _log("stopping")
        _stop(spark)
        _log("stopped")


def _succeeded(ops: list) -> list:
    return [op for op in ops if math.isfinite(op.wall)]


def metrics(values: dict[str, float], trace: bool) -> dict:
    """The result's metrics: exactly the declared end-to-end (or, when
    traced, per-layer) names, each with its unit."""
    from perfbench.workloads import PER_LAYER

    names = PER_LAYER if trace else tuple(END_TO_END)
    if set(values) != set(names):
        raise KeyError(f"metrics differ from the declared set: "
                       f"{sorted(set(values) ^ set(names))}")
    unit = layer_unit if trace else END_TO_END.__getitem__
    return {k: {"value": float(values[k]), "unit": unit(k)} for k in names}


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_per_s"):
        return "rows/s"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_bytes") or last == "bytes_written":
        return "bytes"
    if last in ("chunk_skew", "task_skew", "rows_read_per_row_copied"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import hana_bq_beam_connector_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        info, result = _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
