"""Spans around calls into the engine, attributed to Spark work.

Each :meth:`Tracer.span` sets a Spark job group around one call and
records its wall-clock interval.  :meth:`Tracer.stats` then reads the
call's jobs and stages back from the local UI REST API (as
``tools/profile_stages.py`` does): jobs, tasks, executor CPU, shuffle
and spill bytes, and the driver time — the part of the call's wall that
no stage interval covers.

The interval arithmetic (:func:`covered`, :func:`self_time`) is pure so
it can be checked on a synthetic timeline.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

Interval = tuple[float, float]


def covered(intervals: list[Interval], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Interval, children: list[Interval]) -> float:
    """A span's duration minus the part of it its children cover.

    With stage intervals as the children this is the call's driver
    time: planning, eager actions' scheduling gaps, driver-side
    collect and compute."""
    lo, hi = span
    return (hi - lo) - covered(children, lo, hi)


def _epoch(ts: str) -> float:
    """Spark REST time, e.g. ``2026-10-16T18:07:16.123GMT``."""
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


_PLAN_NOISE = (
    (re.compile(r"#\d+L?"), "#"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[id=#?\d+\]"), "[id=]"),
)


def plan_fingerprint(df, strip: tuple[str, ...]) -> str:
    """Hash of ``df``'s physical plan with expression ids and the given
    per-run strings (temp paths, URLs) removed, so the same plan hashes
    the same in every run of the same code and seed."""
    text = df._jdf.queryExecution().executedPlan().toString()
    for s in strip:
        text = text.replace(s, "<run>")
    for pat, repl in _PLAN_NOISE:
        text = pat.sub(repl, text)
    return hashlib.blake2b(text.encode(), digest_size=8).hexdigest()


@dataclass
class Span:
    group: str
    t0: float
    t1: float = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@dataclass
class SpanStats:
    wall_s: float
    driver_s: float
    jobs: int
    tasks: int
    executor_cpu_s: float
    shuffle_bytes: int
    spill_bytes: int
    input_records: int
    stage_ids: list[int] = field(default_factory=list)


class Tracer:
    """Job-group spans plus a reader for the local status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._n = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.load(r)

    @contextmanager
    def span(self, name: str):
        self._n += 1
        sp = Span(f"perfbench-{self._n}", time.time())
        self._sc.setJobGroup(sp.group, name, interruptOnCancel=False)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _jobs(self, sp: Span) -> list[dict]:
        """Jobs of the span: its job group, plus ungrouped jobs submitted
        inside its interval (engine code may submit from its own
        threads, which do not inherit the group)."""
        out = []
        for j in self._get("/jobs"):
            group = j.get("jobGroup")
            if group == sp.group or (
                group is None
                and "submissionTime" in j
                and sp.t0 <= _epoch(j["submissionTime"]) <= sp.t1
            ):
                out.append(j)
        return out

    def stats(self, sp: Span) -> SpanStats:
        """Read the span's Spark work once the status store has caught
        up with every job and stage it ran (waiting at most 5 s)."""
        deadline = time.monotonic() + 5.0
        while True:
            jobs = self._jobs(sp)
            ids = {s for j in jobs for s in j["stageIds"]}
            stages = [
                s for s in self._get("/stages") if s["stageId"] in ids
            ]
            done = all(j["status"] != "RUNNING" for j in jobs) and all(
                s["status"] != "ACTIVE"
                and (s["status"] != "COMPLETE" or "completionTime" in s)
                for s in stages
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        ran = [s for s in stages if s["status"] == "COMPLETE"]
        intervals = [
            (_epoch(s["submissionTime"]), _epoch(s["completionTime"]))
            for s in ran
        ]
        return SpanStats(
            wall_s=sp.wall,
            driver_s=self_time((sp.t0, sp.t1), intervals),
            jobs=len(jobs),
            tasks=sum(s["numCompleteTasks"] for s in ran),
            executor_cpu_s=sum(s["executorCpuTime"] for s in ran) / 1e9,
            shuffle_bytes=sum(s["shuffleWriteBytes"] for s in ran),
            spill_bytes=sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran
            ),
            input_records=sum(s["inputRecords"] for s in ran),
            stage_ids=sorted(s["stageId"] for s in ran),
        )

    def task_skew(self, st: SpanStats) -> float:
        """max / median task run time of the span's widest stage."""
        widest = None
        for sid in st.stage_ids:
            for att in self._get(f"/stages/{sid}"):
                if widest is None or att["numTasks"] > widest["numTasks"]:
                    widest = att
        if widest is None:
            return 0.0
        q = self._get(
            f"/stages/{widest['stageId']}/{widest['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))
