#!/usr/bin/env python
"""Per-stage profile of one (or more) headline queries.

Runs each named query exactly like bench.py (noop sink, same session
factory, same env contract) and then dumps every Spark job & stage
with wall time, task count, and shuffle bytes from the local UI REST
API — the measure-first step of the optimization guide (§1) without
needing an interactive UI.

Usage: python tools/profile_stages.py q1 [q2 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hana_bq_beam_connector_spark.operators._common import (  # noqa: E402
    release_session_pins,
)
from hana_bq_beam_connector_spark.queries import registry  # noqa: E402
from hana_bq_beam_connector_spark.session import get_spark  # noqa: E402


def _api(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as r:
        return json.load(r)


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print("usage: profile_stages.py <query> [...]", file=sys.stderr)
        sys.exit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"
    specs = registry()

    # same warmups as bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64, numPartitions=32).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()

    for name in names:
        jobs_before = {j["jobId"] for j in _api(base, "/jobs")}
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        print(f"\n=== {name}: {wall:.3f}s ===")
        jobs = [
            j for j in _api(base, "/jobs") if j["jobId"] not in jobs_before
        ]
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            print(
                f"  job {j['jobId']:>3} [{j.get('name', '')[:60]}] "
                f"stages={len(j['stageIds'])} tasks={j['numTasks']}"
            )
            for sid in sorted(j["stageIds"]):
                try:
                    st = _api(base, f"/stages/{sid}")
                except Exception:
                    continue
                for attempt in st:
                    if attempt["status"] == "SKIPPED":
                        print(f"    stage {sid:>3} SKIPPED")
                        continue
                    dur = attempt.get("executorRunTime", 0) / 1000.0
                    first = attempt.get("firstTaskLaunchedTime")
                    compl = attempt.get("completionTime")
                    wall_s = ""
                    try:
                        from datetime import datetime

                        f = datetime.strptime(
                            first.split("GMT")[0], "%Y-%m-%dT%H:%M:%S.%f"
                        )
                        c = datetime.strptime(
                            compl.split("GMT")[0], "%Y-%m-%dT%H:%M:%S.%f"
                        )
                        wall_s = f"wall={(c - f).total_seconds():6.2f}s "
                    except Exception:
                        pass
                    print(
                        f"    stage {sid:>3} {wall_s}"
                        f"taskTime={dur:7.2f}s "
                        f"tasks={attempt['numCompleteTasks']:>3} "
                        f"shufW={attempt.get('shuffleWriteBytes', 0):>10} "
                        f"shufR={attempt.get('shuffleReadBytes', 0):>10} "
                        f"in={attempt.get('inputBytes', 0):>10} "
                        f"| {attempt.get('name', '')[:70]}"
                    )
        release_session_pins()


if __name__ == "__main__":
    main()
