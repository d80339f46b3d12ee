"""Supplemental scale sweep: run a named subset of registered queries
at the two sweep SFs and MERGE the rows into an existing
REGISTRY_sf1_sweep.json (for queries registered after the main sweep
ran, so the artifact stays complete without repaying the full hour).

Usage: python tools/sweep_patch.py name1 name2 ...
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hana_bq_beam_connector_spark.operators._common import (
    release_session_pins,
)
from hana_bq_beam_connector_spark.queries import registry  # noqa: E402
from hana_bq_beam_connector_spark.session import get_spark  # noqa: E402


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: sweep_patch.py <query names>", file=sys.stderr)
        return 2
    out = os.path.join(REPO, "REGISTRY_sf1_sweep.json")
    record = json.load(open(out))
    base_dir = record["base_sf_dir"]
    big_dir = record["big_sf_dir"]
    spark = get_spark(app_name="sweep_patch")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()
    # JVM/codegen + Python-worker warmup (same recipe as bench.py):
    # without it the FIRST patched query's base_s absorbs ~5s of
    # session startup, silently skewing its ratio in the merged
    # artifact (observed: gapfill base_s 6.4s cold vs 1.6s warm).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    spark.range(nshuf * 2, numPartitions=nshuf).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()

    def run(name: str, sf_dir: str):
        t0 = time.perf_counter()
        try:
            specs[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return round(time.perf_counter() - t0, 3)
        except Exception as e:  # noqa: BLE001 - loud guards expected
            return f"FAIL:{type(e).__name__}"
        finally:
            release_session_pins()

    for name in names:
        bv = run(name, base_dir)
        cv = run(name, big_dir)
        ok = isinstance(bv, float) and isinstance(cv, float)
        record["queries"][name] = {
            "base_s": bv,
            "big_s": cv,
            "ratio": round(cv / bv, 2) if ok and bv > 0 else None,
        }
        print(name, record["queries"][name])
    record["n_queries"] = len(record["queries"])
    limit = record.get("ratio_limit", 12.0)
    over = {
        k: v["ratio"]
        for k, v in record["queries"].items()
        if isinstance(v, dict)
        and v.get("ratio")
        and v["ratio"] > limit
        and isinstance(v.get("base_s"), float)
        and v["base_s"] > 0.15
    }
    record["over_limit"] = dict(sorted(over.items(), key=lambda kv: -kv[1]))
    record["within_limit"] = sum(
        1
        for v in record["queries"].values()
        if isinstance(v, dict) and v.get("ratio") and v["ratio"] <= limit
    )
    # A query that failed at either SF has ratio=None and lands in
    # NEITHER bucket — track it explicitly so a FAIL can't hide in the
    # summary totals (round-5 advisor finding).
    record["failed_loudly"] = sorted(
        k
        for k, v in record["queries"].items()
        if isinstance(v, dict)
        and (
            not isinstance(v.get("base_s"), float)
            or not isinstance(v.get("big_s"), float)
        )
    )
    json.dump(record, open(out, "w"), indent=1)
    print(
        f"merged {len(names)} rows; over_limit={over}; "
        f"failed={record['failed_loudly']}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
