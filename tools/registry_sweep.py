"""Registry-wide scale sweep: run EVERY registered query at two SFs
and record per-query wall ratios (REGISTRY_sf1_sweep.json).

The bench HEADLINE covers ~82 representatives; this sweeps all
registered queries, so a quadratic plan hiding in an unbenched query
cannot stay invisible (round 5 found `join_null_safe_counts`
materializing ~n²/385 pairs exactly this way).  Queries run under the
ENGINE session (AQE on) — the scale posture a real deployment gets.

Usage: python tools/registry_sweep.py [base_sf_dir] [big_sf_dir] [out]
Defaults: /root/testdata/sf0.1, <repo>/.scale/sf1 (make with
tools/make_sf1.py), <repo>/REGISTRY_sf1_sweep.json.
Failures are recorded as FAIL:<type>, never abort the sweep — loud
scale guards are expected citizens here.
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

RATIO_LIMIT = 12.0


def main() -> int:
    base_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, ".scale", "sf1")
    )
    out = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.path.join(REPO, "REGISTRY_sf1_sweep.json")
    )
    if not os.path.isdir(big_dir):
        print(
            f"{big_dir} missing — run: python tools/make_sf1.py",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name="registry_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()
    # JVM/codegen + Python-worker warmup (same recipe as bench.py) so
    # the alphabetically-first query's base_s isn't charged ~5s of
    # session startup — matters most for small spot-sweep chunks where
    # one skewed base flips a ratio verdict.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    spark.range(nshuf * 2, numPartitions=nshuf).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).write.format("noop").mode("overwrite").save()
    # SPARK_GRAFT_SWEEP_ONLY=a,b,c restricts the sweep to named
    # queries (the sf10 spot-sweep uses this for the highest-risk
    # subset).  Unknown names fail loudly — a typo'd spot sweep that
    # silently runs 0 queries would still write a plausible artifact.
    only = os.environ.get("SPARK_GRAFT_SWEEP_ONLY")
    if only:
        wanted = [n for n in only.split(",") if n]
        unknown = sorted(set(wanted) - set(specs))
        if unknown:
            print(f"unknown query names: {unknown}", file=sys.stderr)
            return 2
        specs = {k: v for k, v in specs.items() if k in set(wanted)}

    def sweep(sf_dir: str) -> dict:
        res: dict[str, object] = {}
        for name in sorted(specs):
            t0 = time.perf_counter()
            try:
                specs[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                res[name] = round(time.perf_counter() - t0, 3)
                print(
                    f"  {sf_dir.rstrip('/').rsplit('/', 1)[-1]} "
                    f"{name}: {res[name]}s",
                    file=sys.stderr,
                    flush=True,
                )
            except Exception as e:  # noqa: BLE001 - loud guards expected
                res[name] = f"FAIL:{type(e).__name__}"
                print(
                    f"FAIL {name}: {type(e).__name__}",
                    file=sys.stderr,
                    flush=True,
                )
            release_session_pins()
        return res

    base, big = sweep(base_dir), sweep(big_dir)
    rows = {}
    for k in sorted(big):
        bv, cv = base.get(k), big[k]
        ok = isinstance(bv, float) and isinstance(cv, float)
        rows[k] = {
            "base_s": bv,
            "big_s": cv,
            "ratio": round(cv / bv, 2) if ok and bv > 0 else None,
        }
    over = {
        k: v["ratio"]
        for k, v in rows.items()
        if v["ratio"] and v["ratio"] > RATIO_LIMIT and v["base_s"] > 0.15
    }
    record = {
        "metric": "registry_sf1_sweep",
        "base_sf_dir": base_dir,
        "big_sf_dir": big_dir,
        "ratio_limit": RATIO_LIMIT,
        "n_queries": len(rows),
        "within_limit": sum(
            1 for v in rows.values() if v["ratio"] and v["ratio"] <= RATIO_LIMIT
        ),
        "over_limit": dict(sorted(over.items(), key=lambda kv: -kv[1])),
        "failed_loudly": [
            k for k, v in big.items() if isinstance(v, str)
        ],
        "queries": rows,
    }
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(
        json.dumps(
            {
                "within_limit": record["within_limit"],
                "n": record["n_queries"],
                "over_limit": record["over_limit"],
                "failed_loudly": record["failed_loudly"],
                "out": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
