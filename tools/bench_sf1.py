"""Scale smoke: the 10 most expensive queries at sf1.0 vs sf0.1.

SCALE.md argues every family survives a 100× scale-up; this measures
one decade of it (round-4 verdict ask #4).  Each query runs at sf0.1
and at the synthesized sf1.0 (tools/make_sf1.py — 10× rows, keys
shifted, text/brands copy-salted, embeddings orthogonally rotated so
distributions scale instead of degenerating); the assertion is
ratio ≤ 12× (linear to 10× data + scheduling overhead).  Super-linear
queries are NAMED in the artifact, not hidden.

Usage: python tools/bench_sf1.py [sf01_dir] [sf1_dir] [out_json]
Writes BENCH_sf1.json at the repo root by default.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from hana_bq_beam_connector_spark.operators._common import (
    release_session_pins,
)
from hana_bq_beam_connector_spark.queries import registry  # noqa: E402

# Round-4 bench top-10 (BENCH_r04), the verdict's named heavy set.
HEAVY = [
    "sim_pq_topk",
    "dedup_cluster_survivor_policy",
    "udf_grouped_map_demean",
    "dedup_lsh_recall_report",
    "dedup_embedding_cosine",
    "join_salted_hot_key",
    "graph_pagerank_supply",
    "mm_feature_topk",
    "graph_copurchase_pairs",
    "er_entity_clusters",
]

RATIO_LIMIT = 12.0


def main() -> int:
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, ".scale", "sf1")
    )
    out = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.path.join(REPO, "BENCH_sf1.json")
    )
    if not os.path.isdir(sf1):
        print(
            f"sf1 dir {sf1} missing — run: python tools/make_sf1.py",
            file=sys.stderr,
        )
        return 2
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()

    def run(name: str, sf_dir: str) -> float:
        t0 = time.perf_counter()
        specs[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        release_session_pins()
        return round(dt, 3)

    results: dict[str, dict] = {}
    super_linear: list[str] = []
    for name in HEAVY:
        run(name, sf01)  # warm (JIT, file index) — not recorded
        t01 = run(name, sf01)
        t1 = run(name, sf1)
        ratio = round(t1 / t01, 2) if t01 > 0 else None
        results[name] = {"sf0.1_s": t01, "sf1_s": t1, "ratio": ratio}
        flag = ""
        if ratio is not None and ratio > RATIO_LIMIT:
            super_linear.append(name)
            flag = f"  ** SUPER-LINEAR (> {RATIO_LIMIT}x)"
        print(f"{name}: {t01:.2f}s -> {t1:.2f}s  ratio={ratio}{flag}")

    # The registered dedup_embedding_cosine pins n_planes=4 for its
    # oracle; at 10x data that fixed choice makes bucket occupancy
    # grow 10x and within-bucket pairs ~100x (the super-linear row
    # above).  Measure the operator's scale path — n_planes="auto",
    # planes ~ log2(n / target_bucket) — to show the family returns
    # to ~linear once parameters track corpus size.
    from hana_bq_beam_connector_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    auto = {}
    for label, sf_dir in (("sf0.1", sf01), ("sf1", sf1)):
        df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        t0 = time.perf_counter()
        n_pairs = embedding_near_dup_pairs(df, n_planes="auto").count()
        auto[label] = {
            "s": round(time.perf_counter() - t0, 3),
            "pairs": n_pairs,
        }
        release_session_pins()
    auto["ratio"] = (
        round(auto["sf1"]["s"] / auto["sf0.1"]["s"], 2)
        if auto["sf0.1"]["s"]
        else None
    )
    print(f"dedup_embedding_cosine[n_planes=auto]: {auto}")

    record = {
        "metric": "sf1_scale_smoke",
        "ratio_limit": RATIO_LIMIT,
        "queries": results,
        "super_linear": super_linear,
        "auto_planes_embedding_dedup": auto,
        "cpus": int(cpus),
    }
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"super_linear": super_linear, "out": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
