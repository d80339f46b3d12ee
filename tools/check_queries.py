#!/usr/bin/env python
"""Oracle-check a subset of queries at one SF (fast loop for the
optimization round: prove before/after equivalence per touched query
without re-running the whole registry).

Usage: python tools/check_queries.py sf_dir q1 [q2 ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from hana_bq_beam_connector_spark.operators._common import (  # noqa: E402
    release_session_pins,
)
from hana_bq_beam_connector_spark.oracle import (  # noqa: E402
    compare_query,
    duckdb_connection,
)
from hana_bq_beam_connector_spark.queries import registry  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    assert names
    # Plain session, mirrors the driver harness (no session.py confs).
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)
    specs = registry()
    bad = 0
    for name in names:
        res = compare_query(
            spark, con, name, specs[name].fn, specs[name].oracle, sf_dir
        )
        ok = res.ok if hasattr(res, "ok") else not res.mismatches
        print(f"{name}: {'OK' if ok else 'MISMATCH'}")
        if not ok:
            bad += 1
            for m in res.mismatches[:6]:
                print(f"  {m}")
        release_session_pins()
    print(f"RESULT: {len(names) - bad}/{len(names)} OK")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
