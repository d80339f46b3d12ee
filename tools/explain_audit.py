#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan audit of the headline queries.

For each bench headline query, records the plan facts that matter at
100 TB — number of exchanges (shuffles), join strategies chosen,
whether scans carry pushed filters, and whole-stage-codegen coverage —
so plan regressions are visible in review, not just in wall-clock.

Usage: python tools/explain_audit.py  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from hana_bq_beam_connector_spark.operators._common import (
    release_session_pins,
)
from hana_bq_beam_connector_spark.queries import registry  # noqa: E402
from hana_bq_beam_connector_spark.session import get_spark  # noqa: E402


def plan_facts(df) -> dict[str, object]:
    # Under AQE the final stages (and their codegen spans) only exist
    # after execution — drive this DataFrame's own QueryExecution.
    df.collect()
    # AQE plan strings append an "== Initial Plan ==" section that
    # would double-count every operator — audit the final plan only.
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    simple = df._jdf.queryExecution().simpleString()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": len(
            re.findall(r"BroadcastHashJoin", plan)
        ),
        "shuffle_joins": len(
            re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)
        ),
        "nested_loop": len(
            re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)
        ),
        # whole-stage codegen spans print as "*(N) Operator"
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": bool(
            re.search(r"PushedFilters: \[[^\]]", simple)
        ),
    }


def static_plan_facts(df) -> dict[str, object]:
    """Plan facts from the pre-AQE physical plan, without executing
    the audited query itself.  (CONSTRUCTING a few queries does run
    real jobs: the data-dependent parameter queries — auto n_planes,
    the recall-K divisor — issue a count() while building the plan;
    the audited plan is still static.)  Join strategies are the static
    planner choice (AQE may still demote a sort-merge join to
    broadcast at runtime) and codegen spans are not final, so those
    columns are omitted — but shuffle counts,
    nested-loop presence, and scan pushdown are all visible here, which
    is what a review diff needs to catch a plan regression anywhere in
    the registry."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    simple = df._jdf.queryExecution().simpleString()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "shuffle_joins": len(
            re.findall(r"SortMergeJoin|ShuffledHashJoin", plan)
        ),
        "nested_loop": len(
            re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)
        ),
        "pushed_filters": bool(
            re.search(r"PushedFilters: \[[^\]]", simple)
        ),
    }


# These two run a REAL streaming query inside fn(); their plans are
# covered by tests/test_streaming.py (same skip set as
# tests/test_plan_audit.py).
_SKIP_STREAMING = {
    "stream_stateful_distinct_users",
    "stream_interval_join_live",
}


def main() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    spark = get_spark(app_name="explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()
    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/explain_audit.py` at `{sf_dir}` "
        "(plan shapes, not timings; the bench JSON carries timings).",
        "Facts per query: shuffle (Exchange) count, join strategies, "
        "nested-loop/cartesian count (0 except the explicitly "
        "allowlisted bounded-broadcast baselines in "
        "tests/test_plan_audit.py — e.g. the exact-cosine baseline "
        "broadcasts its bounded query set, IVF broadcasts 16 "
        "centroids), distinct whole-stage-codegen spans, and whether "
        "the scan carries pushed filters.  Iterative queries "
        "(clustering) end in a checkpointed leaf, so their row "
        "reports the final plan, not the per-round lineage.",
        "",
        "| query | exchanges | broadcast joins | shuffle joins | "
        "nested loop | codegen spans | pushed filters |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        fn = specs[name].fn
        try:
            f = plan_facts(fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover
            lines.append(f"| {name} | ERROR: {exc} | | | | | |")
            continue
        lines.append(
            f"| {name} | {f['exchanges']} | {f['broadcast_joins']} | "
            f"{f['shuffle_joins']} | {f['nested_loop']} | "
            f"{f['codegen_stages']} | "
            f"{'yes' if f['pushed_filters'] else '—'} |"
        )
        release_session_pins()
    lines += [
        "",
        "## Full registry (static plans)",
        "",
        f"Every registered query ({len(specs)} total), audited from "
        "the PRE-EXECUTION physical plan (the audited query is never "
        "executed; a handful of data-dependent parameter queries run "
        "a count() job during plan construction): shuffle "
        "count, static join strategies (AQE may still demote a "
        "sort-merge join to broadcast at runtime), nested-loop count, "
        "and scan pushdown.  Codegen spans only exist in final AQE "
        "plans, so that column lives in the executed headline table "
        "above.  The two live-streaming queries are skipped here "
        "(plans covered in tests/test_streaming.py).",
        "",
        "| query | exchanges | broadcast joins | shuffle joins | "
        "nested loop | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    for name in sorted(specs):
        if name in _SKIP_STREAMING:
            lines.append(
                f"| {name} | stream — see test_streaming.py | | | | |"
            )
            continue
        try:
            f = static_plan_facts(specs[name].fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover
            lines.append(f"| {name} | ERROR: {exc} | | | | |")
            continue
        lines.append(
            f"| {name} | {f['exchanges']} | {f['broadcast_joins']} | "
            f"{f['shuffle_joins']} | {f['nested_loop']} | "
            f"{'yes' if f['pushed_filters'] else '—'} |"
        )
        # persist_reused caches would otherwise accumulate across the
        # ~270-query static loop and distort later plans/memory.
        release_session_pins()
    lines.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(lines))
    print("\n".join(lines))


if __name__ == "__main__":
    main()
