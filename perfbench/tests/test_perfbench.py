"""The benchmark's own checks: seeded inputs, declared metrics, and the
span arithmetic.  No Spark session is started.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root."""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq
import pytest

from perfbench import gen, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- generator -------------------------------------------------------


def test_source_table_same_seed_same_fingerprint():
    a = gen.source_table(7, 5_000)
    b = gen.source_table(7, 5_000)
    assert gen.fingerprint(a) == gen.fingerprint(b)
    assert gen.fingerprint(a) != gen.fingerprint(gen.source_table(8, 5_000))


def test_source_table_shape_and_skew():
    df = gen.source_table(3, 20_000)
    assert list(df["ID"]) == list(range(20_000))
    ts = df["TS_MS"].to_numpy()
    assert ts.min() >= gen.EPOCH0_MS and ts.max() < gen.EPOCH0_MS + gen.SPAN_MS
    # u**3 skew: half the rows fall in the first eighth of the range
    first_eighth = (ts < gen.EPOCH0_MS + gen.SPAN_MS / 8).mean()
    assert 0.45 < first_eighth < 0.55
    assert df["AMOUNT_CENTS"].isna().any() and df["SCORE"].isna().any()
    assert (df["NOTE"] == "null").any()


def test_deltas_are_deterministic_late_and_disjoint():
    d0 = gen.delta_table(5, 0, 1_000, 100)
    d1 = gen.delta_table(5, 1, 1_000, 100)
    again = gen.delta_table(5, 0, 1_000, 100)
    assert gen.fingerprint(d0) == gen.fingerprint(again)
    assert list(d0["ID"]) == list(range(1_000, 1_100))
    assert list(d1["ID"]) == list(range(1_100, 1_200))
    assert d0["TS_MS"].min() >= gen.EPOCH0_MS + gen.SPAN_MS
    assert d1["TS_MS"].min() > d0["TS_MS"].max()


def test_mix_reads_only_checked_in_tables():
    from hana_bq_beam_connector_spark.queries import registry

    tables = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    have = {f[: -len(".parquet")] for f in os.listdir(workloads.DATA_DIR)}
    reg = registry()
    for q in workloads.MIX:
        read = {t for t in tables if re.search(rf"\b{t}\b", reg[q].oracle)}
        assert read and read <= have, (q, read - have)
    lineitem = pq.read_metadata(
        os.path.join(workloads.DATA_DIR, "lineitem.parquet")
    )
    assert 50_000 < lineitem.num_rows < 70_000  # sf0.01


# --- declared metrics ------------------------------------------------


def test_benchmark_json_matches_declared_metrics():
    doc = _benchmark()
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    assert list(workloads.WORKLOADS) == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in doc["per_layer"]] == list(workloads.PER_LAYER)
    for m in doc["per_layer"]:
        assert m["unit"] == run.layer_unit(m["name"])
    assert any(m["name"] == "setup_s" for m in doc["end_to_end"])


@pytest.mark.parametrize("traced", [False, True])
def test_every_declared_metric_is_emitted(traced):
    doc = _benchmark()
    key = "per_layer" if traced else "end_to_end"
    names = [m["name"] for m in doc[key]]
    out = run.metrics({n: 1.5 for n in names}, traced)
    assert list(out) == names
    assert all(v == {"value": 1.5, "unit": run.layer_unit(k) if traced
                     else run.END_TO_END[k]} for k, v in out.items())
    with pytest.raises(KeyError):
        run.metrics({n: 1.0 for n in names[1:]}, traced)


# --- span arithmetic -------------------------------------------------


def test_covered_merges_overlaps_and_clips():
    # stages: [1,3] and [2,4] overlap -> [1,4]; [6,7]; [9,12] clipped to 10
    stages = [(2.0, 4.0), (1.0, 3.0), (6.0, 7.0), (9.0, 12.0), (-5.0, -1.0)]
    assert trace.covered(stages, 0.0, 10.0) == pytest.approx(3 + 1 + 1)
    assert trace.covered([], 0.0, 10.0) == 0.0
    assert trace.covered([(2.0, 2.0)], 0.0, 10.0) == 0.0


def test_driver_time_is_wall_not_covered_by_stages():
    # a 10 s call: planning gap 0-1, stages 1-4 and 3-6 (parallel),
    # driver gap 6-7, stage 7-9.5, collect 9.5-10
    stages = [(1.0, 4.0), (3.0, 6.0), (7.0, 9.5)]
    assert trace.self_time((0.0, 10.0), stages) == pytest.approx(2.5)
    # a stage that started before the span only counts inside it
    assert trace.self_time((2.0, 5.0), [(0.0, 3.0)]) == pytest.approx(2.0)


def test_self_time_of_nested_spans():
    # parent span 0-8 with child spans 1-3 and 2-5 -> self time 4
    assert trace.self_time((0.0, 8.0), [(1.0, 3.0), (2.0, 5.0)]) == (
        pytest.approx(4.0)
    )


def test_rest_time_parse():
    assert trace._epoch("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)


# --- summaries -------------------------------------------------------


def test_mix_summary_sums_per_query_medians():
    wl = workloads.QueryMix()
    wl.result_rows = 300
    ops = [
        workloads.Op(w, 0, {q: w})
        for k in range(3)
        for q, w in zip(workloads.MIX, (1.0 + k, 2.0, 4.0, 1.0, 1.0, 1.0,
                                        1.0 if k else 9.0))
    ]
    s = wl.summary(ops)
    # medians: 2, 2, 4, 1, 1, 1, 1 -> one pass is 12 s
    assert s["wall_s"] == pytest.approx(12.0)
    assert s["rows_per_s"] == pytest.approx(25.0)
    assert s["geomean_s"] == pytest.approx((2 * 2 * 4) ** (1 / 7))


def test_copy_summary_uses_median_wall():
    s = workloads.CopyBulk().summary(
        [workloads.Op(w, 100, {}) for w in (1.0, 2.0, 8.0)]
    )
    assert s["wall_s"] == 2.0
    assert s["rows_per_s"] == 50.0
    assert s["geomean_s"] == pytest.approx(16 ** (1 / 3))
