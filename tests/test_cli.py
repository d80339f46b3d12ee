"""CLI surface tests (SURVEY §2a R14)."""

from __future__ import annotations

import pytest

from hana_bq_beam_connector_spark.cli import build_parser, main

SF = "/root/testdata/sf0.001"


def test_cli_full_copy(spark, tmp_path, capsys):
    dest = str(tmp_path / "sink")
    rc = main(
        [
            "--table-name", "events",
            "--timestamp-column", "ts",
            "--start-time", "0",
            "--source-parquet", f"{SF}/events.parquet",
            "--dest-path", dest,
            "--chunk-size", "500",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    assert "rows_copied=1000" in capsys.readouterr().out
    assert spark.read.parquet(dest).count() == 1000


def test_cli_incremental_mode(spark, tmp_path, capsys):
    dest = str(tmp_path / "sink")
    state = str(tmp_path / "wm.json")
    args = [
        "--table-name", "events",
        "--timestamp-column", "ts",
        "--start-time", "0",
        "--source-parquet", f"{SF}/events.parquet",
        "--dest-path", dest,
        "--state", state,
        "--master", "local[4]",
    ]
    assert main(args) == 0
    assert "rows_copied=1000" in capsys.readouterr().out
    assert main(args) == 0  # second run: watermark blocks re-copy
    assert "rows_copied=0" in capsys.readouterr().out
    assert spark.read.parquet(dest).count() == 1000


@pytest.mark.parametrize("cluster_by", ["user_id", "user_id,value"])
def test_cli_clustered_copy(spark, tmp_path, capsys, cluster_by):
    """--cluster-by lays the copied window out for data skipping:
    one column -> range clustering (disjoint bands), two -> Z-order;
    row multiset is the same as a plain copy, and the reported count
    is the sink's."""
    dest = str(tmp_path / "sink_clustered")
    rc = main(
        [
            "--table-name", "events",
            "--timestamp-column", "ts",
            "--start-time", "0",
            "--source-parquet", f"{SF}/events.parquet",
            "--dest-path", dest,
            "--cluster-by", cluster_by,
            "--cluster-files", "8",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    assert "rows_copied=1000" in capsys.readouterr().out
    back = spark.read.parquet(dest)
    assert back.count() == 1000
    source = spark.read.parquet(f"{SF}/events.parquet")
    assert sorted(back.columns) == sorted(source.columns)
    assert back.exceptAll(source.select(*back.columns)).isEmpty()

    # incremental mode rejects clustering loudly
    with pytest.raises(SystemExit):
        main(
            [
                "--table-name", "events",
                "--timestamp-column", "ts",
                "--start-time", "0",
                "--source-parquet", f"{SF}/events.parquet",
                "--dest-path", dest,
                "--state", str(tmp_path / "wm.json"),
                "--cluster-by", "user_id",
            ]
        )


def test_cli_required_options():
    with pytest.raises(SystemExit):
        build_parser().parse_args(["--table-name", "t"])


def test_cli_dest_dataset_alone_fails_before_any_job(spark, tmp_path):
    """--dest-dataset is not an option (the parquet --dest-path is the
    only sink this build writes): argparse rejects it and no Spark job
    runs — not even the schema read of a source this session has never
    seen."""
    import shutil

    src = str(tmp_path / "events.parquet")
    shutil.copyfile(f"{SF}/events.parquet", src)
    sc = spark.sparkContext
    sc.setJobGroup("cli_no_sink_probe", "dest-dataset without dest-path")
    try:
        with pytest.raises(SystemExit) as exc:
            main(
                [
                    "--table-name", "events",
                    "--timestamp-column", "ts",
                    "--start-time", "0",
                    "--source-parquet", src,
                    "--dest-dataset", "analytics",
                    "--master", "local[4]",
                ]
            )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert exc.value.code == 2  # argparse: unrecognized arguments
    jobs = sc.statusTracker().getJobIdsForGroup("cli_no_sink_probe")
    assert list(jobs) == []


def test_runner_list_and_run(capsys):
    from hana_bq_beam_connector_spark.runner import main as runner_main

    assert runner_main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "agg_pricing_summary" in out and "[oracle]" in out

    assert (
        runner_main(
            [
                "--query",
                "agg_minmax_orders",
                "--sf-dir",
                "/root/testdata/sf0.001",
                "--show",
                "3",
            ]
        )
        == 0
    )
    assert runner_main(["--query", "no_such_query"]) == 2


def test_sql_catalog_views(spark, sf_dir):
    """register_views makes tables and queries SQL-addressable, and
    filters written against a view still push into the parquet scan
    (views are lazy plans, not materializations)."""
    from hana_bq_beam_connector_spark.sql_catalog import register_views

    names = register_views(
        spark, str(sf_dir), queries=["agg_pricing_summary"]
    )
    assert "lineitem" in names and "q_agg_pricing_summary" in names
    n = spark.sql("SELECT COUNT(*) AS n FROM q_agg_pricing_summary").first()[
        "n"
    ]
    assert n > 0
    composed = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity < 2"
    )
    plan = composed._jdf.queryExecution().simpleString()
    assert "PushedFilters" in plan and "LessThan" in plan


def test_cli_plan_backfill_finds_sink_gap(spark, tmp_path, capsys):
    """Copy a window into the sink, then --plan-backfill must report
    exactly the uncopied day ranges (before + after the window), and
    re-running after a gap copy must shrink the plan."""
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.plans.backfill import (
        DAY_US,
        backfill_ranges,
    )

    dest = str(tmp_path / "sink")
    # copy days [2024-01-05, 2024-01-15) only
    t5, t15 = 1_704_412_800_000_000, 1_705_276_800_000_000
    rc = main(
        [
            "--table-name", "events",
            "--timestamp-column", "ts",
            "--start-time", str(t5),
            "--end-time", str(t15),
            "--source-parquet", f"{SF}/events.parquet",
            "--dest-path", dest,
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    capsys.readouterr()

    rc = main(
        [
            "--table-name", "events",
            "--timestamp-column", "ts",
            "--start-time", "0",
            "--source-parquet", f"{SF}/events.parquet",
            "--dest-path", dest,
            "--plan-backfill",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.startswith("backfill_range=")]
    assert len(lines) == 2, out  # the days before t5, the days after t15
    (lo1, hi1), (lo2, hi2) = (
        tuple(map(int, l.split("=")[1].split(" ")[0].split(","))) for l in lines
    )
    assert hi1 == t5 and lo2 == t15
    assert lo1 < t5 and hi2 > t15

    # the planner is the same operator the registry query exercises
    src = spark.read.parquet(f"{SF}/events.parquet")
    snk = spark.read.parquet(dest)
    got = backfill_ranges(src, snk, "ts").collect()
    assert [(r["range_start"], r["range_end"]) for r in got] == [
        (lo1, hi1),
        (lo2, hi2),
    ]
    assert all(r["range_end"] - r["range_start"] >= DAY_US for r in got)


def test_cli_plan_backfill_empty_sink_is_full_plan(spark, tmp_path, capsys):
    rc = main(
        [
            "--table-name", "events",
            "--timestamp-column", "ts",
            "--start-time", "0",
            "--source-parquet", f"{SF}/events.parquet",
            "--dest-path", str(tmp_path / "never_written"),
            "--plan-backfill",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "backfill_ranges=1" in out  # events days are contiguous


def test_cli_schema_drift_guard(spark, tmp_path, capsys):
    """--check-schema-drift: a pure column ADD is reported and the
    append proceeds; a type change aborts with the dotted path."""
    from pyspark.sql import functions as F

    dest = str(tmp_path / "sink")
    base_args = [
        "--table-name", "events",
        "--timestamp-column", "ts",
        "--start-time", "0",
        "--dest-path", dest,
        "--master", "local[4]",
    ]
    # bootstrap the sink with a narrow projection of events
    narrow = str(tmp_path / "narrow.parquet")
    spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id", "ts", "user_id"
    ).write.parquet(narrow)
    assert main(base_args + ["--source-parquet", narrow]) == 0
    capsys.readouterr()

    # source gains a column -> widening: reported, run proceeds
    wide = str(tmp_path / "wide.parquet")
    spark.read.parquet(narrow).withColumn(
        "extra", F.lit(1).cast("long")
    ).write.parquet(wide)
    rc = main(
        base_args + ["--source-parquet", wide, "--check-schema-drift"]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "schema_drift_added=extra:bigint" in out
    assert "rows_copied=" in out

    # source changes a column's type -> abort with the path
    retyped = str(tmp_path / "retyped.parquet")
    spark.read.parquet(narrow).withColumn(
        "user_id", F.col("user_id").cast("string")
    ).write.parquet(retyped)
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="not a pure widening"):
        main(
            base_args
            + ["--source-parquet", retyped, "--check-schema-drift"]
        )
    out = capsys.readouterr().out
    assert "schema_drift_changed=user_id:bigint->string" in out


def test_cli_backfill_repair_loop_restores_full_sink(spark, tmp_path, capsys):
    """The full gap-repair loop: copy a window, plan the backfill,
    run one copy per reported range, re-plan — the sink must now
    equal the source row-for-row and the new plan must be empty.
    This is the operational loop --plan-backfill exists for."""
    dest = str(tmp_path / "sink")
    t5, t15 = 1_704_412_800_000_000, 1_705_276_800_000_000
    common = [
        "--table-name", "events",
        "--timestamp-column", "ts",
        "--source-parquet", f"{SF}/events.parquet",
        "--dest-path", dest,
        "--master", "local[4]",
    ]
    assert main(common + ["--start-time", str(t5), "--end-time", str(t15)]) == 0
    capsys.readouterr()

    def plan():
        rc = main(common + ["--start-time", "0", "--plan-backfill"])
        assert rc == 0
        out = capsys.readouterr().out
        return [
            tuple(map(int, l.split("=")[1].split(" ")[0].split(",")))
            for l in out.splitlines()
            if l.startswith("backfill_range=")
        ]

    ranges = plan()
    assert len(ranges) == 2
    for lo, hi in ranges:
        assert main(
            common + ["--start-time", str(lo), "--end-time", str(hi)]
        ) == 0
        capsys.readouterr()

    # repaired: sink row-multiset equals the source, plan is empty
    assert plan() == []
    src_rows = spark.read.parquet(f"{SF}/events.parquet")
    sink_rows = spark.read.parquet(dest)
    assert sink_rows.count() == src_rows.count()
    assert (
        src_rows.select("event_id").exceptAll(
            sink_rows.select("event_id")
        ).count()
        == 0
    )


def test_cli_reconcile_finds_missing_and_corrupted_chunks(
    spark, tmp_path, capsys
):
    """Build a sink that is the source minus one day plus one
    corrupted day (same row count, different keys) — --reconcile must
    report exactly those two buckets with the right statuses, and the
    clean remainder as ok."""
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.colutil import resolve_column
    from hana_bq_beam_connector_spark.plans.reconcile import (
        DAY_US,
        reconcile_chunks,
    )
    from hana_bq_beam_connector_spark.tsdomain import ts_numeric

    src_path = f"{SF}/events.parquet"
    source = spark.read.parquet(src_path)
    name, dtype = resolve_column(source, "ts")
    day = ts_numeric(name, dtype) - ts_numeric(name, dtype) % DAY_US
    days = [
        r["d"]
        for r in source.select(day.alias("d")).distinct().orderBy("d").collect()
    ]
    assert len(days) >= 3
    d_missing, d_corrupt = days[0], days[1]

    tagged = source.withColumn("__day", day)
    kept = tagged.where(
        (F.col("__day") != d_missing) & (F.col("__day") != d_corrupt)
    )
    corrupted = tagged.where(F.col("__day") == d_corrupt).withColumn(
        "event_id", F.col("event_id") + 1_000_000
    )
    dest = str(tmp_path / "sink")
    kept.unionByName(corrupted).drop("__day").write.parquet(dest)

    rc = main(
        [
            "--table-name", "events",
            "--timestamp-column", "ts",
            "--start-time", "0",
            "--source-parquet", src_path,
            "--dest-path", dest,
            "--reconcile",
            "--key-column", "event_id",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.startswith("reconcile_chunk=")]
    assert f"reconcile_mismatches={len(lines)}" in out
    got = {}
    for l in lines:
        fields = dict(kv.split("=") for kv in l.split(" "))
        got[int(fields["reconcile_chunk"])] = fields["status"]
    assert got == {d_missing: "missing_in_sink", d_corrupt: "mismatch"}

    # Operator-level: every other bucket is ok, and equal row counts
    # alone would NOT have caught the corruption.
    verdicts = reconcile_chunks(
        source, spark.read.parquet(dest), "ts", "event_id"
    )
    n_ok = verdicts.where("status = 'ok'").count()
    assert n_ok == len(days) - 2
    row = verdicts.where(F.col("bucket_lo") == d_corrupt).collect()[0]
    assert row["src_rows"] == row["sink_rows"]


def test_cli_reconcile_repair_loop(spark, tmp_path, capsys):
    """reconcile -> windowed re-copy -> reconcile must converge to
    zero mismatches: the verify half and the copy half speak the same
    [start, end) window language."""
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.colutil import resolve_column
    from hana_bq_beam_connector_spark.plans.reconcile import DAY_US
    from hana_bq_beam_connector_spark.tsdomain import ts_numeric

    src_path = f"{SF}/events.parquet"
    source = spark.read.parquet(src_path)
    name, dtype = resolve_column(source, "ts")
    day = ts_numeric(name, dtype) - ts_numeric(name, dtype) % DAY_US
    days = sorted(
        r["d"] for r in source.select(day.alias("d")).distinct().collect()
    )
    d_hole = days[len(days) // 2]

    dest = str(tmp_path / "sink")
    source.withColumn("__day", day).where(
        F.col("__day") != d_hole
    ).drop("__day").write.parquet(dest)

    base = [
        "--table-name", "events",
        "--timestamp-column", "ts",
        "--source-parquet", src_path,
        "--dest-path", dest,
        "--master", "local[4]",
    ]
    rc = main(base + ["--start-time", "0", "--reconcile",
                      "--key-column", "event_id"])
    assert rc == 0
    out = capsys.readouterr().out
    assert f"reconcile_chunk={d_hole} status=missing_in_sink" in out
    assert "reconcile_mismatches=1" in out

    # Repair: a normal windowed copy over exactly the reported bucket.
    rc = main(base + ["--start-time", str(d_hole),
                      "--end-time", str(d_hole + DAY_US)])
    assert rc == 0
    capsys.readouterr()

    rc = main(base + ["--start-time", "0", "--reconcile",
                      "--key-column", "event_id"])
    assert rc == 0
    assert "reconcile_mismatches=0" in capsys.readouterr().out


def test_cli_reconcile_catches_payload_corruption(spark, tmp_path, capsys):
    """A sink whose keys, counts and timestamps all survive but whose
    STRING payload is mangled on one day (the classic
    encoding-corrupts-text copy failure) must verdict mismatch — the
    full-row hash closes the key-only fingerprint's blind spot."""
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.colutil import resolve_column
    from hana_bq_beam_connector_spark.plans.reconcile import (
        DAY_US,
        reconcile_chunks,
    )
    from hana_bq_beam_connector_spark.tsdomain import ts_numeric

    src_path = f"{SF}/events.parquet"
    source = spark.read.parquet(src_path)
    name, dtype = resolve_column(source, "ts")
    day = ts_numeric(name, dtype) - ts_numeric(name, dtype) % DAY_US
    days = sorted(
        r["d"] for r in source.select(day.alias("d")).distinct().collect()
    )
    d_corrupt = days[1]
    corrupted = source.withColumn(
        "event_type",
        F.when(
            day == d_corrupt, F.concat(F.col("event_type"), F.lit("?"))
        ).otherwise(F.col("event_type")),
    )
    dest = str(tmp_path / "sink")
    corrupted.write.parquet(dest)

    # Key-only fingerprints are blind to this corruption ...
    keys_only = reconcile_chunks(
        source, spark.read.parquet(dest), "ts", "event_id", full_row=False
    )
    assert keys_only.where("status != 'ok'").count() == 0
    # ... the CLI (full-row default) is not.
    rc = main(
        [
            "--table-name", "events",
            "--timestamp-column", "ts",
            "--start-time", "0",
            "--source-parquet", src_path,
            "--dest-path", dest,
            "--reconcile",
            "--key-column", "event_id",
            "--measure-columns", "value",
            "--master", "local[4]",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    lines = [l for l in out.splitlines() if l.startswith("reconcile_chunk=")]
    assert len(lines) == 1
    fields = dict(kv.split("=") for kv in lines[0].split(" "))
    assert int(fields["reconcile_chunk"]) == d_corrupt
    assert fields["status"] == "mismatch"
    assert fields["src_rows"] == fields["sink_rows"]
