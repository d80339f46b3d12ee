"""End-to-end partitioned JDBC scan (SURVEY §2a R1) against a real
database: embedded Derby (bundled with Spark for the Hive metastore)
stands in for HANA.  This exercises the actual
``spark.read.jdbc(predicates=...)`` path — one executor-side range
query per planned chunk — not a parquet simulation of it."""

from __future__ import annotations

import glob
import math
import os
import re

import pytest

from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.plans.chunking import Interval
from hana_bq_beam_connector_spark.sources.jdbc import jdbc_scan

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
N_ROWS = 1000


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    """Create and seed an embedded Derby table via the driver JVM."""
    db = tmp_path_factory.mktemp("derby") / "testdb"
    url = f"jdbc:derby:{db};create=true"
    jvm = spark._jvm
    jvm.java.lang.Class.forName(DERBY_DRIVER)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE events_jdbc "
        "(ts BIGINT NOT NULL, event_id BIGINT, val DOUBLE)"
    )
    ps = conn.prepareStatement("INSERT INTO events_jdbc VALUES (?, ?, ?)")
    for i in range(N_ROWS):
        # deliberately skewed timestamps: 80% of rows in the first
        # 10% of the time range — the case equi-depth chunking exists for
        ts = (i * i) % 10_000
        ps.setLong(1, ts)
        ps.setLong(2, i)
        ps.setDouble(3, float(i) / 100.0)
        ps.addBatch()
    ps.executeBatch()
    st.close()
    conn.close()
    return url


def _config(url: str) -> PipelineConfig:
    return PipelineConfig(
        table_name="events_jdbc",
        timestamp_column="ts",
        start_time=0,
        chunk_size=250,
        connection_string=url,
        driver=DERBY_DRIVER,
    )


def test_jdbc_interval_scan_round_trip(spark, derby_url):
    cfg = _config(derby_url)
    intervals = [
        Interval(0, 100),
        Interval(100, 1000),
        Interval(1000, 10_001),
    ]
    df = jdbc_scan(spark, cfg, intervals=intervals)
    # one Spark partition per chunk — the reference's readAll shape
    assert df.rdd.getNumPartitions() == len(intervals)
    rows = df.collect()
    assert len(rows) == N_ROWS
    assert sorted(r["EVENT_ID"] for r in rows) == list(range(N_ROWS))


def test_jdbc_pushdown_reaches_generated_sql(spark, derby_url):
    cfg = _config(derby_url)
    df = jdbc_scan(spark, cfg, intervals=[Interval(0, 10_001)])
    filtered = df.where(df["EVENT_ID"] < 10).select("EVENT_ID")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # Catalyst pushes the filter and the projection INTO the JDBC query
    assert "PushedFilters:" in plan and "EVENT_ID" in plan
    assert filtered.count() == 10


def test_full_pipeline_on_real_jdbc(spark, derby_url, tmp_path):
    """The reference's entire capability end-to-end on a real DB:
    equi-depth chunk planning (approxQuantile over JDBC), one range
    query per chunk, append to the parquet sink."""
    from hana_bq_beam_connector_spark.pipeline import run_and_append

    cfg = PipelineConfig(
        table_name="events_jdbc",
        timestamp_column="ts",
        start_time=100,  # window start mid-data: rows with ts < 100 skipped
        chunk_size=250,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
        dest_path=str(tmp_path / "sink"),
    )
    n = run_and_append(spark, cfg)
    sunk = spark.read.parquet(cfg.dest_path)
    assert sunk.count() == n
    # every copied row is inside the window, none lost at chunk seams
    want = spark.read.jdbc(
        url=derby_url,
        table="events_jdbc",
        properties={"driver": DERBY_DRIVER},
    ).where("ts >= 100")
    assert n == want.count()
    assert sorted(r["EVENT_ID"] for r in sunk.collect()) == sorted(
        r["EVENT_ID"] for r in want.collect()
    )


def test_full_pipeline_on_jdbc_timestamp_column(spark, derby_url, tmp_path):
    """The reference's actual production shape: the source timestamp
    column is a real SQL TIMESTAMP (HANA's is; the reference string-
    binds against it, HanaToDBRow.java:107-109).  Chunk planning runs
    in the canonical epoch-µs domain and the per-chunk predicates must
    render as ANSI TIMESTAMP literals that the database accepts."""
    from hana_bq_beam_connector_spark.pipeline import run_and_append

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE events_ts (ts TIMESTAMP NOT NULL, event_id BIGINT)"
    )
    ps = conn.prepareStatement("INSERT INTO events_ts VALUES (?, ?)")
    base_ms = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
    for i in range(300):
        # same skew shape as the BIGINT fixture, at second granularity
        ps.setTimestamp(
            1, jvm.java.sql.Timestamp(base_ms + ((i * i) % 10_000) * 1000)
        )
        ps.setLong(2, i)
        ps.addBatch()
    ps.executeBatch()
    st.close()
    conn.close()

    start_us = (base_ms + 100 * 1000) * 1000  # window starts at +100 s
    cfg = PipelineConfig(
        table_name="events_ts",
        timestamp_column="ts",
        start_time=start_us,
        chunk_size=64,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
        dest_path=str(tmp_path / "sink_ts"),
    )
    n = run_and_append(spark, cfg)
    sunk = spark.read.parquet(cfg.dest_path)
    assert sunk.count() == n
    want = (
        spark.read.jdbc(
            url=derby_url,
            table="events_ts",
            properties={"driver": DERBY_DRIVER},
        )
        .where(f"unix_micros(ts) >= {start_us}")
    )
    assert n == want.count() > 0
    assert sorted(r["EVENT_ID"] for r in sunk.collect()) == sorted(
        r["EVENT_ID"] for r in want.collect()
    )


def test_jdbc_append_sink_round_trip(spark, derby_url):
    """JDBC sink: CREATE_IF_NEEDED on first append, WRITE_APPEND (no
    truncate) on the second; read-back multiset equals two appends."""
    from hana_bq_beam_connector_spark.sinks import jdbc_append

    df = spark.range(50).selectExpr(
        "id AS rid", "CAST(id * 2 AS DOUBLE) AS score"
    )
    jdbc_append(
        df, derby_url, "sink_rt", driver=DERBY_DRIVER, batchsize=16
    )
    jdbc_append(
        df.where("rid < 10"), derby_url, "sink_rt", driver=DERBY_DRIVER
    )
    back = spark.read.jdbc(
        url=derby_url, table="sink_rt", properties={"driver": DERBY_DRIVER}
    )
    assert back.count() == 60
    # Spark quotes identifiers at CREATE time, so the column name
    # round-trips in its original case (unlike the unquoted-DDL tables
    # above, which Derby folds to uppercase).
    got = sorted(r["rid"] for r in back.collect())
    assert got == sorted(list(range(50)) + list(range(10)))


def test_date_column_copy_through_planner(spark, derby_url):
    """A DATE time column is chunked by the planner like any other:
    the chunk predicates render as ``{d '...'}`` literals the database
    accepts, and the chunks together hold every row exactly once."""
    from hana_bq_beam_connector_spark.pipeline import run_copy_pipeline
    from hana_bq_beam_connector_spark.plans.chunking import (
        intervals_to_jdbc_predicates,
    )

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE events_dated (d DATE NOT NULL, event_id BIGINT)"
    )
    ps = conn.prepareStatement("INSERT INTO events_dated VALUES (?, ?)")
    for i in range(100):
        ps.setDate(1, jvm.java.sql.Date.valueOf(f"2021-01-{i % 28 + 1:02d}"))
        ps.setLong(2, i)
        ps.addBatch()
    ps.executeBatch()
    st.close()
    conn.close()
    cfg = PipelineConfig(
        table_name="events_dated",
        timestamp_column="d",
        start_time=0,
        chunk_size=20,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
    )
    result, intervals = run_copy_pipeline(spark, cfg)
    assert len(intervals) == 5
    preds = intervals_to_jdbc_predicates(intervals, "d", "date")
    assert all("{d '" in p for p in preds), preds
    ids = sorted(r["EVENT_ID"] for r in result.collect())
    assert ids == list(range(100))


def _insert(spark, url: str, table: str, rows) -> None:
    """Insert (ts, event_id) BIGINT pairs into ``table``."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    ps = conn.prepareStatement(f"INSERT INTO {table} VALUES (?, ?)")
    for ts, event_id in rows:
        ps.setLong(1, ts)
        ps.setLong(2, event_id)
        ps.addBatch()
    ps.executeBatch()
    conn.close()


def test_incremental_counts_rows_inserted_before_the_write(
    spark, derby_url, tmp_path, monkeypatch
):
    """Rows that land in the source after planning but before the
    write are counted and watermarked with the rows they were written
    with: the next run copies none of them again."""
    from pyspark.sql.readwriter import DataFrameWriter

    from hana_bq_beam_connector_spark.plans.incremental import (
        incremental_copy,
    )

    conn = spark._jvm.java.sql.DriverManager.getConnection(derby_url)
    conn.createStatement().executeUpdate(
        "CREATE TABLE events_late (ts BIGINT NOT NULL, event_id BIGINT)"
    )
    conn.close()
    _insert(spark, derby_url, "events_late", ((i, i) for i in range(1000)))
    real_parquet = DataFrameWriter.parquet
    late = [(10_000 + k, 1000 + k) for k in range(100)]

    def insert_then_write(self, path, *args, **kwargs):
        if late:
            _insert(spark, derby_url, "events_late", late)
            late.clear()
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", insert_then_write)
    cfg = PipelineConfig(
        table_name="events_late",
        timestamp_column="ts",
        start_time=0,
        chunk_size=250,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
        dest_path=str(tmp_path / "sink"),
        stringify=True,
    )
    state = str(tmp_path / "state.json")
    assert incremental_copy(spark, cfg, state) == 1100
    files = sorted(_part_files(cfg.dest_path))
    assert incremental_copy(spark, cfg, state) == 0
    # an idle run writes nothing, not even an empty part file
    assert sorted(_part_files(cfg.dest_path)) == files
    sink = spark.read.parquet(cfg.dest_path)
    assert sorted(int(r["EVENT_ID"]) for r in sink.collect()) == list(
        range(1100)
    )


def test_empty_window_copy_writes_nothing(spark, derby_url, tmp_path):
    """A full copy of a window with no rows returns 0 and creates no
    sink: Spark would otherwise append an empty part file."""
    from hana_bq_beam_connector_spark.pipeline import run_and_append

    dest = tmp_path / "sink"
    cfg = PipelineConfig(
        table_name="events_jdbc",
        timestamp_column="ts",
        start_time=20_000,  # past every row (ts < 10,000)
        connection_string=derby_url,
        driver=DERBY_DRIVER,
        dest_path=str(dest),
    )
    assert run_and_append(spark, cfg) == 0
    assert not dest.exists()


def _part_files(path) -> list[str]:
    return glob.glob(os.path.join(path, "part-*.parquet"))


def _packing_config(url: str, chunk_size: int, dest) -> PipelineConfig:
    return PipelineConfig(
        table_name="events_jdbc",
        timestamp_column="ts",
        start_time=0,
        chunk_size=chunk_size,
        connection_string=url,
        driver=DERBY_DRIVER,
        dest_path=str(dest),
    )


def test_small_chunks_pack_into_one_task_per_core(spark, derby_url, tmp_path):
    """More chunks than cores: contiguous chunks share a task and a
    sink file (shuffle-free coalesce), each chunk still its own range
    query, and the sink holds exactly the source rows."""
    from hana_bq_beam_connector_spark.pipeline import (
        chunk_tasks,
        run_copy_pipeline,
    )
    from hana_bq_beam_connector_spark.sinks import parquet_append

    cores = spark.sparkContext.defaultParallelism
    cfg = _packing_config(
        derby_url, max(1, N_ROWS // (4 * cores)), tmp_path / "sink"
    )
    result, intervals = run_copy_pipeline(spark, cfg)
    assert len(intervals) > cores
    n_tasks = chunk_tasks(spark, len(intervals), cfg.chunk_size)
    assert n_tasks == min(
        len(intervals),
        max(cores, math.ceil(len(intervals) * cfg.chunk_size / 1_000_000)),
    )
    assert result.rdd.getNumPartitions() == n_tasks
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" in plan and "Exchange" not in plan, plan
    parquet_append(result, cfg.dest_path)
    assert len(_part_files(cfg.dest_path)) == n_tasks
    ids = [r["EVENT_ID"] for r in spark.read.parquet(cfg.dest_path).collect()]
    assert sorted(ids) == list(range(N_ROWS))


def test_few_chunks_write_one_file_per_chunk(spark, derby_url, tmp_path):
    """No more chunks than cores: nothing is packed — one task and one
    sink file per chunk, and no coalesce in the plan."""
    from hana_bq_beam_connector_spark.pipeline import run_copy_pipeline
    from hana_bq_beam_connector_spark.sinks import parquet_append

    cfg = _packing_config(derby_url, N_ROWS // 2, tmp_path / "sink")
    result, intervals = run_copy_pipeline(spark, cfg)
    assert 1 < len(intervals) <= spark.sparkContext.defaultParallelism
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" not in plan, plan
    parquet_append(result, cfg.dest_path)
    assert len(_part_files(cfg.dest_path)) == len(intervals)
    assert spark.read.parquet(cfg.dest_path).count() == N_ROWS


def test_packed_task_holds_one_source_connection(spark, derby_url):
    """A packed task runs its range queries one after another and
    closes each connection before opening the next.  Every source row
    reports how many transactions (one per open connection) the
    embedded database holds while its range query runs; with all
    chunks packed into a single task, every query sees only its own."""
    from hana_bq_beam_connector_spark.pipeline import run_copy_pipeline

    open_tx = "(SELECT COUNT(*) FROM SYSCS_DIAG.TRANSACTION_TABLE)"
    cfg = PipelineConfig(
        table_name=f"(SELECT e.*, {open_tx} AS OPEN_TX FROM events_jdbc e) q",
        timestamp_column="ts",
        start_time=0,
        chunk_size=25,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
    )
    result, intervals = run_copy_pipeline(spark, cfg)
    assert len(intervals) > 1
    seen = result.coalesce(1).groupBy("OPEN_TX").count().collect()
    assert {r["OPEN_TX"]: r["count"] for r in seen} == {1: N_ROWS}


def test_planning_frame_pushes_the_window_into_the_source(spark, derby_url):
    """The chunk planner cuts the window on the raw column, so the
    bounds reach the JDBC WHERE clause: an incremental run plans over
    its window, not over the whole table."""
    from hana_bq_beam_connector_spark.plans.chunking import _windowed_ts

    probe = jdbc_scan(spark, _config(derby_url))
    planning = _windowed_ts(probe, "ts", 100, 5_000)
    plan = planning._jdf.queryExecution().executedPlan().toString()
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
    assert "GreaterThanOrEqual(TS,100)" in pushed, pushed
    assert "LessThan(TS,5000)" in pushed, pushed
    want = probe.where("ts >= 100 AND ts < 5000").count()
    assert planning.count() == want > 0


def test_failed_checks_run_before_the_planning_scan(
    spark, derby_url, tmp_path
):
    """A config that cannot be copied fails before any Spark job: no
    planning pass over the source is paid for an error known upfront.
    Covers the missing sink and the LTZ timezone mismatch."""
    from hana_bq_beam_connector_spark.pipeline import run_and_append

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE events_tz (ts TIMESTAMP NOT NULL)")
    st.close()
    conn.close()
    tz_cfg = PipelineConfig(
        table_name="events_tz",
        timestamp_column="ts",
        start_time=0,
        connection_string=derby_url,
        driver=DERBY_DRIVER,
        dest_path=str(tmp_path / "sink"),
    )
    jvm_tz = jvm.java.util.TimeZone.getDefault().getID()
    other_tz = "Asia/Tokyo" if jvm_tz != "Asia/Tokyo" else "America/Denver"
    session_tz = spark.conf.get("spark.sql.session.timeZone")

    sc = spark.sparkContext
    group = "fail-before-planning"
    sc.setJobGroup(group, "copies that must fail before planning")
    try:
        with pytest.raises(ValueError, match="dest_path"):
            run_and_append(spark, _config(derby_url))
        spark.conf.set("spark.sql.session.timeZone", other_tz)
        with pytest.raises(RuntimeError, match="timezone"):
            run_and_append(spark, tz_cfg)
    finally:
        spark.conf.set("spark.sql.session.timeZone", session_tz)
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
