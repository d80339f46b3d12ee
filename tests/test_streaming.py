"""Streaming equivalence tests (M4): the live readStream plans must
produce exactly the batch results the DuckDB oracle verified."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.plans.incremental import (
    incremental_copy,
    read_watermark,
)
from hana_bq_beam_connector_spark.config import PipelineConfig
from hana_bq_beam_connector_spark.queries.streaming import (
    stream_session_windows,
    stream_sliding_1h_30m,
    stream_tumbling_1h,
)
from hana_bq_beam_connector_spark.streaming.windows import (
    events_stream,
    run_available_now,
    session_agg,
    sliding_agg,
    tumbling_agg,
)

import os

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


@pytest.mark.parametrize(
    "agg, batch, keys",
    [
        pytest.param(
            tumbling_agg,
            stream_tumbling_1h,
            ("window_start", "event_type"),
            id="tumbling",
        ),
        pytest.param(
            sliding_agg, stream_sliding_1h_30m, ("window_start",), id="sliding"
        ),
    ],
)
def test_streaming_tumbling_equals_batch(
    spark, stream_dir, tmp_path, agg, batch, keys
):
    """The live tumbling (1h) and sliding (1h every 30m) windows equal
    their oracle-checked batch replays, window for window."""
    stream = events_stream(spark, stream_dir)
    assert stream.isStreaming
    name = f"{agg.__name__}_t"
    run_available_now(agg(stream), name, str(tmp_path / "ckpt1"))
    got = {
        (
            int(r["window_start"].timestamp() * 1_000_000),
            *(r[k] for k in keys[1:]),
        ): (r["n_events"], r["total_value"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    want = {
        tuple(r[k] for k in keys): (r["n_events"], r["total_value"])
        for r in batch(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_sessions_equal_batch_islands(spark, stream_dir, tmp_path):
    """Native session_window state merging == gaps-and-islands SQL."""
    stream = events_stream(spark, stream_dir)
    run_available_now(
        session_agg(stream), "sessions_t", str(tmp_path / "ckpt2")
    )
    got = {
        (
            r["user_id"],
            int(r["session_start"].timestamp() * 1_000_000),
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql("SELECT * FROM sessions_t").collect()
    }
    want = {
        (
            r["user_id"],
            r["session_start"],
            r["n_events"],
            r["total_value"],
        )
        for r in stream_session_windows(spark, SF).collect()
    }
    assert got == want


def test_incremental_copy_advances_watermark(spark, events, tmp_path):
    dest = str(tmp_path / "sink")
    state = str(tmp_path / "state.json")
    cfg = PipelineConfig(
        table_name="events",
        timestamp_column="ts",
        start_time=0,
        chunk_size=500,
        dest_path=dest,
    )
    n1 = incremental_copy(spark, cfg, state, source_df=events)
    assert n1 == events.count()  # first run: everything
    wm = read_watermark(state, 0)
    assert wm > 0

    # second run with no new data: nothing copied, watermark stable
    n2 = incremental_copy(spark, cfg, state, source_df=events)
    assert n2 == 0
    assert read_watermark(state, 0) == wm
    assert spark.read.parquet(dest).count() == n1

    # "new" events arrive (shift everything past the watermark; wm is
    # epoch µs in the canonical domain, so add it as microseconds)
    newer = events.withColumn(
        "ts", F.expr(f"timestampadd(MICROSECOND, {int(wm)}, ts)")
    )
    n3 = incremental_copy(spark, cfg, state, source_df=newer)
    assert n3 == newer.count()
    assert spark.read.parquet(dest).count() == n1 + n3
    assert read_watermark(state, 0) > wm


def test_incremental_copy_without_sink_fails_even_on_empty_window(
    spark, tmp_path
):
    """No sink is an error before any planning, also when the window
    holds no rows: an empty run must not pass for a copy."""
    state = str(tmp_path / "state.json")
    cfg = PipelineConfig(table_name="t", timestamp_column="ts", start_time=0)
    empty = spark.range(0).withColumn("ts", F.col("id"))
    with pytest.raises(ValueError, match="--dest-path"):
        incremental_copy(spark, cfg, state, source_df=empty)
    assert not os.path.exists(state)


@pytest.mark.parametrize(
    "ts_expr", ["id * 10", "timestamp_seconds(id + 1000000)"]
)
def test_incremental_copy_stringify_copies_each_row_once(
    spark, tmp_path, ts_expr
):
    """A stringified incremental copy takes its watermark from the typed
    frame: both runs succeed, rows inserted between them are copied,
    and no row lands in the sink twice."""
    dest = str(tmp_path / "sink")
    state = str(tmp_path / "state.json")
    cfg = PipelineConfig(
        table_name="t",
        timestamp_column="ts",
        start_time=0,
        chunk_size=400,
        dest_path=dest,
        stringify=True,
    )

    def source(n):
        return spark.range(n).withColumn("ts", F.expr(ts_expr))

    assert incremental_copy(spark, cfg, state, source_df=source(1000)) == 1000
    wm = read_watermark(state, 0)
    assert wm > 0
    assert incremental_copy(spark, cfg, state, source_df=source(1500)) == 500
    assert read_watermark(state, 0) > wm

    sink = spark.read.parquet(dest)
    assert dict(sink.dtypes) == {"id": "string", "ts": "string"}
    ids = sorted(int(r["id"]) for r in sink.select("id").collect())
    assert ids == list(range(1500))


def test_stateful_distinct_keys_equals_batch_distinct(
    spark, events, stream_dir, tmp_path
):
    from hana_bq_beam_connector_spark.streaming.stateful import (
        stateful_distinct_keys,
    )
    from hana_bq_beam_connector_spark.streaming.windows import events_stream

    stream = events_stream(spark, stream_dir)
    run_available_now(
        stateful_distinct_keys(stream),
        "distinct_keys_t",
        str(tmp_path / "ckpt3"),
        mode="append",
    )
    got = {
        r["user_id"]
        for r in spark.sql("SELECT user_id FROM distinct_keys_t").collect()
    }
    want = {r["user_id"] for r in events.select("user_id").distinct().collect()}
    assert got == want


def test_stateful_user_totals_converge_to_batch(
    spark, events, stream_dir, tmp_path
):
    from hana_bq_beam_connector_spark.streaming.stateful import (
        stateful_user_totals,
    )
    from hana_bq_beam_connector_spark.streaming.windows import events_stream

    stream = events_stream(spark, stream_dir)
    run_available_now(
        stateful_user_totals(stream),
        "user_totals_t",
        str(tmp_path / "ckpt4"),
        mode="update",
    )
    # the LAST update per user (max running count) is the lifetime total
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            """SELECT user_id, n_events, total_value FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n_events DESC) AS rn
                 FROM user_totals_t) WHERE rn = 1"""
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("t"),
        )
        .collect()
    }
    assert set(final) == set(want)
    for uid, (n, total) in final.items():
        assert n == want[uid][0]
        assert total == pytest.approx(want[uid][1], rel=1e-9)


def test_stream_stream_interval_join_equals_batch(
    spark, stream_dir, tmp_path
):
    from hana_bq_beam_connector_spark.streaming.joins import (
        purchase_click_interval_join,
    )
    from hana_bq_beam_connector_spark.streaming.windows import events_stream

    stream = events_stream(spark, stream_dir)
    joined = purchase_click_interval_join(stream)
    assert joined.isStreaming
    run_available_now(
        joined, "ss_join_t", str(tmp_path / "ckpt5"), mode="append"
    )
    got = {
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ss_join_t").collect()
    }

    # batch replay of the same plan over the same files, mirroring
    # events_stream's event_time construction on the NTZ layout
    static = spark.read.parquet(stream_dir).withColumn(
        "event_time", F.col("ts").cast("timestamp")
    )
    want = {
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in purchase_click_interval_join(static).collect()
    }
    assert got == want and len(got) > 0


def test_stream_stream_interval_join_both_ts_layouts(spark, stream_dir):
    """The interval-join operator itself is layout-agnostic: feeding it
    event_time built from the current NTZ layout and from a synthetic
    legacy int64-ns layout of the SAME instants yields identical pairs
    — so a testdata layout change can't silently break one path."""
    from hana_bq_beam_connector_spark.streaming.joins import (
        purchase_click_interval_join,
    )

    ntz = spark.read.parquet(stream_dir).withColumn(
        "event_time", F.col("ts").cast("timestamp")
    )
    legacy_ns = (
        spark.read.parquet(stream_dir)
        .withColumn(
            "ts",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
            ),
        )
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
    )
    key = lambda r: (r["user_id"], r["purchase_id"], r["click_id"])
    got_ntz = {key(r) for r in purchase_click_interval_join(ntz).collect()}
    got_ns = {key(r) for r in purchase_click_interval_join(legacy_ns).collect()}
    assert got_ntz == got_ns and len(got_ntz) > 0


def test_dedup_within_watermark_stream(spark, stream_dir, tmp_path):
    from hana_bq_beam_connector_spark.streaming.sinks import (
        dedup_within_watermark,
    )
    from hana_bq_beam_connector_spark.streaming.windows import events_stream

    stream = events_stream(spark, stream_dir)
    # duplicate the stream against itself: every event arrives twice
    doubled = stream.unionByName(stream)
    deduped = dedup_within_watermark(doubled, ["event_id"])
    run_available_now(
        deduped.select("event_id"),
        "dedup_wm_t",
        str(tmp_path / "ckpt6"),
        mode="append",
    )
    got = [
        r["event_id"]
        for r in spark.sql("SELECT event_id FROM dedup_wm_t").collect()
    ]
    want = {
        r["event_id"]
        for r in spark.read.parquet(stream_dir).select("event_id").collect()
    }
    assert len(got) == len(want)  # each id exactly once despite doubling
    assert set(got) == want


def test_foreach_batch_idempotent_append(spark, stream_dir, tmp_path):
    from hana_bq_beam_connector_spark.streaming.sinks import (
        foreach_batch_idempotent_append,
    )
    from hana_bq_beam_connector_spark.streaming.windows import events_stream

    base = str(tmp_path / "sink")
    q = foreach_batch_idempotent_append(
        events_stream(spark, stream_dir),
        base,
        str(tmp_path / "ckpt7"),
    )
    q.awaitTermination()
    total = spark.read.parquet(f"{base}/batch=*").count()
    want = spark.read.parquet(stream_dir).count()
    assert total == want

    # replaying the same batches (fresh checkpoint, same batch ids)
    # overwrites rather than duplicates
    q2 = foreach_batch_idempotent_append(
        events_stream(spark, stream_dir),
        base,
        str(tmp_path / "ckpt8"),
    )
    q2.awaitTermination()
    assert spark.read.parquet(f"{base}/batch=*").count() == want


def test_stream_static_enrich_equals_batch(spark, stream_dir, tmp_path, sf_dir):
    """Stream-static broadcast enrichment: the live readStream join
    yields exactly the batch join, and it is stateless (append mode,
    no watermark required)."""
    from hana_bq_beam_connector_spark.sources.files import load_table
    from hana_bq_beam_connector_spark.streaming.joins import enrich_with_dim
    from hana_bq_beam_connector_spark.streaming.windows import events_stream

    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = events_stream(spark, stream_dir)
    joined = enrich_with_dim(stream, dim).select(
        "event_id", "user_id", "c_mktsegment"
    )
    assert joined.isStreaming
    run_available_now(
        joined, "enrich_t", str(tmp_path / "ckpt_enrich"), mode="append"
    )
    got = {
        (r["event_id"], r["user_id"], r["c_mktsegment"])
        for r in spark.sql("SELECT * FROM enrich_t").collect()
    }
    static = spark.read.parquet(stream_dir)
    want = {
        (r["event_id"], r["user_id"], r["c_mktsegment"])
        for r in enrich_with_dim(static, dim)
        .select("event_id", "user_id", "c_mktsegment")
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_cms_merges_to_batch(spark, stream_dir, tmp_path):
    """Count-Min is mergeable: the streaming cell-count agg (partial
    sums per micro-batch, merged in the state store) lands on exactly
    the one-shot batch grid."""
    from hana_bq_beam_connector_spark.operators.sketch import (
        count_min_sketch,
    )
    from hana_bq_beam_connector_spark.streaming.windows import (
        EVENTS_SCHEMA,
        events_stream,
        run_available_now,
    )

    stream = events_stream(spark, stream_dir).select("user_id")
    run_available_now(
        count_min_sketch(stream, "user_id", w=64, d=4),
        "cms_t",
        str(tmp_path / "ckpt_cms"),
    )
    got = {
        (r["r"], r["c"]): r["cnt"]
        for r in spark.sql("SELECT * FROM cms_t").collect()
    }
    batch = (
        spark.read.schema(EVENTS_SCHEMA)
        .parquet(stream_dir)
        .select("user_id")
    )
    want = {
        (r["r"], r["c"]): r["cnt"]
        for r in count_min_sketch(batch, "user_id", w=64, d=4).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_incremental_dedup_matches_batch(
    spark, tmp_path, sf_dir
):
    """The production daily loop, live: new documents arrive as a
    stream, each micro-batch is probed against the corpus LSH index
    inside foreachBatch, and survivors append to the sink.  The
    streamed survivor set must equal the one-shot batch
    incremental_near_dup_filter on the same slice."""
    import shutil

    from hana_bq_beam_connector_spark.operators.dedup import (
        incremental_near_dup_filter,
    )

    docs_dir = tmp_path / "docs_stream"
    docs_dir.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", docs_dir / "part0.parquet")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema

    corpus = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 10 != 0)
        .select("doc_id", "text")
    )
    out_dir = str(tmp_path / "survivors")

    def handle(batch_df, _batch_id):
        surv = incremental_near_dup_filter(
            batch_df.select("doc_id", "text"),
            corpus,
            id_col="doc_id",
            text_col="text",
        )
        surv.select("doc_id").write.mode("append").parquet(out_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir))
        .where(F.col("doc_id") % 10 == 0)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt_inc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    )
    new_batch = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    want = sorted(
        r["doc_id"]
        for r in incremental_near_dup_filter(
            new_batch, corpus, id_col="doc_id", text_col="text"
        )
        .select("doc_id")
        .collect()
    )
    assert got == want and len(got) > 0


def test_streaming_dedup_against_corpus_equals_batch(
    spark, sf_dir, tmp_path
):
    """foreachBatch incremental dedup == the batch filter on the same
    increment: corpus = docs with doc_id % 3 != 0, stream the rest."""
    import shutil

    from hana_bq_beam_connector_spark.operators.dedup import (
        incremental_near_dup_filter,
    )
    from hana_bq_beam_connector_spark.streaming.sinks import (
        streaming_dedup_against_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    increment = docs.where(F.col("doc_id") % 3 == 0)

    inc_dir = tmp_path / "inc"
    increment.coalesce(1).write.parquet(str(inc_dir))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(inc_dir))
    )
    out = tmp_path / "accepted"
    q = streaming_dedup_against_corpus(
        stream,
        corpus,
        "doc_id",
        "text",
        str(out),
        str(tmp_path / "ckpt_sdedup"),
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/batch=*").select(
            "doc_id"
        ).collect()
    }
    want = {
        r["doc_id"]
        for r in incremental_near_dup_filter(
            increment, corpus, "doc_id", "text"
        )
        .select("doc_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Exactly-once resume across a planned restart: a checkpointed
    file-sink query drains half the input, stops, new files arrive,
    and a RESTARTED query with the same checkpoint processes only the
    new files — the already-committed micro-batches are not re-emitted
    (file-sink commit log + source offset log).  This is the crash /
    redeploy contract a 100 TB continuous pipeline leans on: state
    lives in the checkpoint, not the process."""
    import shutil

    from hana_bq_beam_connector_spark.streaming.windows import events_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    half1 = ev.where(F.col("event_id") % 2 == 0)
    half2 = ev.where(F.col("event_id") % 2 == 1)
    staging1 = str(tmp_path / "staging1")
    staging2 = str(tmp_path / "staging2")
    half1.coalesce(1).write.parquet(staging1)
    half2.coalesce(1).write.parquet(staging2)

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def _arrive(staging, tag):
        i = 0
        for f in sorted(__import__("os").listdir(staging)):
            if f.endswith(".parquet"):
                shutil.copy(f"{staging}/{f}", src / f"{tag}_{i}.parquet")
                i += 1

    def _drain():
        q = (
            events_stream(spark, str(src))
            .select("event_id", "user_id", "event_type")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _arrive(staging1, "a")
    _drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == half1.count()

    _arrive(staging2, "b")
    _drain()
    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # nothing duplicated, nothing lost
    assert got.select("event_id").distinct().count() == ev.count()


def test_stream_stream_left_outer_join(spark, stream_dir, tmp_path):
    """Left-outer stream-stream interval join: matched pairs equal the
    batch inner join; click-less purchases emit NULL click columns
    once the watermark provably passes them; no false NULLs ever."""
    from hana_bq_beam_connector_spark.streaming.joins import (
        purchase_click_interval_join,
    )
    from hana_bq_beam_connector_spark.streaming.windows import (
        EVENTS_SCHEMA,
        run_available_now,
    )

    # Two-file source so a second micro-batch applies the watermark
    # advanced by the first: a far-future sentinel click (user -1,
    # joins nothing) pushes the watermark past every real event.
    src = tmp_path / "outer_src"
    src.mkdir()
    shutil.copy(f"{stream_dir}/events.parquet", src / "a_events.parquet")
    static0 = spark.read.parquet(stream_dir)
    max_us = static0.select(
        F.max(F.unix_micros(F.col("ts").cast("timestamp")))
    ).collect()[0][0]
    sentinel_us = max_us + 6 * 3_600_000_000
    spark.createDataFrame(
        [(10_000_000, sentinel_us, -1, "click", 0.0, "{}")],
        "event_id long, ts_us long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).coalesce(1).write.parquet(str(src / "z_sentinel"))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .withColumn("event_time", F.col("ts").cast("timestamp"))
    )
    outer = purchase_click_interval_join(stream, how="left_outer")
    run_available_now(
        outer, "ss_outer_t", str(tmp_path / "ckpt_outer"), mode="append"
    )
    rows = spark.sql("SELECT * FROM ss_outer_t").collect()
    got_pairs = {
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in rows
        if r["click_id"] is not None
    }
    got_nulls = {
        (r["user_id"], r["purchase_id"])
        for r in rows
        if r["click_id"] is None
    }

    static = static0.withColumn("event_time", F.col("ts").cast("timestamp"))
    batch = purchase_click_interval_join(static, how="left_outer").collect()
    want_pairs = {
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in batch
        if r["click_id"] is not None
    }
    want_nulls_all = {
        (r["user_id"], r["purchase_id"])
        for r in batch
        if r["click_id"] is None
    }
    # purchases provably evictable even without the sentinel's batch:
    # older than (max event time - watermark delay - join gap - slack)
    old_cut = max_us - 2 * 3_600_000_000 - 30 * 60_000_000
    want_nulls_old = {
        (r["user_id"], r["purchase_id"])
        for r in batch
        if r["click_id"] is None
        and int(r["p_time"].timestamp() * 1_000_000) < old_cut
    }

    assert got_pairs == want_pairs
    assert got_nulls <= want_nulls_all          # no false NULL rows
    assert want_nulls_old <= got_nulls           # watermark-passed emit
    assert len(got_nulls) > 0
    assert not {p[:2] for p in got_pairs} & got_nulls


def test_stream_apply_cdc_publishes_exact_snapshot(spark, tmp_path):
    """A CDC change stream folded micro-batch by micro-batch must
    publish exactly the snapshot that one batch apply of all changes
    produces (disjoint key sets per file, so file order is
    irrelevant), surviving the initial empty-snapshot bootstrap."""
    from hana_bq_beam_connector_spark.plans.cdc import apply_cdc
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_apply_cdc,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    schema = "k long, v string, op string"
    batch1 = [(1, "a", "I"), (2, "b", "I"), (3, "c", "I")]
    batch2 = [(2, "B", "U"), (3, None, "D"), (9, "i", "I")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    snap_dir = str(tmp_path / "snap")
    q = stream_apply_cdc(
        changes, snap_dir, key="k", checkpoint=str(tmp_path / "ckpt_cdc")
    )
    q.awaitTermination()

    got = {
        (r["k"], r["v"])
        for r in read_cdc_snapshot(spark, snap_dir).collect()
    }
    base0 = spark.createDataFrame([], "k long, v string")
    want_df = apply_cdc(
        apply_cdc(base0, spark.createDataFrame(batch1, schema), "k"),
        spark.createDataFrame(batch2, schema),
        "k",
    )
    want = {(r["k"], r["v"]) for r in want_df.collect()}
    assert got == want == {(1, "a"), (2, "B"), (9, "i")}


@pytest.mark.parametrize("seq_col", [None, "seq"])
def test_stream_apply_cdc_frees_its_pins(spark, tmp_path, seq_col):
    """Both validating branches of apply_cdc pin the change batch; the
    sink frees each batch's pins once its epoch is written, so after
    several micro-batches nothing stays cached — and the published
    snapshot is still the batch apply of all changes (disjoint keys
    per file, so file order is irrelevant)."""
    from hana_bq_beam_connector_spark.plans.cdc import apply_cdc
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_apply_cdc,
    )

    schema = "k long, v string, op string, seq long"
    rows = []
    for i in range(4):
        # per file: an insert, an insert deleted later in the same
        # file (D wins on both branches), an upsert of a new key
        rows.append([
            (10 * i + 1, f"a{i}", "I", 1),
            (10 * i + 2, f"b{i}", "I", 2),
            (10 * i + 2, None, "D", 3),
            (10 * i + 3, f"c{i}", "U", 4),
        ])
    if seq_col is None:
        schema = schema.removesuffix(", seq long")
        rows = [[r[:3] for r in batch] for batch in rows]
    src = tmp_path / "cdc_in"
    for i, batch in enumerate(rows):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    snap_dir = str(tmp_path / "snap")
    spark.catalog.clearCache()
    q = stream_apply_cdc(
        changes,
        snap_dir,
        key="k",
        checkpoint=str(tmp_path / "ckpt"),
        seq_col=seq_col,
    )
    q.awaitTermination()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    got = {
        (r["k"], r["v"])
        for r in read_cdc_snapshot(spark, snap_dir).collect()
    }
    all_changes = spark.createDataFrame(
        [r for batch in rows for r in batch], schema
    )
    want_df = apply_cdc(
        spark.createDataFrame([], "k long, v string"),
        all_changes,
        "k",
        seq_col=seq_col,
        validate=False,
    )
    want = {(r["k"], r["v"]) for r in want_df.collect()}
    assert got == want
    assert len(got) == 8


def test_pins_freed_after_keeps_other_threads_pins(spark):
    """The sink's scoped release frees only the pins its own thread
    made inside the block: a pin another thread makes meanwhile (a
    driver-thread query beside the stream) stays cached until
    release_session_pins()."""
    import threading

    from hana_bq_beam_connector_spark.operators._common import (
        persist_reused,
        pins_freed_after,
        release_session_pins,
    )

    release_session_pins()
    spark.catalog.clearCache()
    other = {}

    def pin_elsewhere():
        other["df"] = persist_reused(spark.range(10).selectExpr("id * 3"))

    with pins_freed_after():
        mine = persist_reused(spark.range(10).selectExpr("id * 2"))
        t = threading.Thread(target=pin_elsewhere)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive()
    assert not mine.is_cached
    assert other["df"].is_cached
    release_session_pins()
    assert not other["df"].is_cached
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_stream_merge_aggregate_equals_batch_aggregate(
    spark, stream_dir, tmp_path
):
    """The incrementally-maintained per-key (count, sum) snapshot must
    equal the from-scratch batch aggregate exactly (decimal-exact
    sums), across multiple micro-batches."""
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_merge_aggregate,
    )
    from hana_bq_beam_connector_spark.streaming.windows import EVENTS_SCHEMA

    # two source files -> two micro-batches, so the snapshot-merge
    # path (not just the bootstrap) is exercised
    src = tmp_path / "mv_src"
    src.mkdir()
    shutil.copy(f"{stream_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{stream_dir}/events.parquet", src / "b.parquet")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    snap = str(tmp_path / "agg_snap")
    q = stream_merge_aggregate(
        stream,
        snap,
        keys=["event_type"],
        checkpoint=str(tmp_path / "ckpt_mv"),
    )
    q.awaitTermination()

    got = {
        (r["event_type"], r["n"], str(r["total"]))
        for r in read_cdc_snapshot(spark, snap).collect()
    }
    want = {
        (r["event_type"], r["n"], str(r["total"]))
        for r in spark.read.parquet(str(src))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup_self_extending_index(spark, sf_dir, tmp_path):
    """A document duplicating an earlier ACCEPTED arrival (never in
    the base corpus) must be rejected by the self-extending index;
    distinct newcomers keep flowing through."""
    import time as _time

    from hana_bq_beam_connector_spark.streaming.sinks import (
        streaming_dedup_self_extending,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    novel = "zebra quark lantern mosaic falcon tundra prism " * 4
    other = "harbor nebula walrus cedar ember glacier orbit " * 4
    schema = "doc_id long, text string"
    src = tmp_path / "sd_src"
    src.mkdir()
    spark.createDataFrame([(100000, novel)], schema).coalesce(1)\
        .write.parquet(str(src / "b1"))
    _time.sleep(1.1)  # file-source ordering is by modification time
    spark.createDataFrame(
        [(100001, novel), (100002, other)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out_dir = str(tmp_path / "sd_out")
    q = streaming_dedup_self_extending(
        stream,
        corpus,
        "doc_id",
        "text",
        out_dir,
        str(tmp_path / "sd_index"),
        str(tmp_path / "sd_ckpt"),
    )
    q.awaitTermination()

    accepted = {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    }
    # 100000 is novel -> accepted; 100001 duplicates the ACCEPTED
    # 100000 (not the corpus) -> rejected; 100002 is distinct -> in
    assert accepted == {100000, 100002}


def _force_replay_of_last_batch(checkpoint: str) -> None:
    """Simulate a crash between the sink's side effects and the
    checkpoint commit: delete the newest commit marker, so a restarted
    query re-runs that micro-batch (its offsets entry still exists)."""
    commits = os.path.join(checkpoint, "commits")
    latest = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(latest)))
    crc = os.path.join(commits, f".{latest}.crc")  # hadoop checksum twin
    if os.path.exists(crc):
        os.remove(crc)


def test_stream_apply_cdc_replay_after_pointer_swap(spark, tmp_path):
    """Replay of a batch whose pointer swap already happened must be a
    no-op, not a crash: before the fix the replayed batch read
    CURRENT -> v{N} as its base and overwrote the same path, raising
    'Cannot overwrite a path that is also being read from' and leaving
    the query in a permanent crash loop."""
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_apply_cdc,
    )

    src = tmp_path / "cdc_in"
    src.mkdir()
    schema = "k long, v string, op string"
    spark.createDataFrame(
        [(1, "a", "I"), (2, "b", "I")], schema
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(2, "B", "U"), (3, "c", "I")], schema
    ).coalesce(1).write.parquet(str(src / "f2"))

    def _run():
        changes = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = stream_apply_cdc(
            changes, snap, key="k", checkpoint=ck
        )
        q.awaitTermination()

    snap = str(tmp_path / "snap")
    ck = str(tmp_path / "ckpt")
    _run()
    want = {(1, "a"), (2, "B"), (3, "c")}
    got = {
        (r["k"], r["v"]) for r in read_cdc_snapshot(spark, snap).collect()
    }
    assert got == want

    _force_replay_of_last_batch(ck)
    _run()  # must not raise, must not corrupt the published snapshot
    got = {
        (r["k"], r["v"]) for r in read_cdc_snapshot(spark, snap).collect()
    }
    assert got == want


def test_stream_merge_aggregate_replay_no_double_count(
    spark, stream_dir, tmp_path
):
    """Replay after the pointer swap must not merge the batch's
    partials a second time — the maintained (count, sum) view still
    equals the from-scratch batch aggregate."""
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_merge_aggregate,
    )
    from hana_bq_beam_connector_spark.streaming.windows import EVENTS_SCHEMA

    src = tmp_path / "mv_src"
    src.mkdir()
    shutil.copy(f"{stream_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{stream_dir}/events.parquet", src / "b.parquet")
    snap = str(tmp_path / "agg_snap")
    ck = str(tmp_path / "ckpt_mv")

    def _run():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = stream_merge_aggregate(
            stream, snap, keys=["event_type"], checkpoint=ck
        )
        q.awaitTermination()

    _run()
    _force_replay_of_last_batch(ck)
    _run()  # replayed batch detects its own epoch published and skips

    got = {
        (r["event_type"], r["n"], str(r["total"]))
        for r in read_cdc_snapshot(spark, snap).collect()
    }
    want = {
        (r["event_type"], r["n"], str(r["total"]))
        for r in spark.read.parquet(str(src))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_dedup_self_extending_replay_keeps_accepted(
    spark, sf_dir, tmp_path
):
    """Replay of a batch whose index contribution was already written
    must NOT probe against its own shingles: before the fix every
    replayed document self-matched at Jaccard 1.0, the batch output
    was overwritten empty, and accepted documents silently vanished."""
    import time as _time

    from hana_bq_beam_connector_spark.streaming.sinks import (
        streaming_dedup_self_extending,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    novel = "quasar bamboo trellis onyx meridian sable cobalt " * 4
    other = "juniper basalt crescent fathom ledger sprocket " * 4
    schema = "doc_id long, text string"
    src = tmp_path / "sdr_src"
    src.mkdir()
    spark.createDataFrame([(200000, novel)], schema).coalesce(1)\
        .write.parquet(str(src / "b1"))
    _time.sleep(1.1)
    spark.createDataFrame(
        [(200001, novel), (200002, other)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    out_dir = str(tmp_path / "sdr_out")
    idx_dir = str(tmp_path / "sdr_index")
    ck = str(tmp_path / "sdr_ckpt")

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = streaming_dedup_self_extending(
            stream, corpus, "doc_id", "text", out_dir, idx_dir, ck
        )
        q.awaitTermination()

    _run()
    assert {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    } == {200000, 200002}

    _force_replay_of_last_batch(ck)
    _run()  # batch 1 re-runs with its own index contribution excluded
    assert {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    } == {200000, 200002}


def test_stream_maintain_fingerprints_equals_batch(
    spark, stream_dir, tmp_path
):
    """The incrementally-maintained fingerprint snapshot must equal
    the from-scratch batch fingerprints over everything that has
    arrived (counts/sums add, XORs xor), across micro-batches."""
    from hana_bq_beam_connector_spark.plans.reconcile import (
        chunk_fingerprints,
    )
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_maintain_fingerprints,
    )
    from hana_bq_beam_connector_spark.streaming.windows import EVENTS_SCHEMA

    src = tmp_path / "fp_src"
    src.mkdir()
    shutil.copy(f"{stream_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{stream_dir}/events.parquet", src / "b.parquet")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    snap = str(tmp_path / "fp_snap")
    q = stream_maintain_fingerprints(
        stream,
        snap,
        ts_col="ts",
        key_col="event_id",
        checkpoint=str(tmp_path / "ckpt_fp"),
    )
    q.awaitTermination()

    got = {
        (r["bucket_lo"], r["n_rows"], r["key_xor"], r["key_sum"])
        for r in read_cdc_snapshot(spark, snap).collect()
    }
    want = {
        (r["bucket_lo"], r["n_rows"], r["key_xor"], r["key_sum"])
        for r in chunk_fingerprints(
            spark.read.parquet(str(src)), "ts", "event_id"
        ).collect()
    }
    assert got == want and len(got) > 0
    # Doubled data: every key appears twice, so each bucket's XOR must
    # have cancelled to zero while counts doubled — the property that
    # makes replay-after-publish dangerous and worth guarding.
    assert all(x == 0 for (_, _, x, _) in got)


def test_stream_maintain_fingerprints_legacy_shape(
    spark, stream_dir, tmp_path
):
    """full_row=False maintains a pre-row_xor (keys-only) snapshot —
    the upgrade path for snapshots built before the full-row hash
    existed, which must NOT require re-checksumming source history.
    The batch twin with the same options must agree."""
    from hana_bq_beam_connector_spark.plans.reconcile import (
        chunk_fingerprints,
    )
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_maintain_fingerprints,
    )
    from hana_bq_beam_connector_spark.streaming.windows import EVENTS_SCHEMA

    src = tmp_path / "fp_leg_src"
    src.mkdir()
    shutil.copy(f"{stream_dir}/events.parquet", src / "a.parquet")
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    snap = str(tmp_path / "fp_leg_snap")
    q = stream_maintain_fingerprints(
        stream,
        snap,
        ts_col="ts",
        key_col="event_id",
        checkpoint=str(tmp_path / "ckpt_fp_leg"),
        full_row=False,
    )
    q.awaitTermination()
    got_df = read_cdc_snapshot(spark, snap)
    assert "row_xor" not in got_df.columns  # legacy shape preserved
    got = {tuple(r) for r in got_df.collect()}
    want = {
        tuple(r)
        for r in chunk_fingerprints(
            spark.read.parquet(str(src)), "ts", "event_id",
            full_row=False,
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_maintain_fingerprints_replay_no_xor_cancel(
    spark, stream_dir, tmp_path
):
    """Replay of an already-published batch must be skipped: re-XORing
    it would cancel its keys OUT of the fingerprint (same mechanism as
    double-count, but self-inverting so extra dangerous)."""
    from hana_bq_beam_connector_spark.plans.reconcile import (
        chunk_fingerprints,
    )
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_maintain_fingerprints,
    )
    from hana_bq_beam_connector_spark.streaming.windows import EVENTS_SCHEMA

    src = tmp_path / "fpr_src"
    src.mkdir()
    shutil.copy(f"{stream_dir}/events.parquet", src / "a.parquet")
    snap = str(tmp_path / "fpr_snap")
    ckpt = str(tmp_path / "ckpt_fpr")

    def _run():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = stream_maintain_fingerprints(
            stream, snap, ts_col="ts", key_col="event_id", checkpoint=ckpt
        )
        q.awaitTermination()

    _run()
    _force_replay_of_last_batch(ckpt)
    _run()  # replayed batch: publish already happened -> must skip

    got = {
        (r["bucket_lo"], r["n_rows"], r["key_xor"], r["key_sum"])
        for r in read_cdc_snapshot(spark, snap).collect()
    }
    want = {
        (r["bucket_lo"], r["n_rows"], r["key_xor"], r["key_sum"])
        for r in chunk_fingerprints(
            spark.read.parquet(str(src)), "ts", "event_id"
        ).collect()
    }
    assert got == want
    # Single copy of the data: XORs must NOT be all zero (that would
    # be the cancelled-out signature of a double merge).
    assert any(x != 0 for (_, _, x, _) in got)


def test_gc_snapshot_epochs_keeps_published_and_grace(
    spark, stream_dir, tmp_path
):
    """After several published batches, GC must delete the oldest
    superseded epochs, keep the published epoch plus the grace window,
    and leave the snapshot readable and unchanged."""
    from hana_bq_beam_connector_spark.streaming.sinks import (
        gc_snapshot_epochs,
        read_cdc_snapshot,
        stream_merge_aggregate,
    )
    from hana_bq_beam_connector_spark.streaming.windows import EVENTS_SCHEMA

    src = tmp_path / "gc_src"
    src.mkdir()
    for tag in "abcd":  # four files -> four micro-batches/epochs
        shutil.copy(f"{stream_dir}/events.parquet", src / f"{tag}.parquet")
    snap = str(tmp_path / "gc_snap")
    q = stream_merge_aggregate(
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        snap,
        keys=["event_type"],
        checkpoint=str(tmp_path / "ckpt_gc"),
    )
    q.awaitTermination()

    before = {
        (r["event_type"], r["n"], str(r["total"]))
        for r in read_cdc_snapshot(spark, snap).collect()
    }
    epochs = lambda: sorted(  # noqa: E731
        e for e in os.listdir(snap) if e.startswith("v")
    )
    assert len(epochs()) == 4
    removed = gc_snapshot_epochs(snap, keep=1)
    # published (v3) survives + 1 grace (v2); v0, v1 removed
    assert len(removed) == 2
    assert epochs() == ["v2", "v3"]
    after = {
        (r["event_type"], r["n"], str(r["total"]))
        for r in read_cdc_snapshot(spark, snap).collect()
    }
    assert after == before
    # Idempotent: nothing more to remove at the same grace.
    assert gc_snapshot_epochs(snap, keep=1) == []


def test_compact_dedup_index_preserves_rejections(spark, sf_dir, tmp_path):
    """Compacting the self-extending index between stream runs must
    not change its behavior: a later arrival duplicating a
    pre-compaction ACCEPTED doc is still rejected, and a distinct one
    still flows through."""
    import time as _time

    from hana_bq_beam_connector_spark.streaming.sinks import (
        compact_dedup_index,
        streaming_dedup_self_extending,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    novel = "zenith quill marble osprey fjord tulip cinder " * 4
    late_dup = novel
    fresh = "bastion willow grotto saffron isthmus raven dune " * 4
    schema = "doc_id long, text string"
    src = tmp_path / "ci_src"
    src.mkdir()
    out_dir = str(tmp_path / "ci_out")
    index_dir = str(tmp_path / "ci_index")
    ckpt = str(tmp_path / "ci_ckpt")

    def _run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = streaming_dedup_self_extending(
            stream, corpus, "doc_id", "text", out_dir, index_dir, ckpt
        )
        q.awaitTermination()

    # Run 1: two batches, both accepted (distinct novel docs).
    spark.createDataFrame([(200000, novel)], schema).coalesce(1)\
        .write.parquet(str(src / "c1"))
    _time.sleep(1.1)
    spark.createDataFrame([(200001, fresh)], schema).coalesce(1)\
        .write.parquet(str(src / "c2"))
    _run()

    stats = compact_dedup_index(spark, index_dir)
    assert stats == {"sh": 2, "bands": 2}
    # Folded to exactly one contribution per component.
    for comp in ("sh", "bands"):
        subdirs = [
            d
            for d in os.listdir(os.path.join(index_dir, comp))
            if d.startswith("batch_")
        ]
        assert subdirs == ["batch_compacted_1"]

    # Run 2: a dup of the pre-compaction accepted doc + a newcomer.
    _time.sleep(1.1)
    spark.createDataFrame(
        [(200002, late_dup), (200003, "glimmer vortex " * 10)], schema
    ).coalesce(1).write.parquet(str(src / "c3"))
    _run()

    accepted = {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    }
    assert accepted == {200000, 200001, 200003}
    # Idempotent second compaction folds the new batch in too.
    stats2 = compact_dedup_index(spark, index_dir)
    assert stats2 == {"sh": 2, "bands": 2}


def test_stateful_distinct_keys_string_key(spark, events, stream_dir, tmp_path):
    """The output schema must mirror the key column's name AND type —
    a string event_type key used to crash against the hard-coded
    (user_id, long) schema."""
    from hana_bq_beam_connector_spark.streaming.stateful import (
        stateful_distinct_keys,
    )
    from hana_bq_beam_connector_spark.streaming.windows import events_stream

    stream = events_stream(spark, stream_dir)
    run_available_now(
        stateful_distinct_keys(stream, key_col="event_type"),
        "distinct_types_t",
        str(tmp_path / "ckpt_sk"),
        mode="append",
    )
    got = {
        r["event_type"]
        for r in spark.sql("SELECT event_type FROM distinct_types_t").collect()
    }
    want = {
        r["event_type"]
        for r in events.select("event_type").distinct().collect()
    }
    assert got == want and len(got) == 5


def test_stream_drift_monitor_equals_batch(spark, stream_dir, tmp_path):
    """Live drift monitor: the streamed 6h cell counts, divided at
    read time against the static baseline, equal the batch
    stream_drift_baseline emission exactly (same doubles: the shares
    are single IEEE divisions of identical exact integers)."""
    from hana_bq_beam_connector_spark.queries.streaming import (
        stream_drift_baseline,
    )
    from hana_bq_beam_connector_spark.streaming.windows import (
        drift_cells_agg,
    )

    stream = events_stream(spark, stream_dir)
    cells = drift_cells_agg(stream)
    assert cells.isStreaming
    run_available_now(cells, "drift_cells_t", str(tmp_path / "ckpt_drift"))

    # Read-time math over the maintained cell table: window totals,
    # corpus baseline, shares — all from the tiny sink table.
    got = {
        (int(r["window_start"].timestamp() * 1_000_000), r["event_type"]): (
            r["n"],
            r["win_n"],
            r["p_window"],
            r["p_baseline"],
            r["abs_diff"],
        )
        for r in spark.sql(
            """
            WITH wt AS (SELECT window_start, SUM(n) AS win_n
                        FROM drift_cells_t GROUP BY 1),
            base AS (SELECT event_type, SUM(n) AS base_n
                     FROM drift_cells_t GROUP BY 1),
            g AS (SELECT SUM(n) AS all_n FROM drift_cells_t)
            SELECT c.window_start, c.event_type, c.n, wt.win_n,
              CAST(c.n AS DOUBLE) / CAST(wt.win_n AS DOUBLE) AS p_window,
              CAST(base.base_n AS DOUBLE) / CAST(g.all_n AS DOUBLE)
                AS p_baseline,
              ABS(CAST(c.n AS DOUBLE) / CAST(wt.win_n AS DOUBLE)
                  - CAST(base.base_n AS DOUBLE) / CAST(g.all_n AS DOUBLE))
                AS abs_diff
            FROM drift_cells_t c
            JOIN wt ON c.window_start = wt.window_start
            JOIN base ON c.event_type = base.event_type
            CROSS JOIN g
            """
        ).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (
            r["n"],
            r["win_n"],
            r["p_window"],
            r["p_baseline"],
            r["abs_diff"],
        )
        for r in stream_drift_baseline(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_stream_srm_monitor_equals_batch(spark, stream_dir, tmp_path):
    """Live SRM monitor: the streamed per-window arm counts, closed
    at read time with the chi-square arithmetic, equal the batch
    stream_srm_monitor emission exactly — and the streaming layer's
    inlined arm expression matches the experimentation family's."""
    from hana_bq_beam_connector_spark.queries.experiment import (
        _SPARK_ARM,
    )
    from hana_bq_beam_connector_spark.queries.streaming import (
        stream_srm_monitor,
    )
    from hana_bq_beam_connector_spark.streaming.windows import (
        _ARM_EXPR,
        srm_cells_agg,
    )

    assert _ARM_EXPR == _SPARK_ARM  # duplicated literal stays in sync

    stream = events_stream(spark, stream_dir)
    cells = srm_cells_agg(stream)
    assert cells.isStreaming
    run_available_now(cells, "srm_cells_t", str(tmp_path / "ckpt_srm"))

    term = lambda a: (  # noqa: E731 - readability of the SQL pair
        f"(CAST({a} AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) / 2)"
        f" * (CAST({a} AS DOUBLE) - CAST(n_t + n_c AS DOUBLE) / 2)"
        " / (CAST(n_t + n_c AS DOUBLE) / 2)"
    )
    got = {
        int(r["window_start"].timestamp() * 1_000_000): (
            r["n_t"],
            r["n_c"],
            r["n_total"],
            r["expected"],
            r["srm_chi2"],
        )
        for r in spark.sql(
            f"""
            WITH c AS (
              SELECT window_start,
                CAST(SUM(CASE WHEN arm = 'treatment' THEN n ELSE 0 END)
                  AS BIGINT) AS n_t,
                CAST(SUM(CASE WHEN arm = 'control' THEN n ELSE 0 END)
                  AS BIGINT) AS n_c
              FROM srm_cells_t GROUP BY 1
            )
            SELECT window_start, n_t, n_c,
              CAST(n_t + n_c AS BIGINT) AS n_total,
              CAST(n_t + n_c AS DOUBLE) / 2 AS expected,
              {term('n_t')} + {term('n_c')} AS srm_chi2
            FROM c
            """
        ).collect()
    }
    want = {
        r["window_start"]: (
            r["n_t"],
            r["n_c"],
            r["n_total"],
            r["expected"],
            r["srm_chi2"],
        )
        for r in stream_srm_monitor(spark, SF).collect()
    }
    assert got == want and len(got) > 0


def test_stream_apply_cdc_crash_between_stage_and_swap(
    spark, tmp_path, monkeypatch
):
    """Induced crash INSIDE the publish protocol: batch 2's epoch
    directory is fully staged but the process dies before the pointer
    swap (os.replace raises).  Readers must keep seeing batch 1's
    snapshot — never a torn one — and a restart from the same
    checkpoint must replay batch 2 and converge to the exact batch
    result."""
    import os as _os

    from hana_bq_beam_connector_spark.plans.cdc import apply_cdc
    from hana_bq_beam_connector_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_apply_cdc,
    )

    src = tmp_path / "crash_cdc_in"
    src.mkdir()
    schema = "k long, v string, op string"
    batch1 = [(1, "a", "I"), (2, "b", "I"), (3, "c", "I")]
    batch2 = [(2, "B", "U"), (3, None, "D"), (9, "i", "I")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "f2")
    )

    def make_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )

    snap_dir = str(tmp_path / "crash_snap")
    ckpt = str(tmp_path / "crash_ckpt")

    real_replace = _os.replace
    swaps = {"n": 0}

    def crashing_replace(s, d):
        if str(d).endswith("CURRENT"):
            swaps["n"] += 1
            if swaps["n"] == 2:  # die mid-publish of the SECOND batch
                raise OSError("injected crash before pointer swap")
        return real_replace(s, d)

    monkeypatch.setattr(_os, "replace", crashing_replace)
    q = stream_apply_cdc(make_stream(), snap_dir, key="k", checkpoint=ckpt)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()

    # Torn-snapshot check: the staged-but-unswapped epoch must be
    # invisible — the pointer still names batch 1's epoch, and reading
    # through it yields exactly the after-batch-1 state.
    monkeypatch.setattr(_os, "replace", real_replace)
    got_mid = {
        (r["k"], r["v"])
        for r in read_cdc_snapshot(spark, snap_dir).collect()
    }
    assert got_mid == {(1, "a"), (2, "b"), (3, "c")}
    with open(f"{snap_dir}/CURRENT") as fh:
        assert fh.read().strip().endswith("v0")
    assert _os.path.isdir(f"{snap_dir}/v1")  # staged orphan epoch

    # Restart from the same checkpoint: batch 2 never committed, so it
    # replays, overwrites its own orphan epoch, and swaps cleanly.
    q2 = stream_apply_cdc(make_stream(), snap_dir, key="k", checkpoint=ckpt)
    q2.awaitTermination()
    got = {
        (r["k"], r["v"])
        for r in read_cdc_snapshot(spark, snap_dir).collect()
    }
    base0 = spark.createDataFrame([], "k long, v string")
    want_df = apply_cdc(
        apply_cdc(base0, spark.createDataFrame(batch1, schema), "k"),
        spark.createDataFrame(batch2, schema),
        "k",
    )
    want = {(r["k"], r["v"]) for r in want_df.collect()}
    assert got == want == {(1, "a"), (2, "B"), (9, "i")}


def test_compact_dedup_index_crash_before_rename(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Induced crash in the compactor: the merged directory is staged
    at the dotted temp path but the process dies before os.rename.
    The sources must survive untouched (no data loss), the temp must
    be invisible to the sink's batch_* listing, and a re-run must
    clear the stale temp and converge."""
    import os as _os

    from hana_bq_beam_connector_spark.streaming.sinks import (
        compact_dedup_index,
    )

    root = tmp_path / "idx" / "sh"
    root.mkdir(parents=True)
    rows1 = [(1, 11), (2, 22)]
    rows2 = [(3, 33)]
    spark.createDataFrame(rows1, "doc_id long, h long").write.parquet(
        str(root / "batch_0")
    )
    spark.createDataFrame(rows2, "doc_id long, h long").write.parquet(
        str(root / "batch_1")
    )

    real_rename = _os.rename

    def crashing_rename(s, d):
        if "/batch_compacted_" in str(d).replace("\\", "/"):
            raise OSError("injected crash before compaction rename")
        return real_rename(s, d)

    monkeypatch.setattr(_os, "rename", crashing_rename)
    with pytest.raises(OSError, match="injected crash"):
        compact_dedup_index(spark, str(tmp_path / "idx"))

    # Crash aftermath: all sources intact, temp staged but dotted
    # (invisible to any 'batch_*' listing), no half-written dest.
    monkeypatch.setattr(_os, "rename", real_rename)
    entries = sorted(_os.listdir(root))
    assert "batch_0" in entries and "batch_1" in entries
    assert ".tmp_compacted_1" in entries
    assert not any(e.startswith("batch_compacted") for e in entries)

    # Re-run converges: stale temp cleared, sources folded into the
    # compacted dir, and the row multiset is preserved exactly.
    stats = compact_dedup_index(spark, str(tmp_path / "idx"))
    assert stats["sh"] == 2
    entries = sorted(_os.listdir(root))
    assert "batch_compacted_1" in entries
    assert ".tmp_compacted_1" not in entries
    assert "batch_0" not in entries and "batch_1" not in entries
    got = sorted(
        (r["doc_id"], r["h"])
        for r in spark.read.parquet(str(root / "batch_compacted_1")).collect()
    )
    assert got == [(1, 11), (2, 22), (3, 33)]
