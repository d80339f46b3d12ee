"""File-source round-trips and scan-shape assertions (SURVEY §2c
sources [P/X]): csv/json read back exactly, and the parquet scan
actually prunes and pushes down (the 100 TB contract)."""

from __future__ import annotations

import shutil
import uuid

from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.sources.files import (
    _local_listing,
    load_table,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_csv_round_trip(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.csv(path, header=True)
    back = read_csv(spark, path)
    assert back.columns == nation.columns
    assert _rows(back) == _rows(nation)


def test_json_round_trip(spark, tmp_path):
    nation = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_json")
    nation.write.json(path)
    back = read_json(spark, path).select(*nation.columns)  # json sorts keys
    assert _rows(back) == _rows(nation)


def test_parquet_scan_pushes_filter_and_prunes_columns(spark):
    o = load_table(spark, SF, "orders")
    plan = (
        o.where(F.col("o_totalprice") > 100000.0)
        .select("o_orderkey", "o_totalprice")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "o_totalprice" in plan.split(
        "PushedFilters"
    )[1].split("]")[0], plan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    # pruning: untouched wide columns never reach the scan
    assert "o_orderpriority" not in read_schema


def test_embedding_dedup_plan_has_no_cross_product(spark):
    from hana_bq_beam_connector_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    e = load_table(spark, SF, "embeddings")
    plan = (
        embedding_near_dup_pairs(e)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned writes + partition pruning: the 100 TB
    layout lever — a filter on the partition column must skip whole
    directories, not filter rows post-scan."""
    d = load_table(spark, SF, "documents")
    path = str(tmp_path / "docs_by_lang")
    d.write.partitionBy("lang").parquet(path)

    back = spark.read.parquet(path).where(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "lang" in plan.split("PartitionFilters")[1].split("]")[0], plan
    want = d.where(F.col("lang") == "en").count()
    assert back.count() == want


def test_merge_upsert_semantics(spark):
    from hana_bq_beam_connector_spark.plans.upsert import merge_upsert

    o = load_table(spark, SF, "orders")
    updates = o.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_orderstatus", F.lit("X")
    )
    merged = merge_upsert(o, updates.select(*o.columns), key="o_orderkey")
    assert merged.count() == o.count()  # no dup keys, nothing lost
    got = {
        r["o_orderkey"]: r["o_orderstatus"]
        for r in merged.select("o_orderkey", "o_orderstatus").collect()
    }
    for r in o.select("o_orderkey", "o_orderstatus").collect():
        if r["o_orderkey"] % 2 == 0:
            assert got[r["o_orderkey"]] == "X"
        else:
            assert got[r["o_orderkey"]] == r["o_orderstatus"]


def test_orc_round_trip(spark, tmp_path):
    """ORC is the other columnar lakehouse format Spark ships native
    read/write for; the engine treats it interchangeably with
    parquet."""
    nation = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_orc")
    nation.write.orc(path)
    back = read_orc(spark, path)
    assert back.columns == nation.columns
    assert _rows(back) == _rows(nation)


def test_aqe_coalesces_small_shuffle(spark):
    """AQE folds the 32 static shuffle partitions down to what the
    data needs — the mechanism that right-sizes reducer counts at any
    scale without hand tuning."""
    n = load_table(spark, SF, "nation")
    agg = n.groupBy("n_regionkey").count()
    agg.collect()  # execute so AQE finalizes the plan
    assert agg.rdd.getNumPartitions() < 32


def test_star_join_broadcasts_dims(spark):
    from hana_bq_beam_connector_spark.queries import registry

    df = registry()["join_region_revenue"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_range_clustered_write_disjoint_bands(spark, sf_dir, tmp_path):
    """range_clustered_write produces files whose [min, max] value
    bands are pairwise disjoint — the property that lets parquet
    footer min/max prune range scans (a random layout's bands all
    overlap and nothing prunes)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from hana_bq_beam_connector_spark.sinks import range_clustered_write
    from hana_bq_beam_connector_spark.sources.files import load_table

    ev = load_table(spark, str(sf_dir), "events").select("event_id", "ts")
    out = str(tmp_path / "clustered")
    range_clustered_write(ev, out, "ts", 8)

    bands = []
    for f in Path(out).glob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "ts"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        bands.append((min(mins), max(maxs)))
    assert len(bands) >= 4  # range exchange actually split the data
    bands.sort()
    for (lo1, hi1), (lo2, hi2) in zip(bands, bands[1:]):
        assert hi1 <= lo2  # disjoint, contiguous bands

    # and the round trip is lossless
    back = spark.read.parquet(out)
    assert back.count() == ev.count()


def test_zorder_write_localizes_both_dimensions(spark, sf_dir, tmp_path):
    """zorder_clustered_write must localize EVERY clustered column at
    once: per-file min/max spans of both dimensions stay small
    fractions of their domains, so a conjunctive 2-D range filter
    prunes by footer stats.  Contrast: 1-D range clustering on
    o_custkey leaves o_totalprice spanning ~the whole domain in every
    file."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from hana_bq_beam_connector_spark.sinks import (
        range_clustered_write,
        zorder_clustered_write,
    )
    from hana_bq_beam_connector_spark.sources.files import load_table

    o = load_table(spark, str(sf_dir), "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def avg_span(path, col):
        dom = o.selectExpr(
            f"max({col}) - min({col}) as d"
        ).first()["d"]
        spans = []
        for f in Path(path).glob("*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = next(
                    md.row_group(rg).column(i)
                    for i in range(md.num_columns)
                    if md.row_group(rg).column(i).path_in_schema == col
                )
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            spans.append((max(maxs) - min(mins)) / dom)
        return sum(spans) / len(spans)

    zpath = str(tmp_path / "zorder")
    zorder_clustered_write(
        o, zpath, ["o_custkey", "o_totalprice"], n_files=16
    )
    rpath = str(tmp_path / "range1d")
    range_clustered_write(o, rpath, "o_custkey", 16)

    # Both dimensions localized under Z-order.  Margin note: a file
    # holds one contiguous Morton range; ranges that cross high-order
    # curve boundaries can span up to ~half of one dimension, and
    # repartitionByRange samples its boundaries with an RDD-id-seeded
    # sampler, so exact spans jitter slightly from run to run — 0.7
    # is a stable bound that still clearly separates Z-order from the
    # 1-D layout's ~1.0 off-dimension span.
    z_custkey = avg_span(zpath, "o_custkey")
    z_price = avg_span(zpath, "o_totalprice")
    assert z_custkey < 0.7, z_custkey
    assert z_price < 0.7, z_price
    # ...while 1-D clustering localizes only its own column
    r_custkey = avg_span(rpath, "o_custkey")
    r_price = avg_span(rpath, "o_totalprice")
    assert r_custkey < 0.2, r_custkey
    assert r_price > 0.8, r_price
    # and Z-order beats 1-D clearly on the off-dimension
    assert z_price < r_price - 0.2, (z_price, r_price)
    # lossless round trip
    assert spark.read.parquet(zpath).count() == o.count()


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema drift across historical files (the 100 TB lakehouse
    reality): mergeSchema=true unions old and new schemas, nulling
    the column where absent, instead of silently dropping it."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(
        p + "/batch=0"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, v string, score double"
    ).write.parquet(p + "/batch=1")
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert {f.name for f in merged.schema.fields} >= {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5


def test_compact_parquet_small_files(spark, tmp_path):
    """20 tiny appended files compact to a handful without losing a
    row; the swap leaves no staging debris."""
    import os

    from hana_bq_beam_connector_spark.sinks import compact_parquet

    p = str(tmp_path / "smallfiles")
    for i in range(20):
        spark.range(i * 100, (i + 1) * 100).repartition(1).write.mode(
            "append"
        ).parquet(p)
    before = sum(
        1 for f in os.listdir(p) if f.endswith(".parquet")
    )
    assert before >= 20
    n = compact_parquet(spark, p, target_file_mb=512)
    assert n <= 2
    assert spark.read.parquet(p).count() == 2000
    assert not os.path.exists(p + "._compacting")
    assert not os.path.exists(p + "._old")


def test_binary_file_ingest_feeds_multimodal_stages(spark, tmp_path):
    from hana_bq_beam_connector_spark.operators.multimodal import (
        decode_image_meta,
    )
    from hana_bq_beam_connector_spark.sources.files import read_binary_files

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    # real binary PGM payloads: decode_image_meta parses actual
    # headers since round 9, so ingest must feed genuine images
    payloads = {
        f"img_{i}.pgm": (
            b"P5\n%d %d\n255\n" % (3 + i, 2 + i)
            + bytes((i * 31 + j * 7) % 256 for j in range((3 + i) * (2 + i)))
        )
        for i in range(5)
    }
    (media_dir / "notes.txt").write_bytes(b"not media")
    for fname, blob in payloads.items():
        (media_dir / fname).write_bytes(blob)

    raw = read_binary_files(spark, str(media_dir), glob="*.pgm")
    assert set(raw.columns) == {
        "path",
        "modificationTime",
        "length",
        "content",
    }
    got = {
        r.path.rsplit("/", 1)[-1]: (r.length, bytes(r.content))
        for r in raw.collect()
    }
    assert got == {f: (len(b), b) for f, b in payloads.items()}

    # Files -> media-column table -> Arrow decode stage (the real
    # multimodal flow: ingest, then mapInPandas feature stages).
    media = raw.select(
        F.abs(F.xxhash64("path")).alias("media_id"),
        F.col("content").alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
        F.col("length").alias("byte_len"),
    )
    meta = decode_image_meta(media)
    rows = meta.collect()
    assert len(rows) == 5
    # real header parse: detected mime + true dims, label ignored
    assert {r.media_type for r in rows} == {"image/x-portable-graymap"}
    assert {(r.width, r.height) for r in rows} == {
        (3 + i, 2 + i) for i in range(5)
    }
    assert {r.byte_len for r in rows} == {len(b) for b in payloads.values()}

    # Compaction path: small files -> parquet with binary column,
    # payload survives byte-for-byte.
    out = str(tmp_path / "compacted")
    media.write.parquet(out)
    back = spark.read.parquet(out)
    assert sorted(bytes(r.payload) for r in back.collect()) == sorted(
        payloads.values()
    )


def test_json_corrupt_record_modes(spark, tmp_path):
    """Malformed-input contract for the JSON source: PERMISSIVE mode
    surfaces bad lines in a corrupt-record column instead of failing
    the 100 TB job at hour three; DROPMALFORMED silently drops them.
    (The reference aborts on any unexpected input — HanaToBQ.java:129-132;
    our engine must degrade row-wise, not job-wise.)"""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = str(tmp_path / "mixed.json")
    with open(p, "w") as f:
        f.write('{"id": 1, "name": "ok"}\n')
        f.write('{"id": 2, "name": "also ok"}\n')
        f.write('{"id": THIS IS NOT JSON\n')
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("_corrupt", StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(p)
        .cache()
    )
    try:
        rows = permissive.collect()
        assert len(rows) == 3
        bad = [r for r in rows if r["_corrupt"] is not None]
        assert len(bad) == 1 and bad[0]["id"] is None
        good_ids = sorted(r["id"] for r in rows if r["_corrupt"] is None)
        assert good_ids == [1, 2]
    finally:
        permissive.unpersist()

    dropped = (
        spark.read.schema(
            StructType([StructField("id", LongType()), StructField("name", StringType())])
        )
        .option("mode", "DROPMALFORMED")
        .json(p)
    )
    assert sorted(r["id"] for r in dropped.collect()) == [1, 2]


def test_schema_evolution_merge_schema(spark, tmp_path):
    """Schema drift across parquet file generations: mergeSchema reads
    the union schema, old files surface NULL for the new column —
    row-wise degradation, never a failed job (the reference aborts on
    any unknown column, HanaToBQ.java:129-132)."""
    from pyspark.sql import functions as F

    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    v2 = spark.createDataFrame(
        [(3, "c", 30.0)], "id long, v string, score double"
    )
    v1.write.parquet(str(tmp_path / "t" / "gen=1"))
    v2.write.parquet(str(tmp_path / "t" / "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        str(tmp_path / "t")
    )
    assert set(merged.columns) >= {"id", "v", "score"}
    rows = {
        (r["id"], r["v"], r["score"])
        for r in merged.select("id", "v", "score").collect()
    }
    assert rows == {(1, "a", None), (2, "b", None), (3, "c", 30.0)}
    # and the new column is filterable with pushdown intact
    assert merged.where(F.col("score") > 10).count() == 1


def _with_job_ids(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the ids
    of the Spark jobs it submitted."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_table_submits_no_job(spark, tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copyfile(f"{SF}/orders.parquet", sf / "orders.parquet")
    _, first_jobs = _with_job_ids(
        spark, lambda: load_table(spark, str(sf), "orders")
    )
    second, second_jobs = _with_job_ids(
        spark, lambda: load_table(spark, str(sf), "orders")
    )
    assert first_jobs, "the first load infers the schema in a Spark job"
    assert second_jobs == []
    plain = spark.read.parquet(str(sf / "orders.parquet"))
    assert second.schema == plain.schema
    assert _rows(second) == _rows(plain)


def test_rewrite_with_new_schema_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert read_parquet(spark, path).columns == ["id"]
    assert read_parquet(spark, path).columns == ["id"]
    spark.range(3).selectExpr("id", "string(id) AS s").write.mode(
        "overwrite"
    ).parquet(path)
    back = read_parquet(spark, path)
    assert back.columns == ["id", "s"]
    assert _rows(back) == [(0, "0"), (1, "1"), (2, "2")]


def test_partitioned_read_matches_uncached_and_sees_new_partition(
    spark, tmp_path
):
    path = str(tmp_path / "parts")
    schema = "v long, s string, k int"
    rows = [(1, "a", 10), (2, "b", 20)]
    spark.createDataFrame(rows, schema).write.partitionBy("k").parquet(path)
    read_parquet(spark, path)
    cached = read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert cached.schema == plain.schema
    assert cached.dtypes == [("v", "bigint"), ("s", "string"), ("k", "int")]
    assert _rows(cached) == _rows(plain)

    spark.createDataFrame([(3, "c", 30)], schema).write.mode(
        "append"
    ).partitionBy("k").parquet(path)
    assert _rows(read_parquet(spark, path)) == [
        (1, "a", 10), (2, "b", 20), (3, "c", 30)
    ]


def test_parquet_setting_change_reinfers(spark, tmp_path):
    """``binaryAsString`` applies to footers without a Spark schema, so
    the file is written by pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).dtypes == [("b", "string")]
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
    finally:
        spark.conf.set(key, before)


def test_non_local_paths_are_not_cached(tmp_path):
    assert _local_listing("gs://bucket/t.parquet") is None
    assert _local_listing(str(tmp_path / "missing")) is None
    assert _local_listing(f"{SF}/*.parquet") is None
    assert _local_listing(f"file://{SF}/orders.parquet") == _local_listing(
        f"{SF}/orders.parquet"
    )


def test_self_join_of_two_loads_resolves(spark):
    a = load_table(spark, SF, "nation")
    b = load_table(spark, SF, "nation")
    got = {
        (r[0], r[1])
        for r in a.join(b, a["n_regionkey"] == b["n_nationkey"])
        .select(a["n_name"], b["n_name"])
        .collect()
    }
    names = {r["n_nationkey"]: r["n_name"] for r in a.collect()}
    want = {
        (r["n_name"], names[r["n_regionkey"]])
        for r in a.select("n_name", "n_regionkey").collect()
    }
    assert got == want and len(got) == 25
