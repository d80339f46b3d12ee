"""Behavioral tests for the LLM-data operators (M3): recall, schema,
determinism — properties the oracle hash can't express."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hana_bq_beam_connector_spark.operators.dedup import (
    minhash_near_dup_pairs,
)
from hana_bq_beam_connector_spark.operators.multimodal import (
    decode_image_meta,
    documents_as_media,
    frame_sample,
)
from hana_bq_beam_connector_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket_topk,
)
from hana_bq_beam_connector_spark.sources.files import load_table

SF = "/root/testdata/sf0.001"


def test_minhash_finds_planted_near_dups(spark):
    d = load_table(spark, SF, "documents")
    pairs = minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.8)
    rows = pairs.collect()
    assert len(rows) > 0
    assert all(r["jaccard"] >= 0.8 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)
    # the corpus has planted ~0.99-jaccard pairs; LSH must catch them
    assert any(r["jaccard"] > 0.95 for r in rows)


def test_minhash_pairs_subset_of_brute_force(spark):
    """LSH has false-negative risk but never false positives after the
    exact-Jaccard verify: every reported pair really is >= threshold
    (checked against an independent pair-wise computation)."""
    d = load_table(spark, SF, "documents").limit(100)
    pairs = minhash_near_dup_pairs(d, "doc_id", "text", threshold=0.8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    docs = {r["doc_id"]: r["text"].split(" ") for r in d.collect()}

    def shingles(ws):
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    for id_a, id_b in got:
        sa, sb = shingles(docs[id_a]), shingles(docs[id_b])
        j = len(sa & sb) / len(sa | sb)
        assert j >= 0.8


def test_lsh_ann_recall_vs_exact(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(emb["vec_id"] < 20)
    exact = cosine_topk(queries, emb, k=3)
    ann = lsh_bucket_topk(queries, emb, dim=64, k=3)
    exact_pairs = {
        (r["query_id"], r["cand_id"]) for r in exact.collect()
    }
    ann_pairs = {(r["query_id"], r["cand_id"]) for r in ann.collect()}
    # ANN trades recall for a 256x candidate cut; on random-ish
    # embeddings bucket recall is modest — assert it finds a
    # meaningful fraction and returns nothing outside the bucket.
    assert len(ann_pairs) > 0
    recall = len(exact_pairs & ann_pairs) / len(exact_pairs)
    assert recall > 0.1, f"ANN recall collapsed: {recall}"


def test_quantized_topk_recall_vs_exact(spark):
    """int8 quantization must preserve the cosine ranking almost
    perfectly — on unit 64-dim vectors the per-component error is
    <= 0.5/127, so top-k recall vs the exact baseline should be near
    1 (this is a memory optimization, not a recall trade)."""
    from hana_bq_beam_connector_spark.operators.similarity import (
        quantized_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(emb["vec_id"] < 20)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk(queries, emb, k=3).collect()
    }
    quant = {
        (r["query_id"], r["cand_id"])
        for r in quantized_topk(queries, emb, k=3).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, f"int8 quantization broke ranking: {recall}"


def test_multimodal_decode_real_headers(spark):
    """decode_image_meta parses dimensions from each format's OWN
    header bytes, dispatching on magic — verified against the
    synthesizers' dimension formulas across three formats."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        synthesize_gif,
        synthesize_pgm,
        synthesize_png,
    )

    d = load_table(spark, SF, "documents").limit(30).select("doc_id")
    for synth, mime, wf, hf, ch in [
        (synthesize_pgm, "image/x-portable-graymap",
         lambda i: 8 + i % 9, lambda i: 8 + i % 7, 1),
        (synthesize_png, "image/png",
         lambda i: 8 + i % 11, lambda i: 8 + i % 6, 1),
        (synthesize_gif, "image/gif",
         lambda i: 6 + i % 9, lambda i: 6 + i % 5, 3),
    ]:
        meta = decode_image_meta(synth(d))
        assert meta.columns == [
            "media_id",
            "media_type",
            "byte_len",
            "width",
            "height",
            "channels",
        ]
        for r in meta.collect():
            i = r["media_id"]
            assert r["media_type"] == mime
            assert (r["width"], r["height"], r["channels"]) == (
                wf(i), hf(i), ch,
            ), (mime, i)


def test_multimodal_decode_rejects_garbage(spark):
    """Unknown magic bytes must raise loudly, never yield metadata."""
    import pytest as _pytest

    d = load_table(spark, SF, "documents").limit(3)
    with _pytest.raises(Exception, match="unknown image magic"):
        decode_image_meta(documents_as_media(d)).collect()


def test_spearman_matches_naive_midranks(spark):
    """The rank-table Spearman must equal a naive pure-Python
    Pearson-on-midranks to float precision — the oracle proves
    cross-engine agreement, this proves the STATISTIC is right."""
    import math

    from hana_bq_beam_connector_spark.queries.stats import (
        stat_spearman_qty_discount,
    )

    li = load_table(spark, SF, "lineitem")
    pairs = [
        (r["l_quantity"], r["l_discount"])
        for r in li.select("l_quantity", "l_discount").collect()
    ]

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while (
                j + 1 < len(order)
                and vals[order[j + 1]] == vals[order[i]]
            ):
                j += 1
            avg = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = avg
            i = j + 1
        return ranks

    rx = midranks([p[0] for p in pairs])
    ry = midranks([p[1] for p in pairs])
    n = len(pairs)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(
        sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
    )
    want = num / den

    [row] = stat_spearman_qty_discount(spark, SF).collect()
    assert row["n"] == n
    assert abs(row["spearman_rho"] - want) < 1e-9


def test_embedding_dedup_auto_planes(spark):
    """n_planes='auto' sizes planes from the corpus (max(4,
    ceil(log2(n/target)))) — at small n it must resolve to the same
    4 planes as the pinned default and return identical pairs; a
    non-int, non-'auto' value raises."""
    import pytest as _pytest

    from hana_bq_beam_connector_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    assert n / 64 <= 16, "fixture grew; pick a smaller slice"
    fixed = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, n_planes=4).collect()
    }
    auto = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, n_planes="auto").collect()
    }
    assert auto == fixed
    with _pytest.raises(ValueError, match="auto"):
        embedding_near_dup_pairs(emb, n_planes=3.5)


def test_pgm_roundtrip_real_bytes(spark):
    """synthesize_pgm emits spec-conformant P5 files; decode_pgm
    PARSES the bytes (not the ids) and recovers exact pixel stats."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        decode_pgm,
        synthesize_pgm,
    )

    d = load_table(spark, SF, "documents").limit(25)
    media = synthesize_pgm(d)
    # The payloads are real PGMs: magic, "w h", maxval, raster.
    for r in media.collect():
        data = bytes(r["payload"])
        magic, dims, maxval, raster = data.split(b"\n", 3)
        assert magic == b"P5" and maxval == b"255"
        w, h = (int(t) for t in dims.split(b" "))
        assert len(raster) == w * h
    stats = {r["media_id"]: r for r in decode_pgm(media).collect()}
    for mid, r in stats.items():
        w, h = 8 + mid % 9, 8 + mid % 7
        assert (r["width"], r["height"]) == (w, h)
        want = [(mid * 31 + i * 7) % 256 for i in range(w * h)]
        assert r["n_pixels"] == len(want)
        assert r["px_sum"] == sum(want)
        assert r["px_min"] == min(want)
        assert r["px_max"] == max(want)


def test_wav_roundtrip_real_bytes(spark):
    """synthesize_wav writes genuine RIFF/WAVE PCM16 containers
    (stdlib wave reads them back); decode_wav recovers exact sample
    stats from the BYTES."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        decode_wav,
        synthesize_wav,
    )

    d = load_table(spark, SF, "documents").limit(15)
    media = synthesize_wav(d)
    for r in media.collect():
        data = bytes(r["payload"])
        assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    stats = {r["media_id"]: r for r in decode_wav(media).collect()}
    for mid, r in stats.items():
        n = 800 + mid % 401
        want = [((mid * 13 + i * 11) % 4001) - 2000 for i in range(n)]
        assert r["sample_rate"] == 8000 + (mid % 3) * 4000
        assert r["n_samples"] == n
        assert r["abs_sum"] == sum(abs(s) for s in want)
        assert r["peak"] == max(abs(s) for s in want)


def test_wav_decoder_zero_frames(spark):
    """A zero-frame mono PCM16 WAV is legal: stats are zeros, not a
    max()-of-empty crash."""
    import io
    import wave

    from hana_bq_beam_connector_spark.operators.multimodal import (
        decode_wav,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"")
    df = spark.createDataFrame(
        [(7, bytearray(buf.getvalue()))], ["media_id", "payload"]
    )
    [r] = decode_wav(df).collect()
    assert (r["n_samples"], r["abs_sum"], r["peak"]) == (0, 0, 0)


def test_wav_decoder_rejects_stereo(spark):
    import io
    import struct
    import wave

    import pytest as _pytest

    from hana_bq_beam_connector_spark.operators.multimodal import (
        decode_wav,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<4h", 1, 2, 3, 4))
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], ["media_id", "payload"]
    )
    with _pytest.raises(Exception, match="mono PCM16"):
        decode_wav(df).collect()


def test_pgm_parser_rejects_malformed():
    from hana_bq_beam_connector_spark.operators.multimodal import (
        _parse_pgm,
    )

    # Comments and flexible whitespace in the header are legal.
    ok = b"P5 # comment\n# full line\n 2\t3 255\n" + bytes(6)
    assert _parse_pgm(ok) == (2, 3, bytes(6))
    for bad, why in [
        (b"P6\n2 2 255\n" + bytes(4), "wrong magic"),
        (b"P5\n2 2 255\n" + bytes(3), "truncated raster"),
        (b"P5\n2 2 65535\n" + bytes(4), "16-bit maxval"),
        (b"P5\n2", "truncated header"),
    ]:
        try:
            _parse_pgm(bad)
            raise AssertionError(f"parser accepted {why}")
        except ValueError:
            pass


def test_image_sniffer_jpeg_marker_walk_robust():
    """T.81 B.1 marker-walk cases the round-9 advisory named, plus
    the review-r10 crash: fill bytes and standalone markers are
    skipped, a payload ending inside a fill run raises ValueError
    (not IndexError), and SOS before SOF stops the walk loudly."""
    import struct

    from hana_bq_beam_connector_spark.operators.multimodal import (
        _sniff_image_header,
    )

    sof = b"\xff\xc0" + struct.pack(">HBHHB", 8, 8, 3, 2, 1)
    # fill bytes + standalone markers (TEM, RST0) before SOF
    ok = b"\xff\xd8\xff\xff\xff\x01\xff\xd0" + sof
    assert _sniff_image_header(ok) == ("image/jpeg", 2, 3, 1)
    for bad in [
        b"\xff\xd8\xff\xff",  # ends inside a fill run (was IndexError)
        b"\xff\xd8\xff\xd9",  # EOI before any SOF
        b"\xff\xd8\xff\xda\x00\x04\x01\x00",  # SOS before SOF
        b"\xff\xd8\x00\x00",  # marker desync
        ok[: len(ok) - 3],  # truncated inside SOF (was struct.error)
    ]:
        try:
            _sniff_image_header(bad)
            raise AssertionError(f"sniffer accepted {bad!r}")
        except ValueError:
            pass


def test_pq_memo_invalidates_on_overwrite(spark, tmp_path):
    """Review r10: the PQ memo keys on (semanticHash, inputFiles), so
    overwriting the same path IN-SESSION must retrain — not serve a
    codebook trained on the deleted data."""
    from hana_bq_beam_connector_spark.operators.similarity import (
        _plan_memo_key,
    )

    p = str(tmp_path / "emb.parquet")
    emb = load_table(spark, SF, "embeddings")
    emb.where("vec_id < 200").write.mode("overwrite").parquet(p)
    key1 = _plan_memo_key(spark.read.parquet(p))
    emb.where("vec_id >= 200").write.mode("overwrite").parquet(p)
    key2 = _plan_memo_key(spark.read.parquet(p))
    assert key1 is not None and key2 is not None
    assert key1 != key2, "memo key survived an in-session overwrite"


def test_multimodal_frame_sample_shape(spark):
    """Real Y4M frame extraction: every 2nd TRUE frame index, with
    the exact 4:2:0 frame byte size (w·h + 2·(w/2)·(h/2))."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        synthesize_y4m,
    )

    d = load_table(spark, SF, "documents").limit(20)
    frames = frame_sample(synthesize_y4m(d), stride=2)
    rows = frames.collect()
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    assert len(by_media) == 20
    for mid, rs in by_media.items():
        w, h = 2 * (4 + mid % 5), 2 * (4 + mid % 4)
        nf = 3 + mid % 4
        assert sorted(r["frame_idx"] for r in rs) == list(
            range(0, nf, 2)
        )
        flen = w * h + 2 * ((w // 2) * (h // 2))
        assert all(len(bytes(r["frame_bytes"])) == flen for r in rs)


def test_frame_bytes_come_from_payload(spark):
    """Extracted frames are exact contiguous slices of the container
    payload (Y+U+V planes as laid out in the stream)."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        synthesize_y4m,
    )

    d = load_table(spark, SF, "documents").limit(5)
    media = synthesize_y4m(d)
    frames = frame_sample(media, stride=2)
    payloads = {
        r["media_id"]: bytes(r["payload"]) for r in media.collect()
    }
    for r in frames.collect():
        assert bytes(r["frame_bytes"]) in payloads[r["media_id"]]


def test_embedding_dedup_subset_and_recall(spark):
    from hana_bq_beam_connector_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from hana_bq_beam_connector_spark.operators.similarity import cosine

    e = load_table(spark, SF, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("c", cosine("va", "vb"))
        .where(F.col("c") >= 0.4)
        .collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(e, threshold=0.4).collect()
    }
    # LSH blocking can only MISS pairs, never invent them...
    assert got <= exact
    # ...and 8 tables x 4 planes holds recall well above the floor
    # (measured 0.53 on sf0.001; fails loudly if the hashing breaks)
    assert len(got) / len(exact) >= 0.35, (len(got), len(exact))


def test_ivf_topk_recall_vs_exact(spark):
    from hana_bq_beam_connector_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    e = load_table(spark, SF, "embeddings")
    q = e.where(e["vec_id"] < 10)
    exact = {
        (r["query_id"], r["cand_id"]) for r in cosine_topk(q, e, k=3).collect()
    }
    ivf = {
        (r["query_id"], r["cand_id"]) for r in ivf_topk(q, e, k=3).collect()
    }
    # 2-of-16 cell probing: measured 0.97 recall on sf0.001
    assert len(exact & ivf) / len(exact) >= 0.7


def test_resize_box_matches_naive_python(spark):
    """resize_box vs a per-pixel pure-Python box filter on the same
    decoded rasters — an oracle-independent reference for the kernel
    (crop of ragged odd edges included: PGM dims 8..16 x 8..14 hit
    odd widths AND odd heights)."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        resize_box,
        synthesize_pgm,
    )

    d = load_table(spark, SF, "documents").limit(60)
    got = {
        r["media_id"]: r.asDict()
        for r in resize_box(synthesize_pgm(d), factor=2).collect()
    }
    for mid in got:
        w, h = 8 + mid % 9, 8 + mid % 7
        px = [(mid * 31 + i * 7) % 256 for i in range(w * h)]
        ow, oh = w // 2, h // 2
        q = [
            (
                px[(2 * r) * w + 2 * c]
                + px[(2 * r) * w + 2 * c + 1]
                + px[(2 * r + 1) * w + 2 * c]
                + px[(2 * r + 1) * w + 2 * c + 1]
            )
            // 4
            for r in range(oh)
            for c in range(ow)
        ]
        row = got[mid]
        assert (row["in_width"], row["in_height"]) == (w, h)
        assert (row["width"], row["height"]) == (ow, oh)
        assert row["px_sum"] == sum(q)
        assert row["px_min"] == min(q)
        assert row["px_max"] == max(q)


def test_raster_hist_features_feed_similarity(spark):
    """Real histogram features: shares match a pure-Python histogram
    of the fixture pixels, sum to ~1, and flow into the shared cosine
    top-k operator unchanged."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        raster_hist_features,
        synthesize_pgm,
    )
    from hana_bq_beam_connector_spark.operators.similarity import cosine_topk

    d = load_table(spark, SF, "documents").limit(100)
    feats = raster_hist_features(synthesize_pgm(d), bins=16)
    rows = feats.collect()
    for r in rows[:20]:
        mid = r["media_id"]
        w, h = 8 + mid % 9, 8 + mid % 7
        px = [(mid * 31 + i * 7) % 256 for i in range(w * h)]
        want = [
            sum(1 for p in px if p // 16 == j) / (w * h) for j in range(16)
        ]
        assert r["features"] == want
        assert abs(sum(r["features"]) - 1.0) < 1e-12
    topk = cosine_topk(
        feats.where(F.col("media_id") < 5),
        feats,
        id_col="media_id",
        vec_col="features",
        k=3,
    )
    out = topk.collect()
    assert len(out) == 5 * 3
    assert all(r["cand_id"] != r["query_id"] for r in out)


def test_raster_moments_jpeg_matches_naive(spark):
    """raster_moments over the JPEG decode path vs the block-constant
    fixture arithmetic (64 copies of v(b) per 8x8 block)."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        _parse_jpeg,
        raster_moments,
        synthesize_jpeg,
    )

    d = load_table(spark, SF, "documents").limit(40)
    got = {
        r["media_id"]: r.asDict()
        for r in raster_moments(
            synthesize_jpeg(d), parse=_parse_jpeg
        ).collect()
    }
    for mid in got:
        nbx, nby = 2 + mid % 4, 2 + mid % 3
        vs = [(mid * 31 + b * 17) % 256 for b in range(nbx * nby)]
        row = got[mid]
        assert row["n_pixels"] == 64 * len(vs)
        assert row["px_sum"] == 64 * sum(vs)
        assert row["px_sum_sq"] == 64 * sum(v * v for v in vs)
        for j in range(4):
            assert row[f"b{j}"] == 64 * sum(
                1 for v in vs if v // 64 == j
            )


def test_near_dup_clusters_transitive(spark):
    """A~B, B~C collapse into one cluster even without an A~C edge;
    disjoint components keep distinct min-id labels; chain longer
    than one hop converges (propagation, not single-step)."""
    from hana_bq_beam_connector_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        # component {1,2,3,4} as a chain, component {10,11} as an edge
        [(1, 2), (2, 3), (3, 4), (10, 11)],
        "id_a long, id_b long",
    )
    out = {
        r["node"]: r["label"] for r in near_dup_clusters(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_near_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the lineage resets to a reliable
    ``checkpoint``: same answer as the localCheckpoint default, and
    RDD checkpoint files actually land in the directory (a long chain
    forces >5 rounds, so at least one in-loop reset fires)."""
    from hana_bq_beam_connector_spark.operators.dedup import near_dup_clusters

    chain = [(i, i + 1) for i in range(1, 40)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    ckpt = str(tmp_path / "cc_ckpt")
    out = {
        r["node"]: r["label"]
        for r in near_dup_clusters(pairs, checkpoint_dir=ckpt).collect()
    }
    assert out == {i: 1 for i in range(1, 41)}
    import glob

    assert glob.glob(f"{ckpt}/**/rdd-*", recursive=True), (
        "no reliable checkpoint files written under checkpoint_dir"
    )


_MM_GOLDEN_SF0001 = {
    "mm_decode_image_meta": (500, "2df468bf9f7dc128fc1492e6273cd64c"),
    "mm_resize_box_stats": (500, "361a0dc3a83146ad6748136538d4b2ac"),
    "mm_frame_sample": (1250, "7f416705beca840bd08c16c6c8a1b86d"),
    "mm_feature_topk": (30, "93ea26835b1980d9db00ad26e1117f77"),
    "mm_jpeg_raster_moments": (500, "0fb27c05760962629f537853424757f9"),
    "mm_wav_downsample_stats": (500, "253bb2979afda4de8cb97307b36d4555"),
    "mm_resized_feature_topk": (30, "454305d6438bef46b37bae1d454d91f1"),
}


@pytest.mark.parametrize("name", sorted(_MM_GOLDEN_SF0001))
def test_multimodal_golden_hashes(spark, sf_dir, name):
    """The multimodal queries are pinned by golden value-hashes at
    sf0.001 in addition to their DuckDB oracles — a second,
    oracle-independent regression gate.  (Hashes are a pure function
    of the seed-42 testdata and the deterministic codec / resize /
    feature arithmetic.)"""
    import hashlib
    import os

    if os.path.basename(str(sf_dir).rstrip("/")) != "sf0.001":
        pytest.skip("golden hashes pinned at sf0.001")
    from hana_bq_beam_connector_spark.queries import registry

    df = registry()[name].fn(spark, str(sf_dir))
    cols = sorted(df.columns)
    rows = sorted(str(tuple(r[c] for c in cols)) for r in df.collect())
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    assert (len(rows), h) == _MM_GOLDEN_SF0001[name]


def test_ivf_index_write_probe_round_trip(spark, sf_dir, tmp_path):
    """Persisted IVF layout: probe == in-memory ivf_topk, and the
    probe's scan partition-prunes to only the probed cells."""
    from pyspark.sql import functions as F

    from hana_bq_beam_connector_spark.operators.similarity import (
        ivf_topk,
        probe_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 97 == 3)
    idx = str(tmp_path / "ivf_index")
    cents = write_ivf_index(emb, idx, n_centroids=16)

    served = probe_ivf_index(
        spark, idx, queries, cents, k=3, n_probe=2
    )
    direct = ivf_topk(queries, emb, k=3, n_probe=2, n_centroids=16)
    got = {
        (r["query_id"], r["cand_id"], r["rank"]) for r in served.collect()
    }
    want = {
        (r["query_id"], r["cand_id"], r["rank"]) for r in direct.collect()
    }
    assert got == want and len(want) > 0

    # partition pruning: the serving scan must read fewer than all 16
    # cell directories (n_probe=2 over a handful of queries)
    probed = served.sparkSession.read.parquet(idx).where(
        F.col("centroid_id").isin([0, 1])
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    # the IN filter must land in PartitionFilters (directory pruning),
    # NOT as a data filter evaluated after reading every cell
    assert "PartitionFilters" in plan
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "centroid_id" in pf


def test_pq_topk_recall_and_plan(spark):
    """Product quantization: 16 one-byte codes per 64-dim vector (64×
    memory cut).  On this corpus exact neighbors are noise-thin (the
    top-10 same-label fraction is ~0.11 — near-random data, the
    PQ-hostile case), so the bar is recall@10 >= 0.4 (measured ~0.6
    with one Lloyd training round; untrained seeds give ~0.33).  The
    plan must stay shuffle-lean: no cartesian/nested-loop anywhere,
    and the encode argmin is an aggregate, not a window over the
    corpus×ks candidate rows."""
    from hana_bq_beam_connector_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(emb["vec_id"] < 10)
    exact = {
        (r["query_id"], r["cand_id"])
        for r in cosine_topk(queries, emb, k=10).collect()
    }
    pq_df = pq_topk(queries, emb, k=10)
    plan = pq_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pq = {(r["query_id"], r["cand_id"]) for r in pq_df.collect()}
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.4, f"PQ recall collapsed: {recall}"


def test_pq_topk_rebuild_is_memoized_and_identical(spark):
    """ADVICE r9: pq_topk used to execute the Lloyd-training chain on
    EVERY DataFrame build (plan-only consumers paid full execution).
    The trained codebook + corpus count are now memoized per
    (session, corpus plan + backing files, params): a rebuild must
    run ZERO Spark jobs (asserted via the status tracker, not a
    wall-clock bound — this box's ambient drift makes timing asserts
    flaky) and return identical rows."""
    from hana_bq_beam_connector_spark.operators._common import (
        release_session_pins,
    )
    from hana_bq_beam_connector_spark.operators.similarity import (
        pq_topk,
    )

    # A cached corpus resolves through InMemoryRelation, which
    # reports no inputFiles — the memo then (correctly,
    # conservatively) declines to key such a plan.  Earlier tests in
    # this session may have left embeddings cached; start clean so
    # this test exercises the file-backed memo path.
    release_session_pins()
    spark.catalog.clearCache()
    emb = load_table(spark, SF, "embeddings")
    queries = emb.where(emb["vec_id"] < 5)
    first = sorted(map(tuple, pq_topk(queries, emb, k=3).collect()))
    memo = getattr(spark, "_graft_pq_memo", None)
    assert memo and any(k[0] == "pq_cb" for k in memo)
    # Zero-jobs check via a dedicated job group: any job launched
    # synchronously by the rebuild lands in the group; comparing raw
    # job-id sets is retention-flaky (the UI listener evicts old ids
    # past spark.ui.retainedJobs, so in a long session the 'before'
    # set can shrink between snapshots — observed in-file).
    sc = spark.sparkContext
    sc.setJobGroup("pq_rebuild_probe", "memo-hit probe")
    try:
        rebuilt_df = pq_topk(queries, emb, k=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    probe_jobs = list(
        sc.statusTracker().getJobIdsForGroup("pq_rebuild_probe")
    )
    assert probe_jobs == [], (
        f"rebuild ran Spark job(s) {probe_jobs} — the training chain "
        "executed instead of hitting the memo"
    )
    assert sorted(map(tuple, rebuilt_df.collect())) == first


def test_ppm_parser_rejects_malformed_and_roundtrips():
    from hana_bq_beam_connector_spark.operators.multimodal import (
        _parse_ppm,
    )

    ok = b"P6 # c\n 2\t2 255\n" + bytes(12)
    assert _parse_ppm(ok) == (2, 2, bytes(12))
    for bad, why in [
        (b"P5\n2 2 255\n" + bytes(12), "PGM magic on a PPM parse"),
        (b"P6\n2 2 255\n" + bytes(11), "raster short one sample"),
        (b"P6\n2 2 0\n" + bytes(12), "zero maxval"),
    ]:
        try:
            _parse_ppm(bad)
            raise AssertionError(f"parser accepted {why}")
        except ValueError:
            pass


def test_ppm_channel_deinterleave_exact(spark):
    """One hand-checkable image: channel sums must match a direct
    stride-3 walk of the synthesized raster."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        decode_ppm,
        synthesize_ppm,
    )

    one = spark.createDataFrame([(7,)], ["doc_id"])
    media = synthesize_ppm(one)
    payload = bytes(media.collect()[0]["payload"])
    w, h = 4 + 7 % 9, 4 + 7 % 7
    raster = payload[payload.index(b"255\n") + 4 :]
    assert len(raster) == w * h * 3
    row = decode_ppm(media).collect()[0]
    assert (row["width"], row["height"], row["n_pixels"]) == (w, h, w * h)
    assert row["r_sum"] == sum(raster[0::3])
    assert row["g_sum"] == sum(raster[1::3])
    assert row["b_sum"] == sum(raster[2::3])
    assert row["px_max"] == max(raster)


def test_pnm_parser_rejects_zero_dimensions():
    from hana_bq_beam_connector_spark.operators.multimodal import (
        _parse_pgm,
        _parse_ppm,
    )

    for parse, payload in [
        (_parse_pgm, b"P5\n0 0\n255\n"),
        (_parse_pgm, b"P5\n0 3\n255\n"),
        (_parse_ppm, b"P6\n2 0\n255\n"),
    ]:
        try:
            parse(payload)
            raise AssertionError("parser accepted zero dimensions")
        except ValueError as e:
            assert "dimensions" in str(e)


def test_png_roundtrip_real_bytes(spark):
    """synthesize_png emits genuine PNGs (signature, CRC-framed
    chunks, DEFLATEd IDAT); decode_png inflates + unfilters the BYTES
    and recovers exact pixel stats.  Filter coverage: scanline r uses
    type (id+r)%5 and h >= 8, so every image exercises all five PNG
    predictors."""
    import struct
    import zlib

    from hana_bq_beam_connector_spark.operators.multimodal import (
        _PNG_SIG,
        decode_png,
        synthesize_png,
    )

    d = load_table(spark, SF, "documents").limit(25)
    media = synthesize_png(d)
    for r in media.collect():
        data = bytes(r["payload"])
        assert data[:8] == _PNG_SIG
        # IHDR is the first chunk; its CRC must verify.
        (clen,) = struct.unpack(">I", data[8:12])
        assert data[12:16] == b"IHDR" and clen == 13
        (crc,) = struct.unpack(">I", data[16 + clen : 20 + clen])
        assert zlib.crc32(data[12 : 16 + clen]) == crc
    stats = {r["media_id"]: r for r in decode_png(media).collect()}
    assert stats
    for mid, r in stats.items():
        w, h = 8 + mid % 11, 8 + mid % 6
        assert (r["width"], r["height"]) == (w, h)
        want = [(mid * 29 + k * 11) % 256 for k in range(w * h)]
        assert r["n_pixels"] == len(want)
        assert r["px_sum"] == sum(want)
        assert r["px_min"] == min(want)
        assert r["px_max"] == max(want)


def test_png_filters_are_mutual_inverses():
    """Property over random-ish rows: forward filter then unfilter is
    the identity for every filter type, including the Paeth
    predictor's reconstructed-neighbor feedback."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        _png_filter_row,
        _png_unfilter_row,
    )

    w = 17
    prev = bytes((i * 37 + 5) % 256 for i in range(w))
    raw = bytes((i * 113 + 9) % 256 for i in range(w))
    for ftype in range(5):
        assert (
            _png_unfilter_row(
                ftype, _png_filter_row(ftype, raw, prev), prev
            )
            == raw
        )


def test_png_parser_rejects_malformed():
    import struct
    import zlib

    from hana_bq_beam_connector_spark.operators.multimodal import (
        _PNG_SIG,
        _parse_png,
        _png_chunk,
    )

    def build(w, h, color=0, depth=8, stream=None):
        ihdr = struct.pack(">II5B", w, h, depth, color, 0, 0, 0)
        if stream is None:
            stream = b"".join(b"\x00" + bytes(w) for _ in range(h))
        return (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(stream))
            + _png_chunk(b"IEND", b"")
        )

    ok = build(3, 2)
    w, h, raster = _parse_png(ok)
    assert (w, h, raster) == (3, 2, bytes(6))
    corrupted = bytearray(ok)
    corrupted[20] ^= 0xFF  # inside IHDR body -> CRC mismatch
    for bad, why in [
        (b"JUNK" + ok[4:], "bad signature"),
        (bytes(corrupted), "CRC mismatch"),
        (build(3, 2, color=2), "RGB color type"),
        (build(3, 2, stream=b"\x00" + bytes(3)), "short stream"),
        (
            build(3, 2, stream=b"\x07" + bytes(3) + b"\x00" + bytes(3)),
            "invalid filter type",
        ),
        (build(0, 2), "zero width"),
    ]:
        try:
            _parse_png(bad)
            raise AssertionError(f"parser accepted {why}")
        except ValueError:
            pass


def test_y4m_roundtrip_and_sampling(spark):
    """synthesize_y4m writes genuine YUV4MPEG2 streams; decode_y4m
    parses the container, samples every 2nd frame, and recovers exact
    plane stats for precisely the sampled frame indexes."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        decode_y4m,
        synthesize_y4m,
    )

    d = load_table(spark, SF, "documents").limit(20)
    media = synthesize_y4m(d)
    for r in media.collect():
        head = bytes(r["payload"]).split(b"\n", 1)[0]
        assert head.startswith(b"YUV4MPEG2 W")
        assert b"C420" in head
    rows = decode_y4m(media, frame_stride=2).collect()
    by_id: dict[int, dict[int, object]] = {}
    for r in rows:
        by_id.setdefault(r["media_id"], {})[r["frame_idx"]] = r
    for mid, frames in by_id.items():
        w, h = 2 * (4 + mid % 5), 2 * (4 + mid % 4)
        nf = 3 + mid % 4
        assert sorted(frames) == [f for f in range(0, nf, 2)]
        for f, r in frames.items():
            assert (r["width"], r["height"], r["n_frames"]) == (w, h, nf)
            y = [(mid * 7 + f * 101 + i * 3) % 256 for i in range(w * h)]
            cw, ch = w // 2, h // 2
            uv = sum(
                (mid * 11 + f * 13 + j * 5) % 256
                + (mid * 17 + f * 19 + j * 7) % 256
                for j in range(cw * ch)
            )
            assert r["y_sum"] == sum(y)
            assert r["y_min"] == min(y)
            assert r["y_max"] == max(y)
            assert r["uv_sum"] == uv


def test_y4m_parser_rejects_malformed():
    from hana_bq_beam_connector_spark.operators.multimodal import (
        _parse_y4m,
    )

    frame = bytes(8 * 8 + 2 * 16)
    ok = b"YUV4MPEG2 W8 H8 F25:1 C420jpeg\nFRAME\n" + frame
    w, h, frames = _parse_y4m(ok)
    assert (w, h, len(frames)) == (8, 8, 1)
    for bad, why in [
        (b"AVI RIFF" + ok[8:], "wrong magic"),
        (b"YUV4MPEG2 W8 H8 C444\nFRAME\n" + frame, "non-420 space"),
        (b"YUV4MPEG2 W8 H7 C420\nFRAME\n" + frame, "odd height"),
        (b"YUV4MPEG2 F25:1\nFRAME\n" + frame, "missing W/H"),
        (ok[:-1], "truncated last frame"),
        (b"YUV4MPEG2 W8 H8 C420jpeg\nFRAMX\n" + frame, "bad marker"),
        (b"YUV4MPEG2 W8 H8 C420jpeg\n", "no frames"),
    ]:
        try:
            _parse_y4m(bad)
            raise AssertionError(f"parser accepted {why}")
        except ValueError:
            pass


def test_gif_roundtrip_real_bytes(spark):
    """synthesize_gif emits genuine GIF89a files; decode_gif LZW-
    inflates the BYTES (variable-width codes, sub-block framing) and
    recovers exact pixel stats."""
    from hana_bq_beam_connector_spark.operators.multimodal import (
        decode_gif,
        synthesize_gif,
    )

    d = load_table(spark, SF, "documents").limit(25)
    media = synthesize_gif(d)
    for r in media.collect():
        data = bytes(r["payload"])
        assert data[:6] == b"GIF89a" and data[-1:] == b"\x3b"
    stats = {r["media_id"]: r for r in decode_gif(media).collect()}
    assert stats
    for mid, r in stats.items():
        w, h = 6 + mid % 9, 6 + mid % 5
        want = [(mid * 37 + k * 13) % 256 for k in range(w * h)]
        assert (r["width"], r["height"]) == (w, h)
        assert r["n_pixels"] == len(want)
        assert r["px_sum"] == sum(want)
        assert r["px_min"] == min(want)
        assert r["px_max"] == max(want)


def test_lzw_codec_roundtrips_and_rejects():
    """The LZW pair must roundtrip every regime — short, repetitive
    (the cScSc case), long enough to walk 9->12-bit widths and force
    table resets — and the decoder must reject malformed streams."""
    import pytest

    from hana_bq_beam_connector_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
        _parse_gif,
    )

    cases = [
        b"\x00",
        b"\x05" * 50,
        bytes(range(256)) * 2,
        bytes((i * i * 31 + i * 7) % 256 for i in range(8000)),
        bytes((i % 7) for i in range(20000)),  # many table resets
    ]
    for c in cases:
        assert _lzw_decode(_lzw_encode(c), len(c)) == c
    with pytest.raises(ValueError, match="truncated"):
        _lzw_decode(_lzw_encode(b"abc")[:-2], 3)
    with pytest.raises(ValueError, match="promises"):
        _lzw_decode(_lzw_encode(b"abc"), 4)
    with pytest.raises(ValueError, match="not a GIF"):
        _parse_gif(b"JIF89a" + bytes(100))
    with pytest.raises(ValueError, match="descriptor"):
        _parse_gif(b"GIF89a" + bytes(4))


def test_ivf_assign_is_narrow_and_matches_window_order(spark):
    """r11: ivf_assign picks nearest centroids with an in-expression
    argmax over one broadcast struct-array row — the plan must carry
    NO Exchange (beyond the broadcast build) and NO Window on the
    corpus side, and the pick must equal the old crossJoin +
    ROW_NUMBER(sim DESC, centroid ASC) spelling."""
    from pyspark.sql.window import Window

    from hana_bq_beam_connector_spark.operators.similarity import (
        dot,
        ivf_assign,
        unit,
    )

    e = unit(
        load_table(spark, SF, "embeddings").select("vec_id", "embedding"),
        "embedding",
        "uv",
    ).select("vec_id", F.col("uv").alias("embedding"))
    cents = e.where(F.col("vec_id") < 16)

    assigned = ivf_assign(e, cents, n_probe=2, sim_col="sim")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the only exchange allowed is the BroadcastExchange of the
    # one-row centroid array (plus its tiny single-partition agg)
    assert "Exchange hashpartitioning(vec_id" not in plan, plan

    # reference: the pre-r11 window spelling
    c = F.broadcast(
        cents.select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__csim").desc(), F.col("centroid_id").asc()
    )
    ref = (
        e.crossJoin(c)
        .select("vec_id", "centroid_id", dot("embedding", "cvec").alias("__csim"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 2)
    )
    got = {
        (r["vec_id"], r["centroid_id"], r["sim"])
        for r in assigned.select("vec_id", "centroid_id", "sim").collect()
    }
    want = {
        (r["vec_id"], r["centroid_id"], r["__csim"]) for r in ref.collect()
    }
    assert got == want


def test_pq_driver_lloyd_matches_distributed_spelling(spark):
    """r11: the Lloyd refinement runs driver-side on the bounded
    training sample.  Assert the trained codebook is BIT-IDENTICAL to
    an independent replay of the contract the old distributed
    spelling implemented (first-min assignment against ascending seed
    codes, then per-codeword strict left-fold means in ascending id
    order), including the thinned-sample path (train_div > 1, which
    exercises the seed fallback for ids missing from the sample).
    End-to-end parity with the DuckDB SQL fold is separately locked
    by the sim_pq_topk oracle row."""
    import numpy as np

    from hana_bq_beam_connector_spark.operators.similarity import (
        _sub_slice,
        pq_encode_codebook,
        spread,
        unit,
    )

    m, ks, dim = 8, 16, 64
    sub_dim = dim // m
    corpus_u = unit(
        spread(load_table(spark, SF, "embeddings").select("vec_id", "embedding")),
        "embedding",
        "uv",
    ).select("vec_id", F.col("uv").alias("embedding"))

    def distributed_reference(train_div: int) -> tuple:
        seed_cb = (
            corpus_u.where(F.col("vec_id") < ks)
            .select(
                F.col("vec_id").alias("code"),
                F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"),
                F.col("embedding").alias("__v"),
            )
            .select(
                "s", "code",
                F.expr(_sub_slice("__v", "s", sub_dim)).alias("cw"),
            )
        )
        cb = tuple(
            sorted(
                (int(r["s"]), int(r["code"]), tuple(r["cw"]))
                for r in seed_cb.collect()
            )
        )
        train = (
            corpus_u
            if train_div <= 1
            else corpus_u.where(F.col("vec_id") % train_div == 0)
        )
        rows = sorted(
            (r["vec_id"], r["embedding"])
            for r in train.select("vec_id", "embedding").collect()
        )
        vecs = np.array([v for _, v in rows], dtype=np.float64)
        out = []
        for s_key in range(m):
            items = sorted((c, w) for sv, c, w in cb if sv == s_key)
            codes = np.array([c for c, _ in items], dtype=np.int64)
            cw = np.array([w for _, w in items], dtype=np.float64)
            sub = vecs[:, s_key * sub_dim : (s_key + 1) * sub_dim]
            d = np.zeros((len(sub), len(codes)))
            for i in range(sub_dim):
                diff = sub[:, i : i + 1] - cw[None, :, i]
                d += diff * diff
            best = codes[np.argmin(d, axis=1)]
            for code in np.unique(best):
                members = sub[best == code]
                acc = [0.0] * sub_dim
                for row in members.tolist():
                    for j in range(sub_dim):
                        acc[j] += row[j]
                out.append(
                    (s_key, int(code),
                     tuple(v / len(members) for v in acc))
                )
        return tuple(sorted(out))

    for train_div in (1, 3):
        cb_rows, _codes = pq_encode_codebook(
            corpus_u, "vec_id", "embedding",
            m=m, ks=ks, sub_dim=sub_dim, rounds=1, train_div=train_div,
        )
        assert cb_rows == distributed_reference(train_div), train_div
