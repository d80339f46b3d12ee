"""Media-stage contracts of operators/multimodal.py that hold for every
grayscale codec: the raster ops read each codec exactly as its own
parser does, and every synthesize → 1:1 op chain stays one fused
Python stage."""

from __future__ import annotations

import numpy as np
import pytest

from hana_bq_beam_connector_spark.operators import multimodal as mm

GRAY_CODECS = {
    "pgm": (mm.synthesize_pgm, mm.decode_pgm, mm._parse_pgm),
    "png": (mm.synthesize_png, mm.decode_png, mm._parse_png),
    "gif": (mm.synthesize_gif, mm.decode_gif, mm._parse_gif),
    "jpeg": (mm.synthesize_jpeg, mm.decode_jpeg, mm._parse_jpeg),
}


def _ids(spark, n=40):
    return spark.range(1, n + 1).withColumnRenamed("id", "doc_id")


def _box2(a):
    """2×2 area average, one output pixel at a time."""
    oh, ow = a.shape[0] // 2, a.shape[1] // 2
    return np.array(
        [
            [int(a[2 * i : 2 * i + 2, 2 * j : 2 * j + 2].sum()) // 4 for j in range(ow)]
            for i in range(oh)
        ],
        dtype=np.int64,
    )


def _stats(a):
    return a.shape[1], a.shape[0], a.size, int(a.sum()), int(a.min()), int(a.max())


@pytest.mark.parametrize("codec", sorted(GRAY_CODECS))
def test_raster_ops_match_codec_parser(spark, codec):
    """decode_*, resize_box, raster_hist_features, raster_moments and
    resize_box_payload→decode_pgm equal a driver-side recomputation
    from the codec's own single-image parser over the same payloads
    (for JPEG this checks the batched IDCT against the per-image one)."""
    synth, decode, parse = GRAY_CODECS[codec]
    media = synth(_ids(spark))
    rasters = {}
    for r in media.collect():
        w, h, raster = parse(bytes(r.payload))
        rasters[r.media_id] = (
            np.frombuffer(raster, dtype=np.uint8).reshape(h, w).astype(np.int64)
        )

    def got(df):
        return {r[0]: tuple(r[1:]) for r in df.collect()}

    assert got(decode(media)) == {m: _stats(a) for m, a in rasters.items()}

    boxes = {m: _box2(a) for m, a in rasters.items()}
    assert got(mm.resize_box(media, factor=2, parse=parse)) == {
        m: (*a.shape[::-1], *q.shape[::-1], int(q.sum()), int(q.min()), int(q.max()))
        for (m, a), q in zip(rasters.items(), boxes.values())
    }
    assert got(mm.decode_pgm(mm.resize_box_payload(media, 2, parse=parse))) == {
        m: _stats(q) for m, q in boxes.items()
    }

    hist = got(mm.raster_hist_features(media, bins=16, parse=parse))
    assert hist == {
        m: ((np.bincount(a.ravel() // 16, minlength=16) / float(a.size)).tolist(),)
        for m, a in rasters.items()
    }

    assert got(mm.raster_moments(media, parse=parse)) == {
        m: (
            a.size,
            int(a.sum()),
            int((a * a).sum()),
            *(int(c) for c in np.bincount(a.ravel() // 64, minlength=4)),
        )
        for m, a in rasters.items()
    }


_FUSED_CHAINS = {
    **{f"decode_{c}": (s, d) for c, (s, d, _) in GRAY_CODECS.items()},
    "decode_ppm": (mm.synthesize_ppm, mm.decode_ppm),
    "decode_wav": (mm.synthesize_wav, mm.decode_wav),
    "wav_decimate_box": (mm.synthesize_wav, mm.wav_decimate_box),
    "resize_box": (mm.synthesize_pgm, mm.resize_box),
    "raster_moments": (mm.synthesize_pgm, mm.raster_moments),
    "raster_hist_features": (mm.synthesize_pgm, mm.raster_hist_features),
    "resize_box_payload>raster_hist_features": (
        mm.synthesize_pgm,
        lambda m: mm.raster_hist_features(mm.resize_box_payload(m)),
    ),
    "decode_image_meta": (mm.synthesize_jpeg, mm.decode_image_meta),
}


@pytest.mark.parametrize("chain", sorted(_FUSED_CHAINS))
def test_synth_to_op_chain_is_one_python_node(spark, chain):
    """Every 1:1 media op is a pandas UDF over the payload column, so
    ExtractPythonUDFs chains it with the synthesizer's UDF: one
    ArrowEvalPython node (one Python worker per task, payload bytes
    never back through the JVM) and no mapInPandas stage."""
    synth, op = _FUSED_CHAINS[chain]
    plan = op(synth(_ids(spark, 8)))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "MapInPandas" not in plan, plan
