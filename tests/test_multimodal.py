"""Multimodal-column plumbing: schemas, batch shapes, decode, stubs."""

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from granulate_char_ocr_spark.operators import multimodal, similarity
from granulate_char_ocr_spark.sources.synthetic import glyph_media_pandas


@pytest.fixture(scope="module")
def images(spark):
    pdf = glyph_media_pandas().head(20).copy()
    pdf["modality"] = "image"
    pdf["codec"] = "raw"
    pdf["n_frames"] = 1
    pdf["sample_rate"] = 0
    pdf = pdf.rename(columns={"pixels": "payload"})[
        ["media_ref", "modality", "codec", "width", "height",
         "n_frames", "sample_rate", "payload"]
    ]
    return spark.createDataFrame(pdf, schema=multimodal.MULTIMODAL_SCHEMA).cache()


def test_image_embeddings_feed_similarity(spark, images):
    emb = multimodal.image_embeddings(images)
    rows = emb.collect()
    assert all(len(r["embedding"]) == 64 for r in rows)
    assert all(set(r["embedding"]) <= {0.0, 1.0} for r in rows)
    # embeddings are consumable by the ANN operator: dense vec_ids so every
    # vector is a query, checked against a NumPy brute-force top-3 under the
    # operator's ranking rule (5-decimal sim desc, then neighbor_id asc)
    emb_ids = emb.select(
        (F.row_number().over(Window.orderBy("media_ref")) - 1)
        .cast("long")
        .alias("vec_id"),
        "embedding",
    )
    got = sorted(
        (tuple(r) for r in similarity.cosine_topk(emb_ids, n_queries=20, k=3).collect()),
        key=lambda r: (r[0], r[2]),  # query_id, rank
    )
    vecs = emb_ids.orderBy("vec_id").collect()
    assert [r["vec_id"] for r in vecs] == list(range(20))
    x = np.array([r["embedding"] for r in vecs], dtype=np.float64)
    norms = np.sqrt((x * x).sum(axis=1))
    assert norms.min() > 0
    sims = np.round((x @ x.T) / np.outer(norms, norms), 5)
    want = []
    for q in range(20):
        ranked = sorted((-sims[q, n], n) for n in range(20) if n != q)
        want += [(q, n, rank, -neg) for rank, (neg, n) in enumerate(ranked[:3], 1)]
    assert [g[:3] for g in got] == [w[:3] for w in want]
    assert [g[3] for g in got] == pytest.approx([w[3] for w in want], abs=1e-9)


def test_audio_features_deterministic(spark):
    sr = 8000
    t = np.arange(sr)  # 1 second
    pcm = (np.sin(2 * np.pi * 440 * t / sr) * 10000).astype(np.int16)
    audio = spark.createDataFrame(
        [("aud_1", "audio", "raw", 0, 0, 0, sr, pcm.tobytes())],
        schema=multimodal.MULTIMODAL_SCHEMA,
    )
    r1 = multimodal.audio_features(audio).collect()[0]
    r2 = multimodal.audio_features(audio).collect()[0]
    assert r1["duration_sec"] == pytest.approx(1.0)
    assert len(r1["features"]) == 16
    assert r1["features"] == r2["features"]  # deterministic
    # the UDF output equals the Python twin bit-for-bit (same function)
    from granulate_char_ocr_spark.functions.audio import mel_features

    want = mel_features(pcm.astype(np.float64), float(sr))
    assert np.array_equal(np.array(r1["features"], dtype=np.float32), want)


def test_compressed_codecs_decode_h264_rejected(spark):
    # PNG and baseline JPEG decode for real; H.264 video stays out of scope
    import numpy as np

    from granulate_char_ocr_spark.functions import kernels
    from granulate_char_ocr_spark.functions.jpeg import encode_jpeg
    from granulate_char_ocr_spark.functions.png import encode_png

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    df = spark.createDataFrame(
        [
            ("img_png", "image", "png", 8, 8, 1, 0, encode_png(img)),
            ("img_jpg", "image", "jpeg", 8, 8, 1, 0, encode_jpeg(img, 95)),
        ],
        schema=multimodal.MULTIMODAL_SCHEMA,
    )
    rows = {
        r["media_ref"]: r["embedding"]
        for r in multimodal.image_embeddings(df).collect()
    }
    want = kernels.ahash_bits_batch(img[None]).astype(np.float32)[0]
    assert np.array_equal(rows["img_png"], want)  # lossless
    assert len(rows["img_jpg"]) == 64
    h264 = spark.createDataFrame(
        [("clip", "video", "h264", 8, 8, 2, 0, b"\x00\x00\x01...")],
        schema=multimodal.MULTIMODAL_SCHEMA,
    )
    with pytest.raises(Exception, match="not available|NotImplemented"):
        multimodal.image_embeddings(h264).collect()


def test_decode_media_store_matches_raw_extraction(spark):
    """The compressed-corpus decode stage: a PNG-payload media store
    (filters + Adam7 cycling) decompressed through decode_media_store
    yields byte-identical pixel buffers to the raw store, so extraction
    output is identical (the ocr_extract_compressed gate contract)."""
    from granulate_char_ocr_spark.operators.multimodal import (
        decode_media_store,
    )
    from granulate_char_ocr_spark.sources.synthetic import (
        _gen_media_spark,
        _media_row_clean,
        _media_row_png,
    )

    n = 12
    raw = {
        r["media_ref"]: r
        for r in _gen_media_spark(spark, n, _media_row_clean).collect()
    }
    dec = {
        r["media_ref"]: r
        for r in decode_media_store(
            _gen_media_spark(spark, n, _media_row_png)
        ).collect()
    }
    assert raw.keys() == dec.keys()
    for ref, r in raw.items():
        d = dec[ref]
        assert (d["width"], d["height"]) == (r["width"], r["height"]), ref
        assert bytes(d["pixels"]) == bytes(r["pixels"]), ref


def test_decode_media_store_permissive_vs_strict(spark):
    """Corrupt payloads: strict mode fails the job; permissive mode emits
    a null-pixel row that the extraction kernel collapses to an empty
    result (reference error contract, ocr_service.py:164-171)."""
    import pandas as pd
    import pytest as _pytest

    from granulate_char_ocr_spark.functions.png import encode_png
    from granulate_char_ocr_spark.operators.multimodal import (
        MEDIA_STORE_SCHEMA,
        decode_media_store,
    )
    from granulate_char_ocr_spark.sources.synthetic import render_word

    good = render_word("WE", 0)
    pdf = pd.DataFrame(
        [
            ("ok", "WE", good.shape[1], good.shape[0], encode_png(good)),
            ("bad", "X", 4, 4, b"\x89PNG truncated garbage"),
        ],
        columns=["media_ref", "word", "width", "height", "pixels"],
    )
    store = spark.createDataFrame(pdf, schema=MEDIA_STORE_SCHEMA)
    with _pytest.raises(Exception):
        decode_media_store(store).collect()
    rows = {
        r["media_ref"]: r
        for r in decode_media_store(store, permissive=True).collect()
    }
    assert bytes(rows["ok"]["pixels"]) == good.tobytes()
    assert rows["bad"]["pixels"] is None and rows["bad"]["width"] == 0
