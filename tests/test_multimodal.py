"""Multimodal plumbing tests: schema/batch shapes are real; decode of
non-container formats is a clearly-marked stub."""

import pytest
from pyspark.sql import functions as F

from maxx_spark.operators.multimodal import (
    MEDIA,
    decode_media,
    encode_fake_media,
    frame_sample,
    generate_media_df,
    media_fingerprint,
    resize_plan,
    _decode_header,
)


def test_container_roundtrip():
    blob = encode_fake_media(7, "video")
    meta = _decode_header(blob)
    assert meta["n_frames"] > 1 and meta["width"] % 32 == 0
    # deterministic
    assert blob == encode_fake_media(7, "video")


def test_stub_raises_for_real_formats():
    with pytest.raises(NotImplementedError, match="STUB"):
        _decode_header(b"\xff\xd8\xff\xe0" + b"0" * 64)  # JPEG magic


def test_decode_media(spark):
    m = generate_media_df(spark, 90)
    d = decode_media(m).cache()
    assert d.count() == 90
    assert d.where(F.col("decode_error").isNotNull()).count() == 0
    img = d.where(F.col("kind") == "image").first()
    assert img["width"] >= 64 and img["n_frames"] == 1
    vid = d.where(F.col("kind") == "video").first()
    assert vid["n_frames"] >= 8


def test_decode_error_rows(spark):
    rows = [(0, "image", b"\xff\xd8\xff\xe0" + b"not a container " * 8, "u")]
    df = spark.createDataFrame(rows, MEDIA)
    out = decode_media(df).collect()
    assert len(out) == 1
    assert "STUB" in out[0]["decode_error"]
    assert out[0]["width"] is None


def test_resize_plan(spark):
    m = generate_media_df(spark, 30)
    r = resize_plan(m, target=224).collect()
    assert r and all(max(x["out_width"], x["out_height"]) == 224 for x in r)


def test_frame_sample(spark):
    m = generate_media_df(spark, 30)
    fs = frame_sample(m, every=10)
    rows = fs.collect()
    assert rows
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    for mid, idxs in by_media.items():
        assert idxs == sorted(idxs)
        assert all(i % 10 == 0 for i in idxs)


def test_media_fingerprint_jvm_side(spark):
    m = generate_media_df(spark, 30)
    fp = media_fingerprint(m)
    rows = fp.collect()
    assert len({r["content_fp"] for r in rows}) == 30  # all distinct
    # no Python stage in the plan — md5 fingerprint runs JVM-side
    from maxx_spark.plans import executed_plan

    assert "Python" not in executed_plan(fp).replace("PythonRDD", "")


def test_decode_moves_no_payload_bytes(spark):
    """The decode stage must not shuffle payload blobs — the plan has no
    Exchange below the Python stage."""
    from maxx_spark.operators.multimodal import decode_media, generate_media_df
    from maxx_spark.plans import executed_plan

    p = executed_plan(decode_media(generate_media_df(spark, 30)))
    assert "Exchange" not in p
