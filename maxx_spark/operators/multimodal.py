"""Multimodal columns (images / audio / video as opaque BINARY + typed
metadata) — the training-data-pipeline plumbing, per the build brief:

    "implement decode / feature-extract / resize / frame-sample as Pandas
    UDFs over mapInPandas (the image/audio libs aren't in this container,
    so STUB the decode step ... and make the Spark-side plumbing — schema,
    partitioning, UDF signature, batch shape — real and tested)."

Strategy: a deterministic container format ("MXM1") carries real
width/height/rate/frame metadata in the payload header, so the *plumbing*
(schemas, Arrow batch shapes, mapInPandas signatures, partition behavior)
is fully real and oracle-checkable; decoding actual JPEG/WAV/MP4 bytes is
delegated to PIL/soundfile/av behind an import-try that raises a
clearly-marked NotImplementedError in this container.

Scale notes: media payloads are large — the decode stage keeps Arrow
batches small (session.py caps maxRecordsPerBatch), projects metadata out
early (never carry payload bytes past the decode stage), and partitions by
doc_id hash so one oversized asset cannot skew a task.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("source_url", StringType(), True),
    ]
)

_MAGIC = b"MXM1"
# header: magic | kind(1B: i/a/v) | w(4B) | h(4B) | rate(4B) | frames(4B)
_HDR = struct.Struct(">4sBIIII")


def encode_fake_media(media_id: int, kind: str) -> bytes:
    """Deterministic synthetic media blob with a real parseable header."""
    h = hashlib.sha256(f"{kind}:{media_id}".encode()).digest()
    w = 64 + (h[0] % 16) * 32
    ht = 64 + (h[1] % 9) * 32
    rate = 8000 + (h[2] % 5) * 8000
    frames = 1 if kind == "image" else 8 + h[3] % 120
    body_len = 256 + h[4]  # payload body (stand-in for pixel/sample data)
    body = (h * ((body_len // len(h)) + 1))[:body_len]
    return _HDR.pack(_MAGIC, ord(kind[0]), w, ht, rate, frames) + body


def generate_media_df(spark: SparkSession, n: int = 300) -> DataFrame:
    kinds = ["image", "audio", "video"]
    rows = [
        (i, kinds[i % 3], encode_fake_media(i, kinds[i % 3]), f"https://media.example/{kinds[i % 3]}/{i}")
        for i in range(n)
    ]
    # bounded slice count: createDataFrame otherwise parallelizes a tiny
    # local list over defaultParallelism slices (32 on the bench box), and
    # the downstream mapInPandas then pays one Python-worker round-trip per
    # ~4-row slice — pick slices so each holds >= 16 rows
    slices = max(1, min(spark.sparkContext.defaultParallelism, n // 16))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), MEDIA
    )


def _decode_header(payload: bytes) -> dict | None:
    if payload is None or len(payload) < _HDR.size:
        return None
    if payload[:4] == _MAGIC:
        _m, k, w, h, rate, frames = _HDR.unpack(payload[: _HDR.size])
        return {
            "width": w, "height": h, "sample_rate": rate, "n_frames": frames,
            "body_bytes": len(payload) - _HDR.size,
        }
    # real-world formats need codec libs not present in this container
    raise NotImplementedError(
        "STUB: JPEG/PNG/WAV/MP4 decoding requires PIL/soundfile/av, "
        "not installed in this sandbox; payloads must be MXM1 containers"
    )


DECODED = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("body_bytes", IntegerType()),
        StructField("decode_error", StringType()),
    ]
)


def decode_media(media: DataFrame) -> DataFrame:
    """mapInPandas decode stage: payload → typed metadata; bytes never
    survive past this stage (early projection). Decode failures become
    error rows, not task failures.

    Partitioning: the payload BYTES are the most expensive thing in the
    pipeline, so the decode runs on the source partitioning — no shuffle
    moves blobs. A caller whose source is genuinely skewed (one task
    holding the oversized assets) repartitions it before the call."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = DECODED.fieldNames()
        for pdf in batches:
            data = {c: [] for c in cols}
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                meta, err = None, None
                try:
                    meta = _decode_header(bytes(payload) if payload is not None else None)
                except NotImplementedError as ex:
                    err = str(ex)[:200]
                data["media_id"].append(mid)
                data["kind"].append(kind)
                for k in ("width", "height", "sample_rate", "n_frames", "body_bytes"):
                    data[k].append(meta[k] if meta else None)
                data["decode_error"].append(err)
            yield pd.DataFrame(data, columns=cols)

    return media.select("media_id", "kind", "payload").mapInPandas(fn, DECODED)


RESIZED = StructType(
    [
        StructField("media_id", LongType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("scale", DoubleType()),
    ]
)


def resize_plan(media: DataFrame, target: int = 224) -> DataFrame:
    """Resize stage (images): computes the letterbox scale plan from the
    decoded header. The pixel resample itself is the stubbed step; the
    partitioning / shapes / schema are the real pipeline."""
    d = decode_media(media).where(F.col("kind") == "image")
    scale = F.least(
        F.lit(float(target)) / F.col("width"), F.lit(float(target)) / F.col("height")
    )
    return d.select(
        "media_id",
        F.round(F.col("width") * scale).cast("int").alias("out_width"),
        F.round(F.col("height") * scale).cast("int").alias("out_height"),
        F.round(scale, 6).alias("scale"),
    )


def frame_sample(media: DataFrame, every: int = 10) -> DataFrame:
    """Frame-sampling stage (video): one output row per sampled frame index
    (row explosion happens JVM-side from the decoded frame count — the
    Python stage only decodes the header once per asset)."""
    d = decode_media(media).where(F.col("kind") == "video")
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))
    return d.select("media_id", "n_frames", F.explode(idx).alias("frame_idx"))


def media_fingerprint(media: DataFrame) -> DataFrame:
    """Feature-extract stand-in: deterministic 64-bit content fingerprint
    of the payload (JVM-side: md5 prefix over the binary — no Python)."""
    return media.select(
        "media_id",
        "kind",
        F.conv(F.substring(F.md5(F.col("payload")), 1, 14), 16, 10)
        .cast("long")
        .alias("content_fp"),
        F.length(F.col("payload")).cast("long").alias("payload_bytes"),
    )
