"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata (graft directive: Spark-side plumbing — schema,
partitioning, UDF signatures, Arrow batch shapes — is real and tested; the
actual media DECODE is stubbed because this container has no image/audio
libraries).

Stages mirror the reference's per-format transform parameterization
(resize.py / optimize.py):
- ``probe_media``        : sniff container kind + synthetic dims from the
                           byte header (pure Columns — no decode)
- ``decode_features``    : mapInArrow feature extraction; a deterministic
                           stand-in per-payload feature vector (byte
                           histogram moments) in place of a real decoder
- ``resize_plan``        : H1/H2 fit math over metadata dims (no pixels
                           touched — at 100 TB you plan the transform from
                           metadata and decode once, in one fused stage)
- ``frame_sample_plan``  : deterministic frame indices for video sampling
                           (uniform stride in [0, n_frames))
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, DoubleType, LongType, StringType, StructField, StructType,
)

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, sample_rate:int>"
)

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"RIFF", "audio/wav"),
    (b"\x1a\x45\xdf\xa3", "video/webm"),
]


def probe_media(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Container sniff from the leading bytes — pure Column code."""
    head = F.substring(F.col(payload_col), 1, 4)
    kind = F.lit("application/octet-stream")
    for magic, name in reversed(_MAGIC):
        kind = F.when(
            F.substring(F.col(payload_col), 1, len(magic)) == F.lit(magic), name
        ).otherwise(kind)
    return df.withColumn("probed_kind", kind).withColumn(
        "payload_bytes", F.length(F.col(payload_col)).cast("long")
    )


FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), True),
        StructField("features", ArrayType(DoubleType()), True),
        StructField("status", StringType(), False),
    ]
)


_FEATURES_ARROW = to_arrow_schema(FEATURES_SCHEMA)


def decode_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    A deterministic stand-in for a media decoder (byte-histogram moments:
    feature k is the mean of bytes k, k + dim, k + 2·dim, …, scaled to
    [0, 1]), so the distributed plumbing is fully testable without
    PIL/cv2/librosa. An
    empty or null payload yields null features with status
    ``"empty payload"``."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out = {"features": [], "status": []}
            for payload in batch.column("payload").to_pylist():
                if not payload:
                    out["features"].append(None)
                    out["status"].append("empty payload")
                    continue
                feats = []
                for k in range(dim):
                    sl = payload[k::dim]
                    feats.append(round(sum(sl) / max(len(sl), 1) / 255.0, 9))
                out["features"].append(feats)
                out["status"].append("ok")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(f.name).cast(f.type)
                    if f.name in ("media_id", "kind")
                    else pa.array(out[f.name], f.type)
                    for f in _FEATURES_ARROW
                ],
                schema=_FEATURES_ARROW,
            )

    return df.select("media_id", "kind", "payload").mapInArrow(run, FEATURES_SCHEMA)


def resize_plan(
    df: DataFrame, target_w: int, target_h: int, mode: str = "aspect_ratio"
) -> DataFrame:
    """Output dims from metadata (planning only, no pixel work) with the
    reference's full mode dispatch (resize.py:106-120):

    - ``aspect_ratio``: largest fit preserving ratio (resize.py:41-69 math,
      int() truncation)
    - ``fixed``: exactly (target_w, target_h) — distorting
    - ``none``: original dims pass through unchanged
    """
    ow = F.col("meta.width").cast("long")
    oh = F.col("meta.height").cast("long")
    if mode == "none":
        return df.withColumn("out_w", ow).withColumn("out_h", oh)
    if mode == "fixed":
        return df.withColumn("out_w", F.lit(target_w).cast("long")).withColumn(
            "out_h", F.lit(target_h).cast("long")
        )
    ratio = F.least(F.lit(target_w) * 1.0 / ow, F.lit(target_h) * 1.0 / oh)
    return df.withColumn(
        "out_w", F.greatest(F.lit(1), F.floor(ow * ratio)).cast("long")
    ).withColumn("out_h", F.greatest(F.lit(1), F.floor(oh * ratio)).cast("long"))


def frame_sample_plan(df: DataFrame, max_frames: int = 8) -> DataFrame:
    """Deterministic uniform frame-index sampling for video payloads."""
    n = F.coalesce(F.col("meta.n_frames").cast("long"), F.lit(0))
    stride = F.greatest(F.floor(n / max_frames), F.lit(1)).cast("long")
    # floor-stride can yield up to max_frames+1 indices (e.g. n=100, m=8 →
    # stride 12 → 9 indices); clip the tail so the contract is ≤ max_frames
    idx = F.when(
        n > 0,
        F.slice(
            F.filter(F.sequence(F.lit(0), n - 1, stride), lambda i: i < n),
            1,
            max_frames,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return df.withColumn("frame_indices", idx)
