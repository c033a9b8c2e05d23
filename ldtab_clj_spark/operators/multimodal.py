"""Multimodal columns: image/audio/video as opaque ``binary`` columns
with typed metadata (the training-data-pipeline side of the engine).

The decode step is a deterministic stand-in (``_fake_decode``, a
hash of the payload), so oracles and fixtures do not depend on image or
audio libraries; all the Spark-side plumbing — schema, partitioning,
Arrow batch shapes, UDF signatures — is real and tested.

Scale notes: media payloads ride in their own table keyed by
media_ref (never inside the docs table — a 100 TB scan of spans must
not drag blobs along); feature extraction is one ``batching.map_rows``
stage over the media table only, and joins back to statements on
media_ref are broadcast or bucketed by ref hash.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType,
                               IntegerType, StringType, StructField,
                               StructType)

from .batching import map_rows, pylist

MEDIA = StructType([
    StructField("media_ref", StringType(), False),
    StructField("content", BinaryType(), False),
    StructField("meta", StructType([
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ])),
])

FEATURES = StructType([
    StructField("media_ref", StringType(), False),
    StructField("format", StringType()),
    StructField("feature", ArrayType(FloatType()), False),
])

FRAMES = StructType([
    StructField("media_ref", StringType(), False),
    StructField("frame_idx", IntegerType(), False),
    StructField("frame", BinaryType(), False),
])

_FORMATS = ("png", "jpeg", "wav", "mp4")


def synth_media(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Deterministic fake media table for every media_ref in the docs
    spans: payload bytes + metadata derived from the ref hash."""
    refs = (docs.select(F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media")
            .select(F.col("s.media_ref").alias("media_ref"))
            .distinct())

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
        for batch in batches:
            for ref in pylist(batch["media_ref"]):
                h = hashlib.sha256(ref.encode()).digest()
                fmt = _FORMATS[h[0] % len(_FORMATS)]
                size = 256 + h[1]  # 256-511 bytes of deterministic blob
                content = (h * ((size // len(h)) + 1))[:size]
                yield (ref, content,
                       {"format": fmt, "width": 16 + h[2] % 64,
                        "height": 16 + h[3] % 64,
                        "n_frames": 1 + h[4] % 8})

    return map_rows(refs, gen, MEDIA)


def _fake_decode(content: bytes) -> np.ndarray:
    """Deterministic stand-in for a real decoder: 16-dim float feature
    from the payload bytes."""
    h = hashlib.sha256(content).digest()
    return (np.frombuffer(h[:16], dtype=np.uint8).astype(np.float32)
            / 255.0)


def decode_media(media: DataFrame) -> DataFrame:
    """Decode + feature-extract (resize/spectrogram/etc. live here in a
    real deployment). Arrow-batched; one output row per media row."""
    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
        for batch in batches:
            for ref, content, meta in zip(*(pylist(batch[c]) for c in
                                            ("media_ref", "content", "meta"))):
                yield (ref, meta["format"] if meta else None,
                       _fake_decode(content).tolist())

    return map_rows(media, decode, FEATURES)


def sample_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """Frame sampling for video-like payloads: one-to-many expansion,
    frame bytes sliced from the payload (stub slicing; a real impl
    seeks keyframes)."""
    def sample(batches: Iterator[pa.RecordBatch]) -> Iterator[tuple]:
        for batch in batches:
            for ref, blob, meta in zip(*(pylist(batch[c]) for c in
                                         ("media_ref", "content", "meta"))):
                n = (meta["n_frames"] if meta else 1) or 1
                step = max(len(blob) // n, 1)
                for i in range(0, n, every):
                    yield ref, i, blob[i * step:(i + 1) * step]

    return map_rows(media, sample, FRAMES)


def media_feature_statements(features: DataFrame) -> DataFrame:
    """Features → LDTab statement rows: the bridge back into the KG
    (media node gets an ex:featureHash literal).

    The hash is md5 over the INTEGER byte signature of the feature
    ("b0-b1-…-b15"), not over an engine-formatted float string — so the
    single-node oracle (plans/single_node.py) reproduces it exactly."""
    sig = F.array_join(
        F.transform("feature",
                    lambda x: F.round(x * 255).cast("int").cast("string")),
        "-")
    return features.select(
        F.lit(1).cast("long").alias("assertion"),
        F.lit(0).cast("long").alias("retraction"),
        F.lit("graph").alias("graph"),
        F.concat(F.lit("<"), F.col("media_ref"), F.lit(">"))
        .alias("subject"),
        F.lit("ex:featureHash").alias("predicate"),
        F.md5(sig).alias("object"),
        F.lit("xsd:string").alias("datatype"),
        F.lit(None).cast("string").alias("annotation"))
