"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The decode step is STUBBED (image/audio libraries are not in this container —
``decode_image`` raises ``NotImplementedError`` unless ``fake=True``, which
produces a deterministic fake decode) but the Spark-side plumbing is real and
tested: schema, Arrow batch shape (``mapInPandas``), partitioning, and the
feature-extraction UDF signatures are exactly what a production pipeline
would use — swap ``_decode_stub`` for a PIL/ffmpeg call and nothing else
changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),  # opaque encoded bytes
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_type", StringType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("decode_ok", IntegerType()),
    ]
)


def synth_media(spark, docs: DataFrame) -> DataFrame:
    """Deterministic fake media table for every media_ref in the docs spans
    (payload = ref-seeded bytes; metadata derived from the ref hash)."""
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref in pdf["media_ref"]:
                h = hashlib.blake2b(ref.encode(), digest_size=16).digest()
                rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
                mtype = ["image", "audio", "video"][h[8] % 3]
                payload = rng.integers(0, 256, 64, dtype=np.uint8).tobytes()
                rows.append(
                    {
                        "media_ref": ref,
                        "media_type": mtype,
                        "payload": payload,
                        "width": int(h[9]) * 16 if mtype != "audio" else 0,
                        "height": int(h[10]) * 16 if mtype != "audio" else 0,
                        "duration_ms": int.from_bytes(h[11:13], "little")
                        if mtype != "image"
                        else 0,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return refs.mapInPandas(gen, MEDIA_SCHEMA)


def _decode_stub(payload: bytes, media_type: str, fake: bool) -> np.ndarray:
    """STUB decode. Production: PIL.Image.open / torchaudio / ffmpeg frame
    sample. Here: deterministic fake 8-dim feature, or NotImplementedError."""
    if not fake:
        raise NotImplementedError(
            "media decode requires image/audio libs not present in this container"
        )
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    return np.array(
        [arr.mean(), arr.std(), arr.min(), arr.max(), float(len(arr)),
         float(arr[0]) if len(arr) else 0.0, float(arr[-1]) if len(arr) else 0.0,
         {"image": 1.0, "audio": 2.0, "video": 3.0}.get(media_type, 0.0)],
        dtype=np.float32,
    )


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Decode + feature-extract via mapInPandas — Arrow batches in/out, the
    production batch shape (one row per media object, feature vector out)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, ok = [], []
            for payload, mtype in zip(pdf["payload"], pdf["media_type"]):
                try:
                    feats.append(_decode_stub(bytes(payload), mtype, fake_decode).tolist())
                    ok.append(1)
                except NotImplementedError:
                    feats.append([])
                    ok.append(0)
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                    "decode_ok": ok,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)
