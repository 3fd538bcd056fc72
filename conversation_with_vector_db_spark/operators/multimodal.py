"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (training-data-pipeline surface).

Media libraries (PIL/ffmpeg/torchaudio) are NOT in this environment, so
the decode step is stubbed: :func:`decode_media` raises
``NotImplementedError`` unless ``fake=True``, in which case a
deterministic md5-derived surrogate stands in. Everything AROUND the
decode — binary schema, Arrow batch shape, ``mapInPandas`` signature,
partition sizing — is real and tested; swapping the fake for a PIL
call changes one function body.

Scale notes: payloads stay opaque binary until the last possible
operator (no base64 round-trips through strings); per-batch decode via
``mapInPandas`` keeps the Python boundary Arrow-vectorized; metadata
extraction (size/checksum/kind) is pure JVM expression so filtering
media by metadata never touches Python.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_DIM = 8

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def media_table_from_documents(docs: DataFrame) -> DataFrame:
    """Build the opaque-binary media table from the documents fixture:
    payload = utf-8 bytes, kind cycles image/audio/video. Stands in for
    the S3 object store (lib/s3.js; fileUploadController.js:21-31)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.col("source").alias("source"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata WITHOUT decoding: size + checksum + kind — pure
    JVM expressions, the filter/pushdown surface for media curation."""
    return media.select(
        "media_id",
        "kind",
        F.octet_length("payload").cast("long").alias("n_bytes"),
        # md5 hashes the binary directly — a string round-trip would be
        # LOSSY on real (non-UTF8) media payloads; identical digests on
        # the utf-8 fixture payloads (parity-checked).
        F.md5(F.col("payload")).alias("checksum"),
        "source",
    )


def _fake_decode(payload: bytes, kind: str) -> tuple[int, int, list[float]]:
    """Deterministic surrogate decode: dimensions and features derived
    from the payload digest. Replace with PIL/ffmpeg in production."""
    h = hashlib.md5(payload or b"").digest()
    width = 16 + h[0] % 64
    height = 16 + h[1] % 64
    features = [round(b / 255.0, 6) for b in h[2 : 2 + FEATURE_DIM]]
    return width, height, features


def decode_media(media: DataFrame, fake: bool = False) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow batches).

    ``fake=False`` raises NotImplementedError — real decoders (PIL,
    torchaudio, ffmpeg) are unavailable in this environment; the
    surrounding plumbing is identical either way.
    """
    if not fake:
        raise NotImplementedError(
            "real media decoding requires PIL/ffmpeg/torchaudio; "
            "run with fake=True for the deterministic surrogate"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [
                _fake_decode(p, k)
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_bytes": [
                        len(p) if p is not None else 0
                        for p in pdf["payload"]
                    ],
                    "features": [d[2] for d in decoded],
                }
            )

    return media.mapInPandas(batches, DECODED_SCHEMA)


def frame_sample(
    media: DataFrame, n_frames: int = 4, fake: bool = False
) -> DataFrame:
    """Sample n frames per video payload (mapInPandas; frame bytes are
    deterministic payload slices under the fake decoder)."""
    if n_frames < 1:
        # plan-time, not a ZeroDivisionError inside an executor task
        raise ValueError(f"n_frames must be >= 1, got {n_frames}")
    if not fake:
        raise NotImplementedError(
            "real frame extraction requires ffmpeg; use fake=True"
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "media_id": [],
                "frame_idx": [],
                "frame_bytes": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = payload or b""
                step = max(len(payload) // n_frames, 1)
                for i in range(n_frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(
                        payload[i * step : (i + 1) * step]
                    )
            yield pd.DataFrame(out)

    return media.filter(F.col("kind") == "video").mapInPandas(
        batches, FRAME_SCHEMA
    )
