"""Parquet read helpers (SURVEY §2.1 S2/S4 and size probes).

The reference's stores (Pinecone upsert/delete, Mongo insertMany, HNSW
save/load) map to table mutations that ALL commit through
:mod:`.transactional` on :mod:`.snapshot_log`'s CAS manifests — that is
the engine's only table writer. This module holds only reads: the
on-disk size of a parquet table (callers' broadcast/AQE cost gates) and
the text-document source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parquet_bytes_on_disk(path: str) -> int | None:
    """Total bytes of a parquet table at ``path`` — a single file OR a
    directory of part-files (``os.path.getsize`` on a directory
    returns the ~4 KB inode size, which would silently classify any
    multi-file table as broadcastable). ``None`` when the path isn't
    locally stat-able (object stores) — callers must treat unknown as
    LARGE, never as small."""
    import os

    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total if total > 0 else None
    except OSError:
        return None


def read_text_documents(
    spark: SparkSession, path: str, wholetext: bool = True
) -> DataFrame:
    """S2/S4: S3 text object -> utf-8 string
    (controllers/customTrainDataController.js:38-46;
    embeddingController.js:25): file source + decode, one row per file
    (wholetext) tagged with its path."""
    return (
        spark.read.option("wholetext", str(wholetext).lower())
        .text(path)
        .select(
            F.input_file_name().alias("source_path"),
            F.col("value").alias("text"),
        )
    )
