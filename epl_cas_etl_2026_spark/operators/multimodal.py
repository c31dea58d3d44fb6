"""Multimodal column plumbing: image/audio/video payloads as opaque
``binary`` columns with typed metadata (BASELINE.json north star).

The Spark-side machinery here is REAL and tested — schema, Arrow batch
shape, ``mapInPandas`` signature, partitioning behavior. Decoding is
not: the reference never decodes media, so ``decode_image_meta`` and
the ``*_stub`` operators below derive deterministic, oracle-checkable
metadata from the payload bytes; swapping one for Pillow/av is a
one-function change.

At 100 TB: binary payloads dominate row size, so these operators run
``mapInPandas`` (Arrow-batched, streaming per partition — never
collects a partition into one list), keep batches bounded via
``spark.sql.execution.arrow.maxRecordsPerBatch``, and carry metadata
in plain columns so filters on metadata prune before any decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_META_SCHEMA = (
    "id long, byte_len long, fake_width int, fake_height int, checksum string"
)


def with_binary_payload(
    df: DataFrame, text_col: str = "text", out_col: str = "payload"
) -> DataFrame:
    """Test harness: forge a binary payload column from text (the
    testdata has no real media). Production would read binary files via
    ``spark.read.format('binaryFile')``."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def decode_image_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """'Decode' each binary payload to typed metadata via mapInPandas.

    STUB decode: real implementation would open the payload with
    Pillow and emit true (width, height). The deterministic fake is
    width = byte_len % 640, height = byte_len % 480 — stable, oracle-
    checkable, and exercises the exact batch shape a real decoder uses.
    """
    cols = [id_col, payload_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            payloads = pdf[payload_col]
            blens = payloads.map(len)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "byte_len": blens.astype("int64"),
                    "fake_width": (blens % 640).astype("int32"),
                    "fake_height": (blens % 480).astype("int32"),
                    "checksum": payloads.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )

    return df.select(*cols).mapInPandas(batches, IMAGE_META_SCHEMA)


def frame_sample_stub(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", n_frames: int = 4
) -> DataFrame:
    """Video frame-sampling plumbing: one input row → n_frames output
    rows (posexplode of deterministic frame offsets). Decode stubbed;
    the fan-out, schema, and partition behavior are real."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_frames - 1)),
                lambda i: i * (F.length(F.col(payload_col)) / n_frames).cast("long"),
            )
        ).alias("frame_index", "byte_offset"),
    )


def audio_chunk_stub(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    chunk_bytes: int = 16,
) -> DataFrame:
    """Audio chunking plumbing: one input row → ceil(len/chunk_bytes)
    chunk rows with (offset, length) — the fan-out shape of a real
    fixed-duration audio splitter (decode stubbed; offsets are byte-
    based here, sample-based with librosa/soundfile in production)."""
    n_chunks = F.ceil(F.length(payload_col) / F.lit(chunk_bytes)).cast("int")
    # Guard: an empty payload gives n_chunks = 0 and sequence(0, -1)
    # would be DESCENDING ([0, -1]) — emit no chunk rows instead
    # (posexplode of an empty array drops the row).
    offsets = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1), lambda i: i * chunk_bytes
        ),
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        F.col(id_col).alias("id"),
        F.length(payload_col).alias("total_bytes"),
        F.posexplode(offsets).alias("chunk_index", "byte_offset"),
    ).withColumn(
        "chunk_len",
        F.least(F.lit(chunk_bytes), F.col("total_bytes") - F.col("byte_offset")),
    )
