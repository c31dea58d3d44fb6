"""Multimodal column plumbing: image/audio/video payloads as opaque
``binary`` columns with typed metadata (BASELINE.json north star).

The Spark-side machinery here is REAL and tested — schema, Arrow batch
shape, ``mapInPandas`` signature, partitioning behavior. Decode status
by format: uncompressed 24-bit BMP and PCM16 WAV decode FOR REAL
(stdlib struct + numpy — ``decode_image_real`` / ``decode_audio_real``
below, round-trip-tested against the in-repo encoders, with a
dead-letter quarantine mode for corrupt payloads). Every other format
goes through ``decode_image_meta``'s documented deterministic fake;
swapping it for Pillow/av is a one-function change.

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


# ---------------------------------------------------------------------------
# REAL decode for container-free formats. Compressed formats (JPEG,
# MP3, H.264) genuinely need Pillow/av, which this container lacks —
# but uncompressed BMP and PCM WAV are pure header+array formats, so
# the engine decodes them for real with stdlib struct + numpy. The
# mapInPandas batch shape is identical to what a Pillow-backed decoder
# uses; only the per-payload parser would change.
# ---------------------------------------------------------------------------

IMAGE_REAL_SCHEMA = (
    "id long, width long, height long, bpp long, mean_luma_milli long, "
    "err string"
)


def encode_bmp(width: int, height: int, rgb_rows: list) -> bytes:
    """Minimal 24-bit uncompressed BMP writer (test fixture / sink
    format). rgb_rows: height rows of width (r, g, b) tuples, top-down;
    stored bottom-up per the format."""
    import struct

    stride = (width * 3 + 3) // 4 * 4
    pixel_bytes = bytearray()
    for row in reversed(rgb_rows):
        for r, g, b in row:
            pixel_bytes += bytes((b, g, r))
        pixel_bytes += b"\x00" * (stride - width * 3)
    offset = 14 + 40
    size = offset + len(pixel_bytes)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, offset)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0,
        len(pixel_bytes), 2835, 2835, 0, 0,
    )
    return bytes(header + dib + pixel_bytes)


def _parse_bmp(buf: bytes) -> tuple[int, int, int, int]:
    """Decode a 24-bit uncompressed BMP: (width, height, bpp,
    mean_luma_milli) where luma = 0.299R + 0.587G + 0.114B averaged
    over all pixels, in milli-units of full scale (0..1000)."""
    import struct

    import numpy as np

    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", buf, 10)
    width, height = struct.unpack_from("<ii", buf, 18)
    (bpp,) = struct.unpack_from("<H", buf, 28)
    (compression,) = struct.unpack_from("<I", buf, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    top_down = height < 0
    h = abs(height)
    stride = (width * 3 + 3) // 4 * 4
    px = np.frombuffer(buf, dtype=np.uint8, count=stride * h, offset=offset)
    rows = px.reshape(h, stride)[:, : width * 3].reshape(h, width, 3)
    if not top_down:
        rows = rows[::-1]
    bgr = rows.astype(np.float64)
    luma = (
        0.299 * bgr[..., 2] + 0.587 * bgr[..., 1] + 0.114 * bgr[..., 0]
    ).mean() / 255.0
    return width, h, bpp, int(luma * 1000 + 0.5)


def decode_image_real(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    on_error: str = "fail",
) -> DataFrame:
    """Real image decode via mapInPandas for formats the container can
    parse without media libraries (24-bit BMP). Same batch shape as
    decode_image_meta; a Pillow deployment swaps _parse_bmp for
    PIL.Image.open.

    on_error: "fail" raises on the first undecodable payload (default
    — corrupt media aborts the job loudly); "quarantine" emits the row
    with NULL fields and the error text in `err` so the caller routes
    `err IS NOT NULL` rows to a dead-letter sink (the etl/zenput.py
    quarantine pattern applied to media)."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be fail|quarantine: {on_error}")
    cols = [id_col, payload_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = []
            for b in pdf[payload_col]:
                try:
                    parsed.append(_parse_bmp(bytes(b)) + (None,))
                except Exception as e:  # noqa: BLE001 — quarantine is
                    # the catch-everything path by contract: corrupt
                    # payloads raise struct.error / TypeError (None
                    # payload) just as readily as ValueError
                    if on_error == "fail":
                        raise
                    parsed.append((None, None, None, None, str(e)))
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "width": [p[0] for p in parsed],
                    "height": [p[1] for p in parsed],
                    "bpp": [p[2] for p in parsed],
                    "mean_luma_milli": [p[3] for p in parsed],
                    "err": [p[4] for p in parsed],
                }
            )

    return df.select(*cols).mapInPandas(batches, IMAGE_REAL_SCHEMA)


AUDIO_REAL_SCHEMA = (
    "id long, channels long, sample_rate long, n_samples long, "
    "duration_ms long, rms_milli long, peak_milli long, err string"
)


def encode_wav_pcm16(
    samples: list, sample_rate: int = 16000, channels: int = 1
) -> bytes:
    """Minimal PCM16 WAV writer (test fixture / sink format).
    samples: int16 values, interleaved if multi-channel."""
    import struct

    data = b"".join(struct.pack("<h", int(s)) for s in samples)
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, channels, sample_rate,
        byte_rate, channels * 2, 16,
    )
    data_chunk = struct.pack("<4sI", b"data", len(data)) + data
    riff = struct.pack(
        "<4sI4s", b"RIFF", 4 + len(fmt) + len(data_chunk), b"WAVE"
    )
    return riff + fmt + data_chunk


def _parse_wav(buf: bytes) -> tuple[int, int, int, int, int, int]:
    """Decode a PCM16 WAV: (channels, sample_rate, n_samples,
    duration_ms, rms_milli, peak_milli) — rms/peak in milli-units of
    int16 full scale."""
    import struct

    import numpy as np

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos, channels, rate, bits, data = 12, None, None, None, None
    while pos + 8 <= len(buf):
        cid, clen = struct.unpack_from("<4sI", buf, pos)
        body = buf[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt_code, channels, rate = struct.unpack_from("<HHI", body, 0)
            (bits,) = struct.unpack_from("<H", body, 14)
            if fmt_code != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (fmt={fmt_code}, bits={bits})"
                )
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)
    if channels is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if channels <= 0 or rate <= 0:
        raise ValueError(f"WAV invalid fmt (channels={channels}, rate={rate})")
    x = np.frombuffer(data, dtype="<i2").astype(np.float64)
    n_samples = len(x) // channels
    rms = float(np.sqrt((x**2).mean())) if len(x) else 0.0
    peak = float(np.abs(x).max()) if len(x) else 0.0
    return (
        channels,
        rate,
        n_samples,
        n_samples * 1000 // rate if rate else 0,
        int(rms / 32768.0 * 1000 + 0.5),
        int(peak / 32768.0 * 1000 + 0.5),
    )


def decode_audio_real(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    on_error: str = "fail",
) -> DataFrame:
    """Real audio decode via mapInPandas (PCM16 WAV): header fields
    plus decoded-sample statistics (RMS / peak), proving the samples
    themselves are read, not just the header. on_error as in
    decode_image_real."""
    if on_error not in ("fail", "quarantine"):
        raise ValueError(f"on_error must be fail|quarantine: {on_error}")
    cols = [id_col, payload_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            parsed = []
            for b in pdf[payload_col]:
                try:
                    parsed.append(_parse_wav(bytes(b)) + (None,))
                except Exception as e:  # noqa: BLE001 — see image twin
                    if on_error == "fail":
                        raise
                    parsed.append((None,) * 6 + (str(e),))
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "channels": [p[0] for p in parsed],
                    "sample_rate": [p[1] for p in parsed],
                    "n_samples": [p[2] for p in parsed],
                    "duration_ms": [p[3] for p in parsed],
                    "rms_milli": [p[4] for p in parsed],
                    "peak_milli": [p[5] for p in parsed],
                    "err": [p[6] for p in parsed],
                }
            )

    return df.select(*cols).mapInPandas(batches, AUDIO_REAL_SCHEMA)


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


RESIZE_META_SCHEMA = (
    "id long, fake_width int, fake_height int, target_width int, target_height int"
)


def resize_image_stub(
    df: DataFrame,
    target: tuple[int, int] = (224, 224),
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Image-resize plumbing via mapInPandas: consumes the payload
    batch-wise and emits per-image source + target dimensions. STUB:
    real code would decode, ``Image.resize(target)``, and emit the new
    payload; the Arrow batch shape, schema, and partition behavior here
    are exactly what that implementation uses."""
    tw, th = target
    cols = [id_col, payload_col]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blens = pdf[payload_col].map(len)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "fake_width": (blens % 640).astype("int32"),
                    "fake_height": (blens % 480).astype("int32"),
                    "target_width": tw,
                    "target_height": th,
                }
            )

    return df.select(*cols).mapInPandas(batches, RESIZE_META_SCHEMA)


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
