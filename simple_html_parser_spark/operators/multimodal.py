"""Multimodal column plumbing: opaque ``binary`` payloads + typed
metadata, processed with vectorized Arrow batches.

The header decoders are REAL pure-Python parsers (no image/audio libs
needed): PNG IHDR (signature + width/height/bit-depth/color-type, CRC
present and valid in the synthesized corpus) and WAV RIFF chunk walk
(fmt → channels/sample-rate/bits, data → frame count).  Unknown magic
falls back to the original deterministic stub (``decoded=false``), so
a production build only swaps the fallback for PIL/ffmpeg — schema,
batching, partitioning and the mapInPandas signatures are unchanged.

``binary_metadata`` is fully real (length, magic prefix, sha256) and
oracle-checked against DuckDB over the same bytes.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rows per decoded chunk: mapInPandas input batches are re-chunked so
# a batch of giant blobs cannot blow a decoder batch.
BATCH_ROWS = 256

PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type → sample channels (spec §11.2.2; type 3 is palette)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

IMAGE_META_SCHEMA = (
    "url string, n_bytes bigint, width int, height int, channels int, "
    "decoded boolean, note string"
)


def binary_metadata(df: DataFrame, col: str = "html") -> DataFrame:
    """Typed metadata over an opaque binary column — pure built-ins:
    (url, n_bytes, magic_hex, digest)."""
    return df.select(
        "url",
        F.length(F.col(col)).cast("bigint").alias("n_bytes"),
        F.hex(F.substring(F.col(col), 1, 4)).alias("magic_hex"),
        F.sha2(F.col(col), 256).alias("digest"),
    )


def decode_image_batch(payloads: pd.Series) -> pd.DataFrame:
    """Image header decode: REAL pure-Python PNG IHDR parse (spec
    §11.2.2 — signature, first chunk must be IHDR, big-endian
    width/height, bit depth, color type → channels).  Non-PNG payloads
    fall back to the deterministic stub (``decoded=false``) — the slot
    a production build fills with PIL/cv2.  Per-payload isolation: a
    truncated/corrupt header yields a fallback row, never a failed
    task."""
    rows = []
    for b in payloads:
        n = 0 if b is None else len(b)
        try:
            if b is None or n < 26 or bytes(b[:8]) != PNG_SIG \
                    or bytes(b[12:16]) != b"IHDR":
                raise ValueError("not a PNG")
            w, h = struct.unpack(">II", bytes(b[16:24]))
            bit_depth, color_type = b[24], b[25]
            rows.append((n, w, h, _PNG_CHANNELS.get(color_type, 0), True,
                         f"png-ihdr bit_depth={bit_depth} "
                         f"color_type={color_type}"))
        except Exception:  # noqa: BLE001 — per-payload isolation
            rows.append((n, n % 640 + 1, n % 480 + 1, 3, False,
                         "stub-decoder: deterministic fake dims"))
    out = pd.DataFrame(
        rows, columns=["n_bytes", "width", "height", "channels",
                       "decoded", "note"])
    return out.astype({"n_bytes": "int64", "width": "int32",
                       "height": "int32", "channels": "int32",
                       "decoded": "bool"})


def extract_image_features(df: DataFrame, col: str = "html") -> DataFrame:
    """mapInPandas pipeline over binary payloads — Arrow-batched, with
    explicit batch re-chunking so giant blobs can't blow a batch."""
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for start in range(0, len(pdf), BATCH_ROWS):
                chunk = pdf.iloc[start:start + BATCH_ROWS]
                feats = decode_image_batch(chunk[col])
                feats.insert(0, "url", chunk["url"].values)
                yield feats

    return df.select("url", col).mapInPandas(fn, IMAGE_META_SCHEMA)


AUDIO_META_SCHEMA = (
    "url string, n_bytes bigint, sample_rate int, channels int, "
    "n_samples bigint, duration_ms bigint, decoded boolean, note string"
)


def decode_audio_batch(payloads: pd.Series) -> pd.DataFrame:
    """Audio header decode: REAL pure-Python WAV parse (RIFF/WAVE
    container walk — ``fmt `` chunk → PCM format/channels/sample-rate/
    bits, ``data`` chunk → byte count → sample frames and duration).
    Non-WAV payloads fall back to the deterministic stub
    (``decoded=false``) — the slot a production build fills with
    soundfile/ffmpeg.  Per-payload isolation as in the image path."""
    rows = []
    for b in payloads:
        n = 0 if b is None else len(b)
        try:
            if b is None or n < 44 or bytes(b[:4]) != b"RIFF" \
                    or bytes(b[8:12]) != b"WAVE":
                raise ValueError("not a WAV")
            bb = bytes(b)
            fmt = data_size = None
            off = 12
            while off + 8 <= n:
                cid = bb[off:off + 4]
                size = struct.unpack("<I", bb[off + 4:off + 8])[0]
                if cid == b"fmt ":
                    fmt = struct.unpack("<HHIIHH", bb[off + 8:off + 24])
                elif cid == b"data":
                    data_size = size
                off += 8 + size + (size & 1)    # chunks are word-aligned
            if fmt is None or data_size is None:
                raise ValueError("missing fmt/data chunk")
            _, channels, rate, _, block_align, bits = fmt
            frames = data_size // max(block_align, 1)
            rows.append((n, rate, channels, frames,
                         frames * 1000 // max(rate, 1), True,
                         f"wav-fmt bits={bits}"))
        except Exception:  # noqa: BLE001 — per-payload isolation
            rate = 16000 + (n % 3) * 8000        # 16/24/32 kHz fake
            rows.append((n, rate, 1, n * 4, n * 4 * 1000 // rate, False,
                         "stub-decoder: deterministic fake audio meta"))
    out = pd.DataFrame(
        rows, columns=["n_bytes", "sample_rate", "channels", "n_samples",
                       "duration_ms", "decoded", "note"])
    return out.astype({"n_bytes": "int64", "sample_rate": "int32",
                       "channels": "int32", "n_samples": "int64",
                       "duration_ms": "int64", "decoded": "bool"})


def extract_audio_features(df: DataFrame, col: str = "html") -> DataFrame:
    """Same Arrow-batched mapInPandas shape as the image path."""
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for start in range(0, len(pdf), BATCH_ROWS):
                chunk = pdf.iloc[start:start + BATCH_ROWS]
                feats = decode_audio_batch(chunk[col])
                feats.insert(0, "url", chunk["url"].values)
                yield feats

    return df.select("url", col).mapInPandas(fn, AUDIO_META_SCHEMA)


FRAME_SAMPLE_SCHEMA = (
    "url string, frame_idx int, frame_offset bigint, frame_sha256 string"
)


def frame_sample(
    df: DataFrame, col: str = "html", n_frames: int = 4,
    frame_chars: int = 4096,
) -> DataFrame:
    """Video frame-sampling plumbing: emit ``n_frames`` evenly-spaced
    windows per payload with their digests — the REAL Spark shape
    (explode-per-frame rows, deterministic offsets, one digest per
    window) with the codec decode left to a production ffmpeg UDF.
    Pure built-ins, no Python: offsets via sequence + floor, windows
    via substr, sha2 digest.  Windows are char-offsets over the
    utf-8-decoded payload so the DuckDB oracle (char-based substring)
    matches exactly; a real video build slices bytes instead."""
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias(
        "frame_idx")
    out = df.select(
        "url", F.decode(F.col(col), "utf-8").alias("_s"), idx)
    off = F.floor(
        F.col("frame_idx").cast("bigint")
        * F.length("_s").cast("bigint") / n_frames).cast("bigint")
    return out.select(
        "url",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        off.alias("frame_offset"),
        F.sha2(F.col("_s").substr(
            (off + 1).cast("int"), F.lit(frame_chars)), 256)
        .alias("frame_sha256"),
    )
