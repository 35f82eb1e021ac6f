"""Multimodal binary-column plumbing: opaque image/audio/video bytes
with typed metadata, processed via mapInPandas.

The decode step is STUBBED (no image/audio libraries in this
container): ``decode_stub=True`` produces a deterministic fake
feature vector (a hash-seeded projection of the bytes) so the Spark-
side plumbing — schema, Arrow batch shape, partitioning, UDF
signatures — is real and tested end-to-end; swapping in PIL/ffmpeg is
a one-function change behind the same signature.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_DIM = 32


def synthetic_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic fake media table (payload = hash-derived bytes)."""
    i = F.col("id")
    kind = F.element_at(F.lit(["image", "audio", "video"]), F.pmod(i, F.lit(3)).cast("int") + 1)
    payload = F.encode(F.format_string("media-%d-%d", i, F.xxhash64(i, F.lit("pl"))), "UTF-8")
    return spark.range(n).select(
        i.alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.pmod(F.xxhash64(i, F.lit("w")), F.lit(1920)).cast("int").alias("width"),
        F.pmod(F.xxhash64(i, F.lit("h")), F.lit(1080)).cast("int").alias("height"),
        F.pmod(F.xxhash64(i, F.lit("d")), F.lit(600000)).cast("int").alias("duration_ms"),
        F.lit("application/octet-stream").alias("mime"),
    )


def _decode_stub_features(payload: bytes) -> np.ndarray:
    """Deterministic fake 'decoded features' — a seeded projection of
    the byte content. Replace with a real decoder when libs exist."""
    h = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    seed = int(h.sum()) % (2**31)
    rng = np.random.RandomState(seed)
    return rng.normal(size=FEATURE_DIM)


def extract_features(media: DataFrame, decode_stub: bool = True) -> DataFrame:
    """media -> (media_id, kind, features array<double>) via
    mapInPandas (Arrow batch iterator — the streaming-batch shape that
    keeps peak memory at one batch, not one partition)."""
    if not decode_stub:
        raise NotImplementedError(
            "real media decoding requires PIL/ffmpeg (not in this container); "
            "run with decode_stub=True"
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_stub_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": pdf["kind"], "features": feats}
            )

    return media.mapInPandas(fn, "media_id long, kind string, features array<double>")


# --------------------- header probe (real decode) ---------------------
# Training-data pipelines filter media by resolution/sample-rate BEFORE
# any expensive decode (LAION drops images under a minimum dimension;
# audio sets filter by sample rate). The container-format HEADERS carry
# those fields in the first kilobyte, parseable with no codec library —
# so unlike the feature decode above, this step is NOT a stub: it
# reads the real PNG IHDR, JPEG SOFn, GIF logical screen descriptor,
# and WAV fmt-chunk layouts.

def _probe_one(b: bytes) -> tuple:
    """(fmt, width, height, sample_rate) from container headers; fmt
    'unknown' (NULL fields) when no signature matches. Pure bytes —
    deterministic, no codec, bounded work per row."""
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
            w = int.from_bytes(b[16:20], "big")
            h = int.from_bytes(b[20:24], "big")
            return ("png", w, h, None)
        if b[:3] == b"\xff\xd8\xff":
            # walk JPEG markers to the first SOFn (C0-CF except C4/C8/CC)
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    break
                m = b[i + 1]
                if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
                    h = int.from_bytes(b[i + 5:i + 7], "big")
                    w = int.from_bytes(b[i + 7:i + 9], "big")
                    return ("jpeg", w, h, None)
                seg = int.from_bytes(b[i + 2:i + 4], "big")
                i += 2 + seg
            return ("jpeg", None, None, None)
        if b[:6] in (b"GIF87a", b"GIF89a"):
            w = int.from_bytes(b[6:8], "little")
            h = int.from_bytes(b[8:10], "little")
            return ("gif", w, h, None)
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            # fmt chunk is conventionally first at offset 12
            if b[12:16] == b"fmt ":
                sr = int.from_bytes(b[24:28], "little")
                return ("wav", None, None, sr)
            return ("wav", None, None, None)
    except (IndexError, ValueError):
        pass
    return ("unknown", None, None, None)


def probe_media_headers(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(media_id, fmt, probe_width, probe_height, sample_rate) parsed
    from REAL container headers via mapInPandas — the pre-decode
    resolution/sample-rate filter of a multimodal pipeline. Arrow
    batch iterator, bounded per-row work (header bytes only), no
    shuffle; at 100 TB this rides the scan like any projection."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_probe_one(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "fmt": [r[0] for r in rows],
                    "probe_width": pd.array([r[1] for r in rows], dtype="Int32"),
                    "probe_height": pd.array([r[2] for r in rows], dtype="Int32"),
                    "sample_rate": pd.array([r[3] for r in rows], dtype="Int32"),
                }
            )

    return media.mapInPandas(
        fn,
        "media_id long, fmt string, probe_width int, probe_height int, sample_rate int",
    )


def synthetic_headered_media(spark: SparkSession, n: int) -> DataFrame:
    """Deterministic media table whose payloads carry REAL container
    headers (PNG / JPEG-SOF0 / GIF89a / WAV fmt) with dimensions
    derived from the row id — the probe's test fixture, built in a
    mapInPandas so the header bytes are genuine layouts."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, kinds = [], []
            for i in pdf["id"]:
                w, h, sr = 16 + (i % 1904), 16 + (i % 1064), 8000 + (i % 40000)
                k = i % 4
                if k == 0:
                    b = (b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
                         + int(w).to_bytes(4, "big") + int(h).to_bytes(4, "big")
                         + b"\x08\x02\x00\x00\x00" + b"\x00" * 4)
                    kinds.append("png")
                elif k == 1:
                    sof = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
                           + int(h).to_bytes(2, "big") + int(w).to_bytes(2, "big")
                           + b"\x03" + b"\x00" * 9)
                    b = b"\xff\xd8\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9 + sof
                    kinds.append("jpeg")
                elif k == 2:
                    b = (b"GIF89a" + int(w % 65536).to_bytes(2, "little")
                         + int(h % 65536).to_bytes(2, "little") + b"\x00\x00\x00")
                    kinds.append("gif")
                else:
                    b = (b"RIFF" + (36).to_bytes(4, "little") + b"WAVE" + b"fmt "
                         + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
                         + (1).to_bytes(2, "little") + int(sr).to_bytes(4, "little")
                         + b"\x00" * 8)
                    kinds.append("wav")
                payloads.append(b)
            yield pd.DataFrame(
                {"media_id": pdf["id"], "kind": kinds, "payload": payloads}
            )

    return spark.range(n).mapInPandas(
        fn, "media_id long, kind string, payload binary"
    )
