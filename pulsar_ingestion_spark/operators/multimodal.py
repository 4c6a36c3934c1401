"""Multimodal columns — image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested: schema, Arrow-batched
``mapInPandas`` UDF signatures, partition-size control for large blobs.
The codec step itself (JPEG decode, resample, frame extraction) is STUBBED
behind ``_decode_image``: the container has no image/audio libraries, so
decode raises ``NotImplementedError`` unless a PIL-compatible decoder is
importable, and the deterministic fallback parses only our synthetic
header — clearly marked, swap in a real decoder in production.

Scale notes:
  * blobs stay columnar (parquet binary) and are NEVER collect()ed;
    `mapInPandas` streams Arrow batches through the Python worker;
  * `spark.sql.files.maxPartitionBytes` bounds task input so a partition
    of blobs fits executor memory; for 10MB+ media use
    `maxRecordsPerBatch` to cap Arrow batch size;
  * metadata lives in a sibling struct column so filters (mime, dims)
    prune without touching bytes — filter pushdown on metadata, lazy IO
    on payload.
"""

from __future__ import annotations

import hashlib
import struct as _struct
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
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

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("payload", BinaryType(), True),
    StructField("meta", StructType([
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_bytes", LongType(), True),
    ]), True),
])

_MAGIC = b"SYNM"  # synthetic media header: MAGIC + u16 width + u16 height


def synthesize_media(
    df: DataFrame, id_col: str = "doc_id", content_col: str | None = None
) -> DataFrame:
    """Deterministic fake media blobs from any id column — header carries
    (width, height) derived from the id, body is a seeded byte pattern.
    Gives the pipeline real binary columns to push around.

    ``content_col`` (optional) seeds the PAYLOAD independently of the
    media id — colliding content keys yield byte-identical payloads
    under distinct ids, the dup structure byte-level dedup needs."""
    idc = F.col(id_col).cast("long")
    ck_name = content_col or id_col
    ckc = F.col(ck_name).cast("long")
    w = (ckc % 64 + 16).cast("int")
    h = (ckc % 48 + 16).cast("int")
    header = F.concat(
        F.lit(_MAGIC),
        F.expr(f"unhex(lpad(hex(CAST({ck_name} % 64 + 16 AS INT)), 4, '0'))"),
        F.expr(f"unhex(lpad(hex(CAST({ck_name} % 48 + 16 AS INT)), 4, '0'))"),
    )
    body = F.sha2(ckc.cast("string"), 256).cast("binary")
    return df.select(
        idc.alias("media_id"),
        F.concat(header, body).alias("payload"),
        F.struct(
            F.lit("image/synthetic").alias("mime"),
            w.alias("width"),
            h.alias("height"),
            (F.length(body) + 8).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def _decode_image(payload: bytes) -> tuple[int, int]:
    """STUB decode.  Synthetic blobs decode via their SYNM header (checked
    FIRST — they are not valid images, so a real decoder must not see
    them); real payloads go to PIL when importable; anything else raises
    NotImplementedError — the production deployment injects a real codec."""
    if payload[:4] == _MAGIC:
        (w,) = _struct.unpack(">H", payload[4:6])
        (h,) = _struct.unpack(">H", payload[6:8])
        return w, h
    try:  # pragma: no cover - PIL not present in this container
        import io

        from PIL import Image

        img = Image.open(io.BytesIO(payload))
        return img.width, img.height
    except ImportError:
        pass
    except Exception as exc:  # decoder present but payload unreadable
        raise NotImplementedError(f"image decode failed: {exc}") from exc
    raise NotImplementedError("no image decoder available in this environment")


FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("decoded_width", IntegerType()),
    StructField("decoded_height", IntegerType()),
    StructField("byte_len", LongType()),
    StructField("content_sha", StringType()),
    StructField("mime_detected", StringType()),
    StructField("distinct_bytes", IntegerType()),
    StructField("entropy_bits", DoubleType()),
])

# magic-number → mime type detection (byte-level, no codec needed)
_MAGIC_MIME = {
    _MAGIC: "image/synthetic",
    b"SYNV": "video/synthetic",
    b"SYNA": "audio/synthetic",
    b"\xff\xd8\xff": "image/jpeg",
    b"\x89PNG": "image/png",
    b"RIFF": "audio/wav",
}


def _detect_mime(b: bytes) -> str:
    for magic, mime in _MAGIC_MIME.items():
        if b[: len(magic)] == magic:
            return mime
    return "application/octet-stream"


def entropy_term_e6(c: int, n: int) -> int:
    """Fixed-point (micro-bit) Shannon-entropy term for a byte value with
    count ``c`` out of ``n`` payload bytes.  Both the Arrow UDF and the
    DuckDB oracle consume this SAME Python-computed value (the oracle
    inlines the c=1..n table as literals), so no engine libm is ever
    involved — exact cross-engine parity by construction."""
    import math

    return round((c / n) * math.log2(n / c) * 1_000_000)


def extract_features(df: DataFrame, batch_size: int | None = None) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow batches).

    Output: per-media decoded dims (stub codec path), plus deterministic
    byte-level features that need NO codec — byte length, content hash
    (sha256 of the uppercase hex encoding — a pure-string transform both
    engines compute identically), magic-number mime detection, distinct
    byte count, and Shannon byte entropy in bits (micro-bit fixed-point
    sum / 1e6, so the double is one exact integer divide on every side).
    The UDF sees pandas batches — the real pipeline would emit embeddings
    here; the batch shape/partitioning is exactly what production uses.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "decoded_width": [], "decoded_height": [],
                "byte_len": [], "content_sha": [],
                "mime_detected": [], "distinct_bytes": [], "entropy_bits": [],
            }
            for payload in pdf["payload"]:
                b = bytes(payload)
                w, h = _decode_image(b)
                out["decoded_width"].append(w)
                out["decoded_height"].append(h)
                out["byte_len"].append(len(b))
                out["content_sha"].append(
                    hashlib.sha256(b.hex().upper().encode()).hexdigest()
                )
                out["mime_detected"].append(_detect_mime(b))
                counts = Counter(b)
                out["distinct_bytes"].append(len(counts))
                e6 = sum(entropy_term_e6(c, len(b)) for c in counts.values())
                out["entropy_bits"].append(e6 / 1e6)
            yield pd.DataFrame(out)

    return df.select("media_id", "payload").mapInPandas(_extract, schema=FEATURE_SCHEMA)


def resize_spec(df: DataFrame, max_dim: int = 32) -> DataFrame:
    """Resize planning — pure metadata math (no decode): target dims
    preserving aspect ratio.  Shows the metadata-only fast path: the
    binary column is never read (column pruning drops it from the scan)."""
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.least(F.lit(max_dim) / w, F.lit(max_dim) / h, F.lit(1.0))
    return df.select(
        "media_id",
        w.alias("width"),
        h.alias("height"),
        F.ceil(w * scale).cast("int").alias("target_width"),
        F.ceil(h * scale).cast("int").alias("target_height"),
    )


VIDEO_MAGIC = b"SYNV"  # synthetic video header: MAGIC + u16 n_frames

FRAME_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("frame_idx", LongType()),
    StructField("frame_sha", StringType()),
])


def synthesize_video(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake video blobs: header carries the frame count
    (id % 240 + 12 — always ≥ 12), body is a seeded byte pattern.  Same
    role as :func:`synthesize_media` for the frame-sampling path."""
    idc = F.col(id_col).cast("long")
    n_frames = (idc % 240 + 12).cast("int")
    header = F.concat(
        F.lit(VIDEO_MAGIC),
        F.expr(f"unhex(lpad(hex(CAST({id_col} % 240 + 12 AS INT)), 4, '0'))"),
    )
    body = F.sha2(F.concat(F.lit("video:"), idc.cast("string")), 256).cast("binary")
    return df.select(
        idc.alias("media_id"),
        F.concat(header, body).alias("payload"),
        F.struct(
            F.lit("video/synthetic").alias("mime"),
            n_frames.alias("n_frames"),
            (F.length(body) + 6).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def sample_frames(df: DataFrame, target: int = 8) -> DataFrame:
    """Uniform-stride frame sampling + per-frame feature stub.

    The sampling itself is pure JVM column algebra: for each video pick
    ``target`` indices ``floor(j·n/target)`` (strictly increasing while
    n ≥ target, so no dedup pass), explode — a narrow row generator, no
    shuffle.  The per-frame decode/feature step is the Python boundary:
    ``mapInPandas`` over Arrow batches computes a deterministic frame
    fingerprint (a real deployment swaps in the codec there; the batch
    shape, schema, and partitioning are the production ones).  At 100 TB
    the explode multiplies rows at the scan and the Arrow stage stays
    embarrassingly parallel — no state, no skew beyond frame-count
    variance.
    """
    import hashlib

    n = F.col("meta.n_frames").cast("long")
    idx = F.transform(
        F.sequence(F.lit(0), F.lit(target - 1)),
        lambda j: F.floor(j * n / target),
    )
    frames = df.select(
        "media_id",
        F.col("meta.n_frames").alias("n_frames"),
        F.explode(F.array_distinct(idx)).alias("frame_idx"),
    )

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf["frame_sha"] = [
                hashlib.md5(f"{m}:{i}".encode()).hexdigest()
                for m, i in zip(pdf["media_id"], pdf["frame_idx"])
            ]
            yield pdf[["media_id", "n_frames", "frame_idx", "frame_sha"]]

    return frames.mapInPandas(_features, schema=FRAME_SCHEMA)


AUDIO_MAGIC = b"SYNA"  # synthetic audio header: MAGIC + u32 n_samples + u16 rate

CHUNK_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("chunk_idx", LongType()),
    StructField("chunk_start", LongType()),
    StructField("chunk_len", LongType()),
    StructField("chunk_sha", StringType()),
])


def synthesize_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake audio: 16 kHz, 1–30 s of samples derived from
    the id; body is a seeded byte pattern."""
    idc = F.col(id_col).cast("long")
    n_samples = ((idc % 30 + 1) * 16_000).cast("long")
    body = F.sha2(F.concat(F.lit("audio:"), idc.cast("string")), 256).cast("binary")
    return df.select(
        idc.alias("media_id"),
        F.concat(F.lit(AUDIO_MAGIC), body).alias("payload"),
        F.struct(
            F.lit("audio/synthetic").alias("mime"),
            F.lit(16_000).alias("sample_rate"),
            n_samples.alias("n_samples"),
        ).alias("meta"),
    )


def chunk_audio(df: DataFrame, window_samples: int = 160_000) -> DataFrame:
    """Fixed-window audio chunking (10 s windows at 16 kHz by default) —
    the audio analog of :func:`sample_frames`: chunk boundaries are pure
    column algebra (`sequence` over ceil(n/window) → explode, narrow, no
    shuffle); the per-chunk resample/feature stub is the `mapInPandas`
    Arrow stage where a real deployment injects the DSP codec.  The last
    chunk is short (n - start), never padded — padding policy belongs to
    the model-side collator, not the lake."""
    import hashlib

    n = F.col("meta.n_samples").cast("long")
    n_chunks = F.ceil(n / window_samples).cast("long")
    chunks = df.select(
        "media_id",
        F.col("meta.sample_rate").alias("sample_rate"),
        n.alias("n_samples"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        "media_id", "sample_rate", "n_samples", "chunk_idx",
        (F.col("chunk_idx") * window_samples).alias("chunk_start"),
        F.least(
            F.lit(window_samples).cast("long"),
            F.col("n_samples") - F.col("chunk_idx") * window_samples,
        ).alias("chunk_len"),
    )

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            pdf["chunk_sha"] = [
                hashlib.md5(f"{m}:{s}:{ln}".encode()).hexdigest()
                for m, s, ln in zip(pdf["media_id"], pdf["chunk_start"], pdf["chunk_len"])
            ]
            yield pdf[[
                "media_id", "sample_rate", "n_samples", "chunk_idx",
                "chunk_start", "chunk_len", "chunk_sha",
            ]]

    return chunks.mapInPandas(_features, schema=CHUNK_SCHEMA)
