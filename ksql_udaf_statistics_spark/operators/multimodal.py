"""Multimodal columns: opaque binary payloads + typed metadata + REAL
pure-numpy decoders for the trivial containers.

Decode layers:

- ``decode_wav`` / ``decode_ppm`` — real parsers for RIFF/WAVE PCM audio
  and binary PPM (P6) images, pure numpy (no codec libraries needed);
  ``encode_wav`` is the matching writer used to synthesize test/bench
  payloads. ``decode_payload`` sniffs the container magic and dispatches;
  an unrecognized container raises ``ValueError`` (defined error
  semantics — in production additional codecs register here).
- ``fake_decode_features`` — a deterministic featurizer stand-in for
  formats with no in-sandbox codec (JPEG/MP4 ...), kept so the plumbing
  remains exercised independently of any specific container.

Everything around the kernels is production-shaped: binary column +
struct metadata, Arrow-batched ``mapInPandas`` (one Python roundtrip per
batch, never per row), and partition-count preservation so a 100 TB
binary table streams through executors without collecting.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, StringType, StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),        # image | audio | video
        StructField("payload", BinaryType()),      # opaque encoded bytes
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("sample_rate", IntegerType()),
                    StructField("n_frames", IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("payload_bytes", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def synthesize_media_table(spark, n_rows: int, seed: int = 42, partitions: int = 4) -> DataFrame:
    """Deterministic fake media table: payload = bytes of a seeded hash
    chain (stands in for encoded image/audio), metadata typed for real."""
    base = spark.range(0, n_rows, 1, partitions)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.xxhash64("id", F.lit(seed)), 3) + 1).cast("int"),
    )
    payload = F.sha2(F.concat(F.lit(seed), F.col("id").cast("string")), 256).cast("binary")
    return base.select(
        F.format_string("media-%09d", F.col("id")).alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            (F.pmod(F.xxhash64("id", F.lit("w")), 1920) + 1).cast("int").alias("width"),
            (F.pmod(F.xxhash64("id", F.lit("h")), 1080) + 1).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            (F.pmod(F.xxhash64("id", F.lit("f")), 300) + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE writer: 16-bit PCM mono. The inverse of
    :func:`decode_wav` (round-trip tested)."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """REAL pure-numpy RIFF/WAVE PCM decoder: walks the chunk list, reads
    the ``fmt `` chunk (PCM, 16-bit only — the training-audio staple),
    returns (sample_rate, int16 sample array; interleaved if stereo)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n = 12, len(payload)
    sample_rate, bits, data = None, None, None
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, _ch, sample_rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError(
                    f"only 16-bit PCM supported (fmt={audio_fmt}, bits={bits})"
                )
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sample_rate is None or data is None:
        raise ValueError("WAVE payload missing fmt/data chunk")
    return sample_rate, data


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Minimal binary-PPM (P6) writer: (h, w, 3) uint8 RGB."""
    h, w = pixels.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(
        pixels, dtype=np.uint8
    ).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """REAL pure-numpy binary-PPM (P6) decoder → (h, w, 3) uint8 RGB."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported (got {maxval})")
    raw = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raw.reshape(h, w, 3)


def decode_payload(payload: bytes, kind: str) -> np.ndarray:
    """Container-sniffing decode: RIFF/WAVE → float32 samples in [-1, 1);
    P6 PPM → float32 flattened pixels in [0, 1]. An unrecognized container
    raises ``ValueError`` naming the magic bytes — production deployments
    register further codecs (JPEG/FLAC/MP4) on the same dispatch."""
    head = bytes(payload[:4])
    if head == b"RIFF":
        _, samples = decode_wav(payload)
        return samples.astype(np.float32) / 32768.0
    if head[:2] == b"P6":
        return decode_ppm(payload).astype(np.float32).ravel() / 255.0
    raise ValueError(
        f"unrecognized media container (magic={head!r}, kind={kind!r}); "
        "supported: RIFF/WAVE 16-bit PCM, binary PPM (P6)"
    )


def fake_decode_features(payload: bytes) -> np.ndarray:
    """Deterministic FEATURE_DIM-vector derived from payload bytes —
    the numerical stand-in for a real decoder+featurizer."""
    raw = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    reps = int(np.ceil(FEATURE_DIM / max(len(raw), 1)))
    vec = np.tile(raw, reps)[:FEATURE_DIM]
    return (vec / 255.0).astype(np.float32)


def _head_features(decoded: np.ndarray) -> np.ndarray:
    """First FEATURE_DIM normalized values of a decoded signal, zero-padded
    — the simplest deterministic featurizer over real decoded content."""
    out = np.zeros(FEATURE_DIM, dtype=np.float32)
    head = decoded[:FEATURE_DIM]
    out[: len(head)] = head
    return out


def extract_features(media: DataFrame, use_real_codec: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    ``mapInPandas``: one pandas batch in, one out — the only Python hop in
    the pipeline, vectorized per batch. Preserves partitioning (no
    shuffle), so it composes with upstream repartition-by-size.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if use_real_codec:
                feats = [
                    _head_features(decode_payload(p, k))
                    for p, k in zip(pdf["payload"], pdf["kind"])
                ]
            else:
                feats = [fake_decode_features(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_bytes": pdf["payload"].map(len).astype("int32"),
                    "features": [f.tolist() for f in feats],
                }
            )

    return media.mapInPandas(batches, FEATURES_SCHEMA)


AUDIO_STATS_SCHEMA = (
    "media_id string, source string, sample_rate int, n_samples long, "
    "amp_sum long, amp_max long"
)


def synthesize_wav_media(
    docs: DataFrame, sample_rate: int = 16000
) -> DataFrame:
    """Real RIFF/WAVE payloads synthesized deterministically from doc ids:
    clip d has ``50 + d % 50`` samples with
    ``sample[i] = (d*31 + i*7) % 65536 - 32768`` — a closed form any SQL
    engine can recompute, so aggregates over the DECODED samples are
    oracle-able end-to-end. Arrow ``mapInPandas``, partition-preserving."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            d = pdf["doc_id"].to_numpy(dtype=np.int64)
            payloads = []
            for dd in d:
                n = 50 + dd % 50
                i = np.arange(n, dtype=np.int64)
                samples = (dd * 31 + i * 7) % 65536 - 32768
                payloads.append(encode_wav(samples, sample_rate))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "source": pdf["source"],
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "source").mapInPandas(
        batches, "media_id string, source string, payload binary"
    )


def audio_stats(media: DataFrame) -> DataFrame:
    """Per-clip PCM statistics via the REAL WAV decoder: one Arrow batch
    in, int64 sum/max over the decoded int16 samples out. Sums are exact
    integers, so downstream per-group means (one final division) are
    bit-identical across engines."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rates, counts, sums, maxes = [], [], [], []
            for p in pdf["payload"]:
                rate, samples = decode_wav(bytes(p))
                s64 = samples.astype(np.int64)
                rates.append(rate)
                counts.append(len(s64))
                sums.append(int(s64.sum()))
                maxes.append(int(s64.max()) if len(s64) else 0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "source": pdf["source"],
                    "sample_rate": np.asarray(rates, dtype=np.int32),
                    "n_samples": np.asarray(counts, dtype=np.int64),
                    "amp_sum": np.asarray(sums, dtype=np.int64),
                    "amp_max": np.asarray(maxes, dtype=np.int64),
                }
            )

    return media.mapInPandas(batches, AUDIO_STATS_SCHEMA)


IMAGE_STATS_SCHEMA = (
    "media_id string, source string, width int, height int, "
    "n_subpixels long, px_sum long, px_max long"
)


def synthesize_ppm_media(docs: DataFrame) -> DataFrame:
    """Real binary-PPM (P6) payloads synthesized deterministically from
    doc ids: image d is ``(6 + d % 7) x (8 + d % 9)`` RGB with flattened
    subpixel ``p`` valued ``(d*13 + p*5) % 256`` — a closed form the
    DuckDB oracle recomputes, so aggregates over the DECODED pixels are
    oracle-able end-to-end (the image mirror of synthesize_wav_media).
    Arrow ``mapInPandas``, partition-preserving."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            d_arr = pdf["doc_id"].to_numpy(dtype=np.int64)
            payloads = []
            for dd in d_arr:
                w, h = 8 + dd % 9, 6 + dd % 7
                p = np.arange(w * h * 3, dtype=np.int64)
                px = ((dd * 13 + p * 5) % 256).astype(np.uint8)
                payloads.append(encode_ppm(px.reshape(h, w, 3)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype(str),
                    "source": pdf["source"],
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "source").mapInPandas(
        batches, "media_id string, source string, payload binary"
    )


def image_stats(media: DataFrame) -> DataFrame:
    """Per-image pixel statistics via the REAL PPM decoder: header parse
    gives (width, height), the pixel plane gives exact int64 sum/max —
    one Arrow batch in, scalars out (the image mirror of audio_stats)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ws, hs, counts, sums, maxes = [], [], [], [], []
            for p in pdf["payload"]:
                arr = decode_ppm(bytes(p))
                flat = arr.astype(np.int64).ravel()
                hs.append(arr.shape[0])
                ws.append(arr.shape[1])
                counts.append(flat.size)
                sums.append(int(flat.sum()))
                maxes.append(int(flat.max()) if flat.size else 0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "source": pdf["source"],
                    "width": np.asarray(ws, dtype=np.int32),
                    "height": np.asarray(hs, dtype=np.int32),
                    "n_subpixels": np.asarray(counts, dtype=np.int64),
                    "px_sum": np.asarray(sums, dtype=np.int64),
                    "px_max": np.asarray(maxes, dtype=np.int64),
                }
            )

    return media.mapInPandas(batches, IMAGE_STATS_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: explodes frame indices to one
    row per sampled frame (the decode of each frame is behind the seam).
    JVM-side sequence/explode — demonstrates fan-out shape at scale."""
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_idx",
            F.explode(F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_n))),
        )
        .select("media_id", "frame_idx", "payload", "meta")
    )
