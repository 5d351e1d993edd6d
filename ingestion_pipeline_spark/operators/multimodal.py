"""Multimodal column plumbing (training-data pipeline ops).

Media (image/audio/video) are opaque ``binary`` columns with typed
metadata, read via Spark's ``binaryFile`` source at scale. The Spark
side — schemas, partitioning, Arrow batch shape, UDF signatures — is
real and tested; the actual codec work is an injectable function
because image/audio libraries are not in this container (the default
decoder is a clearly-marked deterministic fake; swap in PIL/ffmpeg by
passing ``decode_fn``).

Design for 100 TB: one media object per row, ``mapInPandas`` so each
Arrow batch amortizes Python crossing; partition by content-hash prefix
for uniform task sizing; never collect binaries to the driver.
"""

from __future__ import annotations

import sys
from typing import Callable, Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# The mapInPandas functions call this module's decoders and hashers:
# ship them to Python workers by value (as functions/text.py does), so
# a worker never has to import the package.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

MEDIA_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("modality", StringType()),   # image | audio | video
        StructField("content", BinaryType()),
        StructField("length", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("modality", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("feature_hash", LongType()),
    ]
)


def read_media_dir(spark: SparkSession, path: str, modality: str, glob: str = "*") -> DataFrame:
    """binaryFile scan → MEDIA_SCHEMA. Filter pushdown works on path and
    length; content bytes never touch the driver."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select(
            F.col("path"),
            F.lit(modality).alias("modality"),
            F.col("content"),
            F.col("length"),
        )
    )


def fake_decode(content: bytes, modality: str) -> dict:
    """Deterministic stand-in for a real codec: derives fake dimensions
    from the byte length and a stable 64-bit feature hash from the
    bytes. REPLACE with a real decoder (PIL / soundfile / pyav) via the
    ``decode_fn`` parameter of ``extract_features`` in production."""
    n = len(content or b"")
    h = 0
    for b in (content or b"")[:1024]:
        h = (h * 1099511628211 + b) & 0x7FFFFFFFFFFFFFFF
    return {
        "width": (n % 1920) + 1 if modality == "image" else 0,
        "height": (n % 1080) + 1 if modality == "image" else 0,
        "n_frames": (n % 300) + 1 if modality == "video" else (1 if modality == "image" else 0),
        "feature_hash": h,
    }


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], dict] = fake_decode,
) -> DataFrame:
    """Decode / feature-extract over Arrow batches (mapInPandas). Real
    decoders raise on corrupt media → isolated per record to a null
    feature row (the pipeline's W7 never-fail convention)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, modality, content in zip(pdf["path"], pdf["modality"], pdf["content"]):
                try:
                    feats = decode_fn(content, modality)
                except Exception:  # noqa: BLE001 — corrupt media never fails the job
                    feats = {"width": None, "height": None, "n_frames": None, "feature_hash": None}
                rows.append({"path": path, "modality": modality, **feats})
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    # r12 (guide §4.1): mapInPandas is opaque to column pruning — ship
    # only the columns the decoder reads (drops `length` and anything a
    # caller added from the Arrow transfer).
    return media.select("path", "modality", "content").mapInPandas(
        run, FEATURE_SCHEMA
    )


def sample_frames(media: DataFrame, every_nth: int = 30) -> DataFrame:
    """Frame-sampling plumbing for video: emits (path, frame_idx) rows
    via the deterministic fake frame count; a real implementation swaps
    the decode in ``extract_features`` and yields actual frame bytes.
    Kept column-side: explode over a sequence — no Python loop."""
    # r12 (guide §4.1): filter to video BEFORE the decode UDF — the old
    # shape decoded every image/audio row and discarded the result (the
    # decoder output is per-row independent, so pre-filtering is
    # value-identical; resize_images already had this shape).
    feats = extract_features(media.filter(F.col("modality") == "video"))
    return (
        feats.filter(F.col("modality") == "video")
        .select(
            "path",
            F.explode(F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_nth))).alias(
                "frame_idx"
            ),
        )
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("out_width", IntegerType()),
        StructField("out_height", IntegerType()),
        StructField("thumbnail", BinaryType()),
        StructField("src_hash", LongType()),
    ]
)


def fake_resize(content: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for a real resampler: emits a byte string
    derived from (content hash, target dims) with length w*h//256+16 —
    shape-realistic without an image library. REPLACE with
    PIL.Image.resize via ``resize_fn``."""
    h = 0
    for b in (content or b"")[:1024]:
        h = (h * 1099511628211 + b) & 0x7FFFFFFFFFFFFFFF
    seed = (h ^ (width << 16) ^ height) & 0xFFFFFFFF
    n = max(width * height // 256, 1) + 16
    return bytes((seed * 31 + i) % 256 for i in range(n))


def resize_images(
    media: DataFrame,
    width: int = 224,
    height: int = 224,
    resize_fn: Callable[[bytes, int, int], bytes] = fake_resize,
) -> DataFrame:
    """Thumbnail/resize pass over image rows — the standard vision-model
    preprocessing step. Same mapInPandas shape as extract_features:
    Arrow-batched, corrupt records degrade to a null thumbnail (W7),
    binaries stay on executors. Output keeps a source-content hash so
    downstream joins don't need the original bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    thumb = resize_fn(content, width, height)
                    h = 0
                    for b in (content or b"")[:1024]:
                        h = (h * 1099511628211 + b) & 0x7FFFFFFFFFFFFFFF
                    rows.append(
                        {"path": path, "out_width": width, "out_height": height,
                         "thumbnail": thumb, "src_hash": h}
                    )
                except Exception:  # noqa: BLE001
                    rows.append(
                        {"path": path, "out_width": width, "out_height": height,
                         "thumbnail": None, "src_hash": None}
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_SCHEMA.fields])

    # r12 (guide §4.1): only path+content cross the Arrow boundary
    return (
        media.filter(F.col("modality") == "image")
        .select("path", "content")
        .mapInPandas(run, RESIZED_SCHEMA)
    )


def chunk_audio(media: DataFrame, chunk_ms: int = 10_000, bytes_per_ms: int = 32) -> DataFrame:
    """Audio chunking plumbing: one row per fixed-duration chunk with
    byte offsets — the split step before per-chunk transcription or
    embedding. Column-side explode over a computed chunk count (duration
    inferred from byte length at a nominal bitrate; a real decoder
    replaces the arithmetic, the explode shape is unchanged)."""
    chunk_bytes = chunk_ms * bytes_per_ms
    audio = media.filter(F.col("modality") == "audio")
    n_chunks = F.greatest(
        F.ceil(F.col("length") / F.lit(chunk_bytes)).cast("int"), F.lit(1)
    )
    return audio.select(
        "path",
        F.col("length"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        "path",
        "chunk_idx",
        (F.col("chunk_idx") * chunk_bytes).alias("byte_start"),
        F.least(((F.col("chunk_idx") + 1) * chunk_bytes), F.col("length")).alias("byte_end"),
    )


AHASH_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("ahash32", LongType()),
    ]
)


def average_hash32(media: DataFrame) -> DataFrame:
    """Perceptual-hash plumbing for media dedup: a 32-bit average hash
    (aHash) over the first 32 ``content`` bytes — bit i set iff byte_i is
    above the window mean (compared in exact integer space:
    ``byte*32 > total``, no float threshold). On real pixels this is the
    classic aHash of a 32-px thumbnail row; here it runs directly on
    payload bytes so the whole path (Arrow batches, integer bit math,
    hash-groupBy dedup downstream) is exercised and ORACLE-REPLAYABLE —
    swap the byte window for decoded luma via ``extract_features``'s
    injectable decoder in production. Payloads shorter than the window
    hash to NULL (no padding lies)."""

    import numpy as np

    _weights = (1 << np.arange(31, -1, -1, dtype=np.int64))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = [bytes(c or b"") for c in pdf["content"]]
            ok = np.array([len(c) >= 32 for c in contents])
            hashes = pd.array([None] * len(contents), dtype="Int64")
            if ok.any():
                # one (n, 32) uint8 matrix per Arrow batch: windows,
                # integer totals, thresholds and bit-packs all vectorize
                X = np.stack(
                    [np.frombuffer(c[:32], dtype=np.uint8) for c, k in zip(contents, ok) if k]
                ).astype(np.int64)
                bits = (X * 32) > X.sum(axis=1, keepdims=True)
                hashes[ok] = (bits * _weights).sum(axis=1)
            yield pd.DataFrame({"path": pdf["path"].to_numpy(), "ahash32": hashes})

    # r12 (guide §4.1): only path + the payload column cross the boundary
    return media.select("path", "content").mapInPandas(run, AHASH_SCHEMA)
