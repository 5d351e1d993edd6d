"""Deterministic sampling & dataset-split assignment.

Training pipelines need holdout splits and downsampling that are (a)
stable across reruns, partitionings, and engines, and (b) joinable —
the same row always lands in the same split. Spark's ``sample``/
``sampleBy`` are seeded per-partition, so the selected set CHANGES when
the partitioning changes; that is unacceptable for dataset lineage.

Here selection is a pure function of the row key: the md5 hex digest of
``salt || key`` compared lexicographically against a threshold prefix.
md5 is uniform over hex strings, so a threshold of the first k hex
chars < H keeps fraction int(H,16)/16^k — exact, reproducible anywhere
(any SQL engine with md5 can recompute membership), and shuffle-free:
the predicate evaluates in the scan's projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# hex digits of the md5 bucket: resolution 1/16^4 = 1/65536
_HEX = 4
_SAMPLE_SALT = "s0"
# dataset_split's train and val fractions (test gets the remainder)
_SPLIT_SALT, _TRAIN, _VAL = "split0", 0.8, 0.1
# their bucket bounds: train is [0, _TRAIN_HI), val [_TRAIN_HI, _VAL_HI)
_TRAIN_HI = int(round(_TRAIN * 16**_HEX))
_VAL_HI = _TRAIN_HI + int(round(_VAL * 16**_HEX))


def _bucket(key: Column, salt: str) -> Column:
    """First ``_HEX`` hex chars of md5(salt || key) as an integer in
    [0, 16^_HEX) — the row's stable sampling bucket."""
    digest = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(digest, 1, _HEX), 16, 10).cast("long")


def deterministic_sample(key: Column, fraction: float) -> Column:
    """Boolean keep-predicate selecting ~``fraction`` of rows, exactly
    reproducible from the key alone. Resolution is 1/65536."""
    threshold = int(round(fraction * 16**_HEX))
    return _bucket(key, _SAMPLE_SALT) < threshold


def dataset_split(key: Column) -> Column:
    """'train' | 'val' | 'test' assignment from contiguous bucket
    ranges (test gets the remainder). Same key → same split, on any
    engine, forever — the property dataset lineage requires."""
    b = _bucket(key, _SPLIT_SALT)
    return (
        F.when(b < _TRAIN_HI, F.lit("train"))
        .when(b < _VAL_HI, F.lit("val"))
        .otherwise(F.lit("test"))
    )
