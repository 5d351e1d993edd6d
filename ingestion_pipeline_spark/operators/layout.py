"""Write-side data layout — multi-dimensional (Z-order) clustering.

Partition pruning handles ONE dimension (the partition column); real
warehouse queries filter on several (``o_custkey`` AND a date range,
``cve_id`` AND ``date_published``). Sorting by a single column makes
that column's file min/max ranges tight and leaves every other
column's ranges spanning the whole domain — so only one predicate can
skip files. The Z-order (Morton) curve interleaves the bits of k
normalized columns into one sort key: after ``repartitionByRange`` +
sort on the key, EVERY interleaved column has locality, so parquet
footer min/max stats skip files for any of them.

This is the same mechanism Delta's OPTIMIZE ZORDER BY implements; here
it is pure column math (a fold of ``& << |`` terms — whole-stage
codegen) plus the standard range-partitioned write, so it works on
stock Spark against plain parquet.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# low bits of each coordinate that the Z key interleaves
_BITS = 16


def zorder_key(x: Column, y: Column) -> Column:
    """Interleave the low ``_BITS`` bits of two non-negative ints:
    bit i of x lands at position 2i, bit i of y at 2i+1."""
    z = F.lit(0).cast("long")
    for i in range(_BITS):
        z = z.bitwiseOR(
            F.shiftleft(x.cast("long").bitwiseAND(F.lit(1 << i)), i)
        ).bitwiseOR(
            F.shiftleft(y.cast("long").bitwiseAND(F.lit(1 << i)), i + 1)
        )
    return z


def zorder_sql(x: str, y: str) -> str:
    """The identical interleave as ANSI SQL (DuckDB oracle parity)."""
    terms = []
    for i in range(_BITS):
        terms.append(f"(({x} & {1 << i}) << {i})")
        terms.append(f"(({y} & {1 << i}) << {i + 1})")
    return " | ".join(terms)


def cluster_by_zorder(
    df: DataFrame, key: Column, partitions: int | None = None
) -> DataFrame:
    """Range-partition + sort by the Z key — the write-side layout pass.

    ``repartitionByRange`` samples the key distribution (one extra
    sampling job), so output files tile the curve evenly even for
    skewed inputs; within-partition sort makes every interleaved
    column's per-file min/max tight for footer-stats skipping."""
    args = [partitions] if partitions else []
    return (
        df.withColumn("__z", key)
        .repartitionByRange(*args, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
