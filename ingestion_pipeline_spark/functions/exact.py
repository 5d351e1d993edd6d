"""Exact (order-independent) numeric aggregation helpers.

Distributed sums of doubles are non-deterministic across partitionings
(floating-point addition is not associative), which breaks differential
testing against any oracle and makes production metrics drift run-to-run.
The fixture money columns are exact 2-decimal values, so we aggregate in
DECIMAL space — exact, associative, identical on every engine — and cast
the final result back to DOUBLE.

At 100 TB this is also the *fast* path: Spark's hash aggregate on decimals
stays inside whole-stage codegen / Tungsten; there is no UDF anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column | str, scale: int = 2) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal(18,{scale})")


def exact_sum(col: Column | str, alias: str, scale: int = 2) -> Column:
    """SUM as decimal, returned as double: associative → deterministic."""
    return F.sum(dec(col, scale)).cast("double").alias(alias)


def exact_avg(col: Column | str, alias: str, scale: int = 2) -> Column:
    """AVG = exact decimal sum / count, divided in double precision.

    Division happens once, on two deterministic operands, so the double
    result is identical regardless of partitioning or engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c, scale)).cast("double") / F.count(c)).alias(alias)


def money(col: Column | str) -> Column:
    """A 2-decimal money column as exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


def one_minus(col: Column | str) -> Column:
    """(1 - rate) as exact decimal — for discount multipliers."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lit(1).cast("decimal(4,2)") - c.cast("decimal(4,2)")


def one_plus(col: Column | str) -> Column:
    """(1 + rate) as exact decimal — for tax multipliers."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lit(1).cast("decimal(4,2)") + c.cast("decimal(4,2)")


# ---------------------------------------------------------------------------
# Integer-cents aggregation: the fast exact path for money sums in JOIN
# stages.
#
# Measured at the 10x scale smoke (6M lineitem, local[32]): the identical
# revenue aggregation fused after a broadcast join runs ~40s in decimal
# space, ~17s with per-row F.round (BigDecimal.setScale per row), and
# ~5.5s in integer-cents space — because floor(x*100 + 0.5) is primitive
# codegen math and SUM(LONG) updates a mutable Tungsten buffer, while
# every high-precision Decimal update allocates. Decimal-space
# aggregation fused with a SCAN stage shows none of this (q1 shape), so
# `dec`/`exact_sum` remain right there; use cents when the sum sits
# after a join.
#
# Exactness: fixture money columns are 2-decimal values stored as
# doubles, so x*100 is within 1e-10 of an integer and floor(x*100+0.5)
# recovers it exactly (non-negative inputs). All downstream arithmetic
# is int64: associative, partitioning-independent, engine-independent —
# value-identical to the decimal path (asserted by the unchanged decimal
# SQL oracles hash-matching the cents-space Spark plans).
#
# Overflow budget: a revenue term cents(price)*(100-cents(disc)) is
# < 1e9+ per row (1e-4 dollar units), so a single-level SUM(LONG) is
# safe to ~9e9 rows PER GROUP. Beyond that (100 TB global rollups),
# two-level: partial SUM(LONG) keyed by (group, pmod(key, 1024)), final
# re-sum in decimal over the tiny partial table — the long stage stays
# fused with the join, the decimal stage touches 1024 rows per group.
# ---------------------------------------------------------------------------


def cents(col: Column | str, scale: int = 2) -> Column:
    """A non-negative ``scale``-decimal double as an exact integer in
    units of 10^-scale (2 → cents). floor(x*10^s + 0.5): primitive
    codegen math, no Decimal/BigDecimal anywhere."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * (10 ** scale) + F.lit(0.5)).cast("long")


def cents_disc_price() -> Column:
    """l_extendedprice*(1-l_discount) in 1e-4-dollar integer units —
    the revenue term of q3/q5/q7/q9/q10/q14 ready for SUM(LONG)."""
    return cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))


def sum_cents(expr: Column, alias: str, scale: int = 4) -> Column:
    """SUM of an integer 10^-scale units expression, finished as the
    same double the decimal path produces (one division on the exact
    integer total)."""
    return (F.sum(expr) / F.lit(float(10 ** scale))).alias(alias)
