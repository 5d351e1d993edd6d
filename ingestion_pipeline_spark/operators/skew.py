"""Skew-mitigation operators: salted join and two-stage salted collect.

AQE's skew-join splitting (``spark.sql.adaptive.skewJoin``) handles the
common case automatically, but two shapes still need manual salting at
100 TB:

- a skewed shuffle join whose output feeds a WINDOW on the same key
  (AQE cannot split a partition that a window must see whole — salting
  the join and re-partitioning afterwards moves the bottleneck);
- ``collect_list``/``collect_set`` aggregations, which have no map-side
  partial aggregation: every value of a hot key funnels through one
  reducer task. Two-stage salted collect bounds per-task state to
  |group|/n_salts.

Both transforms are RESULT-IDENTICAL to their unsalted forms — the salt
never leaks into the output — so each carries an unsalted SQL oracle in
the registry and an equality test.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT = "__salt"


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str | Sequence[str],
    salt_from: Column,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``facts`` to ``dim`` with the fact side salted into
    ``n_salts`` sub-partitions per key and the dim side replicated
    ``n_salts``× — a hot key's rows spread over ``n_salts`` reducer
    tasks instead of one.

    ``salt_from`` is any deterministic per-row expression on the fact
    side (a primary key); the salt is ``pmod(xxhash64(salt_from), n)``,
    so the same row always lands in the same sub-partition (no RNG, no
    partitioning dependence). Replicating the DIM side costs
    ``n_salts × |dim|`` shuffled rows — use where |dim| is modest but
    above the broadcast threshold (a broadcastable dim needs no
    salting: broadcast joins don't shuffle at all).
    """
    keys = [key] if isinstance(key, str) else list(key)
    salted_facts = facts.withColumn(SALT, F.pmod(F.xxhash64(salt_from), F.lit(n_salts)))
    replicated_dim = dim.withColumn(
        SALT, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return salted_facts.join(replicated_dim, keys + [SALT], how).drop(SALT)


def salted_collect_list(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    salt_from: Column,
    n_salts: int = 8,
) -> DataFrame:
    """``groupBy(group).agg(collect_list(value) AS values)`` with bounded reducer
    state: stage 1 collects per (group, salt) — each task holds at most
    |group|/n_salts values — stage 2 flattens the ``n_salts`` partial
    arrays per group. Output is sorted for determinism (collect order
    is partitioning-dependent either way; consumers of an unsorted
    collect were already relying on luck)."""
    partial = (
        df.withColumn(SALT, F.pmod(F.xxhash64(salt_from), F.lit(n_salts)))
        .groupBy(*group_cols, SALT)
        .agg(F.collect_list(value_col).alias("__part"))
    )
    return (
        partial.groupBy(*group_cols)
        .agg(F.sort_array(F.flatten(F.collect_list("__part"))).alias("values"))
    )
