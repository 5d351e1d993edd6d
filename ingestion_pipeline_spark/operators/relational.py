"""Reusable relational operators (SURVEY §2.4-2.8).

Thin, named builders over the DataFrame API so every query in the plan
registry stays declarative — Catalyst keeps pushdown / pruning / join
selection. Scale notes per operator in the docstrings.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY if the input is under-partitioned (e.g. one small
    parquet file → 1 task): heavy per-row column work would otherwise run
    on a single core. At scale the input already has ≥cores partitions
    and this is a no-op — no shuffle is added.

    The ``df.rdd`` probe forces physical planning on the driver (~10s of
    ms, once per query BUILD, never per row) — kept deliberately: it is
    the only way to read the true scan partition count, and every
    heuristic alternative (inputFiles, defaultParallelism guesses) is
    wrong exactly when this function matters (few big files, splittable
    or not by row-group layout)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def broadcast_enrich(fact: DataFrame, dim: DataFrame, on: Column | str | list[str]) -> DataFrame:
    """Inner equi-join a fact table to a small dimension with an explicit
    broadcast hint (J1-J4 are all small-side joins — SURVEY §2.5). At
    100 TB the fact side streams; no shuffle of the big side occurs."""
    return fact.join(F.broadcast(dim), on, "inner")


def topk(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k (T1-T3): ORDER BY + LIMIT. Spark executes this as a
    per-partition TakeOrdered then a k-row merge on the driver — no full
    sort, no shuffle of the whole table; safe at any scale for small k.
    Pass a deterministic tie-breaker in ``order_by``."""
    return df.orderBy(*order_by).limit(k)


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_alias: str = "rank",
) -> DataFrame:
    """Per-group top-k via row_number window (T1 per-query-group form).
    One shuffle on the group key; skewed groups are handled by AQE.
    ``order_by`` must include a unique tie-breaker for determinism."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .filter(F.col(rank_alias) <= k)
    )


def latest_per_key(df: DataFrame, key: str, ts_order: Sequence[Column]) -> DataFrame:
    """T4/T5 — most recent record per key (filter → orderBy → limit 1 per
    group). Window row_number, single shuffle on the key."""
    return topk_per_group(df, [key], ts_order, 1).drop("rank")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    ts: str,
    right_cols: Sequence[str],
) -> DataFrame:
    """Backward as-of join: for every left row, attach ``right_cols``
    from the right row with the greatest ``ts`` <= left.``ts`` within the
    same ``on`` key (inclusive — a right row at the exact left timestamp
    matches, like DuckDB/kdb ASOF semantics).

    Scale design: NOT a range cross-join. Both sides are tagged and
    unioned, then a single window (partitionBy key, orderBy ts) carries
    each right value forward with ``last(..., ignorenulls)``. Exactly one
    shuffle on the key, linear scan per partition — survives 100 TB the
    same way a sort-merge join does; skewed keys are split by AQE.

    Ordering guarantee: at equal ``ts`` the right row sorts before the
    left row (tag 0 < 1), so an exact-timestamp match is visible.
    Callers wanting deterministic output under duplicate right (key, ts)
    pairs should pre-dedupe the right side.
    """
    on = list(on)
    right_cols = list(right_cols)
    lcols = [c for c in left.columns]
    rsel = right.select(
        *on,
        F.col(ts).alias("__asof_ord"),
        F.lit(0).alias("__asof_tag"),
        *[F.col(c).alias(f"__asofv_{c}") for c in right_cols],
    )
    lsel = left.select(
        *lcols,
        F.col(ts).alias("__asof_ord"),
        F.lit(1).alias("__asof_tag"),
    )
    # Align schemas: null placeholders for the other side's columns.
    for c in right_cols:
        lsel = lsel.withColumn(f"__asofv_{c}", F.lit(None).cast(rsel.schema[f"__asofv_{c}"].dataType))
    for c in lcols:
        if c not in on:
            rsel = rsel.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = lsel.unionByName(rsel.select(*lsel.columns))
    w = (
        Window.partitionBy(*on)
        .orderBy("__asof_ord", "__asof_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        F.col("__asof_tag"),
        *[
            F.last(F.col(f"__asofv_{c}"), ignorenulls=True).over(w).alias(f"{c}_asof")
            for c in right_cols
        ],
    )
    return carried.filter(F.col("__asof_tag") == 1).drop("__asof_tag")
