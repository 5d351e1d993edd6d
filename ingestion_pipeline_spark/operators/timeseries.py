"""Sequential per-entity time-series state (EWMA).

The reference has no time-series surface; a telemetry/trend pipeline
over the same event stream needs recursive per-entity state that plain
window frames cannot express (EWMA's y_t depends on y_{t-1}, not on a
frame aggregate). Shape: ONE hash shuffle on the entity key, then an
Arrow-batched sequential sweep per entity (``applyInPandas``) — state
is O(1) per entity, the sweep is O(n) and streams batch-by-batch, so
the operator scales exactly like ``w_sessionize_events`` at 100 TB.
The same recursion under ``applyInPandasWithState`` is the streaming
twin (state = last EWMA per key).

Float discipline: the recursion ``y = alpha*x + (1-alpha)*y_prev`` is
evaluated in the same operand order on both engines; with alpha = 0.5
every coefficient is an exact binary double, so results are
bit-identical to the oracle's recursive CTE (the registry's first
WITH RECURSIVE oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

# smoothing factors: 0.5 makes every coefficient an exact binary double
ALPHA = BETA = 0.5


def ewma_per_entity(
    df: DataFrame,
    entity_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-entity EWMA (pandas ``ewm(alpha, adjust=False)`` semantics:
    y_1 = x_1; y_t = alpha*x_t + (1-alpha)*y_{t-1}, alpha = ``ALPHA``).

    Returns (entity, *order_cols, ewma) one row per input row.
    """
    out_schema = StructType(
        [StructField(entity_col, LongType())]
        + [StructField(c, LongType()) for c in order_cols]
        + [StructField("ewma", DoubleType())]
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        xs = pdf[value_col].astype(float).to_list()
        ys = []
        y = None
        for x in xs:
            # same operand order as the oracle's recursive CTE
            y = x if y is None else ALPHA * x + (1.0 - ALPHA) * y
            ys.append(y)
        out = pdf[[entity_col, *order_cols]].copy()
        out["ewma"] = ys
        return out

    return df.groupBy(entity_col).applyInPandas(sweep, out_schema)


def holt_per_entity(
    df: DataFrame,
    entity_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-entity Holt linear-trend (double exponential) smoothing, with
    alpha = ``ALPHA`` and beta = ``BETA``:

        l_1 = x_1,  b_1 = 0
        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    Emits (entity, *order_cols, level, trend, forecast) with
    forecast = l_t + b_t (the 1-step-ahead prediction). Same envelope
    as :func:`ewma_per_entity` — one entity shuffle, O(n) Arrow sweep,
    O(1) state (two doubles), streaming-twin-able; with alpha = beta =
    0.5 every coefficient is an exact binary double and the COUPLED
    recursion is bit-identical to the oracle's recursive CTE carrying
    (l, b) through the same operand order.
    """
    out_schema = StructType(
        [StructField(entity_col, LongType())]
        + [StructField(c, LongType()) for c in order_cols]
        + [
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
            StructField("forecast", DoubleType()),
        ]
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        ls, bs = [], []
        level = trend = None
        for x in pdf[value_col].astype(float):
            if level is None:
                level, trend = x, 0.0
            else:
                prev = level
                # operand order mirrors the recursive-CTE oracle exactly
                level = ALPHA * x + (1.0 - ALPHA) * (prev + trend)
                trend = BETA * (level - prev) + (1.0 - BETA) * trend
            ls.append(level)
            bs.append(trend)
        out = pdf[[entity_col, *order_cols]].copy()
        out["level"] = ls
        out["trend"] = bs
        out["forecast"] = [l + b for l, b in zip(ls, bs)]
        return out

    return df.groupBy(entity_col).applyInPandas(sweep, out_schema)
