"""Streaming window / stateful operators (SURVEY §2.11 W6 — capability
the reference lacks: it has no watermarks, windows, or stateful aggs;
we define drop-late-after-watermark semantics on the events shape).

All builders accept either a streaming or a batch DataFrame: the same
query graph runs under ``readStream`` (with watermarked state cleanup)
and in batch backfills — the lambda-architecture property Structured
Streaming gives for free. At 100 TB/day the watermark bounds state: a
30-minute watermark keeps only the open windows in the state store.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def _maybe_watermark(df: DataFrame, ts: str, watermark: str | None) -> DataFrame:
    if watermark and df.isStreaming:
        return df.withWatermark(ts, watermark)
    return df


def windowed_event_counts(
    events: DataFrame,
    ts: str = "ts",
    key: str = "event_type",
    window_len: str = "1 hour",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` differs) window counts per key.
    Streaming: late rows beyond the watermark are dropped and closed
    windows leave the state store. Batch: identical results, no state."""
    win = F.window(F.col(ts), window_len, slide or window_len)
    return (
        _maybe_watermark(events, ts, watermark)
        .groupBy(win.alias("win"), F.col(key))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key,
            "n_events",
            "total_value",
        )
    )


def session_window_rollup(
    events: DataFrame,
    ts: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-key session windows (gap-based, native ``session_window`` —
    state-store merged under streaming, plain aggregation in batch).
    Session end is last-event-ts + gap, per Spark's definition."""
    return (
        _maybe_watermark(events, ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("sw"), F.col(key))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
_USER_TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-user (count, total value) carried in the state store across
    micro-batches — the extension point for arbitrary per-key streaming
    state the built-in aggs can't express (reference analog: the
    consumer's per-record mutable dicts, consumer/consumer.py:127-145).
    Emits one update row per key per micro-batch (output mode: update)."""

    def totals(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        totals,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_USER_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ewma", DoubleType()),
    ]
)
_EWMA_STATE = StructType([StructField("last_ewma", DoubleType())])


def stateful_user_ewma(events: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Streaming twin of ``operators.timeseries.ewma_per_entity``: the
    same y = alpha*x + (1-alpha)*y_prev recursion with {last_ewma}
    carried per user in the state store across micro-batches. Within a
    micro-batch rows are processed in (ts, event_id) order; given
    in-order arrival (or a single availableNow batch) the emitted
    sequence is bit-identical to the batch sweep — asserted in
    tests/test_streaming_windows.py. O(1) state per key: the 100 TB/day
    state store holds one double per entity, nothing else."""

    def sweep(
        key: Tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        y = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            ys = []
            for x in pdf["value"].astype(float):
                y = x if y is None else alpha * x + (1.0 - alpha) * y
                ys.append(y)
            if ys:
                yield pd.DataFrame(
                    {
                        "user_id": key[0],
                        "event_id": pdf["event_id"].to_list(),
                        "ewma": ys,
                    }
                )
        if y is not None:
            state.update((y,))

    return events.groupBy("user_id").applyInPandasWithState(
        sweep,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=_EWMA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
