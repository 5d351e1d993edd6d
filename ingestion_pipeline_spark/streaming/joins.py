"""Stream-stream and stream-static join builders (capability beyond the
reference — its only join-shaped ops are driver-side dict lookups,
SURVEY §2.5; a real ingest pipeline needs correlated-event joins).

Every builder is batch/stream agnostic: under ``readStream`` Spark
plans a watermarked state-store join (each side buffers only rows
inside the watermark + interval bound — bounded state at any scale);
in batch the identical code is an ordinary range-predicate join, which
is what the DuckDB oracle verifies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# interval_join's bound: a right row within 30 minutes after its left row
_LOWER, _UPPER = "INTERVAL 0 SECONDS", "INTERVAL 30 MINUTES"
_WATERMARK = "30 minutes"


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Inner equi-key join constrained to ``l_ts - _LOWER <= r_ts <=
    l_ts + _UPPER`` — the event-correlation join (click→purchase,
    request→response). Streaming: both sides MUST carry watermarks and
    the time bound makes state evictable; Spark buffers each side only
    within [watermark, interval] — state is O(rate × interval), not
    O(history). Batch: same plan minus state. Column names must be
    disjoint across the two sides (rename before calling).
    """
    if left.isStreaming:
        left = left.withWatermark("l_ts", _WATERMARK)
    if right.isStreaming:
        right = right.withWatermark("r_ts", _WATERMARK)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col("r_ts") >= F.expr(f"l_ts - {_LOWER}"))
        & (F.col("r_ts") <= F.expr(f"l_ts + {_UPPER}"))
    )
    return left.join(right, cond, "inner")


def clicks_to_purchases(events: DataFrame) -> DataFrame:
    """Attribute every purchase to the clicks of the same user in the
    preceding 30 minutes (``_UPPER``) — the canonical funnel/attribution join, built
    from one events source split into two streams. Output: one row per
    (click, purchase) correlation with the gap in seconds.
    """
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = interval_join(clicks, purchases, "user_id", "r_user_id")
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.col("purchase_value"),
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("gap_us"),
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Exactly-once-per-key delivery repair: drop re-deliveries of the
    same key arriving within the watermark horizon. Unlike plain
    ``dropDuplicates``, state is evicted once the watermark passes —
    bounded memory under unbounded streams (the at-least-once Kafka
    replay in the reference, SURVEY §2.11 W2, needs exactly this to
    upgrade to effectively-once). Batch: falls back to dropDuplicates.
    """
    if stream.isStreaming:
        return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)
