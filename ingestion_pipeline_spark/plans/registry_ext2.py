"""Third registry tranche: as-of join (custom temporal operator Spark
lacks natively), multimodal feature extraction through the real
``mapInPandas`` plumbing, and rolling-hash document fingerprints.
Same contract as ``registry``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalized_content
from ..operators.multimodal import extract_features
from ..operators.relational import asof_join, spread
from ..sources.parquet_tables import table
from .registry import register


@register(
    "j_asof_click_before_purchase",
    """
    WITH clicks AS (
        SELECT user_id, ts, MAX(event_id) AS click_event_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
        SELECT event_id, user_id, ts
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           COALESCE(epoch_us(c.ts), -1) AS click_ts_us,
           COALESCE(c.click_event_id, -1) AS click_event_id
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "Backward as-of join (attribution: most recent click at-or-before "
    "each purchase, per user). The reference has no temporal join; this "
    "is the capability a trades/quotes or attribution pipeline needs. "
    "Spark-side: union + single keyed window (one shuffle, linear scan) "
    "— never a range cross-join; oracle uses DuckDB's native ASOF JOIN.",
)
def j_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(purchases, clicks, on=["user_id"], ts="ts",
                       right_cols=["ts", "click_event_id"])
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.coalesce(F.unix_micros("ts_asof"), F.lit(-1)).alias("click_ts_us"),
        F.coalesce("click_event_id_asof", F.lit(-1)).alias("click_event_id"),
    )


@register(
    "mm_media_features",
    """
    SELECT 'mem://doc/' || CAST(doc_id AS VARCHAR) AS path,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(octet_length(encode(text)) % 1920 + 1 AS INT)
                ELSE 0 END AS width,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(octet_length(encode(text)) % 1080 + 1 AS INT)
                ELSE 0 END AS height,
           CASE WHEN doc_id % 3 = 2
                THEN CAST(octet_length(encode(text)) % 300 + 1 AS INT)
                WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS n_frames
    FROM documents
    """,
    "Multimodal decode/feature-extract plumbing, end-to-end through the "
    "oracle gate: documents' text bytes stand in for media blobs (the "
    "real codec is injectable — container has no image/audio libs), and "
    "the width/height/frame metadata flows through the ACTUAL "
    "mapInPandas Arrow path a 100 TB media pipeline would use. The "
    "oracle replays the deterministic fake codec in SQL.",
)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_partitions=8: Python-worker stage — 32-way fan-out on a tiny
    # input pays ~24 extra worker cold-starts; no-op at real scale.
    docs = spread(table(spark, sf_dir, "documents"), min_partitions=8)
    media = docs.select(
        F.concat(F.lit("mem://doc/"), F.col("doc_id").cast("string")).alias("path"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.octet_length("text").cast("long").alias("length"),
    )
    return extract_features(media).select(
        "path", "modality", "width", "height", "n_frames"
    )


@register(
    "tx_fingerprints",
    r"""
    WITH n AS (
        SELECT doc_id,
               regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
        FROM documents
    )
    SELECT doc_id,
           md5(norm) AS exact_fp,
           list_min(list_transform(
               range(1, greatest(length(norm) - 7, 1) + 1, 4),
               i -> md5(substring(norm, i, 8)))) AS kgram_min_fp
    FROM n
    """,
    "Document fingerprinting: whole-content md5 (exact-dup key) plus a "
    "rolling k-gram fingerprint (min md5 over stride-4 char 8-grams — "
    "a 1-hash MinHash over shingles, robust to local edits). Portable "
    "hex hashes so any engine agrees; Spark-side xxhash64 variants in "
    "functions/text.py are the cheaper production keys.",
)
def tx_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    norm = normalized_content(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(F.col("norm")) - 7, F.lit(1)), F.lit(4)),
        lambda i: F.md5(F.col("norm").substr(i, F.lit(8))),
    )
    return (
        docs.withColumn("norm", norm)
        .select(
            "doc_id",
            F.md5(F.col("norm")).alias("exact_fp"),
            F.array_min(grams).alias("kgram_min_fp"),
        )
    )


@register(
    "w_session_window_rollup",
    """
    WITH ord AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM ord
    )
    SELECT user_id,
           MIN(epoch_us(ts)) AS session_start_us,
           MAX(epoch_us(ts)) + 1800000000 AS session_end_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, sid
    """,
    "Native session_window rollup (30-min gap): the streaming builder's "
    "exact plan run in batch — under readStream the same groupBy gets "
    "state-store session merging + watermark cleanup. Oracle replays "
    "Spark's half-open [start, last+gap) semantics via a gap-islands "
    "window (new session when diff >= gap).",
)
def w_session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import exact_sum

    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("sw"), F.col("user_id")
        )
        .agg(F.count("*").alias("n_events"), exact_sum("value", "total_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            F.unix_micros(F.col("sw.end")).alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )
