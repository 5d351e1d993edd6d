"""Thirty-third registry tranche: retrieval infrastructure + sequence
mining.

- ``t_inverted_index`` — build the inverted index itself (term →
  document frequency, collection frequency, ordered postings), the
  artifact BM25 (`t_bm25_keyword_topk`) scores against. One term
  explode + one map-side-combined groupBy; postings are emitted as an
  ordered comma-joined string so the value hash is representation-
  independent across engines.
- ``w_event_transitions`` — first-order Markov transition counts over
  per-user event sequences (lag window), with the row-conditional
  probability P(next | prev). The sequence-mining complement to the
  funnel (`w_funnel_conversion`): funnels check one ordered path,
  transitions measure all of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


from ..functions.text import alpha_words, alpha_words_sql
from ..sources.parquet_tables import table
from .registry import register


@register(
    "t_inverted_index",
    f"""
    WITH terms AS (
        SELECT doc_id, t.term
        FROM documents,
             LATERAL UNNEST({alpha_words_sql("lower(text)")}) AS t(term)
    ),
    per_doc AS (
        SELECT term, doc_id, COUNT(*) AS tf FROM terms GROUP BY term, doc_id
    )
    SELECT term,
           COUNT(*) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf,
           string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS postings
    FROM per_doc
    WHERE term LIKE 'c%'
    GROUP BY term
    """,
    "Inverted-index construction: tokenize → (term, doc) tf pairs → "
    "per-term document frequency, collection frequency and the "
    "doc_id-ordered postings list (emitted as a joined string — "
    "representation-independent across engines). Two map-side-combined "
    "aggregates on the same term key: AQE reuses the exchange. The "
    "'c%' slice bounds the gated output; production writes the full "
    "index partitioned by term hash — this is the artifact "
    "t_bm25_keyword_topk scores against, built once instead of "
    "re-derived per query. At 100 TB: postings lists for stopword-"
    "grade terms are the skew risk — cap or tier them (impact-ordered "
    "postings), exactly as production indexes do.",
)
def t_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(alpha_words(F.lower(F.col("text")))).alias("term")
    )
    per_doc = terms.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return (
        per_doc.filter(F.col("term").startswith("c"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.col("doc_id"))),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
    )


@register(
    "w_event_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE) /
               SUM(n) OVER (PARTITION BY prev_type) AS p_next
    FROM t
    """,
    "First-order Markov transitions over per-user event sequences: one "
    "user_id-keyed lag window (same single shuffle as every w_* "
    "operator), transition counts with map-side combine, and the "
    "conditional P(next | prev) from a per-prev window over the "
    "|types|² result — negligible at any corpus size. Deterministic "
    "ordering tie-break (ts, event_id). The all-paths complement to "
    "the single-path funnel.",
)
def w_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    seq = ev.withColumn(
        "prev_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy(
        F.col("prev_type"), F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("prev_type"))
        ).alias("p_next"),
    )
