"""Fifty-fifth registry tranche (round 4): the full pretraining-corpus
capstone.

``pipeline_pretrain_corpus`` — the ENTIRE curation last mile as one
Catalyst plan:

    documents → chunk-level exact dedup WITH text reconstruction
              → quality-classifier keep-gate on the CLEANED text
              → sequence packing (concat-and-chunk, 512-token chunks)
                of the surviving corpus, per source stream

Every stage is the same verified operator core its standalone query
uses (ext50's ``chunk_dedup_rebuild``/``classifier_scores``, ext15's
running-sum packing); the oracle chains the identical CTE fragments, so
the three-stage composition — including the order-sensitive parts
(pack AFTER dedup: chunk spans shift when duplicate chunks vanish;
gate BEFORE pack: dropped docs free budget for survivors) — is
value-hash gated end to end. The intermediate cleaned text never hits
disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens, word_tokens_sql
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .registry import register
from .registry_ext15 import _SEQ_LEN
from .registry_ext50 import (
    CHUNK_DEDUP_CTES,
    chunk_dedup_rebuild,
    classifier_ctes,
    classifier_scores,
)


@register(
    "pipeline_pretrain_corpus",
    rf"""
    WITH {CHUNK_DEDUP_CTES},
    cleaned AS MATERIALIZED (
        SELECT d.doc_id, d.source,
               COALESCE(r.text_dedup, '') AS text_dedup,
               COALESCE(t.n_chunks, 0) - COALESCE(r.n_kept, 0) AS n_dropped
        FROM documents d
        LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        LEFT JOIN totals t ON d.doc_id = t.doc_id
    ),
    {classifier_ctes("cleaned", "text_dedup")},
    kept AS (
        SELECT c.doc_id, c.source, c.text_dedup, c.n_dropped
        FROM cleaned c LEFT JOIN logits l ON c.doc_id = l.doc_id
        WHERE COALESCE(l.logit_milli, 0) > 0
    ),
    toks AS (
        SELECT doc_id, source, n_dropped,
               len({word_tokens_sql("text_dedup")}) AS n_tokens
        FROM kept
    ),
    packed AS (
        SELECT doc_id, source, n_dropped, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM toks WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_dropped, n_tokens,
           (cum - n_tokens) // {_SEQ_LEN} AS chunk_first,
           (cum - 1) // {_SEQ_LEN} AS chunk_last,
           (cum - n_tokens) % {_SEQ_LEN} AS chunk_offset
    FROM packed
    """,
    "The full curation last mile in ONE plan: chunk dedup rebuilds the "
    "cleaned text, the hashed-feature classifier keep-gates it, and the "
    "surviving corpus packs into 512-token training chunks per source "
    "stream — packing runs on POST-dedup POST-gate text, so every chunk "
    "span reflects the corpus a training run would actually read. Same "
    "operator cores as the standalone queries; oracle chains the same "
    "CTEs; all integer outputs. Three shuffles total (chunk digest, "
    "token features, source stream window) — each stage's 100 TB "
    "envelope unchanged by the composition.",
)
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    # cleaned is consumed twice below (classifier branch + keep join),
    # and its upstream chunk-dedup rebuild is the composite's heavy
    # stage — materialize it once (r12, guide §2.4/§5; the scan census
    # counted 11 parquet scans of documents in the compiled plan).
    # The cleaned text stays off the warehouse: localCheckpoint blocks
    # live in executor storage for the query's lifetime only.
    cleaned = (
        chunk_dedup_rebuild(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .localCheckpoint(eager=False)
    )
    scored = classifier_scores(
        cleaned.select("doc_id", "text_dedup"), text_col="text_dedup"
    )
    tk = word_tokens(F.lower(F.col("text_dedup")))
    kept = (
        cleaned.join(scored.select("doc_id", "keep"), "doc_id")
        .filter(F.col("keep"))
        .select(
            "doc_id",
            "source",
            F.col("n_dropped"),
            F.size(tk).cast("long").alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = kept.withColumn("cum", F.sum("n_tokens").over(w))
    chunk_first = F.expr(f"(cum - n_tokens) div {_SEQ_LEN}")
    chunk_last = F.expr(f"(cum - 1) div {_SEQ_LEN}")
    return c.select(
        "doc_id",
        "source",
        "n_dropped",
        "n_tokens",
        chunk_first.alias("chunk_first"),
        chunk_last.alias("chunk_last"),
        (F.col("cum") - F.col("n_tokens")).cast("long").alias("__start"),
    ).select(
        "doc_id",
        "source",
        "n_dropped",
        "n_tokens",
        "chunk_first",
        "chunk_last",
        (F.col("__start") % _SEQ_LEN).alias("chunk_offset"),
    )
