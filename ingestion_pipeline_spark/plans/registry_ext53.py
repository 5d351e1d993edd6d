"""Fifty-third registry tranche: the round-3 curation capstone.

``pipeline_clean_corpus`` — the new operator families COMPOSED into one
plan, the way a pretraining pipeline actually runs them:

    documents → chunk-level exact dedup WITH text reconstruction
              → model-style quality classifier ON THE CLEANED TEXT
              → keep-gate → per-doc accounting

Composition is the point: ``chunk_dedup_rebuild`` and
``classifier_scores`` are the same verified operator cores the
individual queries use (ext50), chained on the rebuilt text; the oracle
chains the same CTE fragments. One extra shuffle versus running the
stages separately — the rebuilt text never hits disk between stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .registry import register
from .registry_ext50 import (
    _W_RANGE,
    CHUNK_DEDUP_CTES,
    chunk_dedup_rebuild,
    classifier_ctes,
    classifier_scores,
)


def clean_corpus_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The clean-corpus plan with its checkpointed handle EXPOSED
    (ADVICE r10): ``result`` is the query's return frame, ``cleaned``
    the checkpointed rebuild it fans out from. ``cleaned.unpersist()``
    does not drop a checkpoint: a long-lived session calls
    ``plans.release_caches`` after its action; the registry path
    leaves that to ``plans.run_each`` (its DataFrame is returned
    lazy)."""
    docs = spread(table(spark, sf_dir, "documents"))
    # cleaned feeds THREE consumers (accounting, classifier, word
    # recount) — unmaterialized, the whole chunk-dedup rebuild (token
    # split + chunk explode + md5 window) recomputed per consumer
    # (r10; the g_vocab_overlap multi-consumer lesson).
    cleaned = chunk_dedup_rebuild(docs).localCheckpoint(eager=False)
    scored = classifier_scores(
        cleaned.select("doc_id", "text_dedup"), text_col="text_dedup"
    )
    # n_words_clean == the classifier's token count over the SAME text;
    # recompute identically so both sides agree on tokenization
    tk = word_tokens(F.lower(F.col("text_dedup")))
    words = cleaned.select("doc_id", F.size(tk).cast("long").alias("n_words_clean"))
    result = (
        cleaned.select("doc_id", "n_chunks", "n_dropped")
        .join(scored, "doc_id")
        .join(words, "doc_id")
        .filter(F.col("keep"))
        .select(
            "doc_id",
            "n_chunks",
            "n_dropped",
            "logit_milli",
            "quality_score",
            "n_words_clean",
        )
    )
    return {"cleaned": cleaned, "result": result}


@register(
    "pipeline_clean_corpus",
    f"""
    WITH {CHUNK_DEDUP_CTES},
    cleaned AS MATERIALIZED (
        SELECT d.doc_id,
               COALESCE(r.text_dedup, '') AS text_dedup,
               COALESCE(t.n_chunks, 0) AS n_chunks,
               COALESCE(t.n_chunks, 0) - COALESCE(r.n_kept, 0) AS n_dropped
        FROM documents d
        LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        LEFT JOIN totals t ON d.doc_id = t.doc_id
    ),
    {classifier_ctes("cleaned", "text_dedup")}
    SELECT c.doc_id,
           c.n_chunks,
           c.n_dropped,
           COALESCE(l.logit_milli, 0) AS logit_milli,
           ROUND(1.0 / (1.0 + exp(-(CAST(COALESCE(l.logit_milli, 0) AS DOUBLE)
                 / (CAST({_W_RANGE} AS DOUBLE)
                    * GREATEST(COALESCE(l.n_tokens, 0), 1))))), 6)
               AS quality_score,
           COALESCE(l.n_tokens, 0) AS n_words_clean
    FROM cleaned c LEFT JOIN logits l ON c.doc_id = l.doc_id
    WHERE COALESCE(l.logit_milli, 0) > 0
    """,
    "The round-3 curation capstone in ONE plan: chunk-level exact "
    "dedup reconstructs every document's cleaned text (Lee et al. "
    "2022 edit step), the hashed-feature linear classifier scores the "
    "CLEANED text (an order matters — scoring pre-dedup text lets "
    "boilerplate carry documents over the keep threshold), and only "
    "keep-gated docs survive with full accounting (chunks dropped, "
    "exact integer logit, clean word count). Built by composing the "
    "same operator cores the individual queries verify; the oracle "
    "chains the same CTE fragments, so the composition itself is "
    "value-hash gated end to end.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clean_corpus_frames(spark, sf_dir)["result"]
