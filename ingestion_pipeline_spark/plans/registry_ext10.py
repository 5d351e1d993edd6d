"""Eleventh registry tranche: the corpus-prep pipeline composite — the
whole training-data preparation flow as ONE declarative plan, plus its
per-source rollup.

Stages (each individually hash-verified by earlier tranches, here
composed end to end under one oracle):
  exact dedup (keep min-id per normalized-content md5)
  → language ID (broadcast-lexicon argmax, tx_langid semantics)
  → quality gate (tx_quality_scores formula, threshold 0.55)
  → PII redaction (tx_redact_pii scrubbers; md5 of redacted text in
    the output proves the transform ran)
  → token accounting.

This is the "switch your pipeline to this repo" demonstration: one
Catalyst plan — scan → hash-agg dedup → two broadcast joins → filter →
project — with the fact table scanned twice (hash pass + survivor
pass) and everything else map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators import dedup as dd
from ..sources.parquet_tables import table
from .registry import register
from .registry_ext import _LANG_HITS, _TOKS

_LANG_CASE = """
    CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
         WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
         WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
         WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
         WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
         ELSE 'zh' END
"""

_QUALITY_EXPR = f"""
    ROUND(LEAST(1.0, GREATEST(0.0,
        LEAST(1.0, len({_TOKS}) / 100.0) * 0.4
      + LEAST(1.0, (CASE WHEN len({_TOKS}) > 0
                         THEN CAST(len(list_filter({_TOKS},
                              t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t))) AS DOUBLE)
                              / len({_TOKS})
                         ELSE 0.0 END) * 5.0) * 0.3
      + GREATEST(0.0, 1.0 - (CASE WHEN length(text) > 0
                                  THEN CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                                       / length(text)
                                  ELSE 0.0 END) * 4.0) * 0.3)), 6)
"""

_SURVIVORS_SQL = f"""
    hashed AS (
        SELECT doc_id, source, text,
               md5({tx.collapse_ws_sql("trim(lower(text))")}) AS content_hash
        FROM documents
    ),
    canon AS (
        SELECT content_hash, MIN(doc_id) AS canonical_id FROM hashed GROUP BY 1
    ),
    survivors AS (
        SELECT h.doc_id, h.source, h.text
        FROM hashed h JOIN canon c
          ON h.content_hash = c.content_hash AND h.doc_id = c.canonical_id
    ),
    scored AS (
        SELECT doc_id, source, text,
               {_LANG_CASE} AS predicted_lang,
               {_QUALITY_EXPR} AS quality
        FROM (
            SELECT doc_id, source, text,
                   {', '.join(f'{expr} AS h_{lang}' for lang, expr in _LANG_HITS.items())}
            FROM survivors
        ) hh
    ),
    kept AS (
        SELECT doc_id, source, predicted_lang, quality,
               len({_TOKS}) AS n_words,
               md5(regexp_replace(regexp_replace(text, '{tx.EMAIL_REGEX}', '<EMAIL>', 'g'),
                                  '{tx.PHONE_REGEX}', '<PHONE>', 'g')) AS redacted_md5
        FROM scored
        WHERE quality >= 0.55 AND predicted_lang <> 'und'
    )
"""


def _survivors_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    hashed = docs.withColumn("content_hash", tx.content_md5(F.col("text")))
    # keep-min-id per content hash as ONE window over ONE scan (r12,
    # guide §2.4): the old groupBy + join-back shape scanned documents
    # twice (the hash pass under the aggregate and again under the join)
    # and computed the md5 normalization per scan; min() over the
    # content_hash partition selects the identical survivor set from a
    # single scan and a single exchange.
    canonical = F.min("doc_id").over(Window.partitionBy("content_hash"))
    survivors = (
        hashed.withColumn("__canon", canonical)
        .filter(F.col("doc_id") == F.col("__canon"))
        .select("doc_id", "source", "text")
    )
    scored = tx.langid_join(survivors).withColumn(
        "quality", F.round(tx.quality_score(F.col("text")), 6)
    )
    return scored.filter(
        (F.col("quality") >= 0.55) & (F.col("predicted_lang") != "und")
    ).select(
        "doc_id",
        "source",
        "predicted_lang",
        "quality",
        tx.token_count(F.col("text")).alias("n_words"),
        F.md5(tx.redact_pii(F.col("text"))).alias("redacted_md5"),
    )


@register(
    "pipeline_corpus_prep",
    f"""
    WITH {_SURVIVORS_SQL}
    SELECT doc_id, source, predicted_lang, quality, n_words, redacted_md5 FROM kept
    """,
    "The full corpus-prep pipeline as one plan: exact dedup → language "
    "ID → quality gate (>=0.55) → PII redaction → token accounting. "
    "Composition of individually-verified stages under a single oracle; "
    "two scans of documents (hash pass + survivor join), broadcast "
    "lexicon, everything else map-side projections.",
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _survivors_spark(spark, sf_dir)


@register(
    "pipeline_corpus_stats",
    f"""
    WITH {_SURVIVORS_SQL}
    SELECT source, predicted_lang, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
    FROM kept
    GROUP BY source, predicted_lang
    """,
    "Rollup of the prepared corpus per (source, language): what a "
    "training-data run reports after the prep pass. Quality averages "
    "in exact decimal space over the 6dp-rounded scores.",
)
def pipeline_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    kept = _survivors_spark(spark, sf_dir)
    return kept.groupBy("source", "predicted_lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        (
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("avg_quality"),
    )
