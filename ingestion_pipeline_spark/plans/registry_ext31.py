"""Thirty-first registry tranche: text normalization / cleanup —
the pre-dedup canonicalization passes of a crawled-corpus pipeline.

- ``tx_unicode_normalize`` — NFC + accent-strip via an Arrow-batched
  pandas UDF (no Spark builtin does unicode normalization). Must run
  BEFORE content hashing: composed vs decomposed encodings of the same
  text otherwise land in different exact-dedup groups.
- ``tx_strip_markup`` — tag removal + entity unescape + whitespace
  collapse, all codegen string ops.
- ``tx_c4_sentence_filter`` — C4-style segment cleaning (Raffel et al.
  2020): drop short segments, rejoin. Higher-order array functions.

All three are value-hash-gated (the unicode gate is an identity map on
the all-ASCII fixture; the accent/composition semantics are pinned in
``tests/test_text_normalize.py`` on injected adversarial strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    c4_sentence_filter,
    collapse_ws_sql,
    strip_markup,
    unicode_normalize_udf,
)
from ..sources.parquet_tables import table
from .registry import register


@register(
    "tx_unicode_normalize",
    """
    SELECT doc_id, strip_accents(nfc_normalize(text)) AS text_norm,
           length(strip_accents(nfc_normalize(text))) AS n_chars_norm
    FROM documents
    """,
    "Unicode canonicalization (NFC + combining-mark strip) as an "
    "Arrow-batched pandas UDF — per-codepoint work, no shuffle, "
    "embarrassingly parallel. The canonical form must precede md5/"
    "minhash dedup or encoding variants of identical text never "
    "collide. Gate is value-exact vs DuckDB's nfc_normalize + "
    "strip_accents; non-ASCII semantics pinned in pytest.",
)
def tx_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = unicode_normalize_udf(strip_accent_marks=True)
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        norm(F.col("text")).alias("text_norm"),
        F.length(norm(F.col("text"))).alias("n_chars_norm"),
    )


# strip_markup's tag removal and entity unescape, before the collapse
_UNMARKED = """replace(replace(replace(replace(
                   regexp_replace(text, '<[^>]*>', '', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&')"""


@register(
    "tx_strip_markup",
    f"""
    SELECT doc_id,
           trim({collapse_ws_sql(_UNMARKED)}) AS text_clean
    FROM documents
    """,
    "Markup stripping: drop tags, unescape the core entities "
    "(&amp; last, the standard order), collapse whitespace — three "
    "codegen string ops mirrored operation-for-operation in the "
    "oracle. The first cleanup pass over crawled text, upstream of "
    "quality gates and dedup.",
)
def tx_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", strip_markup(F.col("text")).alias("text_clean")
    )


@register(
    "tx_c4_sentence_filter",
    """
    SELECT doc_id,
           COALESCE(list_aggregate(
               list_filter(
                   string_split(text, '. '),
                   s -> length(list_filter(string_split(s, ' '),
                                           w -> w <> '')) >= 4),
               'string_agg', '. '), '') AS text_kept
    FROM documents
    """,
    "C4-style segment cleaning: split on the literal '. ' boundary "
    "(portable — the oracle's RE2 engine has no lookbehind), keep "
    "segments with >= 4 words, rejoin. Pure higher-order array "
    "functions in codegen; at 100 TB this is a per-row projection "
    "with zero shuffle, composing directly into pipeline_corpus_prep.",
)
def tx_c4_sentence_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", c4_sentence_filter(F.col("text")).alias("text_kept")
    )


@register(
    "tx_compression_ratio",
    None,  # no zlib in the oracle engine — rows-only; exact values
    # pinned against direct python zlib in tests/test_text_normalize.py
    "zlib compression ratio per document (level 6, deterministic) — "
    "the compressibility quality gate: templated/looping text "
    "compresses abnormally well, noise abnormally badly; both tails "
    "get dropped in pretraining curation alongside the repetition "
    "ratio (tx_repetition_ratio). Arrow-batched pandas UDF, "
    "shuffle-free projection; the flag thresholds (0.35/0.9) ride in "
    "the same pass.",
)
def tx_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import compression_ratio_udf

    ratio = compression_ratio_udf()
    docs = table(spark, sf_dir, "documents")
    r = ratio(F.col("text"))
    return docs.select(
        "doc_id",
        r.alias("zlib_ratio"),
        ((r < 0.35) | (r > 0.9)).alias("flag_compressibility"),
    )
