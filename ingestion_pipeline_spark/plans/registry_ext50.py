"""Fiftieth registry tranche: corpus-surgery dedup + model-style
quality scoring.

- ``tx_dedup_chunks_rebuild`` — exact chunk-level dedup WITH TEXT
  RECONSTRUCTION (the Lee et al. 2022 "Deduplicating Training Data
  Makes Language Models Better" operation, at chunk granularity):
  split every document into non-overlapping 10-word chunks, keep only
  each chunk-hash's globally FIRST occurrence (ordered by doc_id,
  position), and reassemble the surviving chunks back into the
  document text. Unlike d_exact_dup_groups (whole-doc) or
  d_span_dup_pairs (pair reporting), this one EDITS the corpus — the
  transformation a pretraining pipeline actually ships.
- ``s_quality_classifier`` — fasttext-shaped model-based quality
  scoring: tokens hash into 64 feature buckets, a fixed deterministic
  weight vector (md5-derived, stand-in for trained weights) scores
  sigmoid(w.x). The logit accumulates as an EXACT BIGINT (integer
  milli-weights summed per token), so the float sigmoid is applied
  once to an order-independent value — the same exactness discipline
  as functions/exact.py, applied to a linear model.

Both oracle-gated; both beyond-reference training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import word_tokens, word_tokens_sql
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .registry import _TOKS, register

_CHUNK = 10  # words per chunk


# Shared CTE chain (also composed by pipeline_clean_corpus, ext53):
# chunks -> first-occurrence filter -> per-doc rebuilt text + counts
CHUNK_DEDUP_CTES = f"""chunks AS MATERIALIZED (
        SELECT doc_id, i AS idx,
               array_to_string(tk[i * {_CHUNK} + 1 : (i + 1) * {_CHUNK}], ' ') AS chunk
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) d,
             UNNEST(range(0, CAST(ceil(len(tk) / {_CHUNK}.0) AS BIGINT))) AS u(i)
    ),
    ranked AS (
        SELECT doc_id, idx, chunk,
               row_number() OVER (PARTITION BY md5(chunk)
                                  ORDER BY doc_id, idx) AS occurrence
        FROM chunks
    ),
    rebuilt AS MATERIALIZED (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY idx) AS text_dedup,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM ranked WHERE occurrence = 1
        GROUP BY doc_id
    ),
    totals AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM chunks
        GROUP BY doc_id
    )"""


@register(
    "tx_dedup_chunks_rebuild",
    f"""
    WITH {CHUNK_DEDUP_CTES}
    SELECT d.doc_id,
           COALESCE(r.text_dedup, '') AS text_dedup,
           COALESCE(t.n_chunks, 0) AS n_chunks,
           COALESCE(t.n_chunks, 0) - COALESCE(r.n_kept, 0) AS n_dropped
    FROM documents d
    LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    """,
    f"Chunk-level exact dedup with corpus reconstruction: {_CHUNK}-word "
    "non-overlapping chunks, one row_number window on the chunk hash "
    "keeps each chunk's globally first occurrence ((doc_id, position) "
    "order), surviving chunks reassemble into the cleaned text via an "
    "order-deterministic collect — plus per-doc kept/dropped "
    "accounting. One explode + one hash-keyed window shuffle + one "
    "doc-keyed rollup; the shuffle carries (16-byte hash, ids), not "
    "text, so the plan holds at 100 TB. This is the edit step of "
    "Lee et al. 2022; d_span_dup_pairs is its audit-report sibling.",
)
def tx_dedup_chunks_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    return chunk_dedup_rebuild(docs)


def chunk_dedup_rebuild(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text_dedup, n_chunks, n_dropped) — reusable core; also
    the first stage of pipeline_clean_corpus (ext53)."""
    tk = word_tokens(F.lower(F.col(text_col)))
    with_tk = docs.select("doc_id", tk.alias("tk"))
    n_chunks = F.ceil(F.size("tk") / F.lit(float(_CHUNK))).cast("long")
    # guard: Spark sequence(0, -1) DESCENDS — a token-less doc must
    # yield no chunks (matching DuckDB range(0, 0)), not idx 0 and -1
    idxs = F.when(
        n_chunks > 0, F.sequence(F.lit(0).cast("long"), n_chunks - 1)
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    chunks = (
        with_tk.select(
            "doc_id",
            F.explode(idxs).alias("idx"),
            "tk",
        )
        .select(
            "doc_id",
            "idx",
            F.array_join(
                F.slice("tk", F.col("idx") * _CHUNK + 1, _CHUNK), " "
            ).alias("chunk"),
        )
    )
    occ = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "idx")
    kept = (
        chunks.withColumn("occurrence", F.row_number().over(occ))
        .filter(F.col("occurrence") == 1)
    )
    sortable = F.struct(F.col("idx").alias("idx"), F.col("chunk").alias("chunk"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(sortable)),
                lambda s: s.getField("chunk"),
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # n_chunks is known BEFORE the explode (ceil(|tokens| / chunk)):
    # aggregating the exploded chunks for it re-ran the token split +
    # chunk explode a second time (r10 — chunks had two consumers).
    # Identical value: a doc explodes into exactly n_chunks rows, and
    # a token-less doc yields 0 both ways (no exploded rows / ceil 0).
    totals = with_tk.select("doc_id", n_chunks.alias("n_chunks"))
    # totals is 1:1 with docs (with_tk is a plain projection), so the
    # old docs.select("doc_id") left-join anchor re-scanned the corpus
    # a third time for a doc_id set totals already carries — anchor on
    # totals directly (r12, guide §2.4): one scan + one join removed,
    # identical row set and values (n_chunks never null from totals).
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        "n_chunks",
        (
            F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))
        ).alias("n_dropped"),
    )


_N_FEATS = 64  # hashed feature buckets
_W_RANGE = 1000  # integer milli-weights in [-1000, 1000]

_BUCKET_SQL = f"('0x' || substring(md5('f|' || t.word), 1, 8))::UBIGINT % {_N_FEATS}"
_WEIGHT_SQL = (
    f"CAST(('0x' || substring(md5('w|' || CAST({_BUCKET_SQL} AS VARCHAR)), 1, 8))"
    f"::UBIGINT % {2 * _W_RANGE + 1} AS BIGINT) - {_W_RANGE}"
)


def classifier_ctes(src: str, text_expr: str) -> str:
    """CTE chain (tok -> weighted -> logits) scoring ``text_expr`` of
    table/CTE ``src`` — exposed so pipeline_clean_corpus (ext53) can
    apply the classifier to the chunk-dedup REBUILT text."""
    toks = word_tokens_sql(f"lower({text_expr})")
    return f"""tok AS (
        SELECT doc_id, t.word AS word
        FROM (SELECT doc_id, {toks} AS tk FROM {src}) d,
             UNNEST(tk) AS t(word)
    ),
    weighted AS (
        SELECT doc_id, {_WEIGHT_SQL} AS w_milli FROM tok t
    ),
    logits AS MATERIALIZED (
        SELECT doc_id,
               CAST(SUM(w_milli) AS BIGINT) AS logit_milli,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM weighted GROUP BY doc_id
    )"""


@register(
    "s_quality_classifier",
    f"""
    WITH tok AS (
        SELECT doc_id, t.word AS word
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) d,
             UNNEST(tk) AS t(word)
    ),
    weighted AS (
        SELECT doc_id, {_WEIGHT_SQL} AS w_milli FROM tok t
    ),
    logits AS (
        SELECT doc_id,
               CAST(SUM(w_milli) AS BIGINT) AS logit_milli,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM weighted GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(l.logit_milli, 0) AS logit_milli,
           ROUND(1.0 / (1.0 + exp(-(CAST(COALESCE(l.logit_milli, 0) AS DOUBLE)
                 / (CAST({_W_RANGE} AS DOUBLE)
                    * GREATEST(COALESCE(l.n_tokens, 0), 1))))), 6)
               AS quality_score,
           COALESCE(l.logit_milli, 0) > 0 AS keep
    FROM documents d LEFT JOIN logits l ON d.doc_id = l.doc_id
    """,
    "Model-based quality scoring (the fasttext-classifier stage of "
    f"CCNet/Llama-style curation): tokens hash into {_N_FEATS} feature "
    "buckets, a fixed md5-derived integer milli-weight vector (stand-in "
    "for trained weights — swapping in real ones changes one literal "
    "expression) accumulates the logit as an EXACT BIGINT sum, and the "
    "sigmoid is applied ONCE to the order-independent mean-normalized "
    "logit. The keep flag compares the integer logit to zero — no float "
    "anywhere in the decision path. One token shuffle; at 100 TB the "
    "per-doc state is one BIGINT.",
)
def s_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    return classifier_scores(docs)


def classifier_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, logit_milli, quality_score, keep) — reusable core; also
    the scoring stage of pipeline_clean_corpus (ext53)."""
    tk = word_tokens(F.lower(F.col(text_col)))
    tok = docs.select("doc_id", F.explode(tk).alias("word"))
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("f|"), F.col("word"))), 1, 8), 16, 10)
        .cast("long")
        % _N_FEATS
    )
    w_milli = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w|"), bucket.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % (2 * _W_RANGE + 1)
    ) - _W_RANGE
    logits = tok.select("doc_id", w_milli.alias("w_milli")).groupBy("doc_id").agg(
        F.sum("w_milli").alias("logit_milli"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    z = F.coalesce("logit_milli", F.lit(0)).cast("double") / (
        F.lit(float(_W_RANGE)) * F.greatest(F.coalesce("n_tokens", F.lit(0)), F.lit(1))
    )
    return (
        docs.select("doc_id")
        .join(logits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("logit_milli", F.lit(0)).alias("logit_milli"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias(
                "quality_score"
            ),
            (F.coalesce("logit_milli", F.lit(0)) > 0).alias("keep"),
        )
    )
