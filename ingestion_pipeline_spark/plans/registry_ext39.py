"""Thirty-ninth registry tranche: long-document embedding
(chunk → embed → pool).

``v_chunk_sum_pool`` — the standard long-document embedding pipeline:
slide 200/150 chunk windows over each document (the tx_chunk_overlap
geometry), embed EVERY CHUNK through the real Arrow-batched embedding
UDF (hashing embedder, dim 16, un-normalized integer space), then
sum-pool the chunk vectors back to one per-document vector
(posexplode → groupBy(doc, bucket) — element-wise pooling as plain
aggregation, no array zip gymnastics).

The differential here is unusually strong: the Spark side truly runs
per-chunk embedding + pooling, while the oracle computes the SAME
result by the algebraic shortcut — in count space,
Σ_chunks embed(chunk) ≡ embed(all chunk tokens) — so two genuinely
different computation paths must agree bucket-for-bucket. At scale the
chunk embed is the expensive model call; pooling is one map-side-
combined aggregate on (doc, bucket) — 16 rows per doc into the
shuffle, regardless of document length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_tokens_sql
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .registry import register


@register(
    "v_chunk_sum_pool",
    rf"""
    WITH chunks AS (
        SELECT doc_id, substr(text, off + 1, 200) AS ctext
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(0, n_chars - 1, 150)) AS off
            FROM documents WHERE n_chars > 0
        )
    ),
    nch AS (SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id),
    toks AS (
        SELECT doc_id,
               unnest({word_tokens_sql("lower(ctext)")}) AS tok
        FROM chunks
    ),
    hashed AS (
        SELECT doc_id, ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS h
        FROM toks
    ),
    vec AS (
        SELECT doc_id, CAST(h % 16 AS INT) AS b,
               SUM(CASE WHEN h >> 63 = 0 THEN 1 ELSE -1 END) AS v
        FROM hashed GROUP BY doc_id, b
    ),
    agg AS (
        SELECT doc_id,
               CAST(SUM(v * v) AS BIGINT) AS sumsq,
               CAST(COUNT(CASE WHEN v <> 0 THEN 1 END) AS BIGINT) AS nnz,
               CAST(COALESCE(SUM(CASE WHEN b = 0 THEN v END), 0) AS BIGINT) AS v0,
               CAST(COALESCE(SUM(CASE WHEN b = 1 THEN v END), 0) AS BIGINT) AS v1
        FROM vec GROUP BY doc_id
    )
    SELECT n.doc_id, n.n_chunks,
           COALESCE(a.sumsq, 0) AS sumsq,
           COALESCE(a.nnz, 0) AS nnz,
           COALESCE(a.v0, 0) AS v0,
           COALESCE(a.v1, 0) AS v1
    FROM nch n LEFT JOIN agg a ON n.doc_id = a.doc_id
    """,
    "Long-document embedding: 200/150 chunk windows → the REAL "
    "Arrow-batched embedding UDF per chunk (dim-16 hashing embedder, "
    "integer space) → element-wise sum-pool back to one vector per "
    "doc via posexplode + groupBy(doc, bucket). The oracle derives "
    "the same buckets by the pooling identity (Σ_chunks embed(chunk) "
    "≡ embed(chunk-token multiset)), so two different computation "
    "paths must agree exactly. Pooling ships 16 rows per doc into the "
    "shuffle however long the document; the chunk-embed stage is the "
    "model-call cost center, exactly as in production.",
)
def v_chunk_sum_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.embed import embedding_udf, hashing_embedder

    # min_partitions=8 (not full 32-way): measured across full bench
    # sessions, 32 python workers on this small input are ERRATIC
    # (2-8s swings from worker/memory churn) while 8 hold ~0.7s steady;
    # at real scale the scan arrives pre-split and spread() is a no-op
    docs = spread(
        table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0),
        min_partitions=8,
    )
    offs = F.sequence(F.lit(0), F.col("n_chars") - 1, F.lit(150))
    chunks = docs.select(
        "doc_id", "text", F.explode(offs).alias("off")
    ).select(
        "doc_id",
        F.substring(F.col("text"), F.col("off") + 1, F.lit(200)).alias("ctext"),
    )
    embed = embedding_udf(hashing_embedder(dim=16, normalize=False), dim=16)
    # embedded feeds the n_chunks count AND the pooled sum — without
    # materialization the compiled plan ran the embedding UDF TWICE
    # over every chunk (2 ArrowEvalPython nodes — r12 scan census; the
    # guide §4 duplicated-UDF class). Checkpointed: one UDF pass, and
    # the stored (doc_id, 16 ints) rows are ~3x smaller than the
    # 200-char chunk texts they replace.
    embedded = chunks.select(
        "doc_id", embed(F.col("ctext")).alias("emb")
    ).localCheckpoint(eager=False)
    n_chunks = embedded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks")
    )
    pooled = (
        embedded.select("doc_id", F.posexplode("emb").alias("b", "cv"))
        .groupBy("doc_id", "b")
        .agg(F.sum(F.col("cv").cast("long")).alias("v"))
    )
    agg = pooled.groupBy("doc_id").agg(
        F.sum(F.col("v") * F.col("v")).alias("sumsq"),
        F.count(F.when(F.col("v") != 0, 1)).alias("nnz"),
        F.coalesce(F.sum(F.when(F.col("b") == 0, F.col("v"))), F.lit(0)).alias("v0"),
        F.coalesce(F.sum(F.when(F.col("b") == 1, F.col("v"))), F.lit(0)).alias("v1"),
    )
    return n_chunks.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("sumsq", F.lit(0)).alias("sumsq"),
        F.coalesce("nnz", F.lit(0)).alias("nnz"),
        F.coalesce("v0", F.lit(0)).alias("v0"),
        F.coalesce("v1", F.lit(0)).alias("v1"),
    )
