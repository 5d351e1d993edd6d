"""Twelfth registry tranche: incremental (batch-vs-corpus) dedup and
the unpivot reshape.

Incremental dedup is the shape production ingestion actually runs:
yesterday's corpus is fixed, today's batch must keep only documents
that are neither exact nor near duplicates of anything already
ingested (nor of an earlier doc in the same batch). Unlike the
full-corpus pass (d_dup_clusters), the pair space is batch×corpus —
a join, not a self-join, so daily cost scales with the batch, not the
archive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as tx
from ..operators import dedup as dd
from ..sources.parquet_tables import table
from .registry import SQL_DISC, SQL_EXT, register
from .registry import _SHINGLES_SQL

_BATCH_SPLIT = 400  # doc_id >= 400 plays "today's batch", < 400 the corpus


@register(
    "d_incremental_novel_docs",
    f"""
    WITH hashed AS (
        SELECT doc_id, source, lang, text,
               md5({tx.collapse_ws_sql("trim(lower(text))")}) AS content_hash,
               source || '|' || lang AS block,
               {_SHINGLES_SQL} AS s
        FROM documents
    ),
    corpus AS (SELECT * FROM hashed WHERE doc_id < {_BATCH_SPLIT}),
    batch  AS (SELECT * FROM hashed WHERE doc_id >= {_BATCH_SPLIT}),
    exact_novel AS (
        SELECT b.* FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.content_hash = b.content_hash)
    ),
    near_dup AS (
        SELECT DISTINCT b.doc_id
        FROM exact_novel b JOIN corpus c ON b.block = c.block
        WHERE CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
              / (len(b.s) + len(c.s) - len(list_intersect(b.s, c.s))) >= 0.12
    )
    SELECT e.doc_id, e.source, e.lang
    FROM exact_novel e
    WHERE e.doc_id NOT IN (SELECT doc_id FROM near_dup)
    """,
    "Incremental ingestion dedup: keep only batch documents with no "
    "exact (content-md5 anti-join) and no near (blocked Jaccard >= "
    "0.12 against the corpus) duplicate. The near check joins "
    "batch x corpus inside (source,lang) blocks — at scale the block "
    "key is the MinHash-LSH bucket, so daily cost is O(batch), never "
    "O(archive^2); the exact check is a broadcast/shuffled anti-join "
    "on a uniform digest.",
)
def d_incremental_novel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").withColumn(
        "block", F.concat_ws("|", F.col("source"), F.col("lang"))
    )
    corpus = docs.filter(F.col("doc_id") < _BATCH_SPLIT)
    batch = docs.filter(F.col("doc_id") >= _BATCH_SPLIT)
    novel = dd.incremental_novel(batch, corpus, "text", "doc_id", "block")
    return novel.select("doc_id", "source", "lang")


@register(
    "g_unpivot_pricing",
    f"""
    SELECT l_returnflag, metric, val FROM (
        SELECT l_returnflag,
               CAST(SUM({SQL_EXT}) AS DOUBLE) AS base_price,
               CAST(SUM({SQL_EXT} * {SQL_DISC}) AS DOUBLE) AS disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY l_returnflag
    ) wide
    UNPIVOT (val FOR metric IN (base_price, disc_price, qty))
    """,
    "Unpivot (long reshape — the inverse of g_pivot_returnflag): the "
    "wide per-flag aggregate melted to (flag, metric, value) rows via "
    "Spark's native unpivot/melt. Runs as a zero-shuffle Expand over "
    "the 3-row aggregate output; metric labels become data, which is "
    "what metric-store sinks and long-format plotting expect.",
)
def g_unpivot_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double").alias("base_price"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
        ).cast("double").alias("disc_price"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("qty"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["base_price", "disc_price", "qty"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "d_dataset_split",
    """
    SELECT doc_id, source,
           CASE WHEN b < 52429 THEN 'train'
                WHEN b < 58983 THEN 'val'
                ELSE 'test' END AS split,
           CAST(b2 < 4096 AS INT) AS in_1of16_sample
    FROM (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5('split0' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS b,
               CAST(('0x' || substr(md5('s0' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS b2
        FROM documents
    )
    """,
    "Deterministic dataset-split assignment + content-hash downsampling "
    "(functions/sampling.py): train/val/test from contiguous md5-bucket "
    "ranges (80/10/10) and a 1-in-16 stable sample flag. Selection is a "
    "pure function of the key — same row, same split, on any engine, "
    "under any partitioning (Spark's seeded sample() is "
    "partitioning-dependent and unusable for lineage). Shuffle-free: "
    "both predicates evaluate inside the scan projection.",
)
def d_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import dataset_split, deterministic_sample

    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        dataset_split(F.col("doc_id")).alias("split"),
        deterministic_sample(F.col("doc_id"), 1 / 16).cast("int").alias("in_1of16_sample"),
    )
