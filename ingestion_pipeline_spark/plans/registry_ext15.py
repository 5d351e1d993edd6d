"""Fifteenth registry tranche: the last mile of training-data prep —
sequence packing, domain-mixture rebalancing, and semantic (embedding-
cluster) dedup.

Sequence packing is the GPT-style concat-and-chunk step: documents are
concatenated per source stream in a deterministic order and cut into
fixed token-budget chunks, so every doc maps to a contiguous chunk
range ``[chunk_first, chunk_last]`` with a start offset. The whole
mapping is exact integer math over one running-sum window — no UDF, no
second pass, and the chunk manifest (which shard holds which doc) falls
out of the same projection.

Domain-mixture rebalancing recomputes per-source keep-rates FROM the
data (uniform target share here; any target vector works the same way)
and selects rows with the repo's deterministic md5-bucket predicate
(``functions/sampling.py``) — the mixture a training run actually
receives is then reproducible on any engine from the doc ids alone.

Semantic dedup is the SemDeDup shape (Abbas et al. 2023): cluster
embeddings (same 16 seed centroids as ``v_ivf_topk``), then inside each
cluster drop every vector that has a lower-id neighbor above the cosine
threshold — a deterministic greedy-by-id sweep whose survivors are
reproducible without any iterative clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens_sql
from ..operators import similarity as sim
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .registry import register

_SEQ_LEN = 512


@register(
    "pipeline_pack_sequences",
    rf"""
    WITH t AS (
        SELECT doc_id, source,
               len({word_tokens_sql("text")}) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM t WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_tokens,
           (cum - n_tokens) // {_SEQ_LEN} AS chunk_first,
           (cum - 1) // {_SEQ_LEN} AS chunk_last,
           (cum - 1) // {_SEQ_LEN} - (cum - n_tokens) // {_SEQ_LEN} + 1 AS n_chunks,
           (cum - n_tokens) % {_SEQ_LEN} AS chunk_offset
    FROM c
    """,
    "Sequence packing (concat-and-chunk, the pretraining tokenizer-shard "
    "layout): per source stream ordered by doc_id, each document's token "
    "span [cum-n, cum) maps to training chunks of 512 tokens — "
    "chunk_first/chunk_last/offset are exact integer math over ONE "
    "running-sum window. Empty documents pack to nothing and are "
    "dropped. One shuffle on the stream key; at 100 TB the stream key "
    "is (source, shard-date) so each window stays partition-local and "
    "chunk ids are made globally unique by offsetting with per-shard "
    "totals — the same math, one extra broadcast join.",
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import token_count

    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    chunk_first = F.expr(f"(cum - n_tokens) div {_SEQ_LEN}")
    chunk_last = F.expr(f"(cum - 1) div {_SEQ_LEN}")
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        chunk_first.alias("chunk_first"),
        chunk_last.alias("chunk_last"),
        (chunk_last - chunk_first + F.lit(1)).alias("n_chunks"),
        (start % _SEQ_LEN).alias("chunk_offset"),
    )


@register(
    "d_domain_mixture",
    """
    WITH c AS (SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_before) AS BIGINT) AS total, COUNT(*) AS s FROM c),
    r AS (
        SELECT source, n_before,
               LEAST(65536, (65536 * total) // (s * n_before)) AS threshold
        FROM c, tot
    ),
    k AS (
        SELECT d.source, COUNT(*) AS n_after
        FROM documents d JOIN r ON d.source = r.source
        WHERE CAST(('0x' || substr(md5('mix0' || CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
              < r.threshold
        GROUP BY d.source
    )
    SELECT r.source, r.n_before, r.threshold,
           COALESCE(k.n_after, 0) AS n_after
    FROM r LEFT JOIN k ON r.source = k.source
    """,
    "Domain-mixture rebalancing: per-source keep-rates derived FROM the "
    "corpus (uniform target share total/S here; an arbitrary target "
    "weight vector is the same broadcast table) and applied via the "
    "deterministic md5-bucket predicate — rate_s = min(1, target_s/n_s) "
    "as an INTEGER bucket threshold (65536·total)//(S·n_s), so Spark "
    "and any SQL engine select the IDENTICAL row set with no float "
    "rounding hazard. Selection is shuffle-free (predicate in the scan "
    "projection); only the tiny per-source rate table shuffles. The "
    "mixture a training run receives is reproducible from doc ids alone.",
)
def d_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import _bucket

    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_before"))
    tot = counts.agg(
        F.sum("n_before").cast("long").alias("total"), F.count("*").alias("s")
    )
    # |sources|-bounded and consumed twice (the kept-gate broadcast +
    # the final join); unmaterialized, each consumer re-ran the full
    # per-source count scan (r12 scan census: 5 parquet scans in one
    # query). Checkpointed, documents is scanned the two inherent
    # times (count pass + keep pass; guide §2.4).
    rates = (
        counts.join(F.broadcast(tot))
        .select(
            "source",
            "n_before",
            F.least(
                F.lit(65536).cast("long"),
                F.expr("(65536 * total) div (s * n_before)"),
            ).alias("threshold"),
        )
        .localCheckpoint(eager=False)
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "threshold")), "source")
        .filter(_bucket(F.col("doc_id"), "mix0") < F.col("threshold"))
        .groupBy("source")
        .agg(F.count("*").alias("n_after"))
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "n_before",
        "threshold",
        F.coalesce(F.col("n_after"), F.lit(0).cast("long")).alias("n_after"),
    )


@register(
    "d_semantic_dedup",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (
        SELECT vec_id AS cid,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        FROM e WHERE vec_id < 16
    ),
    assign AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid
                   ) AS rn
            FROM e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    ea AS (SELECT e.vec_id, e.v, a.cluster FROM e JOIN assign a ON e.vec_id = a.vec_id),
    dup AS (
        SELECT DISTINCT y.vec_id
        FROM ea x JOIN ea y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE ROUND(CAST(list_cosine_similarity(x.v, y.v) AS DOUBLE), 6) >= 0.35
    )
    SELECT vec_id, cluster FROM ea
    WHERE vec_id NOT IN (SELECT vec_id FROM dup)
    """,
    "Semantic dedup (SemDeDup shape, Abbas et al. 2023): embeddings "
    "cluster to the 16 seed centroids (identical assignment arithmetic "
    "to v_ivf_topk — batched argmax, broadcast centroids, no shuffle), "
    "then within each cluster any vector with a LOWER-id neighbor at "
    "cosine >= 0.35 is dropped — a deterministic greedy-by-id sweep, so "
    "survivors are reproducible without iterative clustering. Pair "
    "cardinality is bounded by cluster size (the quadratic lives inside "
    "a bucket, exactly like LSH-banded dedup); at 100 TB the centroid "
    "count grows with the corpus (k ~ sqrt(N)) keeping clusters small, "
    "and the per-pair cosine is one batched einsum per Arrow batch.",
)
def d_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)
    _, centroids = sim.seed_centroids(emb)
    nearest = sim.assign_nearest_np(centroids)
    assigned = emb.select(
        "vec_id", "embedding", nearest(F.col("embedding")).alias("cluster")
    )
    # Within-cluster sweep as ONE blocked matmul per cluster group
    # (applyInPandas): each vector crosses the Python boundary ONCE —
    # the earlier pair-explode self-join shipped |cluster|² rows, each
    # carrying both float arrays through Arrow, and measured 85 s at
    # the 10× smoke when the replica's degenerate centroids collapsed
    # everything into two 10 k-vector clusters; this path is ~2 s on
    # the same input (k² stays inside BLAS, transfer is linear).
    # Cosine uses the identical num/den form and HALF_UP 6-dp rounding
    # as operators/similarity.cosine_pairs_np, so the unchanged SQL
    # oracle still value-hash-matches.
    import numpy as np
    import pandas as pd

    # bound here so the worker receives the function, not the module
    cosine_blocks = sim.cosine_blocks

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        keep = np.ones(len(pdf), dtype=bool)
        for a0, S in cosine_blocks(np.stack(pdf["embedding"].to_numpy())):
            close = S >= 0.35
            has = close.any(axis=1)
            first = close.argmax(axis=1)  # first close column (0 if none)
            g_idx = np.arange(a0, a0 + len(S))
            # dropped iff some close j strictly before g (self-sim at
            # column g is 1.0, correctly ignored by first < g)
            keep[g_idx[has & (first < g_idx)]] = False
        out = pdf.loc[keep, ["vec_id", "cluster"]]
        return out

    return assigned.groupBy("cluster").applyInPandas(sweep, "vec_id long, cluster int")
