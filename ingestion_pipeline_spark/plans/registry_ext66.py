"""Sixty-sixth registry tranche (round 12, the one allowed
micro-tranche): the PRODUCTION forms of the graph diagnostics —
triangle census, seeded PageRank, LPA communities (VERDICT r11 #2).

The graph-diagnostic family (``g_triangle_counts``,
``d_personalized_pagerank``, ``d_lpa_communities``) composes from the
quadratic ``d_embedding_near_dups`` / ``d_jaccard_pairs`` edge oracles
— fine as audits (their docstrings declare the post-dedup input
contract), but the raw-corpus 100x costs (923.5 / 281.8 / 200.2 s in
the r11 sweep) are not what a release pipeline runs. The capped
production trio precedent (``d_dup_clusters_capped`` →
``pipeline_dedup_survivors`` → ``d_split_leakage_capped``, rounds
10-11) shows the shape: the SAME algorithm over ``cascade_frames()``'s
VERIFIED edge list — LSH-banded candidates → hot-bucket enumeration
guard → per-doc verify budget → exact 3-gram-Jaccard qualification —
with the cap censuses riding every row so nothing the caps exclude is
silent, and the oracle recomputing everything from the shared CTE
constants so the whole path stays value-gated.

- ``g_triangle_census_capped`` — triangle + wedge census with the
  global clustering coefficient (exact basis points) over the verified
  near-dup edge graph. Clique-vs-chain structure is the release
  diagnostic a user actually reads: a dup family that is a CLIQUE
  (closure_bp → 10000) is one template replicated verbatim — safe to
  keep one representative; a CHAIN of borderline pairs (closure_bp →
  0 with the same edge count) is gradual drift where keep-one loses
  real content — triage before dropping.
- ``d_personalized_pagerank_capped`` — seeded fixed-point PageRank
  (the crawl-frontier / seed-expansion primitive) over the same
  verified edges, same integer-arithmetic contract and unrolled
  oracle as the raw ``d_personalized_pagerank``.
- ``d_lpa_communities_capped`` — synchronous majority-vote label
  propagation over the same verified edges, same all-integer rounds
  and unrolled oracle as the raw ``d_lpa_communities``.

Reference provenance: beyond-reference training-data surface (the
reference dedups by primary key only, processor.py:55-59). Triangle
counting via two joins over canonically-oriented edges is Suri &
Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer"
(WWW 2011); the wedge/closure form of the global clustering
coefficient is standard (Watts-Strogatz / Newman).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import (
    LPA_ITERS,
    PR_SCALE,
    label_propagation,
    pagerank_fixed_point,
    triangle_count,
)
from .pagerank_sql import PR_RANKS, pagerank_fp_ctes
from .registry import register
from .registry_ext65 import (
    _CASCADE_SQL_CTES,
    _ED_CTE,
    _EXC_CTE,
    _VERIFY_K,
    cascade_frames,
)


@register(
    "g_triangle_census_capped",
    f"""
    WITH {_CASCADE_SQL_CTES},
    {_ED_CTE},
    {_EXC_CTE},
    deg AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT id_a AS id FROM ed
            UNION ALL
            SELECT id_b AS id FROM ed
        ) GROUP BY id
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM ed e1
        JOIN ed e2 ON e2.id_a = e1.id_b
        JOIN ed e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    dstats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(COALESCE(SUM(deg * (deg - 1) // 2), 0) AS BIGINT)
                   AS n_wedges,
               CAST(COALESCE(MAX(deg), 0) AS BIGINT) AS max_degree
        FROM deg
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ed)
    SELECT t.n_triangles, ne.n_edges, d.n_nodes, d.n_wedges,
           d.max_degree,
           CASE WHEN d.n_wedges > 0
                THEN (t.n_triangles * 3 * 10000) // d.n_wedges
                ELSE CAST(0 AS BIGINT) END AS closure_bp,
           e.excluded_pairs, g.n_guarded AS guarded_buckets
    FROM tri t
    CROSS JOIN ne CROSS JOIN dstats d CROSS JOIN exc e CROSS JOIN gb g
    """,
    "The PRODUCTION form of the dup-graph triangle diagnostic (VERDICT "
    "r11 #2): triangle + wedge census with the global clustering "
    "coefficient (closure_bp = 3 x triangles x 10000 // wedges, exact "
    "integer basis points) over the dedup cascade's VERIFIED edge "
    "list — LSH-banded candidates after the hot-bucket enumeration "
    "guard, per-doc verify budget, and exact 3-gram-Jaccard >= 0.5 "
    "qualification — instead of g_triangle_counts' cosine-threshold "
    "graph over raw embeddings (923.5 s raw at 100x in the r11 sweep; "
    "its docstring declares the post-dedup input contract, this query "
    "IS that contract shipped). Clique-vs-chain structure is what the "
    "census distinguishes: closure_bp near 10000 with high max_degree "
    "means verbatim template families (keep-one is safe); closure_bp "
    "near 0 at the same edge count means chains of borderline pairs "
    "(gradual drift — triage before dropping). Edges come canonically "
    "oriented id_a < id_b from cascade_frames() (the SAME shared "
    "definition the attrition report, survivor set, capped clusters "
    "and leakage gate ride — zero drift), so two equi-joins count "
    "each triangle exactly once (a<b<c): the Suri-Vassilvitskii 2011 "
    "node-iterator. Wedges are join-free — sum C(deg,2) off the "
    "degree histogram. The cascade's edge list is checkpointed ONCE "
    "and fans out to the three triangle legs + the degree leg "
    "(the connected_components discipline: the budgeted Arrow-Jaccard "
    "verify stage would otherwise re-execute per leg; measured at "
    "sf0.1 the checkpoint wins — see docketed A/B in ROUND12.md — "
    "unlike g_triangle_counts' cheap cosine edge builder where the "
    "recompute was the win). Cap censuses (excluded_pairs past the "
    "verify budget, guarded_buckets) ride the row as 1-row "
    "broadcasts — what the caps exclude from the graph, and hence "
    "from this census, is never silent. At 100 TB the verified edge "
    "list is <= " f"{_VERIFY_K}" " x docs by construction and the triangle join "
    "legs ride skinny (id,id) shuffles; per-node degree is bounded on "
    "the id_b side by the verify budget, and the id_a side "
    "(dup-family representatives) is exactly the hub census "
    "max_degree reports — orient by (degree, id) before the joins if "
    "max_degree ever rivals partition row counts.",
)
def g_triangle_census_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = cascade_frames(spark, sf_dir)
    # cascade_frames checkpoints the edges, so the verify stage runs
    # once for the FOUR legs below
    edges = fr["edges"]
    tri = triangle_count(edges)
    deg = (
        edges.select(F.col("id_a").alias("id"))
        .unionAll(edges.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    dstats = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum(F.expr("deg * (deg - 1) DIV 2")), F.lit(0))
        .cast("long")
        .alias("n_wedges"),
        F.coalesce(F.max("deg"), F.lit(0)).cast("long").alias("max_degree"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    row = (
        tri.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(dstats))
        .crossJoin(F.broadcast(fr["excluded"]))
        .crossJoin(
            F.broadcast(
                fr["guarded"].select(
                    F.col("n_guarded_buckets").alias("guarded_buckets")
                )
            )
        )
    )
    return row.select(
        "n_triangles",
        "n_edges",
        "n_nodes",
        "n_wedges",
        "max_degree",
        F.expr(
            "CASE WHEN n_wedges > 0 "
            "THEN (n_triangles * 3 * 10000) DIV n_wedges "
            "ELSE CAST(0 AS BIGINT) END"
        ).alias("closure_bp"),
        "excluded_pairs",
        "guarded_buckets",
    )


def _ppr_capped_sql() -> str:
    # MATERIALIZED pins the cascade to ONE evaluation: without it the
    # 10 unrolled rounds re-inline the full cascade chain through
    # pr_edges and the oracle runs 204 s at sf0.01 (2.6 s with) —
    # same reason _lpa_ctes materializes lp_edges
    return f"""
    WITH {_CASCADE_SQL_CTES},
    {_ED_CTE},
    {_EXC_CTE},
    pairs AS MATERIALIZED (SELECT id_a, id_b FROM ed),
    {pagerank_fp_ctes(seed_pred="n % 50 = 0")}
    SELECT pr.n AS doc_id, pr.r AS rank_fp,
           ROUND(CAST(pr.r AS DOUBLE) / {PR_SCALE}, 9) AS rank,
           e.excluded_pairs, g.n_guarded AS guarded_buckets
    FROM {PR_RANKS} pr
    CROSS JOIN exc e CROSS JOIN gb g
    WHERE pr.r > 0
    """


@register(
    "d_personalized_pagerank_capped",
    _ppr_capped_sql(),
    "The PRODUCTION form of seeded proximity ranking (VERDICT r11 #2): "
    "personalized fixed-point PageRank — restart mass returns to the "
    "seed set (every 50th doc_id among the graph's nodes, the stand-in "
    "for 'vetted' documents), so rank measures proximity to the seeds "
    "— over the dedup cascade's VERIFIED edge list instead of "
    "d_personalized_pagerank's cosine-threshold graph over raw "
    "embeddings (281.8 s raw at 100x in the r11 sweep; its docstring "
    "declares the post-dedup input contract, this query IS that "
    "contract shipped). The same PageRank operator and oracle CTE "
    "chain as the raw query, with the seed predicate n % 50 = 0 "
    "(1e-12 BIGINT rank units, div shares, 85/100 damping, 10 fixed "
    "rounds), so the oracle unrolls the rounds over the SAME "
    "shared edge rule (_ED_CTE — the constant the triangle census, "
    "capped clusters and leakage gate also ride; zero drift) and the "
    "full value hash gates the result; zero-rank nodes (unreachable "
    "from seeds) are filtered on both sides. Cap censuses "
    "(excluded_pairs, guarded_buckets) ride every row as 1-row "
    "broadcasts. Per round: one edges-ranks shuffle + one partial-"
    "aggregated contribution sum — and the verified edge list is "
    "<= " f"{_VERIFY_K}" " x docs by construction, so at 100 TB each round rides "
    "skinny (id, rank) shuffles over a graph ~1000x smaller than the "
    "raw all-pairs form.",
)
def d_personalized_pagerank_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    fr = cascade_frames(spark, sf_dir)
    ranks = pagerank_fixed_point(
        fr["edges"], "id_a", "id_b", seed=lambda n: n % 50 == 0
    )
    return (
        ranks.filter(F.col("rank_fp") > 0)
        .crossJoin(F.broadcast(fr["excluded"]))
        .crossJoin(
            F.broadcast(
                fr["guarded"].select(
                    F.col("n_guarded_buckets").alias("guarded_buckets")
                )
            )
        )
        .select(
            F.col("n").alias("doc_id"),
            "rank_fp",
            F.round(
                F.col("rank_fp").cast("double") / F.lit(PR_SCALE), 9
            ).alias("rank"),
            "excluded_pairs",
            "guarded_buckets",
        )
    )


def _lpa_capped_sql() -> str:
    from .registry_ext52 import _lpa_ctes

    return f"""
    WITH {_CASCADE_SQL_CTES},
    {_ED_CTE},
    {_EXC_CTE},
    pairs AS (SELECT id_a, id_b FROM ed),
    {_lpa_ctes(LPA_ITERS)}
    SELECT lb.n AS doc_id, lb.label AS community,
           e.excluded_pairs, g.n_guarded AS guarded_buckets
    FROM lb{LPA_ITERS} lb
    CROSS JOIN exc e CROSS JOIN gb g
    """


def _lpa_capped_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = cascade_frames(spark, sf_dir)
    return (
        label_propagation(fr["edges"], "id_a", "id_b")
        .crossJoin(F.broadcast(fr["excluded"]))
        .crossJoin(
            F.broadcast(
                fr["guarded"].select(
                    F.col("n_guarded_buckets").alias("guarded_buckets")
                )
            )
        )
        .select(
            F.col("n").alias("doc_id"),
            "community",
            "excluded_pairs",
            "guarded_buckets",
        )
    )


register(
    "d_lpa_communities_capped",
    _lpa_capped_sql(),
    "The PRODUCTION form of dup-community detection (VERDICT r11 #2): "
    "synchronous majority-vote label propagation (Raghavan et al. "
    "2007, the self-vote variant, 4 fixed rounds, ties to the "
    "smallest label) over the dedup cascade's VERIFIED edge list "
    "instead of d_lpa_communities' cosine-threshold graph over raw "
    "embeddings (200.2 s raw at 100x in the r11 sweep; its docstring "
    "declares the post-dedup input contract, this query IS that "
    "contract shipped). Where the capped cluster assignment "
    "(d_dup_clusters_capped) floods the component MINIMUM "
    "(connectivity), LPA stops at density boundaries — one verified-"
    "edge component can hold several communities, which is the right "
    "granularity for 'which dup-family wrote this boilerplate'. "
    "All-integer votes and fixed iterations, so the oracle unrolls "
    "the rounds over the SAME shared edge rule (_ED_CTE; zero drift "
    "with the triangle census, capped clusters and leakage gate) and "
    "the full value hash gates the result. Cap censuses ride every "
    "row as 1-row broadcasts. Per round: one edges-labels shuffle + "
    "one (node, label) count + one argmax window — the connected-"
    "components cost envelope over a budget-bounded edge list.",
)(_lpa_capped_spark)
