"""Fifty-second registry tranche: label-propagation communities.

``d_lpa_communities`` — synchronous majority-vote label propagation
(Raghavan et al. 2007, the self-vote variant) over the embedding
near-dup graph, all-integer and fixed-iteration, so the rounds unroll
into oracle CTEs (the pagerank_sql discipline). Complements the graph
family: ``d_dup_clusters`` floods the component MINIMUM (connectivity),
``d_pagerank_neardup`` ranks centrality, LPA finds DENSITY boundaries —
one connected component can hold several communities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import LPA_ITERS, label_propagation
from .registry import register
from .registry_ext23 import _NEARDUP_PAIRS_SQL


def _lpa_ctes(iters: int) -> str:
    parts = [
        "lp_edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs)",
        "lp_nodes AS MATERIALIZED (SELECT DISTINCT s AS n FROM lp_edges)",
        "lb0 AS MATERIALIZED (SELECT n, n AS label FROM lp_nodes)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""lb{t} AS MATERIALIZED (
        SELECT n, label FROM (
            SELECT n, label,
                   row_number() OVER (PARTITION BY n
                                      ORDER BY c DESC, label) AS rk
            FROM (
                SELECT n, label, CAST(COUNT(*) AS BIGINT) AS c FROM (
                    SELECT e.d AS n, l.label
                    FROM lp_edges e JOIN lb{t - 1} l ON e.s = l.n
                    UNION ALL
                    SELECT n, label FROM lb{t - 1}
                ) GROUP BY n, label
            )
        ) WHERE rk = 1
    )"""
        )
    return ",\n    ".join(parts)


@register(
    "d_lpa_communities",
    f"""
    WITH {_NEARDUP_PAIRS_SQL},
    {_lpa_ctes(LPA_ITERS)}
    SELECT n AS vec_id, label AS community FROM lb{LPA_ITERS}
    """,
    f"Label-propagation communities ({LPA_ITERS} synchronous rounds, "
    "majority vote over neighbours + self, ties to the smallest "
    "label) on the near-dup graph — density-boundary communities "
    "where connected components see only connectivity. All-integer "
    "votes and fixed iterations, so the oracle unrolls the rounds and "
    "the full value hash gates the result. Per round: one "
    "edges-labels shuffle + one (node, label) count + one argmax "
    "window — the connected-components cost envelope. INPUT CONTRACT "
    "at scale (VERDICT r9 #4): deploys against the POST-DEDUP corpus "
    "(tools/build_post_dedup.py; pipeline_dedup_survivors) — r8 100x "
    "measurement: 77.9 s raw -> 2.9 s post-dedup; the raw-corpus form "
    "is an audit, not the production path.",
)
def d_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import REGISTRY

    pairs = REGISTRY["d_embedding_near_dups"].spark(spark, sf_dir).select(
        "id_a", "id_b"
    )
    return label_propagation(pairs, "id_a", "id_b").select(
        F.col("n").alias("vec_id"), "community"
    )


from ..operators.graph import PR_SCALE, pagerank_fixed_point  # noqa: E402
from .pagerank_sql import PR_RANKS, pagerank_fp_ctes  # noqa: E402


@register(
    "d_personalized_pagerank",
    f"""
    WITH {_NEARDUP_PAIRS_SQL},
    {pagerank_fp_ctes(seed_pred="n % 50 = 0")}
    SELECT n AS vec_id, r AS rank_fp,
           ROUND(CAST(r AS DOUBLE) / {PR_SCALE}, 9) AS rank
    FROM {PR_RANKS} WHERE r > 0
    """,
    "Personalized (seeded) PageRank over the near-dup graph: restart "
    "mass returns to the seed set (every 50th vec_id — a stand-in for "
    "'vetted' documents), so rank measures proximity to the seeds — "
    "the crawl-frontier / seed-expansion primitive of data curation. "
    "The SAME operator and oracle CTE chain as d_pagerank_neardup with "
    "the seed predicate n % 50 = 0 in place of every node (uniform "
    "PageRank is the all-seeds case); zero-rank nodes (unreachable "
    "from seeds) are filtered on both sides. INPUT CONTRACT at scale (VERDICT r9 #4): "
    "deploys against the POST-DEDUP corpus (tools/build_post_dedup.py; "
    "pipeline_dedup_survivors) — r8 100x measurement: 159.3 s raw -> "
    "1.5 s post-dedup; the raw-corpus form is an audit, not the "
    "production path.",
)
def d_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import REGISTRY

    pairs = REGISTRY["d_embedding_near_dups"].spark(spark, sf_dir).select(
        "id_a", "id_b"
    )
    ranks = pagerank_fixed_point(
        pairs, "id_a", "id_b", seed=lambda n: n % 50 == 0
    )
    return (
        ranks.filter(F.col("rank_fp") > 0)
        .select(
            F.col("n").alias("vec_id"),
            "rank_fp",
            F.round(F.col("rank_fp").cast("double") / F.lit(PR_SCALE), 9).alias(
                "rank"
            ),
        )
    )
