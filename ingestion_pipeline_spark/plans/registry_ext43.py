"""Forty-third registry tranche: split-leakage audit.

``d_split_leakage_check`` — the eval-contamination guard every
training-data pipeline needs between dedup and training: near-dup
CLUSTER members must land in the SAME train/val/test split, or the
held-out sets contain near-copies of training documents and eval
numbers are fiction (the within-corpus form of the benchmark-
contamination problem ``d_contamination_5gram`` checks externally).

Composes two oracle-gated stages — connected-component dup clusters
(``d_dup_clusters``) and deterministic md5-bucket splits
(``d_dataset_split``) — into one audit: per multi-member cluster, how
many distinct splits its members touch, flagged when > 1. The oracle
re-derives BOTH stages (recursive-CTE closure + hash-bucket split) and
the audit on top, so the leakage verdict itself is value-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sampling import _HEX, _SPLIT_SALT, _TRAIN_HI, _VAL_HI
from ..operators.graph import dup_clusters
from ..sources.parquet_tables import table
from .registry import register
from .registry_ext6 import _PAIRS_SQL, block_pairs, components_ctes


def split_case_sql() -> str:
    """The deterministic md5-bucket train/val/test CASE expression of
    ``doc_id`` (oracle twin of ``functions.sampling.dataset_split``,
    built from its constants), exposed so the capped production
    leakage audit (``d_split_leakage_capped``, ext65) shares ONE split
    definition with this exact audit."""
    h = (
        f"CAST(('0x' || substr(md5('{_SPLIT_SALT}' || "
        f"CAST(doc_id AS VARCHAR)), 1, {_HEX})) AS BIGINT)"
    )
    return (
        f"CASE WHEN {h} < {_TRAIN_HI} THEN 'train' "
        f"WHEN {h} < {_VAL_HI} THEN 'val' ELSE 'test' END"
    )


_SPLIT_SQL = f"""
    SELECT doc_id, {split_case_sql()} AS split
    FROM documents
"""


@register(
    "d_split_leakage_check",
    f"""
    WITH RECURSIVE
    {_PAIRS_SQL},
    {components_ctes("pairs")},
    membership AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
    ),
    sp AS ({_SPLIT_SQL})
    SELECT m.component AS cluster_id,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT sp.split) AS n_splits,
           array_to_string(list_sort(list_distinct(list(sp.split))), ',')
               AS splits,
           CAST(COUNT(DISTINCT sp.split) > 1 AS INT) AS leaky
    FROM membership m JOIN sp ON m.doc_id = sp.doc_id
    GROUP BY m.component
    HAVING COUNT(*) >= 2
    """,
    "Split-leakage audit: near-dup cluster members must share a "
    "train/val/test split or held-out eval is contaminated by near-"
    "copies of training docs. Composes the oracle-gated cluster and "
    "split stages; per multi-member cluster the distinct-split count "
    "and a leaky flag, all re-derived independently by the oracle "
    "(recursive closure + hash buckets). The fix when leaky > 0 is "
    "split-by-cluster (assign the CLUSTER id to the hash bucket, not "
    "the doc id) — this query is the regression gate proving you did. "
    "DEPLOYMENT CONTRACT (r10): the cluster stage here is the EXACT "
    "all-co-shingled-pairs audit (jaccard_pairs at 0.12), inherently "
    "quadratic in sub-threshold co-shingle family size — the same "
    "documented status as d_dup_clusters. At scale, deploy it post-"
    "dedup (tools/build_post_dedup.py; measured at 100x: 402 s on the "
    "raw replica -> 105 s post-dedup, r10 sweep), or swap the cluster "
    "stage for the budget-bounded verified-edge components "
    "d_dup_clusters_capped ships (edge list <= _VERIFY_K x docs by "
    "construction) when audit-exactness at 0.12 is not required.",
)
def d_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import dataset_split

    docs, pairs = block_pairs(spark, sf_dir)
    membership = dup_clusters(docs, pairs, "doc_id").select(
        "doc_id", F.col("component").alias("cluster_id")
    )
    splits = table(spark, sf_dir, "documents").select(
        "doc_id", dataset_split(F.col("doc_id")).alias("split")
    )
    joined = membership.join(splits, "doc_id")
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("split").alias("n_splits"),
            F.array_join(
                F.array_sort(F.collect_set("split")), ","
            ).alias("splits"),
            (F.count_distinct("split") > 1).cast("int").alias("leaky"),
        )
        .filter(F.col("n_docs") >= 2)
    )
