"""Fifty-first registry tranche: distributed exact k-means clustering.

``v_kmeans_clusters`` — 3 Lloyd rounds of k=16 clustering over the full
embeddings corpus, every step exact integer arithmetic
(``operators/kmeans.py``), value-hash gated by the unrolled-CTE oracle
(``plans/kmeans_sql.py``). This is the DISTRIBUTED trainer for the
coarse quantizers that the IVF / PQ / SemDeDup operators train
driver-side on bounded samples — when the sample isn't representative,
this path scans the corpus per round at the PageRank cost envelope
(one Arrow-matmul pass + one (k x dim)-row integer aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.kmeans import KM_K, kmeans_fixed_point
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .kmeans_sql import kmeans_sql
from .registry import register


@register(
    "v_kmeans_clusters",
    kmeans_sql(),
    "Distributed fixed-point k-means (k=16, 3 Lloyd rounds) over the "
    "embeddings corpus: coordinates quantize once to int64 milli-units "
    "(half-away round — engine-identical), assignment is an exact-"
    "integer argmin computed as int64 BLAS in Arrow batches (integer "
    "matmul has no rounding, so 'fast path' and 'reference path' are "
    "the same numbers), centroid update is one posexplode + map-side-"
    "combined SUM div COUNT with empty clusters holding position. "
    "Per round: one corpus scan + a (k x dim)-row bounded collect — "
    "the PageRank cost envelope; the unrolled oracle replays all "
    "rounds bit-for-bit. Distributed counterpart of the bounded-"
    "sample trainers behind v_ivf_topk / v_pq_adc_topk / "
    "d_semantic_dedup.",
)
def v_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)
    return kmeans_fixed_point(emb, k=KM_K)
