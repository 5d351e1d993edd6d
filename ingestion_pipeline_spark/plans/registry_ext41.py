"""Forty-first registry tranche: retrieval evaluation as a query.

``v_lsh_recall_at_k`` — recall@3 of the LSH-approximate retrieval
against the exact kNN, per probe. Evaluation infrastructure is usually
a notebook afterthought; here it is a first-class VALUE-HASH-GATED
query, possible because both retrieval paths are deterministic: the
exact side is plain SQL, and the LSH side's LCG hyperplanes inline
into the oracle as double literals (the v_lsh_knn_join technique). So
the oracle independently re-derives BOTH rankings and the recall — the
approximation's quality is itself differentially verified.

At 100 TB this is the query you run after every index rebuild: exact
kNN on a sampled probe set (bounded cost) against the production ANN
path, recall per probe + macro average, alerting on regression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as sim
from ..sources.parquet_tables import table
from .registry import _COS_SQL, _LSH_BITS_SQL, _LSH_PER_BAND, register

_K = 3


@register(
    "v_lsh_recall_at_k",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, embedding FROM embeddings),
    sig AS (
        SELECT vec_id, v, [{_LSH_BITS_SQL}] AS bits FROM e
    ),
    banded AS (
        SELECT vec_id, band,
               array_to_string(list_slice(bits, band * {_LSH_PER_BAND} + 1, band * {_LSH_PER_BAND} + {_LSH_PER_BAND}), '') AS bkey
        FROM sig CROSS JOIN (SELECT unnest({list(range(sim.LSH_BANDS))}) AS band) b
    ),
    cand AS (
        SELECT DISTINCT c.vec_id, p.vec_id AS probe_id
        FROM banded c JOIN banded p USING (band, bkey)
        WHERE p.vec_id < 5
    ),
    lsh AS (
        SELECT probe_id, vec_id FROM (
            SELECT cand.probe_id, cand.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cand.probe_id
                       ORDER BY ROUND(CAST(list_cosine_similarity(ce.v, pe.v) AS DOUBLE), 6) DESC,
                                cand.vec_id
                   ) AS rn
            FROM cand
            JOIN e ce ON cand.vec_id = ce.vec_id
            JOIN e pe ON cand.probe_id = pe.vec_id
        ) WHERE rn <= {_K}
    ),
    exact AS (
        SELECT probe_id, vec_id FROM (
            SELECT p.vec_id AS probe_id, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                      ORDER BY {_COS_SQL} DESC, e.vec_id) AS rn
            FROM embeddings e,
                 (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) p
        ) WHERE rn <= {_K}
    )
    SELECT exact.probe_id,
           COUNT(lsh.vec_id) AS n_matched,
           CAST(COUNT(lsh.vec_id) AS DOUBLE) / {_K} AS recall_at_k
    FROM exact LEFT JOIN lsh USING (probe_id, vec_id)
    GROUP BY exact.probe_id
    """,
    "Retrieval evaluation under the gate: recall@3 of the banded-LSH "
    "path vs exact kNN, per probe — both rankings AND the recall "
    "re-derived independently by the oracle (deterministic LCG planes "
    "inlined as double literals). The post-index-rebuild regression "
    "check: exact kNN over a bounded probe sample against the "
    "production ANN path; the expensive side scales with |probes|, "
    "never |corpus|².",
)
def v_lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # r12 (guide §2.4): the ≤5-row probe frame feeds BOTH the exact and
    # the LSH arm — unmaterialized, each compiled arm re-ran the
    # filtered parquet scan. Checkpointed: one probe scan.
    probes = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding"))
        .localCheckpoint(eager=False)
    )
    exact = sim.topk_join(emb, probes, k=_K).select("probe_id", "vec_id")
    # rename BOTH join keys on the LSH side: the frames share the
    # `probes` lineage, and identically-named columns from shared
    # lineage can resolve to one attribute (the analyzer dedups this
    # one correctly — verified in the executed plan — but the rename
    # keeps the join condition warning-free and un-ambiguous by
    # construction, the e_retrieval_mrr discipline)
    lsh = sim.lsh_topk_join(emb, probes, dim=64, k=_K).select(
        F.col("probe_id").alias("lsh_probe_id"),
        F.col("vec_id").alias("lsh_vec_id"),
    )
    joined = exact.join(
        lsh,
        (F.col("probe_id") == F.col("lsh_probe_id"))
        & (F.col("vec_id") == F.col("lsh_vec_id")),
        "left",
    ).select("probe_id", "vec_id", "lsh_vec_id")
    return joined.groupBy("probe_id").agg(
        F.count("lsh_vec_id").alias("n_matched"),
        (F.count("lsh_vec_id").cast("double") / _K).alias("recall_at_k"),
    )
