"""Thirty-eighth registry tranche: diversified retrieval (MMR).

``v_mmr_rerank`` — maximal-marginal-relevance re-ranking on top of the
exact cosine retrieval: top-30 candidates by relevance, then the greedy
MMR sweep picks 5 balancing relevance against redundancy (λ=0.7). The
standard fix for RAG context windows full of near-duplicate chunks —
and the natural consumer of this repo's near-dup machinery: without
MMR, a corpus with dup families (ours, by construction) fills all k
slots with copies of the best hit.

Iterative greedy selection → rows-only gate; the selection math is
pinned against an independent pure-Python MMR in
``tests/test_mmr.py``, and the relevance stage underneath is the
oracle-gated ``brute_force_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import _MMR_LAMBDA, brute_force_topk, mmr_rerank
from ..sources.parquet_tables import table
from .registry import register

# MMR picks _MMR_K of the top _MMR_CANDIDATES by relevance
_MMR_K, _MMR_CANDIDATES = 5, 30


def _mmr_sql() -> str:
    """Unrolled greedy MMR as chained CTEs (the pagerank_sql/bpe_sql
    discipline): round r picks argmax of
    ``lam*rel - (1-lam)*max(pair_sim to selected)`` over the remaining
    candidates, with the operator's exact rounding (6dp half-away pair
    cosines via DuckDB ROUND, 9dp half-away scores) and (score DESC,
    vec_id) tie-break. ``1 - lam`` is computed in DOUBLE on both sides
    so the multiplier is the identical IEEE value."""
    lam = f"CAST({_MMR_LAMBDA} AS DOUBLE)"
    one_m = f"(CAST(1 AS DOUBLE) - {lam})"
    parts = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""cand AS MATERIALIZED (
        SELECT e.vec_id,
               ROUND(CAST(list_cosine_similarity(e.v, p.v) AS DOUBLE), 6) AS rel,
               e.v
        FROM e, (SELECT v FROM e WHERE vec_id = 0) p
        WHERE e.vec_id <> 0
        ORDER BY rel DESC, e.vec_id LIMIT {_MMR_CANDIDATES}
    )""",
        f"""m1 AS MATERIALIZED (
        SELECT 0 AS mmr_rank, vec_id, rel, ROUND({lam} * rel, 9) AS score, v
        FROM cand ORDER BY score DESC, vec_id LIMIT 1
    )""",
    ]
    for r in range(2, _MMR_K + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id, v FROM m{j}" for j in range(1, r)
        )
        parts.append(
            f"""m{r} AS MATERIALIZED (
        SELECT {r - 1} AS mmr_rank, c.vec_id, c.rel,
               ROUND({lam} * c.rel - {one_m} * (
                   SELECT MAX(ROUND(CAST(list_cosine_similarity(c.v, s.v)
                                         AS DOUBLE), 6))
                   FROM ({sel}) s), 9) AS score, c.v
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM ({sel}) s2)
        ORDER BY score DESC, c.vec_id LIMIT 1
    )"""
        )
    union = " UNION ALL ".join(
        f"SELECT mmr_rank, vec_id, rel, score FROM m{r}" for r in range(1, _MMR_K + 1)
    )
    return f"""
    WITH {','.join(parts)}
    SELECT CAST(mmr_rank AS INTEGER) AS mmr_rank, vec_id,
           rel AS relevance, score AS mmr_score
    FROM ({union})
    """


@register(
    "v_mmr_rerank",
    _mmr_sql(),
    "MMR-diversified retrieval (Carbonell & Goldstein 1998): oracle-"
    "gated exact cosine top-30, then the greedy "
    "λ·relevance − (1−λ)·max-sim-to-selected sweep picks 5 — on a "
    "corpus with dup families, plain top-k returns copies; MMR "
    "returns the family's best member plus genuinely different "
    "contexts. The sweep runs driver-side over the top-N-bounded "
    "candidate set (the bounded-collect class); the distributed work "
    "is the retrieval stage beneath it. The fixed k=5 greedy rounds "
    "unroll into oracle CTEs (half-away rounding, num/den cosines), "
    "so the selection math is value-hash-gated, not just "
    "Python-reference-pinned.",
)
def v_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import _probe

    emb = table(spark, sf_dir, "embeddings")
    cands = (
        brute_force_topk(
            emb, "embedding", _probe(spark, sf_dir), k=_MMR_CANDIDATES, exclude_id=0
        )
        .select("vec_id", "sim")
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    picked = mmr_rerank(cands, k=_MMR_K)
    return spark.createDataFrame(
        [(rank, vid, rel, score) for rank, (vid, rel, score) in enumerate(picked)],
        "mmr_rank INT, vec_id BIGINT, relevance DOUBLE, mmr_score DOUBLE",
    )
