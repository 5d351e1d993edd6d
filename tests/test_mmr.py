"""MMR diversification pinned against an independent pure-Python
implementation, plus the diversity property the operator exists for:
on a candidate set with near-duplicates, plain top-k picks the dups,
MMR does not.
"""

from __future__ import annotations

import numpy as np

from ingestion_pipeline_spark.operators.similarity import mmr_rerank
from ingestion_pipeline_spark.plans import query_map


def _python_mmr(ids, rel, vecs, k, lam):
    import math

    X = np.asarray(vecs, dtype=np.float64)
    norms = np.sqrt(np.einsum("ij,ij->i", X, X))
    den = np.outer(norms, norms)
    S = np.where(den > 0, (X @ X.T) / np.where(den == 0, 1.0, den), 0.0)
    pair = np.floor(np.abs(S) * 1e6 + 0.5) / 1e6 * np.sign(S)

    def r9(x):
        return math.floor(abs(x) * 1e9 + 0.5) / 1e9 * (1 if x >= 0 else -1)

    selected, out, remaining = [], [], list(range(len(ids)))
    while remaining and len(out) < k:
        scored = []
        for i in remaining:
            pen = max((pair[i, j] for j in selected), default=0.0)
            scored.append((-r9(lam * rel[i] - (1 - lam) * pen), ids[i], i))
        _, _, i = min(scored)
        out.append(ids[i])
        selected.append(i)
        remaining.remove(i)
    return out


def test_mmr_matches_reference_and_diversifies(spark):
    # candidates: one high-relevance family of 3 near-identical vectors
    # plus two distinct directions with lower relevance
    base = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, 0.99, base),
        (2, 0.98, [0.999, 0.01, 0.0, 0.0]),
        (3, 0.97, [0.998, 0.02, 0.0, 0.0]),
        (4, 0.60, [0.0, 1.0, 0.0, 0.0]),
        (5, 0.55, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, sim DOUBLE, embedding ARRAY<DOUBLE>")
    got = mmr_rerank(df, k=3)
    ids = [g[0] for g in got]
    assert ids == _python_mmr(
        [r[0] for r in rows], [r[1] for r in rows], [r[2] for r in rows], 3, 0.7
    )
    # diversity: the three dup-family members must NOT all be picked
    # (plain top-3 would return [1, 2, 3])
    assert not set(ids) >= {1, 2, 3}
    assert ids[0] == 1  # highest relevance always leads


def test_mmr_registry_entry(spark, sf_dir):
    out = query_map()["v_mmr_rerank"](spark, sf_dir).collect()
    assert len(out) == 5
    assert [r["mmr_rank"] for r in out] == list(range(5))
    rels = [r["relevance"] for r in out]
    assert rels[0] == max(rels)  # first pick is the pure-relevance argmax
