"""Vector operator tests vs NumPy brute-force oracle (SURVEY §5 item 4)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from ingestion_pipeline_spark.operators import similarity as sim
from ingestion_pipeline_spark.sources.parquet_tables import table


@pytest.fixture(scope="module")
def emb_np(sf_dir):
    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def _np_topk(ids, mat, probe, k, exclude_id=None):
    sims = mat @ probe / (np.linalg.norm(mat, axis=1) * np.linalg.norm(probe))
    order = sorted(range(len(ids)), key=lambda i: (-round(sims[i], 6), ids[i]))
    out = [(int(ids[i]), round(float(sims[i]), 6)) for i in order if ids[i] != exclude_id]
    return out[:k]


def test_brute_force_topk_matches_numpy(spark, sf_dir, emb_np):
    ids, mat = emb_np
    probe = mat[0]
    got = sim.brute_force_topk(
        table(spark, sf_dir, "embeddings"), "embedding", [float(x) for x in probe], k=10, exclude_id=0
    ).select("vec_id", "sim").collect()
    want = _np_topk(ids, mat, probe, 10, exclude_id=0)
    assert [(r["vec_id"], r["sim"]) for r in got] == want


def test_threshold_semantics(spark, sf_dir):
    """V5/F3 invariants: every sim ≥ threshold and |result| ≤ k."""
    emb = table(spark, sf_dir, "embeddings")
    probe_row = emb.filter(F.col("vec_id") == 3).first()
    rows = sim.brute_force_topk(
        emb, "embedding", [float(x) for x in probe_row["embedding"]], k=7, threshold=0.1, exclude_id=3
    ).collect()
    assert len(rows) <= 7
    assert all(r["sim"] >= 0.1 for r in rows)


def test_topk_join_matches_per_probe_numpy(spark, sf_dir, emb_np):
    ids, mat = emb_np
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = sim.topk_join(emb, probes, k=4).select("probe_id", "vec_id", "sim").collect()
    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append((r["vec_id"], r["sim"]))
    for pid in range(3):
        want = _np_topk(ids, mat, mat[pid], 4)
        assert by_probe[pid] == want


def test_lsh_recall_against_exact(spark, sf_dir, emb_np):
    """ANN contract: recall@k of the banded sign-LSH vs exact kNN
    (SURVEY §5 item 4: 'LSH recall ≥ threshold vs exact')."""
    ids, mat = emb_np
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    approx = sim.lsh_topk_join(emb, probes, dim=64, k=5).select("probe_id", "vec_id").collect()
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["probe_id"], set()).add(r["vec_id"])
    hits = total = 0
    for pid in range(10):
        exact = {vid for vid, _ in _np_topk(ids, mat, mat[pid], 5)}
        total += len(exact)
        hits += len(exact & approx_sets.get(pid, set()))
    recall = hits / total
    # 16 planes / 4 bands over 64-dim noise vectors: modest but must
    # beat random (5/500 = 1%) by a wide margin.
    assert recall >= 0.3, f"LSH recall {recall:.2f} too low"


def test_ivf_topk_recall(spark, sf_dir, emb_np):
    """IVF ANN recall vs exact top-8 for the standard probe (vec_id 0):
    searching 4/16 clusters must retain most of the true neighbors."""
    from ingestion_pipeline_spark.plans import query_map

    ids, mat = emb_np
    got = {r["vec_id"] for r in query_map()["v_ivf_topk"](spark, sf_dir).collect()}
    exact = {vid for vid, _ in _np_topk(ids, mat, mat[0], 8, exclude_id=0)}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_normalize_unit_norm(spark, sf_dir):
    from ingestion_pipeline_spark.functions.vector import norm, normalize

    emb = table(spark, sf_dir, "embeddings").limit(20)
    rows = emb.select(norm(normalize(F.col("embedding"))).alias("n")).collect()
    assert all(abs(r["n"] - 1.0) < 1e-9 for r in rows)


def test_cosine_kernels_null_vectors_yield_null(spark):
    """ADVICE r12: NULL vector rows must propagate to NULL sims (the old
    HOF cosine's SQL semantics), not crash np.stack."""
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.operators.similarity import (
        cosine_pairs_np,
        probe_cosine_np,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0], [1.0, 0.0]), (2, None, [1.0, 0.0]), (3, [0.0, 1.0], None)],
        "id long, a array<double>, b array<double>",
    )
    got = {
        r["id"]: (r["s1"], r["s2"])
        for r in df.select(
            "id",
            probe_cosine_np([1.0, 0.0])(F.col("a")).alias("s1"),
            cosine_pairs_np()(F.col("a"), F.col("b")).alias("s2"),
        ).collect()
    }
    assert got[1] == (1.0, 1.0)
    assert got[2] == (None, None)
    assert got[3][0] == 0.0 and got[3][1] is None
