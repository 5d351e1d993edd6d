"""Forty-sixth registry tranche: IVF-PQ (IVFADC) composed ANN.

``v_ivfadc_topk`` — the production billion-scale ANN shape (FAISS's
IVFADC default; Jégou et al. 2011 §IV): IVF coarse quantization prunes
WHICH vectors a probe touches (nprobe=4 of 16 cells → ~1/4 of the
corpus), PQ/ADC shrinks WHAT is read for the scanned ones (8-byte codes
+ a broadcast lookup table instead of float vectors), and an exact
rerank over the top candidates restores precision. Every stage is a
component this repo already verifies separately — deterministic IVF
centroids (``v_ivf_topk``, exact oracle), deterministic PQ codebooks +
ADC (``v_pq_adc_topk``, Python-pinned), exact rerank
(``brute_force_topk``, oracle) — composed here exactly as a production
index would run them. Iterative k-means training → rows-only gate;
recall vs exact top-k asserted in ``tests/test_pq.py``.

At 100 TB: the coarse assignment is one Arrow argmax per batch, the
ADC scan reads M-byte codes (32× less IO than floats), and only
|candidates| true vectors are ever fetched — the memory/IO math that
makes a cluster-resident index possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as sim
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .pq_sql import (
    IVF_CELLS,
    IVF_NPROBE,
    IVFADC_CANDIDATES,
    PQ_PROBE,
    PQ_TOPK,
    PQ_TRAIN_N,
    ivfadc_sql,
)
from .registry import register


@register(
    "v_ivfadc_topk",
    ivfadc_sql(),
    "IVF-PQ composed ANN (FAISS IVFADC shape): coarse-quantize to 16 "
    "deterministic cells, keep the probe's nprobe=4 nearest cells, "
    "ADC-scan only those members' 8-byte PQ codes against the "
    "broadcast lookup table, exact-rerank the top-32 — composition of "
    "three independently-verified stages. Round 6: every stage is "
    "exact int64 (quantized coords at KM_SCALE; IVF score = int dot / "
    "sqrt of the centroid's exact int norm² — the v_ivf_cell_balance "
    "discipline; integer-Lloyd PQ codebooks; integer ADC) so the "
    "composition is VALUE-HASH gated against plans/pq_sql.ivfadc_sql "
    "(previously rows-only). Candidate volume scales as nprobe/16 of "
    "the corpus and the scan reads codes, not floats.",
)
def v_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.kmeans import quantized
    from ..operators.pq import adc_score_int, train_pq_codebooks_int
    from ..operators.similarity import brute_force_topk
    from .registry import _probe

    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)
    q = quantized(emb)

    # ONE driver-side job fetches the 256 (already-quantized) PQ
    # training rows, which contain the 16 seed centroids (vec_id <
    # 16), which contain the probe (vec_id 0) — three separate collect
    # jobs were fixed-cost overhead (verdict r5 directive #2).
    rows = q.filter(F.col("vec_id") < PQ_TRAIN_N).orderBy("vec_id").collect()
    # parity precondition (advice r6): position-keyed codebooks vs the
    # oracle's vec_id-keyed ones coincide only for contiguous 0..n-1 ids
    ids = [r["vec_id"] for r in rows]
    assert ids == list(range(len(ids))), f"non-contiguous train ids: {ids[:8]}…"
    train = np.stack([np.asarray(r["v"], dtype=np.int64) for r in rows])

    # --- IVF stage: exact-int centroids, probe's nprobe cells --------
    cent = train[:IVF_CELLS]
    probe_q = train[PQ_PROBE]
    nrm = np.sqrt((cent * cent).sum(axis=1).astype(np.float64))
    scores = (cent @ probe_q).astype(np.float64) / nrm
    keep = sorted(range(IVF_CELLS), key=lambda i: (-scores[i], i))[:IVF_NPROBE]
    nearest = sim.assign_nearest_quantized(cent, pre_quantized=True)
    members = (
        q.withColumn("cluster", nearest(F.col("v")))
        .filter(F.col("cluster").isin(keep))
        .select("vec_id", "v")
    )

    # --- integer PQ/ADC cut + exact rerank over surviving cells ------
    books = train_pq_codebooks_int(train)
    cand = (
        members.withColumn("adc", adc_score_int("v", probe_q, books))
        .filter(F.col("vec_id") != PQ_PROBE)
        .orderBy(F.desc("adc"), "vec_id")
        .limit(IVFADC_CANDIDATES)
        .select(F.col("vec_id").alias("cand_id"))
    )
    shortlist = emb.join(
        F.broadcast(cand), emb["vec_id"] == F.col("cand_id")
    ).select("vec_id", "embedding")
    return brute_force_topk(
        shortlist, "embedding", _probe(spark, sf_dir), k=PQ_TOPK
    ).select("vec_id", "sim")
