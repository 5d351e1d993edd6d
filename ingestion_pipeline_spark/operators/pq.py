"""Product quantization (PQ) — the memory side of billion-scale ANN.

LSH (``similarity.py``) and IVF (``v_ivf_topk``) prune WHICH vectors a
probe scans; PQ shrinks WHAT is scanned: each vector is split into M
subvectors, each subvector replaced by the id of its nearest codeword
from a per-subspace codebook of K entries — M small ints (M·log2 K
bits) instead of dim·32 bits. With M=8, K=16 over 64-d float vectors
that is 256 B → 8 B (32×), which is what lets a 100 TB embedding
corpus's index live in cluster memory.

Query-time scoring is asymmetric distance computation (ADC): the probe
precomputes an M×K table of partial dot products against every
codeword (tiny, driver-side); each vector's approximate score is M
table lookups, numpy work per Arrow batch. The top-C candidates then
get one exact rerank against their true vectors (the two-stage shape
of ``v_two_stage_rerank``; callers: ``v_pq_adc_topk``, ``v_ivfadc_topk``).

Everything here is exact integer arithmetic over vectors quantized by
``kmeans.quantized``: per-subspace Lloyd k-means (init = first K
training rows in id order, fixed iteration count, ties to the lowest
codeword id), so codes and results are reproducible across runs and
engines, and the DuckDB oracle in ``plans/pq_sql.py`` replays them.

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011) is the public reference for the method.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def train_pq_codebooks_int(Q, m: int = 8, k: int = 16, iters: int = 2):
    """Exact-integer per-subspace Lloyd k-means — the ``operators/
    kmeans.py`` determinism discipline applied to PQ training so the
    DuckDB oracle (``plans/pq_sql.py``) can replay every round
    bit-for-bit (verdict r5 directive #4: this is what upgrades
    ``v_pq_adc_topk``/``v_ivfadc_topk`` from rows-only to value-hash
    gates).

    ``Q``: (n, dim) int64 — vectors already quantized by
    ``kmeans.quantized`` (ROUND(x*KM_SCALE), identical on both
    engines). Per subspace: init = first k training rows, exact int64
    squared distances, argmin ties to the lowest codeword id, update =
    per-dim SUM/COUNT with truncation toward zero (Spark ``div`` ==
    DuckDB ``//``, both verified trunc), empty clusters keep their
    previous codeword. Coordinates ≤ ~KM_SCALE so diff²·d_sub ≪ 2^63 —
    no overflow anywhere.

    PARITY PRECONDITION: codewords here are keyed by array POSITION
    (init ``sub[:k]``, argmin ties to the lowest index) while the
    ``plans/pq_sql.py`` oracle keys them by ``vec_id`` (``WHERE vec_id
    < k``, ties to the lowest cid). The two coincide only when the
    training rows are ordered by contiguous ids 0..n-1 — call sites
    assert this after the ordered collect."""
    import numpy as np

    Q = np.asarray(Q, dtype=np.int64)
    n, dim = Q.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    books = np.empty((m, k, d_sub), dtype=np.int64)
    for mi in range(m):
        sub = Q[:, mi * d_sub : (mi + 1) * d_sub]
        cent = sub[:k].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)  # first min == lowest codeword id
            new = cent.copy()  # empty clusters keep previous codeword
            for ki in range(k):
                mask = assign == ki
                if mask.any():
                    s = sub[mask].sum(axis=0)
                    new[ki] = np.sign(s) * (np.abs(s) // int(mask.sum()))
            cent = new
        books[mi] = cent
    return books


def adc_score_int(vq_col: str, probe_q, codebooks_int) -> Column:
    """Exact-integer ADC score: encode each (already-quantized) vector
    against the integer codebooks (argmin of exact int64 squared
    distance per subspace, ties to the lowest codeword id) and sum the
    probe's precomputed integer dot products over the chosen codewords.
    Every value is an exact int64, so the score — and therefore the
    candidate cut ORDER BY adc DESC, vec_id — is engine-independent."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    books = np.asarray(codebooks_int, dtype=np.int64)
    m, k, d_sub = books.shape
    p = np.asarray(probe_q, dtype=np.int64).reshape(m, d_sub)
    # table[mi, ki] = dot(probe_sub_mi, codeword_ki) — exact int64
    table = np.einsum("mkd,md->mk", books, p)

    @pandas_udf(LongType())
    def score(vqs: pd.Series) -> pd.Series:
        if len(vqs) == 0:
            return pd.Series([], dtype="int64")
        V = np.stack(vqs.to_numpy()).astype(np.int64).reshape(-1, m, d_sub)
        total = np.zeros(len(V), dtype=np.int64)
        for mi in range(m):
            d2 = ((V[:, mi, None, :] - books[mi][None, :, :]) ** 2).sum(axis=2)
            total += table[mi, d2.argmin(axis=1)]
        return pd.Series(total)

    return score(F.col(vq_col))
