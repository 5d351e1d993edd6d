"""Distributed fixed-point k-means (Lloyd) — clustering whose every
iteration is EXACT integer arithmetic, so the full distributed loop is
reproducible on any engine and a DuckDB oracle can replay it bit-for-bit
(``plans/kmeans_sql.py``).

Why this exists: the IVF / PQ / SemDeDup operators train their
coarse quantizers driver-side on a bounded sample (fine — and their
float k-means is a fixpoint the oracle can't replay, hence rows-only
gates). This operator is the DISTRIBUTED training path for when the
sample isn't enough: assignment runs as an Arrow ``mapInPandas`` over
the full corpus with int64 BLAS (exact — integer matmul has no rounding),
and the centroid update is one ``posexplode`` + map-side-combined
integer aggregate. Per iteration: one corpus scan + one (k x dim)-row
aggregate + one bounded (k x dim) collect — the same cost envelope as a
PageRank round.

Determinism contract (mirrored exactly by the SQL oracle):
- embeddings quantize once: ``round(x * scale)`` half-away-from-zero
  into int64 (Spark ROUND == DuckDB ROUND, verified);
- init centroids = the k lowest vec_ids' quantized vectors;
- assignment = argmin of exact squared distance, ties to the LOWER
  cluster id;
- update = per-dimension integer mean ``sum div count`` (both engines
  truncate toward zero, verified); empty clusters keep their previous
  centroid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KM_SCALE = 1000  # milli-unit quantization of embedding coordinates
# v_kmeans_clusters' cluster count (its oracle, plans/kmeans_sql.py,
# reads it too) and the Lloyd rounds of every caller
KM_K, KM_ITERS = 16, 3


def quantized(emb: DataFrame) -> DataFrame:
    """``(vec_id, v)``: each ``embedding`` coordinate as int64 units of
    1/``KM_SCALE``."""
    return emb.select(
        F.col("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * KM_SCALE).cast("long"),
        ).alias("v"),
    )


def kmeans_fixed_point(
    emb: DataFrame,
    k: int,
) -> DataFrame:
    """Returns the final assignment ``(vec_id, cluster, dist_sq)`` after
    ``KM_ITERS`` Lloyd rounds of exact integer k-means."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    q = quantized(emb).localCheckpoint(eager=True)
    init_rows = q.orderBy("vec_id").limit(k).collect()
    cent = np.stack([np.asarray(r["v"], dtype=np.int64) for r in init_rows])

    out_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("cluster", LongType()),
            StructField("dist_sq", LongType()),
        ]
    )

    def nearest(V: "np.ndarray", centroids: "np.ndarray"):
        """``(d, best)``: exact int64 squared distances of each row of
        ``V`` to each centroid, computed as an explicit difference to
        stay overflow-safe (coords <= ~scale, diffs^2 * dim << 2^63),
        and the nearest centroid (first minimum == lowest cid)."""
        d = np.empty((len(V), centroids.shape[0]), dtype=np.int64)
        for j in range(centroids.shape[0]):
            diff = V - centroids[j][None, :]
            d[:, j] = np.einsum("ij,ij->i", diff, diff)
        return d, d.argmin(axis=1)

    def make_assigner(centroids: "np.ndarray"):
        def assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["v"].to_numpy()).astype(np.int64)
                d, best = nearest(V, centroids)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                        "cluster": best.astype(np.int64),
                        "dist_sq": d[np.arange(len(V)), best],
                    }
                )

        return assign

    # r12 (guide §2.3, aggregate-before-shuffle): the centroid update
    # used to JOIN the assignment back to `q` by vec_id (a corpus-sized
    # shuffle of both sides, every iteration) and posexplode |corpus|×dim
    # (cluster, i, val) rows through a second exchange. One fused
    # mapInPandas now assigns AND pre-aggregates per-partition integer
    # partials (cluster, i, s, n) — ≤ k×dim rows per partition — so the
    # only exchange per round carries k×dim×partitions skinny rows.
    # Value-identical: int64 sums are exactly associative (coords ≤
    # scale, |corpus|·scale ≪ 2^63 — same bound the old global sum
    # relied on), and `s div n` / empty-cluster handling are unchanged.
    upd_schema = StructType(
        [
            StructField("cluster", LongType()),
            StructField("i", LongType()),
            StructField("s", LongType()),
            StructField("n", LongType()),
        ]
    )

    def make_updater(centroids: "np.ndarray"):
        def update(batches):
            k_, dim_ = centroids.shape
            s_acc = np.zeros((k_, dim_), dtype=np.int64)
            n_acc = np.zeros(k_, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["v"].to_numpy()).astype(np.int64)
                _, best = nearest(V, centroids)
                for j in range(k_):
                    mask = best == j
                    if mask.any():
                        s_acc[j] += V[mask].sum(axis=0)
                        n_acc[j] += int(mask.sum())
            hit = np.nonzero(n_acc > 0)[0]
            if len(hit):
                yield pd.DataFrame(
                    {
                        "cluster": np.repeat(hit, dim_).astype(np.int64),
                        "i": np.tile(np.arange(dim_, dtype=np.int64), len(hit)),
                        "s": s_acc[hit].reshape(-1),
                        "n": np.repeat(n_acc[hit], dim_),
                    }
                )

        return update

    for _ in range(KM_ITERS):
        sums = (
            q.mapInPandas(make_updater(cent.copy()), upd_schema)
            .groupBy("cluster", "i")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .select("cluster", "i", F.expr("s div n").alias("c"))
            .collect()  # bounded: k x dim rows
        )
        new_cent = cent.copy()  # empty clusters keep previous centroid
        for r in sums:
            new_cent[r["cluster"], r["i"]] = r["c"]
        cent = new_cent

    return q.mapInPandas(make_assigner(cent.copy()), out_schema)
