"""Unrolled fixed-point k-means as ANSI SQL — the DuckDB oracle for
``operators/kmeans.py`` (the pagerank_sql/bpe_sql discipline applied to
distributed clustering).

Every Lloyd round is exact integer arithmetic — quantized int64
coordinates, exact squared distances, argmin with (dist, cid)
tie-break, ``sum // count`` centroid means (truncation toward zero on
both engines, verified) — so a fixed iteration count unrolls into
chained materialized CTEs that reproduce the distributed operator
bit-for-bit.
"""

from __future__ import annotations

from ..operators.kmeans import KM_ITERS, KM_K, KM_SCALE

# the embeddings' vector length
DIM = 64


def _assign_cte(t: int) -> str:
    """a{t}: assignment of every vector under centroids c{t-1}."""
    dist = (
        f"CAST(list_sum(list_transform(range(0, {DIM}), "
        "i -> (q.v[i+1] - c.cv[i+1]) * (q.v[i+1] - c.cv[i+1]))) AS BIGINT)"
    )
    return f"""a{t} AS MATERIALIZED (
        SELECT vec_id, cid AS cluster, dist FROM (
            SELECT vec_id, cid, dist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rk
            FROM (
                SELECT q.vec_id, c.cid, {dist} AS dist
                FROM q CROSS JOIN c{t - 1} c
            )
        ) WHERE rk = 1
    )"""


def _update_cte(t: int) -> str:
    """c{t}: integer-mean centroids from assignment a{t}; empty
    clusters keep the previous centroid."""
    return f"""c{t} AS MATERIALIZED (
        SELECT p.cid, COALESCE(u.cv, p.cv) AS cv
        FROM c{t - 1} p LEFT JOIN (
            SELECT cluster AS cid, list(c ORDER BY i) AS cv FROM (
                SELECT a.cluster, ui.i,
                       CAST(SUM(q.v[ui.i + 1]) AS BIGINT)
                           // CAST(COUNT(*) AS BIGINT) AS c
                FROM a{t} a JOIN q USING (vec_id),
                     UNNEST(range(0, {DIM})) AS ui(i)
                GROUP BY a.cluster, ui.i
            ) GROUP BY cid
        ) u ON p.cid = u.cid
    )"""


def kmeans_ctes() -> str:
    """The CTE chain alone — exposes ``q`` (quantized vectors),
    ``c{KM_ITERS}`` (final centroids) and ``a{KM_ITERS + 1}`` (final
    assignment) for composition (v_ivf_exact_topk)."""
    parts = [
        "q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(ROUND(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT)) AS v "
        "FROM embeddings)",
        f"c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM q "
        f"ORDER BY vec_id LIMIT {KM_K})",
    ]
    for t in range(1, KM_ITERS + 1):
        parts.append(_assign_cte(t))
        parts.append(_update_cte(t))
    parts.append(_assign_cte(KM_ITERS + 1))
    return ",\n    ".join(parts)


def kmeans_sql() -> str:
    return f"""
    WITH {kmeans_ctes()}
    SELECT vec_id, cluster, dist AS dist_sq FROM a{KM_ITERS + 1}
    """
