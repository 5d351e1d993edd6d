"""Unrolled exact-integer PQ training + ADC search as ANSI SQL — the
DuckDB oracle for ``operators/pq.py``'s integer path (the
kmeans_sql/pagerank_sql/bpe_sql discipline applied to product
quantization; verdict r5 directive #4).

Subspaces are DATA, not unrolled SQL: the training relation is
(vec_id, mi, sv) — one row per vector per subspace — so each Lloyd
round is ONE assignment CTE + ONE update CTE regardless of M, exactly
mirroring how the distributed operator treats the subspace id as a
column. Every quantity is an exact int64 (quantized coords, squared
distances, trunc-div centroid means, ADC dot products); the only
floats are the final rerank cosines, computed by the same
``list_cosine_similarity``-vs-``functions/vector.cosine`` parity the
graded ``v_cosine_top8`` already pins.
"""

from __future__ import annotations

from ..operators.kmeans import KM_SCALE
from ..operators.pq import PQ_ITERS, PQ_K, PQ_M
from .kmeans_sql import DIM

# the codebook training rows (vec_id < PQ_TRAIN_N), the probe's vec_id
# and the reranked top-k of both PQ queries
PQ_TRAIN_N, PQ_PROBE, PQ_TOPK = 256, 0, 8
# ADC candidates reranked: v_pq_adc_topk cuts from every code,
# v_ivfadc_topk from the members of the probe's IVF_NPROBE nearest
# of IVF_CELLS cells
ADC_CANDIDATES, IVFADC_CANDIDATES = 64, 32
IVF_CELLS, IVF_NPROBE = 16, 4


def _d2(s: str, c: str, d_sub: int) -> str:
    """Exact int64 squared distance between two BIGINT lists."""
    return (
        f"CAST(list_sum(list_transform(range(0, {d_sub}), "
        f"j -> ({s}[j+1] - {c}[j+1]) * ({s}[j+1] - {c}[j+1]))) AS BIGINT)"
    )


def pq_ctes() -> str:
    """CTE chain exposing ``q`` (quantized vectors), ``subs`` (per-
    subspace view of the corpus), ``pb{PQ_ITERS}`` (trained codebooks),
    ``adctab`` (probe ADC table) and ``adc`` (per-vector exact-int ADC
    score) for composition."""
    m, k, iters, probe_id = PQ_M, PQ_K, PQ_ITERS, PQ_PROBE
    d_sub = DIM // m
    parts = [
        # same quantization expression as kmeans_sql.q — half-away
        # ROUND parity between Spark and DuckDB is verified there
        f"q AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        f"x -> CAST(ROUND(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT)) AS v "
        f"FROM embeddings)",
        f"subs AS MATERIALIZED (SELECT vec_id, mm.mi AS mi, "
        f"list_transform(range(0, {d_sub}), j -> v[mm.mi * {d_sub} + j + 1]) AS sv "
        f"FROM q, UNNEST(range(0, {m})) AS mm(mi))",
        f"ts AS MATERIALIZED (SELECT * FROM subs WHERE vec_id < {PQ_TRAIN_N})",
        # init: codeword cid of subspace mi = training row cid's subvector
        f"pb0 AS MATERIALIZED (SELECT mi, vec_id AS cid, sv AS cv FROM ts "
        f"WHERE vec_id < {k})",
    ]
    for t in range(1, iters + 1):
        parts.append(f"""pa{t} AS MATERIALIZED (
        SELECT vec_id, mi, cid FROM (
            SELECT s.vec_id, s.mi, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id, s.mi
                                      ORDER BY {_d2('s.sv', 'c.cv', d_sub)},
                                               c.cid) AS rk
            FROM ts s JOIN pb{t - 1} c ON s.mi = c.mi
        ) WHERE rk = 1
    )""")
        parts.append(f"""pb{t} AS MATERIALIZED (
        SELECT p.mi, p.cid, COALESCE(u.cv, p.cv) AS cv
        FROM pb{t - 1} p LEFT JOIN (
            SELECT mi, cid, list(cc ORDER BY j) AS cv FROM (
                SELECT a.mi, a.cid, uj.j,
                       CAST(SUM(s.sv[uj.j + 1]) AS BIGINT)
                           // CAST(COUNT(*) AS BIGINT) AS cc
                FROM pa{t} a
                JOIN ts s ON a.vec_id = s.vec_id AND a.mi = s.mi,
                     UNNEST(range(0, {d_sub})) AS uj(j)
                GROUP BY a.mi, a.cid, uj.j
            ) GROUP BY mi, cid
        ) u ON p.mi = u.mi AND p.cid = u.cid
    )""")
    parts += [
        f"pprobe AS MATERIALIZED (SELECT mi, sv FROM subs "
        f"WHERE vec_id = {probe_id})",
        f"""adctab AS MATERIALIZED (
        SELECT c.mi, c.cid,
               CAST(list_sum(list_transform(range(0, {d_sub}),
                    j -> p.sv[j+1] * c.cv[j+1])) AS BIGINT) AS dotp
        FROM pb{iters} c JOIN pprobe p ON c.mi = p.mi
    )""",
        f"""enc AS MATERIALIZED (
        SELECT vec_id, mi, cid FROM (
            SELECT s.vec_id, s.mi, c.cid,
                   row_number() OVER (PARTITION BY s.vec_id, s.mi
                                      ORDER BY {_d2('s.sv', 'c.cv', d_sub)},
                                               c.cid) AS rk
            FROM subs s JOIN pb{iters} c ON s.mi = c.mi
        ) WHERE rk = 1
    )""",
        """adc AS MATERIALIZED (
        SELECT e.vec_id, CAST(SUM(t.dotp) AS BIGINT) AS adc
        FROM enc e JOIN adctab t ON e.mi = t.mi AND e.cid = t.cid
        GROUP BY e.vec_id
    )""",
    ]
    return ",\n    ".join(parts)


def _rerank_select(candidates_cte: str) -> str:
    return f"""
    SELECT e.vec_id,
           ROUND(CAST(list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]),
               CAST(p.embedding AS DOUBLE[])) AS DOUBLE), 6) AS sim
    FROM embeddings e
    JOIN {candidates_cte} USING (vec_id)
    CROSS JOIN (SELECT embedding FROM embeddings
                WHERE vec_id = {PQ_PROBE}) p
    ORDER BY sim DESC, vec_id
    LIMIT {PQ_TOPK}
    """


def pq_adc_sql() -> str:
    """Full v_pq_adc_topk oracle: train → encode → ADC cut → exact
    rerank."""
    return f"""
    WITH {pq_ctes()},
    cand AS (
        SELECT vec_id FROM adc WHERE vec_id <> {PQ_PROBE}
        ORDER BY adc DESC, vec_id LIMIT {ADC_CANDIDATES}
    )
    {_rerank_select('cand')}
    """


def ivfadc_sql() -> str:
    """v_ivfadc_topk oracle: integer IVF pruning (argmax of exact-int
    dot / correctly-rounded sqrt of the centroid's exact int norm² —
    the v_ivf_cell_balance score discipline at KM_SCALE) composed with
    the PQ/ADC cut and exact rerank."""
    dot = (
        f"CAST(list_sum(list_transform(range(0, {DIM}), "
        f"i -> e.v[i+1] * c.cv[i+1])) AS BIGINT)"
    )
    c_norm2 = (
        f"CAST(list_sum(list_transform(range(0, {DIM}), "
        f"i -> cv[i+1] * cv[i+1])) AS BIGINT)"
    )
    return f"""
    WITH {pq_ctes()},
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv, sqrt(CAST({c_norm2} AS DOUBLE)) AS nrm
        FROM q WHERE vec_id < {IVF_CELLS}
    ),
    keep AS (
        SELECT cid FROM (
            SELECT c.cid,
                   row_number() OVER (
                       ORDER BY CAST({dot.replace('e.v', 'p.v')} AS DOUBLE)
                                / c.nrm DESC, c.cid) AS rk
            FROM cent c CROSS JOIN (SELECT v FROM q
                                    WHERE vec_id = {PQ_PROBE}) p
        ) WHERE rk <= {IVF_NPROBE}
    ),
    members AS MATERIALIZED (
        SELECT vec_id FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY CAST({dot} AS DOUBLE) / c.nrm
                                               DESC, c.cid) AS rk
            FROM q e CROSS JOIN cent c
        ) WHERE rk = 1 AND cid IN (SELECT cid FROM keep)
    ),
    cand AS (
        SELECT vec_id FROM adc JOIN members USING (vec_id)
        WHERE vec_id <> {PQ_PROBE}
        ORDER BY adc DESC, vec_id LIMIT {IVFADC_CANDIDATES}
    )
    {_rerank_select('cand')}
    """
