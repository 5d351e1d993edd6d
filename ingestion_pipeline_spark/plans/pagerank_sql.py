"""Unrolled fixed-point PageRank as ANSI SQL — the DuckDB oracle
counterpart of ``operators/graph.py:pagerank_fixed_point`` (uniform or
seeded) and of its local twin ``bounded_pagerank_fixed_point`` (which
ranks tx_textrank_keywords' vocabulary-bounded graph).

The operator's arithmetic is pure integer (BIGINT micro-unit ranks,
``div`` shares, ``(85*contrib) div 100`` damping), so a fixed iteration
count unrolls into ``iters`` chained non-recursive CTEs that any SQL
engine evaluates bit-identically — no float accumulation order, no
recursive-CTE aggregate restrictions. This is what turns the iterative
PageRank queries (d_pagerank_neardup, tx_textrank_keywords and the
seeded d_personalized_pagerank pair) from rows-only gates into full
value-hash gates (round-2 verdict directive #7). One CTE chain serves
both forms, as one operator does: uniform PageRank is the seeded
recurrence with every node a seed.

Every integer ``SUM`` is cast straight back to BIGINT — DuckDB promotes
integer sums to HUGEINT (decimal128), the exact typing mismatch that
red-flagged two queries in round 2.
"""

from __future__ import annotations

from ..operators.graph import PR_ITERS, PR_SCALE

# the CTE that holds the final ranks
PR_RANKS = f"pr_r{PR_ITERS}"


def pagerank_fp_ctes(seed_pred: str = "TRUE") -> str:
    """CTE chain computing fixed-point PageRank over an undirected pair
    CTE named ``pairs(id_a, id_b)`` that the caller must define earlier
    in the WITH list. ``seed_pred`` is a SQL predicate over column ``n``
    (e.g. ``n % 50 = 0``) selecting the seeds the restart mass returns
    to; a NULL predicate is not a seed. The default ``TRUE`` is uniform
    PageRank. Exposes ``PR_RANKS(n, r)`` as the ranks after ``PR_ITERS``
    rounds (1e-12 units). The CASEs around ``PR_SCALE // ns`` and the restart term keep a
    graph with no seeds from dividing by zero: every rank is 0."""
    parts = [
        "pr_edges AS (SELECT id_a AS s, id_b AS d FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs)",
        f"pr_nodes AS (SELECT n, CASE WHEN {seed_pred} THEN 1 ELSE 0 END "
        "AS is_seed FROM (SELECT DISTINCT s AS n FROM pr_edges))",
        "pr_meta AS (SELECT CAST(SUM(is_seed) AS BIGINT) AS ns FROM pr_nodes)",
        "pr_deg AS (SELECT s, COUNT(*) AS deg FROM pr_edges GROUP BY s)",
        f"""pr_r0 AS (
      SELECT n,
             CAST(CASE WHEN is_seed = 1
                       THEN {PR_SCALE} // (SELECT ns FROM pr_meta)
                       ELSE 0 END AS BIGINT) AS r
      FROM pr_nodes
    )""",
    ]
    for k in range(1, PR_ITERS + 1):
        parts.append(
            f"""pr_r{k} AS (
      SELECT pn.n,
             CAST(CASE WHEN pn.is_seed = 1
                       THEN (15 * {PR_SCALE}) // (100 * (SELECT ns FROM pr_meta))
                       ELSE 0 END
                  + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
      FROM pr_nodes pn LEFT JOIN (
          SELECT e.d AS n, CAST(SUM(r.r // g.deg) AS BIGINT) AS contrib
          FROM pr_edges e
          JOIN pr_r{k - 1} r ON e.s = r.n
          JOIN pr_deg g ON e.s = g.s
          GROUP BY e.d
      ) c ON pn.n = c.n
    )"""
        )
    return ",\n    ".join(parts)
