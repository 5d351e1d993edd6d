"""Unrolled fixed-point PageRank as ANSI SQL — the DuckDB oracle
counterpart of ``operators/graph.py:pagerank_fixed_point`` and of its
local twin ``bounded_pagerank_fixed_point`` (which ranks
tx_textrank_keywords' vocabulary-bounded graph).

The operator's arithmetic is pure integer (BIGINT micro-unit ranks,
``div`` shares, ``(85*contrib) div 100`` damping), so a fixed iteration
count unrolls into ``iters`` chained non-recursive CTEs that any SQL
engine evaluates bit-identically — no float accumulation order, no
recursive-CTE aggregate restrictions. This is what turns the two
iterative graph queries (d_pagerank_neardup, tx_textrank_keywords) from
rows-only gates into full value-hash gates (round-2 verdict directive
#7).

Every integer ``SUM`` is cast straight back to BIGINT — DuckDB promotes
integer sums to HUGEINT (decimal128), the exact typing mismatch that
red-flagged two queries in round 2.
"""

from __future__ import annotations

SCALE = 10**12  # keep in lockstep with operators/graph.py:PR_SCALE


def pagerank_fp_ctes(iters: int = 10) -> str:
    """CTE chain computing fixed-point PageRank over an undirected pair
    CTE named ``pairs(id_a, id_b)`` that the caller must define earlier
    in the WITH list. Exposes ``pr_r{iters}(n, r)`` as the final ranks
    (1e-12 units)."""
    parts = [
        "pr_edges AS (SELECT id_a AS s, id_b AS d FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs)",
        "pr_nodes AS (SELECT DISTINCT s AS n FROM pr_edges)",
        "pr_meta AS (SELECT COUNT(*) AS nt FROM pr_nodes)",
        "pr_deg AS (SELECT s, COUNT(*) AS deg FROM pr_edges GROUP BY s)",
        f"pr_r0 AS (SELECT n, CAST({SCALE} // (SELECT nt FROM pr_meta) "
        "AS BIGINT) AS r FROM pr_nodes)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""pr_r{k} AS (
      SELECT pn.n,
             CAST((15 * {SCALE}) // (100 * (SELECT nt FROM pr_meta))
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


def personalized_pagerank_fp_ctes(seed_pred: str, iters: int = 10) -> str:
    """Personalized variant: restart mass returns to the seed set.
    ``seed_pred`` is a SQL predicate over column ``n`` (e.g.
    ``n % 50 = 0``) selecting seed nodes among ``pr_nodes``. Exposes
    ``pr_r{iters}(n, r)``. Mirrors
    ``operators/graph.py:personalized_pagerank_fixed_point``."""
    parts = [
        "pr_edges AS (SELECT id_a AS s, id_b AS d FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs)",
        "pr_nodes AS (SELECT DISTINCT s AS n FROM pr_edges)",
        f"pr_seeds AS (SELECT n FROM pr_nodes WHERE {seed_pred})",
        "pr_meta AS (SELECT COUNT(*) AS ns FROM pr_seeds)",
        "pr_deg AS (SELECT s, COUNT(*) AS deg FROM pr_edges GROUP BY s)",
        f"""pr_r0 AS (
      SELECT pn.n,
             CAST(CASE WHEN ps.n IS NOT NULL
                       THEN {SCALE} // (SELECT ns FROM pr_meta)
                       ELSE 0 END AS BIGINT) AS r
      FROM pr_nodes pn LEFT JOIN pr_seeds ps ON pn.n = ps.n
    )""",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""pr_r{k} AS (
      SELECT pn.n,
             CAST(CASE WHEN ps.n IS NOT NULL
                       THEN (15 * {SCALE}) // (100 * (SELECT ns FROM pr_meta))
                       ELSE 0 END
                  + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS r
      FROM pr_nodes pn
      LEFT JOIN pr_seeds ps ON pn.n = ps.n
      LEFT JOIN (
          SELECT e.d AS n, CAST(SUM(r.r // g.deg) AS BIGINT) AS contrib
          FROM pr_edges e
          JOIN pr_r{k - 1} r ON e.s = r.n
          JOIN pr_deg g ON e.s = g.s
          GROUP BY e.d
      ) c ON pn.n = c.n
    )"""
        )
    return ",\n    ".join(parts)
