"""Fifty-fourth registry tranche (round 4): sequential per-entity state
and late-interaction retrieval.

``w_ewma_user_value`` — per-user EWMA over the event stream via
``applyInPandas`` (recursive state no window frame can express), gated
by the registry's FIRST ``WITH RECURSIVE`` oracle: the DuckDB CTE
replays the identical recursion, and with alpha = 0.5 every
coefficient is an exact binary double, so the floats are bit-identical.

``v_maxsim_late_interaction`` — ColBERT-style MaxSim retrieval
(sum over query token-vectors of max over doc token-vectors of the
dot product), with sentence-level "tokens" embedded by the
un-normalized hashing embedder: every dot/max/sum is exact BIGINT, so
a late-interaction ANN family usually graded by recall gets a full
value hash instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_tokens_sql
from ..operators.similarity import _MAX_DOC_TOKENS, _MAX_QUERY_TOKENS, maxsim_topk
from ..operators.timeseries import ewma_per_entity
from ..sources.parquet_tables import table
from .registry import register

_EWMA_USERS = 40  # bound the graded result like w_running_user_value


@register(
    "w_ewma_user_value",
    f"""
    WITH RECURSIVE base AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS ts_us,
               CAST(value AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < {_EWMA_USERS}
    ), rec AS (
        SELECT user_id, event_id, ts_us, rn, x AS ewma
        FROM base WHERE rn = 1
        UNION ALL
        SELECT b.user_id, b.event_id, b.ts_us, b.rn,
               CAST(0.5 AS DOUBLE) * b.x + CAST(0.5 AS DOUBLE) * r.ewma
        FROM base b JOIN rec r
          ON b.user_id = r.user_id AND b.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts_us, ewma FROM rec
    """,
    "Per-user EWMA (alpha=0.5, pandas ewm adjust=False semantics) over "
    "the event stream — recursive per-entity state that no window frame "
    "expresses, shaped as one user_id shuffle + an Arrow-batched O(n) "
    "sweep with O(1) state (the applyInPandasWithState streaming twin "
    "keeps {last_ewma} per key). alpha=0.5 makes every coefficient an "
    "exact binary double, so the recursion is bit-identical to the "
    "oracle's recursive CTE in the same operand order.",
)
def w_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < _EWMA_USERS)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )
    return ewma_per_entity(
        ev, "user_id", ["ts_us", "event_id"], "value"
    )


_SENTS_SQL = (
    "list_slice(list_filter(list_transform(string_split(text, '.'), "
    f"s -> trim(s)), s -> s <> ''), 1, {_MAX_DOC_TOKENS})"
)


def _tokvec_ctes(src: str, prefix: str, n_tokens: int) -> str:
    """CTE chain: doc → positional sentence explode → md5 token hash →
    integer bucket counts (the v_embed_hashing_check hashing algebra)."""
    return f"""
    {prefix}sent AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ss))) AS sid,
               unnest(ss) AS sent
        FROM (SELECT doc_id, list_slice({_SENTS_SQL}, 1, {n_tokens}) AS ss
              FROM {src})
    ), {prefix}vec AS (
        SELECT doc_id, sid, CAST(h % 16 AS INT) AS b,
               CAST(SUM(CASE WHEN h >> 63 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
        FROM (
            SELECT doc_id, sid,
                   ('0x' || substring(md5(tok), 1, 16))::UBIGINT AS h
            FROM (
                SELECT doc_id, sid,
                       unnest({word_tokens_sql("lower(sent)")}) AS tok
                FROM {prefix}sent
            )
        ) GROUP BY doc_id, sid, b
    )"""


@register(
    "v_maxsim_late_interaction",
    f"""
    WITH {_tokvec_ctes("(SELECT doc_id, text FROM documents WHERE doc_id <> 0)", "d", _MAX_DOC_TOKENS)},
    {_tokvec_ctes("(SELECT doc_id, text FROM documents WHERE doc_id = 0)", "q", _MAX_QUERY_TOKENS)},
    dots AS (
        SELECT d.doc_id, d.sid, q.sid AS qid,
               CAST(SUM(d.v * q.v) AS BIGINT) AS dot
        FROM dvec d JOIN qvec q ON d.b = q.b
        GROUP BY d.doc_id, d.sid, q.sid
    ), alldots AS (
        SELECT g.doc_id, g.sid, q.qid, COALESCE(t.dot, 0) AS dot
        FROM (SELECT DISTINCT doc_id, sid FROM dsent) g
        CROSS JOIN (SELECT DISTINCT sid AS qid FROM qsent) q
        LEFT JOIN dots t
          ON t.doc_id = g.doc_id AND t.sid = g.sid AND t.qid = q.qid
    ), per_q AS (
        SELECT doc_id, qid, MAX(dot) AS best
        FROM alldots GROUP BY doc_id, qid
    )
    SELECT doc_id, CAST(SUM(best) AS BIGINT) AS maxsim
    FROM per_q GROUP BY doc_id
    ORDER BY maxsim DESC, doc_id
    LIMIT 10
    """,
    "ColBERT-style MaxSim late-interaction top-k (Khattab & Zaharia "
    "2020): sentence-level token vectors from the un-normalized hashing "
    "embedder, score = sum over query tokens of max over doc tokens of "
    "the dot product — ALL integer arithmetic, so the usually "
    "recall-graded late-interaction family carries a full value hash. "
    "Plan: linear sentence explode + one Arrow embed pass over the "
    "corpus, a <=4-row broadcast for the query tokens, two doc-keyed "
    "aggregations, TakeOrdered top-k. The oracle re-derives every "
    "bucket count from md5 and closes zero-overlap pairs with a "
    "grid+COALESCE (a sparse bucket join drops dot=0 pairs, which "
    "matters because dots can be negative).",
)
def v_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") != 0)
    query_doc = docs.filter(F.col("doc_id") == 0)
    return maxsim_topk(corpus, query_doc, k=10)


@register(
    "w_holt_trend_forecast",
    f"""
    WITH RECURSIVE base AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS ts_us,
               CAST(value AS DOUBLE) AS x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id < {_EWMA_USERS}
    ), rec AS (
        SELECT user_id, event_id, ts_us, rn,
               x AS l, CAST(0.0 AS DOUBLE) AS b
        FROM base WHERE rn = 1
        UNION ALL
        SELECT nx.user_id, nx.event_id, nx.ts_us, nx.rn,
               CAST(0.5 AS DOUBLE) * nx.x
                 + CAST(0.5 AS DOUBLE) * (r.l + r.b),
               CAST(0.5 AS DOUBLE)
                 * ((CAST(0.5 AS DOUBLE) * nx.x
                       + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
                 + CAST(0.5 AS DOUBLE) * r.b
        FROM base nx JOIN rec r
          ON nx.user_id = r.user_id AND nx.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts_us,
           l AS level, b AS trend, l + b AS forecast
    FROM rec
    """,
    "Per-user Holt linear-trend smoothing (double exponential, "
    "alpha=beta=0.5): level/trend recursion + 1-step-ahead forecast — "
    "the COUPLED recursion generalizes the EWMA contract (the oracle's "
    "recursive CTE carries (l, b) through the identical operand order, "
    "so three float columns hash bit-exact). Same envelope: one "
    "entity shuffle, Arrow O(n) sweep, O(1)=(two doubles) state.",
)
def w_holt_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import holt_per_entity

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < _EWMA_USERS)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    )
    return holt_per_entity(
        ev, "user_id", ["ts_us", "event_id"], "value"
    )
