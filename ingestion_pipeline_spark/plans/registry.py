"""Query plan registry — every implemented operator as a named query with
its DuckDB oracle (SURVEY §5 item 1, the driver's correctness contract).

Each entry: a Spark callable ``(spark, sf_dir) -> DataFrame`` built from
the engine's operator/function library, and (where SQL-expressible) an
ANSI-SQL oracle string DuckDB runs over the same parquet tables. Column
aliases match exactly on both sides; floating-point aggregation happens
in DECIMAL space (see ``functions.exact``) so the order-insensitive value
hashes are bit-identical.

Naming: q* TPC-H-shaped analytics, f* filters, j* joins, g* aggregations,
t* top-k, w* windows, p* nested extraction, x* string/regex, e* set ops,
v* vector, d* dedup, s* scoring.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as tx
from ..functions.exact import (
    cents,
    cents_disc_price,
    exact_avg,
    exact_sum,
    money,
    one_minus,
    one_plus,
    sum_cents,
)
from ..functions.extract import jget_num, jget_str
from ..functions.scoring import (
    base_confidence,
    completeness_ratio,
    final_confidence,
    llm_confidence,
    rag_verdict,
)
from ..operators import dedup as dd
from ..operators import similarity as sim
from ..operators.relational import (
    broadcast_enrich,
    latest_per_key,
    spread,
    topk,
    topk_per_group,
)
from ..sources.parquet_tables import table

# ---- SQL fragments shared by oracles (decimal-exact money math) --------
SQL_EXT = "CAST(l_extendedprice AS DECIMAL(12,2))"
SQL_DISC = "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
SQL_TAX = "(CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))"


def _disc_price() -> F.Column:
    return money("l_extendedprice") * one_minus("l_discount")


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    sql: Optional[str]  # None → non-SQL-expressible, rows-only check
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, sql: Optional[str], doc: str):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        # a silent overwrite would re-point an already-graded contract
        # at different semantics (and hide the collision from the
        # graded-window composer) — fail loudly at import instead
        if name in REGISTRY:
            raise ValueError(
                f"duplicate registry entry {name!r}: already defined by "
                f"{REGISTRY[name].spark.__module__}"
            )
        REGISTRY[name] = QuerySpec(name, fn, sql, doc)
        return fn

    return deco


# The driver grades exactly the FIRST 50 entries of ``query_map()``
# (row count + schema + value hash vs the DuckDB oracle at sf0.01) and
# records ``err: no_oracle`` for any graded entry without SQL.  Order is
# therefore part of the contract: this curated window holds the 50 most
# operator-diverse oracle-backed queries (one per §2 family member where
# possible); everything else — still locally verified by
# ``tools/check_correctness.py`` over the full registry — follows, with
# the genuinely non-SQL-expressible entries (approximate ANN / sketch
# ops, graded rows-only) last.
# Round-12 window (generated by tools/compose_window.py, pins first):
# d_minhash_lsh_candidates / d_simhash_fingerprints pinned (VERDICT
# r11 #1: both rows-only, last driver-graded r1 where only
# err:no_oracle was recorded with no row count — the last two
# pre-modern grades in the registry; their math is value-gated via the
# oracle-green md5/portable twins regraded r11, and both pass the
# registry-wide scalar-output contract test, so these slots close the
# records gap, not a correctness gap); then the three never-graded
# r12 queries (the capped graph-diagnostic trio, VERDICT r11 #2:
# g_triangle_census_capped, d_personalized_pagerank_capped,
# d_lpa_communities_capped — never-graded sorts alphabetically);
# then 45 oldest-grade regrades continuing the rotation through the
# r7-graded block (churn-desc tiebreak within the same last-grade
# cohort). Regenerated at final r12 HEAD (the r10/r11 precedent).
GRADED_WINDOW = [
    "d_minhash_lsh_candidates",
    "d_simhash_fingerprints",
    "d_lpa_communities_capped",
    "d_personalized_pagerank_capped",
    "g_triangle_census_capped",
    "v_embed_hashing_check",
    "tx_bpe_tokenize",
    "tx_chunk_overlap",
    "t_topk_per_group_pandas",
    "v_two_stage_rerank",
    "d_lpa_communities",
    "d_pagerank_neardup",
    "g_grouping_sets_revenue",
    "j_asof_click_before_purchase",
    "mm_media_features",
    "q9_nation_profit",
    "v_ivfadc_topk",
    "v_pq_adc_topk",
    "w_gapfill_hourly",
    "w_session_window_rollup",
    "d_difficulty_buckets",
    "dq_orders_expectations",
    "g_countmin_heavy_hitters",
    "g_incremental_rollup_refresh",
    "g_value_trend",
    "pipeline_corpus_prep",
    "g_zorder_orders",
    "j_fuzzy_name_pairs",
    "w_running_user_value",
    "tx_quality_scores",
    "d_minhash_jaccard_calibration",
    "q15_top_supplier",
    "q19_flexible_or",
    "q7_nation_trade",
    "rag_answer_end_to_end",
    "tx_bpe_merges",
    "g_triangle_counts",
    "w_cohort_retention",
    "d_contamination_5gram",
    "tx_gopher_quality_flags",
    "tx_repetition_ratio",
    "w_funnel_conversion",
    "d_dup_clusters",
    "d_stratified_sample",
    "g_pivot_returnflag",
    "j_price_band_join",
    "q11_top_brand_value",
    "q12_priority_by_returnflag",
    "q13_order_count_distribution",
    "q16_supplier_count_by_part",
]


# Documented reference twins / pedagogical demos: correct and
# oracle-gated, but deliberately NOT the production path (each names its
# production counterpart).  bench.py reports them in a separate subtotal
# (verdict r5 directive #6) so round-over-round wall comparisons track
# the engine, not a twin's known cost (tx_bpe_tokenize_fold's unrolled
# 10k-fold codegen compiles in 3-21 s by design; the Arrow production
# path tx_bpe_tokenize runs ~1 s).
TWIN_QUERIES = {
    "tx_bpe_tokenize_fold",  # production path: tx_bpe_tokenize
}


def _ordered_names() -> list[str]:
    window = [n for n in GRADED_WINDOW if n in REGISTRY]
    seen = set(window)
    rest_oracle = [
        n for n, s in REGISTRY.items() if n not in seen and s.sql is not None
    ]
    rest_rows_only = [
        n for n, s in REGISTRY.items() if n not in seen and s.sql is None
    ]
    return window + rest_oracle + rest_rows_only


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].spark for name in _ordered_names()}


def oracle_sql_map() -> dict[str, str]:
    return {
        name: REGISTRY[name].sql
        for name in _ordered_names()
        if REGISTRY[name].sql is not None
    }


# =======================================================================
# q* — TPC-H-shaped analytics (scan→filter→join→agg→sort→limit)
# =======================================================================

@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM({SQL_EXT}) AS DOUBLE) AS sum_base_price,
           CAST(SUM({SQL_EXT} * {SQL_DISC}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({SQL_EXT} * {SQL_DISC} * {SQL_TAX}) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM({SQL_EXT}) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: single-pass wide aggregate over the fact table. "
    "Partial (map-side) aggregation makes this shuffle only |groups| rows.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Money math in integer-cents space (functions/exact.py): exact and
    # value-identical to the decimal oracle, but every per-row term is
    # primitive codegen arithmetic and every SUM updates a mutable LONG
    # buffer — measured ~3× faster than decimal-space on this 8-agg
    # shape at the 10× smoke.
    qty_c = cents("l_quantity")
    ext_c = cents("l_extendedprice")
    disc_c = cents("l_discount")
    tax_c = cents("l_tax")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-12-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_cents(qty_c, "sum_qty", 2),
            sum_cents(ext_c, "sum_base_price", 2),
            sum_cents(ext_c * (F.lit(100) - disc_c), "sum_disc_price", 4),
            sum_cents(
                ext_c * (F.lit(100) - disc_c) * (F.lit(100) + tax_c), "sum_charge", 6
            ),
            (F.sum(qty_c) / F.lit(100.0) / F.count(F.col("l_quantity"))).alias("avg_qty"),
            (F.sum(ext_c) / F.lit(100.0) / F.count(F.col("l_extendedprice"))).alias(
                "avg_price"
            ),
            (F.sum(disc_c) / F.lit(100.0) / F.count(F.col("l_discount"))).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST(SUM({SQL_EXT} * {SQL_DISC}) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "TPC-H Q3 shape: selective dim filter → fact join → agg → top-k. "
    "customer is broadcast; only lineitem⋈orders shuffles.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-06-01"))
    )
    # customer is filtered 5x down → broadcast; orders⋈lineitem is the one
    # shuffle (both fact-sized at scale — AQE may still broadcast locally).
    return (
        broadcast_enrich(orders, cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum_cents(cents_disc_price(), "revenue", 4))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    f"""
    SELECT n_name,
           CAST(SUM({SQL_EXT} * {SQL_DISC}) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1999-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    "TPC-H Q5 shape: 6-way join; all dims broadcast, single fact shuffle "
    "for lineitem⋈orders.",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = broadcast_enrich(nation, region, F.col("n_regionkey") == F.col("r_regionkey"))
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1999-01-01")))
    )
    li = table(spark, sf_dir, "lineitem")
    # orders/customer are fact-sized at 100 TB: no broadcast hint — the
    # join shuffles on its key (AQE demotes to broadcast when they fit).
    # supplier/nation are dims → explicit broadcast.
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum_cents(cents_disc_price(), "revenue", 4))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@register(
    "q10_returned_revenue",
    f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({SQL_EXT} * {SQL_DISC}) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue per customer, top-20.",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    # orders/customer fact-sized at scale → shuffle joins under AQE;
    # nation is the only true dim here.
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_name", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum_cents(cents_disc_price(), "revenue", 4))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# =======================================================================
# f* — filters (SURVEY §2.4)
# =======================================================================

@register(
    "f_orders_combo",
    """
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM orders
    WHERE o_orderstatus IN ('O', 'F')                       -- F5 isin
      AND o_orderdate BETWEEN TIMESTAMP '1996-03-01' AND TIMESTAMP '1996-09-30'  -- F6 range
      AND regexp_matches(o_orderpriority, '^[12]-')          -- F8 rlike
      AND o_totalprice > 250000                              -- F4 threshold
    """,
    "F4/F5/F6/F8 combined predicate — all pushed to the parquet scan.",
)
def f_orders_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "F"))
        .filter(
            F.col("o_orderdate").between(
                F.to_timestamp(F.lit("1996-03-01")), F.to_timestamp(F.lit("1996-09-30"))
            )
        )
        .filter(F.col("o_orderpriority").rlike("^[12]-"))
        .filter(F.col("o_totalprice") > 250000)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@register(
    "f_prefix_sources",
    """
    SELECT source, COUNT(*) AS n_docs
    FROM documents
    WHERE starts_with(source, 'src1')    -- F1 prefix filter (scanner/scan.py:59)
      AND lang <> 'zh'                   -- F9-style guard
    GROUP BY source
    """,
    "F1 startswith filter (the reference's CVE-prefix filter, "
    "scanner/scan.py:55-62) + group count.",
)
def f_prefix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").startswith("src1") & (F.col("lang") != "zh"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


# =======================================================================
# j* — joins (SURVEY §2.5)
# =======================================================================

@register(
    "j_customer_geo",
    """
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE c_acctbal > 5000
    """,
    "J1-shape dim enrichment: two broadcast hash joins, zero shuffles of "
    "the big side.",
)
def j_customer_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        broadcast_enrich(cust, nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@register(
    "j_customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    "Left-anti join (F9 absence guard at table granularity).",
)
def j_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "j_big_spender_semi",
    """
    SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
    "Left-semi join — existence check without fan-out (J1 point-lookup "
    "shape, chatbot_pg/main.py:85-96).",
)
def j_big_spender_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    big = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return cust.join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "j_verify_full_outer",
    """
    WITH vector_side AS (
        SELECT doc_id, source FROM documents WHERE lang = 'en'
    ), remote_side AS (
        SELECT vec_id, label FROM embeddings WHERE label >= 5
    )
    SELECT COALESCE(v.doc_id, r.vec_id) AS id,
           CASE WHEN v.doc_id IS NOT NULL AND r.vec_id IS NOT NULL
                THEN 'verified' ELSE 'partial' END AS status,
           COALESCE(v.source, '') AS source,
           COALESCE(r.label, -1) AS label
    FROM vector_side v FULL OUTER JOIN remote_side r ON v.doc_id = r.vec_id
    """,
    "J2 — the reference's verified/partial full-outer enrichment "
    "(llama-chatbot/main.py:154-193, status at :183).",
)
def j_verify_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.scoring import verification_status

    vec = table(spark, sf_dir, "documents").filter(F.col("lang") == "en").select("doc_id", "source")
    rem = table(spark, sf_dir, "embeddings").filter(F.col("label") >= 5).select("vec_id", "label")
    joined = vec.join(rem, vec.doc_id == rem.vec_id, "full_outer")
    return joined.select(
        F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("id"),
        verification_status(F.col("doc_id").isNotNull(), F.col("vec_id").isNotNull()).alias("status"),
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        F.coalesce(F.col("label"), F.lit(-1)).alias("label"),
    )


# =======================================================================
# g* — aggregations (SURVEY §2.6)
# =======================================================================

@register(
    "g_events_stats",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(value) AS avg_value,
           MIN(epoch_us(ts)) AS first_us,
           MAX(epoch_us(ts)) AS last_us
    FROM events
    GROUP BY event_type
    """,
    "G1 count-per-group + exact sum/avg + min/max timestamps "
    "(llama-chatbot/main.py:561 count shape).",
)
def g_events_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            exact_sum("value", "sum_value"),
            exact_avg("value", "avg_value"),
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
    )


@register(
    "g_collect_docs_per_source",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
    FROM documents
    WHERE lang = 'de'
    GROUP BY source
    """,
    "G2 collect-list per group (scanner/scan.py:56-62), order-normalized "
    "for determinism.",
)
def g_collect_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .filter(F.col("lang") == "de")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("doc_ids"),
        )
    )


@register(
    "g_rollup_orders",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "Hierarchical rollup (capability superset — reference has no grouping "
    "sets; Spark executes as a single Expand+Aggregate).",
)
def g_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("total"),
        )
    )


# =======================================================================
# t* — top-k / sort / limit (SURVEY §2.7)
# =======================================================================

@register(
    "t_top_orders",
    """
    SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 5
    """,
    "T2 global top-k: TakeOrdered, no full sort (k=5 — "
    "chatbot/llama_index_chatbot.py:20).",
)
def t_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk(
        table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        5,
    )


@register(
    "t_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, rank
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders
    ) WHERE rank <= 3
    """,
    "T1 per-group top-k via row_number window — one shuffle on the group "
    "key.",
)
def t_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk_per_group(
        table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rank")


@register(
    "t_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
    FROM (
        SELECT user_id, event_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    "T4/T5 latest-per-key (llama-chatbot/main.py:402-406 latest-run pick).",
)
def t_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_per_key(
        table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts"),
        "user_id",
        [F.col("ts").desc(), F.col("event_id")],
    ).select("user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us"))


# =======================================================================
# w* — window / time-bucket analytics (SURVEY §2.11 W6 capability)
# =======================================================================

@register(
    "w_running_user_value",
    """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_value
    FROM events
    WHERE user_id < 50
    """,
    "Running total per key (batch form of a stateful streaming aggregate).",
)
def w_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias("running_value"),
        )
    )


@register(
    "w_hourly_event_rollup",
    """
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    "W6 tumbling-window aggregate — identical code becomes a streaming "
    "windowed agg under readStream + withWatermark.",
)
def w_hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value", "sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# =======================================================================
# p* — nested JSON extraction with defaults (SURVEY §2.3 P1/P2)
# =======================================================================

@register(
    "p_props_extraction",
    """
    SELECT event_type,
           CAST(SUM(CAST(COALESCE(json_extract_string(props, '$.k'), '0') AS DECIMAL(12,2))) AS DOUBLE)
             / COUNT(*) AS avg_k,
           COUNT(CASE WHEN json_extract_string(props, '$.missing') IS NULL THEN 1 END) AS n_defaulted
    FROM events
    GROUP BY event_type
    """,
    "P1 default-on-missing JSON path extraction over raw JSON "
    "(consumer/consumer.py:80-104 never-throw semantics).",
)
def p_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JsonPath evaluation is the CPU cost here; a single-file fixture
    # scan is 1 partition, so spread the parse across cores (no-op on
    # split layouts — the spread() contract)
    ev = spread(table(spark, sf_dir, "events"))
    k = jget_num("props", "$.k")
    missing = F.get_json_object(F.col("props"), "$.missing")
    return ev.groupBy("event_type").agg(
        (F.sum(k.cast("decimal(12,2)")).cast("double") / F.count("*")).alias("avg_k"),
        F.count(F.when(missing.isNull(), 1)).alias("n_defaulted"),
    )


# =======================================================================
# x* — string / regex scalar functions (SURVEY §2.9)
# =======================================================================

@register(
    "x_cve_extraction",
    """
    SELECT doc_id,
           regexp_extract('see CVE-2024-' || lpad(CAST(1000 + doc_id % 9000 AS VARCHAR), 4, '0')
                          || ' and CVE-2023-0001 today', 'CVE-\\d{4}-\\d+', 0) AS first_cve,
           array_to_string(
             list_sort(list_distinct(regexp_extract_all(
               'see CVE-2024-' || lpad(CAST(1000 + doc_id % 9000 AS VARCHAR), 4, '0')
               || ' and CVE-2023-0001 today', 'CVE-\\d{4}-\\d{4,7}'))), ',') AS all_cves
    FROM documents
    """,
    "X1/X2 — CVE id regex extraction, first-match and all-distinct "
    "(llama-chatbot/main.py:290-294; chatbot/main.py:121-128).",
)
def x_cve_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("see CVE-2024-"),
        F.lpad((F.lit(1000) + F.col("doc_id") % 9000).cast("string"), 4, "0"),
        F.lit(" and CVE-2023-0001 today"),
    )
    return docs.select(
        "doc_id",
        tx.extract_first_cve(synth).alias("first_cve"),
        F.concat_ws(",", F.array_sort(tx.extract_cve_ids(synth))).alias("all_cves"),
    )


# the oracles' whitespace word tokens of lower(text)
_TOKS = tx.word_tokens_sql("lower(text)")


@register(
    "x_text_stats",
    f"""
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(list_filter({_TOKS},
                           t -> list_contains({tx.STOPWORDS!r}, t))) AS n_stopwords,
           substring(text, 1, 40) AS head
    FROM documents
    """,
    "X4/X5 + token counting — whitespace tokenizer, stopword counter, "
    "truncation (chatbot/main.py:155-160).",
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # higher-order-function-heavy projection: spread the single-file
    # fixture scan across cores (no-op on split layouts)
    docs = spread(table(spark, sf_dir, "documents"))
    toks = tx.word_tokens(F.lower(F.col("text")))
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: t.isin(tx.STOPWORDS))).alias("n_stopwords"),
        tx.truncate(F.col("text"), 40).alias("head"),
    )


# =======================================================================
# e* — set operations / RAG eval (SURVEY §2.8, V9)
# =======================================================================

@register(
    "e_rag_verdicts",
    """
    WITH pairs AS (
        SELECT a.doc_id,
               list_distinct(
                 list_transform(string_split(lower(a.text), '.'), p -> trim(p))) AS resp,
               list_distinct(
                 list_transform(string_split(lower(b.text), '.'), p -> trim(p))) AS ctx
        FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    )
    SELECT doc_id,
           CASE WHEN len(list_filter(resp, p -> NOT list_contains(ctx, p))) > 0 THEN 'FP'
                WHEN len(list_filter(ctx, p -> NOT list_contains(resp, p))) > 0 THEN 'FN'
                ELSE 'TP' END AS verdict
    FROM pairs
    """,
    "V9/E1 — the reference's RAG evaluator: phrase-set provenance "
    "TP/FP/FN via array_except (llama-chatbot/eval.py:16-30). The empty "
    "phrase from a trailing '.' is a set member, exactly as in the "
    "reference's str.split('.') — context 'foo.' vs response 'foo' is FN.",
)
def e_rag_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id"), F.col("text").alias("resp_text"))
    b = docs.select((F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("ctx_text"))
    return a.join(b, "doc_id").select(
        "doc_id",
        rag_verdict(F.col("resp_text"), F.col("ctx_text")).alias("verdict"),
    )


# =======================================================================
# v* — vector similarity (SURVEY §2.10 V3-V5)
# =======================================================================

_COS_SQL = """
    ROUND(CAST(list_cosine_similarity(
        CAST(e.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])) AS DOUBLE), 6)
"""


def _probe(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """Fetch the probe vector (the engine parameterizes probes exactly as
    the reference parameterizes query embeddings)."""
    row = (
        table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == vec_id).select("embedding").first()
    )
    return [float(x) for x in row["embedding"]]


@register(
    "v_cosine_top8",
    f"""
    SELECT e.vec_id, e.label, {_COS_SQL} AS sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) p
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id
    LIMIT 8
    """,
    "V3/V4+T2 — exact cosine top-k (k=8, chatbot/main.py:68): projection "
    "+ TakeOrdered, no shuffle of the corpus.",
)
def v_cosine_top8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(
        emb, "embedding", _probe(spark, sf_dir), k=8, exclude_id=0
    ).select("vec_id", "label", "sim")


@register(
    "v_threshold_search",
    f"""
    SELECT e.vec_id, {_COS_SQL} AS sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) p
    WHERE e.vec_id <> 0 AND {_COS_SQL} >= 0.2
    ORDER BY sim DESC, e.vec_id
    LIMIT 5
    """,
    "V5+F3 — similarity search with score threshold (0.5/0.7 semantics, "
    "chatbot/main.py:66-71,113-117): filter *before* top-k, so Catalyst "
    "pushes it below the sort.",
)
def v_threshold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(
        emb, "embedding", _probe(spark, sf_dir), k=5, threshold=0.2, exclude_id=0
    ).select("vec_id", "sim")


@register(
    "v_knn_join",
    f"""
    SELECT probe_id, vec_id, sim FROM (
        SELECT p.vec_id AS probe_id, e.vec_id, {_COS_SQL} AS sim,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY {_COS_SQL} DESC, e.vec_id) AS rn
        FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) p
    ) WHERE rn <= 3
    """,
    "V3 many-probe exact kNN join: broadcast probes × corpus with "
    "per-probe window top-k (the batch form of the RAG retrieve step).",
)
def v_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding")
    )
    return sim.topk_join(emb, probes, k=3).select("probe_id", "vec_id", "sim")


# The LSH hyperplanes are a deterministic LCG stream (``sim.LSH_SEED``),
# so the "approximate" query is exactly reproducible: inline the plane
# constants into the oracle as DOUBLE[] literals and re-derive the
# banded-signature join in SQL. 17-sig-digit literals round-trip to the
# identical float64 the pandas-UDF matmul uses; sign decisions agree
# unless a dot product sits within ~1e-15 of zero (never on this data).
_LSH_PLANES = sim.random_hyperplanes(dim=64, n_planes=sim.LSH_PLANES)
_LSH_PLANE_SQL = [
    "CAST([" + ", ".join(f"{x:.17g}" for x in plane) + "] AS DOUBLE[])"
    for plane in _LSH_PLANES
]
_LSH_BITS_SQL = ",\n           ".join(
    f"CASE WHEN list_dot_product(v, {p}) >= 0 THEN '1' ELSE '0' END"
    for p in _LSH_PLANE_SQL
)
_LSH_PER_BAND = sim.LSH_PLANES // sim.LSH_BANDS


@register(
    "v_lsh_knn_join",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sig AS (
        SELECT vec_id, v,
           [{_LSH_BITS_SQL}] AS bits
        FROM e
    ),
    banded AS (
        SELECT vec_id, band,
               array_to_string(list_slice(bits, band * {_LSH_PER_BAND} + 1, band * {_LSH_PER_BAND} + {_LSH_PER_BAND}), '') AS bkey
        FROM sig CROSS JOIN (SELECT unnest({list(range(sim.LSH_BANDS))}) AS band) b
    ),
    cand AS (
        SELECT DISTINCT c.vec_id, p.vec_id AS probe_id
        FROM banded c JOIN banded p USING (band, bkey)
        WHERE p.vec_id < 5
    )
    SELECT probe_id, vec_id, sim FROM (
        SELECT cand.probe_id, cand.vec_id,
               ROUND(CAST(list_cosine_similarity(ce.v, pe.v) AS DOUBLE), 6) AS sim,
               ROW_NUMBER() OVER (
                   PARTITION BY cand.probe_id
                   ORDER BY ROUND(CAST(list_cosine_similarity(ce.v, pe.v) AS DOUBLE), 6) DESC,
                            cand.vec_id
               ) AS rn
        FROM cand
        JOIN e ce ON cand.vec_id = ce.vec_id
        JOIN e pe ON cand.probe_id = pe.vec_id
    ) WHERE rn <= 3
    """,
    "V3 at scale: banded sign-LSH candidate join + exact re-rank. "
    "Deterministic LCG hyperplanes, so the full candidate set has an "
    "exact SQL oracle (recall vs exact kNN additionally pytest-checked).",
)
def v_lsh_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding")
    )
    return sim.lsh_topk_join(emb, probes, dim=64, k=3).select("probe_id", "vec_id", "sim")


# =======================================================================
# d* — deduplication family (training-data ops)
# =======================================================================

@register(
    "d_exact_dup_groups",
    f"""
    SELECT md5({tx.collapse_ws_sql("trim(lower(text))")}) AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    "Exact dedup: hash-groupBy on normalized-content digest — one "
    "uniform shuffle at any scale.",
)
def d_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dup_groups(table(spark, sf_dir, "documents"), "text", "doc_id")


_SHINGLES_SQL = """
    list_distinct(CASE WHEN len({toks}) >= 3 THEN
        list_transform(range(0, greatest(len({toks}) - 3, 0) + 1),
                       i -> array_to_string(list_slice({toks}, i + 1, i + 3), ' '))
        ELSE [] END)
""".format(toks=_TOKS)


def _mh_sql(i: int) -> str:
    """Slot ``i`` of the md5 MinHash signature over ``_SHINGLES_SQL`` —
    the oracle twin of ``operators.dedup.md5_signatures``."""
    return (
        f"list_min(list_transform({_SHINGLES_SQL}, "
        f"s -> md5(CAST({i} AS VARCHAR) || '|' || s))) AS mh_{i}"
    )


@register(
    "d_jaccard_pairs",
    f"""
    WITH sh AS (
        SELECT source || '|' || lang AS block, doc_id AS doc,
               {_SHINGLES_SQL} AS s
        FROM documents
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc AS id_a, b.doc AS id_b,
               ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
        FROM sh a JOIN sh b ON a.block = b.block AND a.doc < b.doc
    ) WHERE jaccard >= 0.12
    """,
    "N-gram Jaccard near-dup pairs within (source,lang) blocks — the "
    "exact-verification stage of the dedup pipeline (blocks come from "
    "MinHash LSH buckets at scale). DEPLOYMENT CONTRACT (r10): with "
    "coarse (source,lang) blocks this is the quadratic exact audit — "
    "pairwise Jaccard over every co-blocked pair (80-400 s at 100x "
    "depending on ambient, r10 sweeps) — kept as the oracle-gated "
    "ground truth. Production blocking is the cascade's banded "
    "candidates: pipeline_dedup_cascade / d_dup_clusters_capped run "
    "the SAME jaccard3_bp verification over LSH-bucketed, budget-"
    "ranked pairs (<= _VERIFY_K x docs by construction).",
)
def d_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").withColumn(
        "block", F.concat_ws("|", F.col("source"), F.col("lang"))
    )
    return dd.jaccard_pairs(docs, "text", "doc_id", "block", threshold=0.12)


@register(
    "d_minhash_lsh_candidates",
    None,  # xxhash64: no DuckDB equivalent — exact Python oracle in plans/bounds.py
    "MinHash+LSH near-dup candidate pairs: shingle → 32-hash signature → "
    "16 bands × 2 rows → bucket equi-join. Never materializes a cross product.",
)
def d_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_lsh_candidates(table(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "d_simhash_fingerprints",
    None,  # xxhash64-based — exact Python oracle in plans/bounds.py
    "64-bit SimHash fingerprints per document (near-dup signature; "
    "Hamming-close docs share signatures).",
)
def d_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = dd.spread(table(spark, sf_dir, "documents"))
    return docs.select("doc_id", dd.simhash64(F.col("text")).alias("simhash"))


# =======================================================================
# s* — deterministic scoring (SURVEY §2.10 V10)
# =======================================================================

@register(
    "s_confidence_scores",
    f"""
    WITH joined AS (
        SELECT d.doc_id, d.text,
               (e.vec_id IS NOT NULL) AS has_vector,
               CASE WHEN e.vec_id IS NOT NULL THEN d.text END AS vector_text,
               CASE WHEN d.source <> '' THEN d.source || ' ' || d.lang END AS nvd_text,
               CAST(CASE WHEN d.lang <> '' THEN 1 ELSE 0 END
                + CASE WHEN d.source <> '' THEN 1 ELSE 0 END
                + CASE WHEN d.n_chars > 0 THEN 1 ELSE 0 END AS DOUBLE)
                 / CAST(3.0 AS DOUBLE) AS completeness
        FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
    ), base AS (
        -- every intermediate is IEEE DOUBLE (a DECIMAL literal anywhere
        -- would compute exact 0.805 where Spark computes 0.80499999…)
        SELECT doc_id, has_vector,
               LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
                   CAST(0.5 AS DOUBLE)
                       + CASE WHEN has_vector THEN CAST(0.25 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END
                       + CAST(0.25 AS DOUBLE) * CAST(completeness AS DOUBLE)))
                 AS base_conf,
               CAST(COALESCE(len({tx.word_tokens_sql("vector_text")}), 0)
                    AS DOUBLE) / CAST(100.0 AS DOUBLE) AS vector_score,
               CAST(COALESCE(len({tx.word_tokens_sql("nvd_text")}), 0)
                    AS DOUBLE) / CAST(100.0 AS DOUBLE) AS nvd_score
        FROM joined
    ), pre AS (
        SELECT doc_id, has_vector,
               LEAST(CAST(1.0 AS DOUBLE), GREATEST(CAST(0.0 AS DOUBLE),
                   CAST(0.7 AS DOUBLE) * base_conf
                 + CAST(0.3 AS DOUBLE) * LEAST(CAST(1.0 AS DOUBLE),
                       GREATEST(CAST(0.0 AS DOUBLE),
                           CAST(0.6 AS DOUBLE) * vector_score
                         + CAST(0.4 AS DOUBLE) * nvd_score)))) AS conf
        FROM base
    )
    -- Spark's round(double, 2) is HALF_UP on BigDecimal.valueOf(d),
    -- i.e. on the SHORTEST decimal repr of the double; reproduce it via
    -- the varchar round-trip (DuckDB's double→varchar is also shortest).
    SELECT doc_id, has_vector,
           CAST(ROUND(CAST(CAST(conf AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE)
             AS confidence
    FROM pre
    """,
    "V10 — the verification confidence pipeline with the reference's "
    "exact formula (llama-chatbot/main.py:168-215): base 0.5 + "
    "0.25·has_vector + 0.25·completeness; llm = clamp(0.6·words(vector "
    "evidence)/100 + 0.4·words(nvd evidence)/100) — two word-count legs, "
    "absent leg → 0, no per-leg cap; final 0.7·base + 0.3·llm rounded 2dp.",
)
def s_confidence_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings").select("vec_id")
    joined = docs.join(F.broadcast(emb), docs.doc_id == emb.vec_id, "left")
    has_vec = F.col("vec_id").isNotNull()
    comp = completeness_ratio(F.col("lang") != "", F.col("source") != "", F.col("n_chars") > 0)
    base = base_confidence(has_vec, comp)
    vector_text = F.when(has_vec, F.col("text"))
    nvd_text = F.when(F.col("source") != "", F.concat_ws(" ", "source", "lang"))
    llm = llm_confidence(vector_text, nvd_text)
    return joined.select(
        "doc_id",
        has_vec.alias("has_vector"),
        final_confidence(base, llm).alias("confidence"),
    )
