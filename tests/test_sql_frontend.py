"""SQL front-end parity: the same warehouse exposed through
``register_views`` answers plain ANSI SQL with results identical to the
DataFrame-built plans — one Catalyst optimizer, two front ends. The SQL
strings used here are the queries' own DuckDB oracle texts (ANSI subset
only), so this also demonstrates oracle portability.
"""

from __future__ import annotations

import pytest

from ingestion_pipeline_spark.plans import oracle_sql_map, plan_text, query_map
from ingestion_pipeline_spark.sources.parquet_tables import register_views

# Oracle strings that are pure ANSI (no DuckDB list/lambda/'//' dialect):
# each must parse and run on Spark SQL unchanged.
ANSI_PORTABLE = [
    "q1_pricing_summary",
    "j_big_spender_semi",
    "j_customers_without_orders",
    "g_rollup_orders",
    "t_top3_orders_per_customer",
    "w_event_transitions",
    "t_global_dense_ids",
]


def _norm(df):
    cols = sorted(df.columns)
    out = []
    for row in df.collect():
        vals = []
        for c in cols:
            v = row[c]
            vals.append(f"{v:.10g}" if isinstance(v, float) else str(v))
        out.append("|".join(vals))
    return sorted(out)


@pytest.mark.parametrize("name", ANSI_PORTABLE)
def test_sql_frontend_matches_dataframe_plan(spark, sf_dir, name):
    register_views(spark, sf_dir)
    via_sql = spark.sql(oracle_sql_map()[name])
    via_df = query_map()[name](spark, sf_dir)
    assert sorted(via_sql.columns) == sorted(via_df.columns)
    assert _norm(via_sql) == _norm(via_df)


def test_sql_function_registry_matches_column_library(spark, sf_dir):
    """Engine functions called FROM SQL produce byte-identical results
    to their Column-API originals — and the expression-backed ones
    introduce no Python boundary."""
    from ingestion_pipeline_spark.functions import text as tx
    from ingestion_pipeline_spark.functions.sql_api import register_all
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    register_all(spark)

    via_sql = spark.sql(
        """SELECT doc_id, redact_pii(text) AS red, token_count(text) AS n,
                  content_md5(text) AS h, fingerprint64(text) AS fp,
                  unicode_nfc(text) AS nfc, zlib_ratio(text) AS zr
           FROM documents"""
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    via_df = docs.select(
        "doc_id",
        tx.redact_pii(F.col("text")).alias("red"),
        tx.token_count(F.col("text")).alias("n"),
        tx.content_md5(F.col("text")).alias("h"),
        tx.fingerprint(F.col("text")).alias("fp"),
        tx.unicode_normalize_udf()(F.col("text")).alias("nfc"),
        tx.compression_ratio_udf()(F.col("text")).alias("zr"),
    )
    assert _norm(via_sql) == _norm(via_df)
    # the SQL scalar UDFs inline: no BatchEvalPython/ArrowEvalPython for
    # the expression-backed columns alone
    plan = plan_text(
        spark.sql("SELECT redact_pii(text) r, token_count(text) n FROM documents")
    )
    assert "EvalPython" not in plan


def test_sql_pipe_syntax_matches_classic(spark, sf_dir):
    """Spark 4 SQL pipe syntax (|>) is part of the SQL front end: a
    piped filter→aggregate→order chain must equal the classic
    formulation — same Catalyst plan space, third surface after
    DataFrame and classic SQL."""
    register_views(spark, sf_dir)
    piped = spark.sql(
        """
        FROM orders
        |> WHERE o_totalprice > 100000
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )
    classic = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders WHERE o_totalprice > 100000
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )
    assert _norm(piped) == _norm(classic)
