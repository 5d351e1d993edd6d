"""Tenth registry tranche: range-frame (time-interval) windows and the
batch ``applyInPandas`` extension point, both under the value-hash gate.

Range frames complete the window surface (rows-frames, rank family,
lag/lead, session and sliding windows are covered by earlier tranches).
The applyInPandas entry deliberately computes something with an exact
SQL equivalent (per-group top-k with deterministic tie-break) so the
Arrow per-group path itself — grouping, batch handoff, schema mapping —
is what gets verified, not a lucky approximation.
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dec
from ..sources.parquet_tables import table
from .registry import register

# applyInPandas ships ``_top3_pandas`` to Python workers: pickle this
# module's functions by value (as functions/text.py does), so a worker
# never has to import the package.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


@register(
    "w_trailing_hour_value",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS trailing_value,
           COUNT(*) OVER w AS n_trailing
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "Time-interval (RANGE) window frame: per user, the trailing-hour "
    "sum of event values — ordered by physical time, not row position, "
    "so simultaneous events are peers on both engines. One shuffle on "
    "user_id; the frame is evaluated with a sliding two-pointer pass "
    "inside Spark's window operator. Decimal sums keep the distributed "
    "reduction exact.",
)
def w_trailing_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.sum(dec("value")).over(w).cast("double").alias("trailing_value"),
        F.count("*").over(w).alias("n_trailing"),
    )


_TOPK_SCHEMA = "c_mktsegment string, o_orderkey bigint, o_totalprice double, rk int"


def _top3_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.sort_values(
        ["o_totalprice", "o_orderkey"], ascending=[False, True]
    ).head(3)
    out = out.assign(rk=range(1, len(out) + 1))
    return out[["c_mktsegment", "o_orderkey", "o_totalprice", "rk"]]


@register(
    "t_topk_per_group_pandas",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        FROM orders JOIN customer ON c_custkey = o_custkey
    ) WHERE rk <= 3
    """,
    "The batch applyInPandas extension point (SURVEY §2.12) verified "
    "value-exactly: per-market-segment top-3 orders with deterministic "
    "tie-break, computed by a per-group Arrow-batched pandas function "
    "and compared against the window-function oracle. This is the "
    "surface custom per-group Python logic plugs into; for pure top-k "
    "prefer the built-in window (operators/relational.py:topk_per_group "
    "— JVM-side, no Python crossing).",
)
def t_topk_per_group_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    # JVM-side pre-reduction before the Python crossing: the global
    # top-3 of a segment is necessarily in the top-3 of whatever
    # physical partition holds it, so a per-(segment, partition) window
    # cuts the Arrow transfer from |rows| to ≤ 3·n_partitions rows per
    # segment — the general recipe for feeding any per-group pandas
    # reducer at scale. The pandas step still computes the EXACT global
    # answer, so the result is partitioning-independent.
    pre = Window.partitionBy("c_mktsegment", F.spark_partition_id()).orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    candidates = (
        joined.withColumn("__prk", F.row_number().over(pre))
        .filter(F.col("__prk") <= 3)
        .drop("__prk")
    )
    return candidates.groupBy("c_mktsegment").applyInPandas(_top3_pandas, _TOPK_SCHEMA)


@register(
    "g_yoy_customer_growth",
    """
    SELECT o_custkey, yr, CAST(spend AS DOUBLE) AS spend,
           CAST(prev_spend AS DOUBLE) AS prev_spend
    FROM (
        SELECT o_custkey, yr, spend,
               LAG(spend) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_spend
        FROM (
            SELECT o_custkey, EXTRACT(year FROM o_orderdate) AS yr,
                   SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS spend
            FROM orders GROUP BY 1, 2
        )
    )
    WHERE prev_spend IS NOT NULL AND spend > prev_spend
    """,
    "Year-over-year growth: yearly per-customer spend, lag window over "
    "the aggregate, keep growing years — the aggregate-then-window "
    "composition every cohort/retention analysis uses. Both shuffles "
    "are on o_custkey, so AQE plans the window over the aggregate's "
    "existing distribution (no second exchange); the growth comparison "
    "runs on exact decimals.",
)
def g_yoy_customer_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.exact import money

    orders = table(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        "o_custkey", F.year("o_orderdate").alias("yr")
    ).agg(F.sum(money("o_totalprice")).alias("spend"))
    w = Window.partitionBy("o_custkey").orderBy("yr")
    return (
        yearly.withColumn("prev_spend", F.lag("spend").over(w))
        .filter(F.col("prev_spend").isNotNull() & (F.col("spend") > F.col("prev_spend")))
        .select(
            "o_custkey",
            "yr",
            F.col("spend").cast("double").alias("spend"),
            F.col("prev_spend").cast("double").alias("prev_spend"),
        )
    )
