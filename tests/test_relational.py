"""asof_join semantics: inclusive exact-timestamp match, null (carried
as None) when no right row precedes, keys isolated, multiple right
columns carried together."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from ingestion_pipeline_spark.operators.relational import asof_join


def _ts(s: str):
    return datetime.fromisoformat(s)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01T10:00:05")),   # after q at 10:00:00
            (2, "u1", _ts("2024-01-01T10:00:10")),   # exactly at q 10:00:10
            (3, "u1", _ts("2024-01-01T09:59:59")),   # before any quote
            (4, "u2", _ts("2024-01-01T10:00:07")),   # other key
        ],
        "trade_id long, user string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01T10:00:00"), 100.0),
            ("u1", _ts("2024-01-01T10:00:10"), 101.0),
            ("u2", _ts("2024-01-01T10:00:06"), 200.0),
        ],
        "user string, ts timestamp, px double",
    )
    out = {
        r["trade_id"]: r["px_asof"]
        for r in asof_join(left, right, on=["user"], ts="ts", right_cols=["px"]).collect()
    }
    assert out == {1: 100.0, 2: 101.0, 3: None, 4: 200.0}


def test_asof_join_carries_multiple_cols_and_right_ts(spark):
    left = spark.createDataFrame(
        [(1, "k", _ts("2024-06-01T00:00:30"))], "id long, k string, ts timestamp"
    )
    right = spark.createDataFrame(
        [("k", _ts("2024-06-01T00:00:10"), 7, "x"),
         ("k", _ts("2024-06-01T00:00:20"), 8, "y"),
         ("k", _ts("2024-06-01T00:00:40"), 9, "z")],
        "k string, ts timestamp, v int, tag string",
    )
    row = asof_join(
        left, right, on=["k"], ts="ts", right_cols=["ts", "v", "tag"]
    ).collect()[0]
    assert (row["v_asof"], row["tag_asof"]) == (8, "y")
    assert row["ts_asof"] == _ts("2024-06-01T00:00:20")
    # left row count preserved (left-join semantics)
    assert row["id"] == 1


def test_asof_join_preserves_left_rowcount(spark, sf_dir):
    from ingestion_pipeline_spark.sources.parquet_tables import table

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    n = purchases.count()
    joined = asof_join(
        purchases, clicks.withColumnRenamed("event_id", "click_id"),
        on=["user_id"], ts="ts", right_cols=["click_id"],
    )
    assert joined.count() == n


def test_dense_global_ids_stable_under_repartition(spark, sf_dir):
    """The t_global_dense_ids design claim: the decomposed numbering is
    a pure function of the data — identical ids under any physical
    layout (repartition(1), repartition(16), default scan)."""
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.plans import query_map

    fn = query_map()["t_global_dense_ids"]
    base = {(r["doc_id"], r["global_id"]) for r in fn(spark, sf_dir).collect()}
    # ids are dense 1..N
    ids = sorted(g for _, g in base)
    assert ids == list(range(1, len(ids) + 1))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for n_parts in (1, 16):
        shuffled = docs.repartition(n_parts)
        shuffled.createOrReplaceTempView("documents_shuffled")
        # re-derive through the same decomposition on the shuffled frame
        from pyspark.sql.window import Window

        offsets = (
            shuffled.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn(
                "offset",
                F.coalesce(
                    F.sum("n").over(
                        Window.orderBy("source").rowsBetween(
                            Window.unboundedPreceding, -1
                        )
                    ),
                    F.lit(0),
                ),
            )
            .select("source", "offset")
        )
        rn = F.row_number().over(Window.partitionBy("source").orderBy("doc_id"))
        got = {
            (r["doc_id"], r["global_id"])
            for r in shuffled.withColumn("rn", rn)
            .join(F.broadcast(offsets), "source")
            .select("doc_id", (F.col("offset") + F.col("rn")).alias("global_id"))
            .collect()
        }
        assert got == base
