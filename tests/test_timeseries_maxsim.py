"""Round-4 operators: per-entity EWMA and MaxSim late interaction."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F

from ingestion_pipeline_spark.operators.similarity import maxsim_topk
from ingestion_pipeline_spark.operators.timeseries import ewma_per_entity


def test_ewma_matches_pandas_ewm(spark):
    """The recursion is exactly pandas ewm(alpha, adjust=False)."""
    rows = [
        (1, i, 1000 + i, float(v))
        for i, v in enumerate([10.0, 0.0, 5.0, 5.0, 20.0, 1.25])
    ] + [(2, 10, 2000, 7.5), (2, 11, 2001, 2.5)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts_us long, value double")
    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in ewma_per_entity(df, "user_id", ["ts_us", "event_id"], "value").collect()
    }
    for uid in (1, 2):
        ser = pd.Series([v for u, _, _, v in rows if u == uid])
        want = ser.ewm(alpha=0.5, adjust=False).mean().to_list()
        keys = [(u, e) for u, e, _, _ in rows if u == uid]
        for k, w in zip(keys, want):
            assert got[k] == w, (k, got[k], w)  # bit-exact, not approx


def test_ewma_out_of_order_input(spark):
    """Sweep sorts by the order columns — input row order is irrelevant."""
    rows = [(1, 2, 1002, 8.0), (1, 0, 1000, 4.0), (1, 1, 1001, 0.0)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts_us long, value double")
    got = {
        r["event_id"]: r["ewma"]
        for r in ewma_per_entity(df, "user_id", ["ts_us", "event_id"], "value").collect()
    }
    assert got == {0: 4.0, 1: 2.0, 2: 5.0}


def test_maxsim_self_retrieval_ranks_first(spark):
    """A doc with the query's exact text maximizes every per-token max,
    so it must rank first; unrelated vocab scores lower."""
    q_text = "alpha beta gamma. delta epsilon."
    rows = [
        (0, q_text),                          # the query doc
        (1, q_text),                          # identical copy
        (2, "alpha beta gamma. unrelated words here."),
        (3, "totally different vocabulary entirely."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = maxsim_topk(
        docs.filter(F.col("doc_id") != 0),
        docs.filter(F.col("doc_id") == 0),
        k=10,
    ).collect()
    ranked = [r["doc_id"] for r in out]
    scores = {r["doc_id"]: r["maxsim"] for r in out}
    assert ranked[0] == 1
    assert scores[1] >= scores[2] >= scores[3]
    # identical text ⇒ per-token max is each token-vector's self-dot (≥0)
    assert scores[1] > 0


def test_streaming_ewma_equals_batch(spark, tmp_path):
    """The applyInPandasWithState twin emits the identical sequence the
    batch sweep computes (single availableNow drain = in-order)."""
    import json

    from ingestion_pipeline_spark.streaming.windows import stateful_user_ewma

    rows = [
        (1, "2024-03-01T10:00:00", 1, "click", 10.0),
        (2, "2024-03-01T10:10:00", 1, "click", 0.0),
        (3, "2024-03-01T11:00:00", 1, "buy", 5.0),
        (4, "2024-03-01T10:55:00", 2, "view", 4.0),
        (5, "2024-03-01T11:05:00", 2, "view", 5.0),
    ]
    src = tmp_path / "ewma_events"
    src.mkdir()
    for r in rows:
        rec = dict(zip(["event_id", "ts", "user_id", "event_type", "value"], r))
        (src / f"e{r[0]}.json").write_text(json.dumps(rec))
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        stateful_user_ewma(stream)
        .writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["event_id"]: r["ewma"]
        for r in spark.sql("SELECT * FROM ewma_stream").collect()
    }

    batch = spark.read.schema(schema).json(str(src)).select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    want = {
        r["event_id"]: r["ewma"]
        for r in ewma_per_entity(batch, "user_id", ["ts_us", "event_id"], "value").collect()
    }
    assert got == want and len(got) == len(rows)


def test_holt_matches_python_reference(spark):
    """Holt level/trend/forecast equals the sequential definition on a
    spread of shapes (constant, trending, alternating, single-row)."""
    from ingestion_pipeline_spark.operators.timeseries import holt_per_entity

    series = {
        1: [5.0, 5.0, 5.0, 5.0],
        2: [1.0, 2.0, 3.0, 4.0, 5.0],
        3: [10.0, -10.0, 10.0, -10.0],
        4: [42.0],
    }
    rows = [
        (uid, i, 1000 + i, v)
        for uid, xs in series.items()
        for i, v in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts_us long, value double")
    got = {
        (r["user_id"], r["event_id"]): (r["level"], r["trend"], r["forecast"])
        for r in holt_per_entity(df, "user_id", ["ts_us", "event_id"], "value").collect()
    }
    for uid, xs in series.items():
        level = trend = None
        for i, x in enumerate(xs):
            if level is None:
                level, trend = x, 0.0
            else:
                prev = level
                level = 0.5 * x + 0.5 * (prev + trend)
                trend = 0.5 * (level - prev) + 0.5 * trend
            assert got[(uid, i)] == (level, trend, level + trend), (uid, i)
