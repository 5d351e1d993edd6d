"""Sink-layer tests (K1/K1+/K3): the warehouse is one flat parquet
table that the stream appends to and ``warehouse_upsert`` rewrites
keep-latest; every key appended or upserted reads back once, at its
latest ``date_updated``."""

from __future__ import annotations

import glob
import os
from datetime import datetime

import pytest

from ingestion_pipeline_spark.sinks import append_parquet, warehouse_upsert

WAREHOUSE_SCHEMA = "cve_id string, date_updated timestamp, date_published timestamp, data string"


def _files(path):
    """Every file under ``path`` with its size and mtime."""
    return {
        os.path.relpath(f, path): (os.path.getsize(f), os.path.getmtime(f))
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    }


def test_append_is_additive_and_schema_stable(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    append_parquet(df, path)
    append_parquet(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert set(back.columns) == {"id", "v"}


def test_warehouse_upsert_keeps_latest_per_key(spark, tmp_path):
    path = str(tmp_path / "upsert_wh")
    v1 = spark.createDataFrame(
        [
            ("CVE-2024-1", datetime(2024, 1, 10), datetime(2024, 1, 1), '{"v":1}'),
            ("CVE-2024-2", datetime(2024, 1, 11), datetime(2024, 1, 2), '{"v":1}'),
        ],
        WAREHOUSE_SCHEMA,
    )
    warehouse_upsert(spark, v1, path)
    assert spark.read.parquet(path).count() == 2

    # redelivery of CVE-2024-1 with a NEWER version + one stale replay
    v2 = spark.createDataFrame(
        [
            ("CVE-2024-1", datetime(2024, 2, 20), datetime(2024, 1, 1), '{"v":2}'),
            ("CVE-2024-2", datetime(2024, 1, 1), datetime(2024, 1, 2), '{"v":0}'),
            ("CVE-2024-3", datetime(2024, 3, 1), datetime(2024, 2, 5), '{"v":1}'),
        ],
        WAREHOUSE_SCHEMA,
    )
    warehouse_upsert(spark, v2, path)
    back = {r["cve_id"]: r["data"] for r in spark.read.parquet(path).collect()}
    assert back == {
        "CVE-2024-1": '{"v":2}',   # newer version won
        "CVE-2024-2": '{"v":1}',   # stale replay lost
        "CVE-2024-3": '{"v":1}',   # new key inserted
    }


def test_append_upsert_append_reads_every_key(spark, tmp_path):
    """The stream's append, an upsert, then another append all write the
    one flat layout, so a read returns every key once, at its latest
    ``date_updated`` — including a re-delivery whose publication month
    moved. (With a month-partitioned append beside the flat upsert the
    last read returned only CVE-3.)"""
    path = str(tmp_path / "wh")
    append_parquet(
        spark.createDataFrame(
            [
                ("CVE-1", datetime(2024, 1, 10), datetime(2024, 1, 1), '{"v":1}'),
                ("CVE-2", datetime(2024, 2, 11), datetime(2024, 2, 2), '{"v":1}'),
            ],
            WAREHOUSE_SCHEMA,
        ),
        path,
    )
    warehouse_upsert(
        spark,
        spark.createDataFrame(
            [("CVE-1", datetime(2024, 3, 20), datetime(2024, 3, 1), '{"v":2}')],
            WAREHOUSE_SCHEMA,
        ),
        path,
    )
    append_parquet(
        spark.createDataFrame(
            [("CVE-3", datetime(2024, 4, 2), datetime(2024, 4, 1), '{"v":1}')],
            WAREHOUSE_SCHEMA,
        ),
        path,
    )
    back = [(r["cve_id"], r["date_updated"], r["data"]) for r in spark.read.parquet(path).collect()]
    assert sorted(back) == [
        ("CVE-1", datetime(2024, 3, 20), '{"v":2}'),
        ("CVE-2", datetime(2024, 2, 11), '{"v":1}'),
        ("CVE-3", datetime(2024, 4, 2), '{"v":1}'),
    ]


def test_warehouse_upsert_batch_wins_version_tie(spark, tmp_path):
    """A stored row and a batch row with the same ``(cve_id,
    date_updated)`` but different ``data``: the batch's row is the one
    read back, for every key."""
    path = str(tmp_path / "tie_wh")
    rows = [(f"CVE-{i}", datetime(2024, 1, 10), datetime(2024, 1, 1)) for i in range(20)]
    warehouse_upsert(spark, spark.createDataFrame([r + ("stored",) for r in rows], WAREHOUSE_SCHEMA), path)
    warehouse_upsert(spark, spark.createDataFrame([r + ("batch",) for r in rows], WAREHOUSE_SCHEMA), path)
    back = spark.read.parquet(path).collect()
    assert len(back) == 20
    assert {r["data"] for r in back} == {"batch"}


def test_warehouse_upsert_unreadable_delta_raises_and_keeps_table(spark, tmp_path):
    """A delta the existing table cannot be read against (here: one
    extra column) must fail, not pass for a first write that overwrites
    the table with the delta alone."""
    path = str(tmp_path / "upsert_drift")
    v1 = spark.createDataFrame(
        [
            ("CVE-1", datetime(2024, 1, 10), datetime(2024, 1, 1), "{}"),
            ("CVE-2", datetime(2024, 1, 11), datetime(2024, 1, 2), "{}"),
        ],
        WAREHOUSE_SCHEMA,
    )
    warehouse_upsert(spark, v1, path)
    delta = spark.createDataFrame(
        [("CVE-3", datetime(2024, 2, 1), datetime(2024, 2, 1), "{}", "x")],
        WAREHOUSE_SCHEMA + ", extra string",
    )
    with pytest.raises(ValueError, match="columns"):
        warehouse_upsert(spark, delta, path)
    back = sorted(r["cve_id"] for r in spark.read.parquet(path).collect())
    assert back == ["CVE-1", "CVE-2"]


def test_warehouse_upsert_into_partitioned_table_raises_and_keeps_files(spark, tmp_path):
    """A table with a column the batch lacks — here a month partition
    directory written by ``partitionBy`` — is refused: merging would drop
    the column and rewrite the table flat. No file changes."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "month_wh")
    stored = spark.createDataFrame(
        [
            ("CVE-1", datetime(2024, 1, 10), datetime(2024, 1, 1), "{}"),
            ("CVE-2", datetime(2024, 2, 11), datetime(2024, 2, 2), "{}"),
        ],
        WAREHOUSE_SCHEMA,
    )
    stored.withColumn("month", F.date_format("date_published", "yyyy-MM")).write.partitionBy(
        "month"
    ).parquet(path)
    before = _files(path)
    delta = spark.createDataFrame(
        [("CVE-1", datetime(2024, 3, 1), datetime(2024, 1, 1), '{"v":2}')], WAREHOUSE_SCHEMA
    )
    with pytest.raises(ValueError, match="month"):
        warehouse_upsert(spark, delta, path)
    assert _files(path) == before
    assert spark.read.parquet(path).count() == 2


class _NoHandleSession:
    """A session without JVM handles, as under Spark Connect."""


class _StoppedSession:
    """A session whose JVM handles are gone, as after ``stop()``."""

    _jvm = None
    _jsc = None


def test_table_exists_without_jvm_handle_raises(tmp_path):
    """The existence probe behind every overwrite (the upsert, the CMS
    streaming writer) must refuse, naming the path, when it cannot
    reach the Hadoop FS — never answer "absent", which would let the
    overwrite replace an existing table."""
    from ingestion_pipeline_spark.sinks import _table_exists

    path = str(tmp_path / "existing")
    (tmp_path / "existing").mkdir()
    for stub in (_NoHandleSession(), _StoppedSession()):
        with pytest.raises(RuntimeError, match="existing"):
            _table_exists(stub, path)


def test_jdbc_sink_roundtrip_derby(spark, tmp_path):
    """K1's "JDBC/Snowflake swap is a format string" claim, exercised for
    real: batched executor-side INSERTs into an embedded Derby database
    (the JDBC driver Spark ships with) and a full read-back. Snowflake/
    Postgres at scale is the same call with a different url/driver."""
    from ingestion_pipeline_spark.sinks import jdbc_append, jdbc_read

    url = f"jdbc:derby:{tmp_path}/wh;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.createDataFrame(
        [("CVE-2024-1", "HIGH", 9.8), ("CVE-2024-2", "LOW", 2.1)],
        "cve_id string, severity string, score double",
    )
    jdbc_append(df, url, "cve_persistent", driver=driver, mode="overwrite",
                num_partitions=1)
    # append on top — the reference's delta-redelivery write mode
    jdbc_append(
        spark.createDataFrame([("CVE-2024-3", "MED", 5.0)], df.schema),
        url, "cve_persistent", driver=driver, num_partitions=1,
    )
    back = jdbc_read(spark, url, "cve_persistent", driver=driver)
    assert {(r.cve_id, r.severity, r.score) for r in back.collect()} == {
        ("CVE-2024-1", "HIGH", 9.8),
        ("CVE-2024-2", "LOW", 2.1),
        ("CVE-2024-3", "MED", 5.0),
    }


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from ingestion_pipeline_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # 20 single-row appends -> 20+ tiny files
    for i in range(20):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(path)
    before = len(glob.glob(path + "/**/*.parquet", recursive=True))
    assert before >= 20
    rows_before = sorted(r[0] for r in spark.read.parquet(path).collect())

    after = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert after < before
    files = glob.glob(path + "/**/*.parquet", recursive=True)
    assert len(files) == after == 1
    assert sorted(r[0] for r in spark.read.parquet(path).collect()) == rows_before


def test_streaming_foreachbatch_jdbc_idempotent(spark, tmp_path):
    """The streaming -> JDBC warehouse bridge end to end: a real file
    stream drains into Derby via foreachBatch, and a checkpoint-style
    REPLAY of an already-landed batch is a no-op — counts converge
    instead of duplicating (the reference's auto-commit consumer
    duplicates here)."""
    import json as _json

    from ingestion_pipeline_spark.sinks import (
        jdbc_idempotent_batch_writer,
        jdbc_read,
    )

    url = f"jdbc:derby:{tmp_path}/whs;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    src = tmp_path / "ev"
    src.mkdir()
    rows = [(1, 1, "click", 1.0), (2, 1, "purchase", 9.0), (3, 2, "view", 2.0)]
    for i, u, et, v in rows:
        (src / f"e{i}.json").write_text(
            _json.dumps({"event_id": i, "user_id": u, "event_type": et, "value": v})
        )
    schema = "event_id long, user_id long, event_type string, value double"
    writer = jdbc_idempotent_batch_writer(url, "events_wh", driver=driver)

    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    back = jdbc_read(spark, url, "events_wh", driver=driver)
    assert back.count() == 3
    # replay the same batch (restart-after-crash): must be a no-op
    batch_ids = [r["batch_id"] for r in back.select("batch_id").distinct().collect()]
    replayed = spark.read.schema(schema).json(str(src))
    writer(replayed, int(batch_ids[0]))
    assert jdbc_read(spark, url, "events_wh", driver=driver).count() == 3
    # a NEW batch id still lands
    writer(replayed.limit(1), max(int(b) for b in batch_ids) + 1)
    assert jdbc_read(spark, url, "events_wh", driver=driver).count() == 4
