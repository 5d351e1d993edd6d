"""Sink-layer tests (K1/K3 + the F6 partition-pruning contract): the
warehouse layout must let a date-range query prune to the touched
months — the scan's PartitionFilters, not a post-scan filter, carries
the predicate."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from ingestion_pipeline_spark.sinks import append_parquet, warehouse_append


def _warehouse_rows(spark):
    rows = [
        (f"CVE-2024-{i}", datetime(2024, 1 + i % 6, 3), datetime(2024, 1 + i % 6, 2), "{}")
        for i in range(60)
    ]
    return spark.createDataFrame(
        rows, "cve_id string, date_updated timestamp, date_published timestamp, data string"
    )


def test_warehouse_partitioned_by_month_and_prunes(spark, tmp_path):
    path = str(tmp_path / "warehouse")
    warehouse_append(_warehouse_rows(spark), path)

    back = spark.read.parquet(path)
    assert back.count() == 60
    assert "pub_month" in back.columns

    pruned = back.filter(F.col("pub_month") == "2024-03")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "pub_month" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert pruned.count() == 10


def test_append_is_additive_and_schema_stable(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    append_parquet(df, path)
    append_parquet(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert set(back.columns) == {"id", "v"}


def test_warehouse_upsert_keeps_latest_per_key(spark, tmp_path):
    from ingestion_pipeline_spark.sinks import warehouse_upsert

    path = str(tmp_path / "upsert_wh")
    schema = "cve_id string, date_updated timestamp, date_published timestamp, data string"
    v1 = spark.createDataFrame(
        [
            ("CVE-2024-1", datetime(2024, 1, 10), datetime(2024, 1, 1), '{"v":1}'),
            ("CVE-2024-2", datetime(2024, 1, 11), datetime(2024, 1, 2), '{"v":1}'),
        ],
        schema,
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
        schema,
    )
    warehouse_upsert(spark, v2, path)
    back = {r["cve_id"]: r["data"] for r in spark.read.parquet(path).collect()}
    assert back == {
        "CVE-2024-1": '{"v":2}',   # newer version won
        "CVE-2024-2": '{"v":1}',   # stale replay lost
        "CVE-2024-3": '{"v":1}',   # new key inserted
    }


def test_warehouse_upsert_unreadable_delta_raises_and_keeps_table(spark, tmp_path):
    """A delta the existing table cannot be read against (here: one
    extra column) must fail, not pass for a first write that overwrites
    the table with the delta alone."""
    import pytest
    from pyspark.errors import AnalysisException

    from ingestion_pipeline_spark.sinks import warehouse_upsert

    path = str(tmp_path / "upsert_drift")
    schema = "cve_id string, date_updated timestamp, date_published timestamp, data string"
    v1 = spark.createDataFrame(
        [
            ("CVE-1", datetime(2024, 1, 10), datetime(2024, 1, 1), "{}"),
            ("CVE-2", datetime(2024, 1, 11), datetime(2024, 1, 2), "{}"),
        ],
        schema,
    )
    warehouse_upsert(spark, v1, path)
    delta = spark.createDataFrame(
        [("CVE-3", datetime(2024, 2, 1), datetime(2024, 2, 1), "{}", "x")],
        schema + ", extra string",
    )
    with pytest.raises(AnalysisException):
        warehouse_upsert(spark, delta, path)
    back = sorted(r["cve_id"] for r in spark.read.parquet(path).collect())
    assert back == ["CVE-1", "CVE-2"]


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
    import glob

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


def test_partitioned_write_prunes_on_date_filter(spark, sf_dir, tmp_path):
    """The SCALE.md layout claim, verified: a month-partitioned
    warehouse write turns an F6 date-range filter into partition
    pruning — the filtered scan reads ONLY the matching month's files,
    and the predicate appears as a partition filter (not a data
    filter) in the plan."""
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.sinks import append_parquet
    from ingestion_pipeline_spark.sources.parquet_tables import table

    events = table(spark, sf_dir, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    path = str(tmp_path / "warehouse")
    # fixture spans one month; synthesize a second month so pruning has
    # something to prune
    shifted = events.withColumn("ts", F.col("ts") + F.expr("INTERVAL 40 DAYS")).withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    append_parquet(events.unionByName(shifted), path, partition_by=["month"])

    months = sorted(
        r["month"]
        for r in spark.read.parquet(path).select("month").distinct().collect()
    )
    assert len(months) >= 2
    target = months[0]

    pruned = spark.read.parquet(path).filter(F.col("month") == target)
    # the month predicate lands in PartitionFilters (directory pruning),
    # NOT PushedFilters (row-level evaluation) — the scan never plans
    # the other months' files. (inputFiles() reflects the unpruned
    # FileIndex, so the plan string is the right witness.)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan_line = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters: [" in scan_line
    pf = scan_line.split("PartitionFilters: [", 1)[1]
    assert "month" in pf.split("]", 1)[0]
    assert f"month = {target}" in pf or target in pf
    # and the pruned result is exactly that month's rows
    per_month = {
        r["month"]: r["n"]
        for r in spark.read.parquet(path).groupBy("month").agg(F.count("*").alias("n")).collect()
    }
    assert pruned.count() == per_month[target]


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


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, tmp_path):
    """partitionOverwriteMode=dynamic: an overwrite carrying only one
    month's rows rewrites THAT partition and leaves the others intact —
    the O(delta) month-level rewrite warehouse_upsert's docstring
    promises for partitioned tables (static mode would truncate the
    whole table first; also asserted)."""
    path = str(tmp_path / "dyn_wh")
    df1 = spark.createDataFrame(
        [("a", "2024-01", 1), ("b", "2024-02", 1)], "k STRING, month STRING, v INT"
    )
    df1.write.partitionBy("month").parquet(path)

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch = spark.createDataFrame([("b", "2024-02", 99)], "k STRING, month STRING, v INT")
        patch.write.mode("overwrite").partitionBy("month").parquet(path)
        got = {(r["k"], r["month"], r["v"]) for r in spark.read.parquet(path).collect()}
        assert got == {("a", "2024-01", 1), ("b", "2024-02", 99)}  # Jan survived
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")

    # static mode: the same write pattern truncates everything else
    patch2 = spark.createDataFrame([("b", "2024-02", 7)], "k STRING, month STRING, v INT")
    patch2.write.mode("overwrite").partitionBy("month").parquet(path)
    got2 = {(r["k"], r["month"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got2 == {("b", "2024-02", 7)}


def test_partitioned_upsert_is_o_delta(spark, tmp_path):
    """warehouse_upsert_partitioned merges keep-latest ONLY in the
    batch's months: the untouched month's files are bit-identical
    afterwards (never read, never rewritten), redeliveries collapse,
    and new keys land."""
    import glob
    import os

    from ingestion_pipeline_spark.sinks import warehouse_upsert_partitioned

    path = str(tmp_path / "pwh")
    schema = "cve_id string, date_updated timestamp, date_published timestamp, data string"
    seed = spark.createDataFrame(
        [
            ("CVE-1", datetime(2024, 1, 10), datetime(2024, 1, 1), '{"v":1}'),
            ("CVE-2", datetime(2024, 2, 11), datetime(2024, 2, 2), '{"v":1}'),
        ],
        schema,
    )
    warehouse_upsert_partitioned(spark, seed, path)
    jan_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/pub_month=2024-01/*.parquet")
    }
    assert jan_files

    # delta touches ONLY February: newer CVE-2 + a new CVE-3
    delta = spark.createDataFrame(
        [
            ("CVE-2", datetime(2024, 3, 1), datetime(2024, 2, 2), '{"v":2}'),
            ("CVE-3", datetime(2024, 3, 2), datetime(2024, 2, 20), '{"v":1}'),
        ],
        schema,
    )
    touched = warehouse_upsert_partitioned(spark, delta, path)
    assert touched == ["2024-02"]

    back = {r["cve_id"]: r["data"] for r in spark.read.parquet(path).collect()}
    assert back == {"CVE-1": '{"v":1}', "CVE-2": '{"v":2}', "CVE-3": '{"v":1}'}
    # January files untouched on disk
    assert {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/pub_month=2024-01/*.parquet")
    } == jan_files
