"""Streaming tests (SURVEY §5 item 3): file-source emulation of the
Kafka ingest, availableNow drain, dual-sink routing, quarantine."""

from __future__ import annotations

import json

import pytest

from ingestion_pipeline_spark.streaming import (
    cve_file_stream,
    run_dual_sink_ingest,
    run_until_idle,
)

GOOD = [
    {
        "cveMetadata": {
            "cveId": f"CVE-2024-{1000 + i}",
            "datePublished": "2024-01-02T00:00:00",
            "dateUpdated": "2024-01-03T00:00:00",
        },
        "containers": {
            "cna": {
                "title": f"Bug {i}",
                "descriptions": [{"value": f"Description {i}"}],
                "metrics": [{"cvssV3_1": {"baseSeverity": "HIGH", "baseScore": 7.0 + i}}],
                "problemTypes": [{"descriptions": [{"cweId": "CWE-79"}]}],
            }
        },
    }
    for i in range(5)
]
BAD = ["{not valid json", json.dumps({"containers": {"cna": {"title": "no id"}}})]


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "incoming"
    src.mkdir()
    for i, rec in enumerate(GOOD):
        (src / f"good_{i}.json").write_text(json.dumps(rec))
    for i, bad in enumerate(BAD):
        (src / f"bad_{i}.json").write_text(bad)
    return {
        "src": str(src),
        "warehouse": str(tmp_path / "warehouse"),
        "vectors": str(tmp_path / "vectors"),
        "quarantine": str(tmp_path / "quarantine"),
        "checkpoint": str(tmp_path / "ckpt"),
    }


def test_dual_sink_drain(spark, stream_dirs):
    """W5 dual sink + S6 availableNow drain + W7 quarantine."""
    from ingestion_pipeline_spark.functions.embed import with_embedding

    stream = cve_file_stream(spark, stream_dirs["src"])
    q = run_dual_sink_ingest(
        stream,
        stream_dirs["warehouse"],
        stream_dirs["vectors"],
        stream_dirs["quarantine"],
        stream_dirs["checkpoint"],
        available_now=True,
        embed_fn=lambda df, c: with_embedding(df, c, dim=16),
    )
    q.awaitTermination(120)

    wh = spark.read.parquet(stream_dirs["warehouse"])
    assert wh.count() == 5
    assert set(wh.columns) == {"cve_id", "date_updated", "date_published", "data"}
    assert wh.filter("cve_id = 'CVE-2024-1003'").count() == 1
    # timestamps parsed, raw JSON kept full-fidelity (VARIANT parity)
    row = wh.filter("cve_id = 'CVE-2024-1000'").first()
    assert row["date_published"] is not None
    assert json.loads(row["data"])["containers"]["cna"]["title"] == "Bug 0"

    vec = spark.read.parquet(stream_dirs["vectors"])
    assert vec.count() == 5
    assert set(vec.columns) == {
        "cve_id", "published_date", "updated_date", "severity", "score", "cwe_id", "text", "embedding",
    }
    vrow = vec.filter("cve_id = 'CVE-2024-1001'").first()
    assert vrow["severity"] == "HIGH"
    # the reference's verbatim template: leading newline + 12-space indents
    assert vrow["text"].startswith(
        "\n            Title: Bug 1\n            CVE ID: CVE-2024-1001"
    )
    assert len(vrow["embedding"]) == 16

    quar = spark.read.parquet(stream_dirs["quarantine"])
    assert quar.count() == 2  # malformed JSON + missing cve_id
    assert set(r["reason"] for r in quar.collect()) == {"unparseable"}


def test_drain_is_idempotent_via_checkpoint(spark, stream_dirs):
    """W2 upgrade: re-running the drain with the same checkpoint must not
    duplicate rows (exactly-once into the sink)."""
    for _ in range(2):
        stream = cve_file_stream(spark, stream_dirs["src"])
        q = run_dual_sink_ingest(
            stream,
            stream_dirs["warehouse"],
            stream_dirs["vectors"],
            stream_dirs["quarantine"],
            stream_dirs["checkpoint"],
            available_now=True,
        )
        q.awaitTermination(120)
    assert spark.read.parquet(stream_dirs["warehouse"]).count() == 5


def test_idle_stop_terminates_unbounded_query(spark, stream_dirs):
    """W4 — a processingTime-triggered query over a quiet source is
    stopped by the idle listener (reference: 10 s inactivity exit,
    airflow/dags/src/consumer.py:129-158; generous margins per SURVEY
    §7 hard-part 3)."""
    stream = cve_file_stream(spark, stream_dirs["src"])
    q = run_dual_sink_ingest(
        stream,
        stream_dirs["warehouse"],
        stream_dirs["vectors"],
        stream_dirs["quarantine"],
        stream_dirs["checkpoint"] + "_idle",
        available_now=False,
    )
    run_until_idle(spark, q, inactivity_timeout=5.0, max_wait=90.0)
    assert not q.isActive
    assert spark.read.parquet(stream_dirs["warehouse"]).count() == 5


def test_streaming_ingest_with_upsert_sink_collapses_redeliveries(spark, tmp_path):
    """foreachBatch + warehouse_upsert: the streaming ingest path with
    MERGE semantics — replayed/updated CVE records collapse to the
    latest version instead of duplicating (the reference re-INSERTs,
    processor.py:55-62), also when a re-delivery moves the record's
    publication month."""
    import json as _json

    from ingestion_pipeline_spark.sinks import warehouse_upsert

    src = tmp_path / "cve_stream"
    src.mkdir()
    out = str(tmp_path / "warehouse")

    def rec(cve_id, updated, v, published="2024-01-01T00:00:00"):
        return _json.dumps(
            {"cve_id": cve_id, "date_updated": updated,
             "date_published": published, "data": f'{{"v":{v}}}'}
        )

    (src / "f1.json").write_text(
        rec("CVE-1", "2024-01-10T00:00:00", 1) + "\n" + rec("CVE-2", "2024-01-11T00:00:00", 1)
    )
    (src / "f2.json").write_text(
        rec("CVE-1", "2024-02-20T00:00:00", 2)  # newer redelivery
        + "\n" + rec("CVE-3", "2024-03-01T00:00:00", 1)
    )
    # newer redelivery published in another month
    (src / "f3.json").write_text(rec("CVE-2", "2024-03-05T00:00:00", 2, "2024-03-01T00:00:00"))

    schema = "cve_id string, date_updated timestamp, date_published timestamp, data string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # three micro-batches
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _bid: warehouse_upsert(spark, batch, out)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    back = [(r["cve_id"], r["data"]) for r in spark.read.parquet(out).collect()]
    assert sorted(back) == [("CVE-1", '{"v":2}'), ("CVE-2", '{"v":2}'), ("CVE-3", '{"v":1}')]


def test_dual_sink_with_expectations(spark, stream_dirs):
    """DQ expectations on ingest: rows violating a declarative rule are
    quarantined (reason=expectation_failed), clean rows reach both
    sinks — the DLT-style gate composed onto the W5/W7 path."""
    import pyspark.sql.functions as F

    from ingestion_pipeline_spark.functions import extract as ex
    from ingestion_pipeline_spark.functions.embed import with_embedding

    stream = cve_file_stream(spark, stream_dirs["src"])
    q = run_dual_sink_ingest(
        stream,
        stream_dirs["warehouse"],
        stream_dirs["vectors"],
        stream_dirs["quarantine"],
        stream_dirs["checkpoint"],
        available_now=True,
        embed_fn=lambda df, c: with_embedding(df, c, dim=16),
        # reject the two highest-severity records (scores 10.0 and 11.0)
        expectations={"score_sane": ex.cve_score(F.col("cve")) <= 9.5},
    )
    q.awaitTermination(120)

    wh = spark.read.parquet(stream_dirs["warehouse"])
    assert wh.count() == 3  # 5 good - 2 expectation failures
    quar = spark.read.parquet(stream_dirs["quarantine"])
    reasons = sorted(r["reason"] for r in quar.collect())
    assert reasons.count("expectation_failed") == 2
    assert reasons.count("unparseable") == 2
