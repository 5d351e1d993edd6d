"""Golden tests for never-throw extraction (SURVEY §2.3 P1/P2, §5 item 2).

The load-bearing reference behavior: every extractor is total — missing
paths yield ''/0, never an error (consumer/consumer.py:80-104)."""

from __future__ import annotations

import json

import pyspark.sql.functions as F
import pytest

from ingestion_pipeline_spark.functions import extract as ex
from ingestion_pipeline_spark.schemas import CVE_CORE_SCHEMA, NVD_CVE_SCHEMA
from ingestion_pipeline_spark.streaming.pipeline import extract_embedding_rows

FULL = {
    "cveMetadata": {
        "cveId": "CVE-2024-0001",
        "datePublished": "2024-01-02T00:00:00",
        "dateUpdated": "2024-01-03T00:00:00",
    },
    "containers": {
        "cna": {
            "title": "Sample overflow",
            "descriptions": [{"value": "A buffer overflow."}],
            "metrics": [{"cvssV3_1": {"baseSeverity": "HIGH", "baseScore": 8.1}}],
            "problemTypes": [{"descriptions": [{"cweId": "CWE-120"}]}],
        }
    },
}
SPARSE_CASES = [
    {},  # everything missing
    {"cveMetadata": {"cveId": "CVE-2024-0002"}},  # no containers
    {"containers": {"cna": {"descriptions": []}}},  # empty arrays
    {"containers": {"cna": {"metrics": [{}]}}},  # metrics without cvss
]


@pytest.fixture(scope="module")
def parsed(spark):
    rows = [FULL, *SPARSE_CASES]
    df = spark.createDataFrame([(json.dumps(r),) for r in rows], "raw string")
    return df.withColumn("cve", F.from_json("raw", CVE_CORE_SCHEMA))


def test_full_record_extraction(parsed):
    cve = F.col("cve")
    row = parsed.select(
        ex.cve_id(cve).alias("id"),
        ex.cve_title(cve).alias("title"),
        ex.cve_description(cve).alias("desc"),
        ex.cve_severity(cve).alias("sev"),
        ex.cve_score(cve).alias("score"),
        ex.cve_cwe_id(cve).alias("cwe"),
    ).first()
    assert row["id"] == "CVE-2024-0001"
    assert row["title"] == "Sample overflow"
    assert row["desc"] == "A buffer overflow."
    assert row["sev"] == "HIGH"
    assert row["score"] == 8.1
    assert row["cwe"] == "CWE-120"


def test_missing_paths_default_never_throw(parsed):
    """~every optional path absent → ''/0.0, no exceptions (the
    reference's .get() chains, consumer/consumer.py:80-104)."""
    cve = F.col("cve")
    rows = parsed.select(
        ex.cve_id(cve).alias("id"),
        ex.cve_title(cve).alias("title"),
        ex.cve_description(cve).alias("desc"),
        ex.cve_severity(cve).alias("sev"),
        ex.cve_score(cve).alias("score"),
        ex.cve_cwe_id(cve).alias("cwe"),
    ).collect()[1:]
    for row in rows:
        assert row["title"] == ""
        assert row["desc"] == ""
        assert row["sev"] == ""
        assert row["score"] == 0.0
        assert row["cwe"] == ""
    assert rows[0]["id"] == ""               # {} — everything missing
    assert rows[1]["id"] == "CVE-2024-0002"  # id present, containers missing


def test_embedding_text_template(parsed):
    """P3 — exact template INCLUDING the reference f-string's leading
    newline, 12-space indents, and trailing newline+indent
    (consumer/consumer.py:85-89)."""
    got = parsed.select(ex.embedding_text(F.col("cve")).alias("t")).first()["t"]
    assert got == (
        "\n            Title: Sample overflow"
        "\n            CVE ID: CVE-2024-0001"
        "\n            Description: A buffer overflow."
        "\n            "
    )


def test_embed_metadata_shape(parsed):
    """P2 — the 6-field flat record (consumer/consumer.py:92-104), as the
    ingest path projects it next to the P3 embedding text."""
    df = extract_embedding_rows(parsed)
    assert df.columns == ["cve_id", "published_date", "updated_date", "severity", "score", "cwe_id", "text"]
    first = df.first()
    assert first["published_date"] == "2024-01-02T00:00:00"
    assert first["score"] == 8.1


def test_nvd_extraction_defaults(spark):
    """P6/P7 — NVD shape with the enrichment path's '' defaults
    (llama-chatbot/main.py:107-123; 'Unknown' is display-only)."""
    full = {
        "cve": {
            "id": "CVE-2024-9999",
            "weaknesses": [{"description": [{"value": "CWE-79"}]}],
            "metrics": {
                "cvssMetricV31": [
                    {"cvssData": {"attackVector": "NETWORK", "baseSeverity": "LOW", "baseScore": 3.1}}
                ]
            },
            "references": [{"url": "https://example.com/a"}, {"url": "https://example.com/b"}],
        }
    }
    df = spark.createDataFrame(
        [(json.dumps(full),), (json.dumps({"cve": {"id": "CVE-2024-0000"}}),)], "raw string"
    ).withColumn("doc", F.from_json("raw", NVD_CVE_SCHEMA))
    av, sev, score = ex.nvd_cvss(F.col("doc"))
    rows = df.select(
        ex.nvd_cwe(F.col("doc")).alias("cwe"),
        av.alias("av"),
        sev.alias("sev"),
        score.alias("score"),
        ex.nvd_reference_urls(F.col("doc")).alias("urls"),
    ).collect()
    assert rows[0]["cwe"] == "CWE-79"
    assert rows[0]["av"] == "NETWORK"
    assert rows[0]["urls"] == ["https://example.com/a", "https://example.com/b"]
    assert rows[1]["cwe"] == ""
    assert rows[1]["av"] == ""
    assert rows[1]["score"] == 0.0
    assert rows[1]["urls"] == []


def test_enhance_query_rewrite(spark):
    """P9 — conditional suffix (chatbot/main.py:105-109)."""
    df = spark.createDataFrame([("What is CVE-2024-1?",), ("hello",)], "q string")
    rows = df.select(ex.enhance_query(F.col("q")).alias("out")).collect()
    # the reference's exact suffix, space-joined (chatbot/main.py:108)
    assert rows[0]["out"] == (
        "What is CVE-2024-1? Include technical details, severity, and "
        "specific mitigation steps if available."
    )
    assert rows[1]["out"] == "hello"
