"""Data-quality expectations: report math, null-as-violation semantics,
row-level split/quarantine routing."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ingestion_pipeline_spark.operators.quality import (
    expectation_report,
    split_by_expectations,
)
from ingestion_pipeline_spark.plans import plan_text

ROWS = [
    (1, 100.0, "O"),
    (2, -5.0, "O"),     # fails positive
    (3, None, "F"),     # NULL price: must count as violation, not unknown
    (4, 50.0, "X"),     # fails domain
    (5, 200.0, None),   # NULL status: violation of domain rule
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(ROWS, "id long, price double, status string")


RULES = lambda: {  # noqa: E731 — fresh Columns per use
    "price_positive": F.col("price") > 0,
    "status_in_domain": F.col("status").isin("O", "F"),
}


def test_report_counts_and_null_semantics(df):
    rep = {r["rule"]: r for r in expectation_report(df, RULES()).collect()}
    assert rep["price_positive"]["n_rows"] == 5
    assert rep["price_positive"]["n_violations"] == 2  # -5 and NULL
    assert rep["price_positive"]["pass_fraction"] == pytest.approx(0.6)
    assert not rep["price_positive"]["ok"]
    assert rep["status_in_domain"]["n_violations"] == 2  # X and NULL
    assert not rep["status_in_domain"]["ok"]


def test_report_all_ok_on_clean_data(spark):
    clean = spark.createDataFrame([(1, 1.0, "O")], "id long, price double, status string")
    rep = expectation_report(clean, RULES()).collect()
    assert all(r["ok"] and r["n_violations"] == 0 and r["pass_fraction"] == 1.0 for r in rep)


def test_split_routes_violations_with_rule_names(df):
    clean, quarantined = split_by_expectations(df, RULES())
    assert {r["id"] for r in clean.collect()} == {1}
    q = {r["id"]: set(r["failed_rules"]) for r in quarantined.collect()}
    assert q == {
        2: {"price_positive"},
        3: {"price_positive"},
        4: {"status_in_domain"},
        5: {"status_in_domain"},
    }
    assert "failed_rules" not in clean.columns


def test_report_single_scan(df):
    # the report must not scan once per rule: the 1-row aggregate is
    # materialized (localCheckpoint, r12) and every union branch reads
    # it as an ExistingRDD — the input relation appears in the compiled
    # plan at most once (it may not appear at all: the checkpoint
    # truncates lineage, so the upstream scan runs exactly once at
    # materialization time)
    plan = plan_text(expectation_report(df, RULES()))
    n_branches = plan.count("Scan ExistingRDD")
    n_input_scans = plan.count("Scan ") - n_branches
    assert n_input_scans <= 1, plan


def test_observed_metrics_ride_the_action(spark, sf_dir):
    """df.observe metrics equal independently-computed aggregates and
    cost no extra scan (same executed plan modulo the observe node)."""
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.operators.quality import observed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out, obs = observed(
        docs,
        "ingest_ledger",
        {
            "n_rows": F.count(F.lit(1)),
            "n_null_text": F.count(F.lit(1)) - F.count("text"),
            "total_chars": F.sum("n_chars"),
        },
    )
    written = out.filter(F.col("n_chars") >= 0).count()  # the consuming action
    got = obs.get
    assert got["n_rows"] == docs.count() == written + docs.filter(F.col("n_chars") < 0).count()
    assert got["n_null_text"] == 0
    assert got["total_chars"] == docs.agg(F.sum("n_chars")).first()[0]
