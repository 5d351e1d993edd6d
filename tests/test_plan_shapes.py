"""Shuffle-budget regression guard: for queries whose DESIGN CLAIM is a
specific physical shape ("one shuffle", "broadcast, no fact exchange"),
pin the executed plan's Exchange count to a budget. A code change that
silently doubles shuffles — the classic scale regression, invisible at
fixture sizes — fails here instead of in production.

Budgets are ceilings (<=), so plan improvements never fail the suite.
Counts include BroadcastExchange (cheap but still a plan feature); the
point is the diff, not the absolute number.
"""

from __future__ import annotations

import pytest

from ingestion_pipeline_spark.plans import query_map, release_caches

# name -> max Exchange nodes in the executed plan at sf0.001.
# Each entry is a design claim from SCALE.md / the query docstring.
EXCHANGE_BUDGETS = {
    # single-pass wide agg: one partial/final shuffle
    "q1_pricing_summary": 1,
    # per-group top-k: one window shuffle, no global sort
    "t_top3_orders_per_customer": 1,
    # global top-k = TakeOrdered: NO exchange at all
    "t_top_orders": 0,
    # two windows sharing one user_id shuffle
    "w_sessionize_events": 1,
    "w_running_user_value": 1,
    # exact dedup: one hash shuffle
    "d_exact_dup_groups": 1,
    # minhash: signature agg + banded self-join
    "d_minhash_lsh_candidates": 5,
    # probe broadcast, corpus never shuffles
    "v_cosine_top8": 0,
    "v_knn_join": 2,
    # corpus-prep composite: bounded pipeline
    "pipeline_corpus_prep": 8,
    # pure projections: zero shuffle by construction
    "tx_chunk_overlap": 0,
    "tx_c4_sentence_filter": 0,
    "tx_unicode_normalize": 0,
    "v_quantize_int8": 0,
    "tx_redact_pii": 0,
    # window-min cohort derivation (no fact self-join)
    "w_cohort_retention": 5,
    # md5-keyed span groupBy: explode + one agg (+AQE read)
    "d_duplicate_spans": 2,
    # one lag window + small aggs
    "w_event_transitions": 3,
    # term-keyed aggs
    "t_inverted_index": 2,
    # per-source window + groups-sized offsets
    "t_global_dense_ids": 4,
    # BM25: stats broadcast, one scan + topk
    "t_bm25_keyword_topk": 2,
    # bounded-collect BPE: word-freq agg only (TakeOrdered + local)
    "tx_bpe_merges": 0,
    # salted join stays at the unsalted plan's two exchanges
    "j_salted_brand_revenue": 2,
    # sessionization / hourly rollups: one keyed shuffle each
    "w_hourly_event_rollup": 1,
    "w_session_window_rollup": 1,
    "w_zscore_anomalies": 1,
}


def test_unpartitioned_window_detector(spark):
    """The audit_plans.py global-window detector (round 5, verdict r4
    directive #3) must flag the retired ntile-over-corpus shape of
    d_difficulty_buckets if it is ever reintroduced, while staying
    silent on partitioned windows, partition-only (no order) windows,
    and partitioned WindowGroupLimit plans — the three text-format
    ambiguities the parser disambiguates."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from audit_plans import unpartitioned_windows

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("g", F.col("id") % 3)

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    # the retired anti-pattern: global ntile, no partitionBy
    ntile = df.withColumn("b", F.ntile(10).over(Window.orderBy("id")))
    assert unpartitioned_windows(plan(ntile)) == 1

    # partitioned window: clean
    part = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert unpartitioned_windows(plan(part)) == 0

    # partition-only window (no orderBy): prints two groups like the
    # unpartitioned form, but the last group is not an ORDER spec
    part_only = df.withColumn(
        "s", F.sum("id").over(Window.partitionBy("g"))
    )
    assert unpartitioned_windows(plan(part_only)) == 0

    # partitioned rank+filter plans a WindowGroupLimit whose partition
    # group is printed inline — must not be mistaken for empty
    grplim = part.filter("r <= 2")
    assert unpartitioned_windows(plan(grplim)) == 0

    # unpartitioned rank+filter: both the Window and its GroupLimit fire
    glim_global = (
        df.withColumn("r", F.row_number().over(Window.orderBy("id")))
        .filter("r <= 2")
    )
    assert unpartitioned_windows(plan(glim_global)) >= 1


@pytest.mark.parametrize("name", sorted(EXCHANGE_BUDGETS))
def test_exchange_budget(spark, sf_dir, name):
    df = query_map()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = plan.count("Exchange")
    assert n <= EXCHANGE_BUDGETS[name], (
        f"{name}: {n} Exchange nodes > budget {EXCHANGE_BUDGETS[name]} — "
        "a shuffle regression; diff .explain('formatted') against the "
        "shape documented in SCALE.md before raising the budget"
    )


def test_no_nonscalar_output_columns(spark, sf_dir):
    """Driver-canonicalizer contract (VERDICT r10 #1): the rows-only
    compare pandas-sorts ALL columns, and array/map/struct cells crash
    it (g_sketch_aggregates, CORRECTNESS_r10) — while array<double>
    hash-compares fail on rendering even when values match (the qcodes
    convention). EVERY queries() output column must therefore be
    scalar. Only the schema is read, but BUILDING the frame is not
    free: the iterative builders (graph family, kmeans, cascade) run
    jobs and pin persisted/localCheckpoint blocks at construction time
    — so finish with the bench-loop hygiene sweep, or the leaked
    blocks contaminate later tests in the shared session."""
    offenders = {}
    try:
        for name, fn in query_map().items():
            df = fn(spark, sf_dir)
            bad = [
                f.name
                for f in df.schema.fields
                if f.dataType.typeName() in ("array", "map", "struct")
            ]
            if bad:
                offenders[name] = bad
    finally:
        release_caches(spark)
    assert not offenders, (
        f"non-scalar output columns reach the driver: {offenders} — "
        "flatten to scalars or comma-joined fixed-point strings"
    )
