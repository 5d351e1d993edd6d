"""Scale-mechanics assertions: the physical plans that make the engine
viable at 100 TB, verified on fixture data by inspecting executed plans
— bucketed co-located joins (no exchange), broadcast pruning, and
exchange reuse. Complements tools/audit_plans.py, which audits every
registry query."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestion_pipeline_spark.plans import plan_text
from ingestion_pipeline_spark.sinks import write_bucketed
from ingestion_pipeline_spark.sources.parquet_tables import table


def test_bucketed_join_needs_no_exchange(spark, sf_dir, tmp_path):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, "b_lineitem", "l_orderkey", 8, sort_col="l_orderkey",
                   path=str(tmp_path / "b_lineitem"))
    write_bucketed(orders, "b_orders", "o_orderkey", 8, sort_col="o_orderkey",
                   path=str(tmp_path / "b_orders"))

    bl, bo = spark.table("b_lineitem"), spark.table("b_orders")
    # Force the co-located sort-merge path (broadcast would hide bucketing).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        plan = plan_text(joined)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # and the join still returns the right row count
    expected = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert joined.count() == expected

    # groupBy on the bucket key also rides the existing distribution.
    agg_plan = plan_text(bl.groupBy("l_orderkey").agg(F.sum("l_quantity")))
    assert "Exchange" not in agg_plan, agg_plan

    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_broadcast_join_has_no_shuffle_of_fact_side(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    plan = plan_text(
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def test_identical_subplans_reuse_one_exchange(spark, sf_dir):
    """Self-join on an aggregated subquery: Spark must compute the
    shuffled aggregate once (ReusedExchange / ReusedSubquery), not twice
    — the pattern q11/q15-style queries rely on."""
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("spend")
    )
    joined = per_cust.alias("a").join(
        per_cust.alias("b"), F.col("a.o_custkey") == F.col("b.o_custkey")
    )
    joined.collect()  # AQE finalizes reuse only once THIS plan has executed
    plan = plan_text(joined)
    assert "ReusedExchange" in plan or plan.count("Exchange hashpartitioning") == 1, plan


def test_probe_normalizer_blend_and_fallback():
    """VERDICT r10 #5: the vs_prior machine-speed divisor is the
    geometric blend of the CPU and IO probe ratios when the prior
    recorded both legs, and the CPU-only leg otherwise (pre-r11
    priors). Pure arithmetic — no Spark session."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _min_opt, _probe_normalizer

    # fallback: no IO leg in the prior
    assert _probe_normalizer(0.98, None) == 0.98
    # blend: geometric mean, 3-decimal rounding
    assert _probe_normalizer(1.0, 1.0) == 1.0
    assert _probe_normalizer(0.5, 2.0) == 1.0   # opposite-sign legs cancel
    assert _probe_normalizer(1.44, 1.0) == 1.2
    # a 0.0 io ratio (degenerate prior) must not zero the divisor
    assert _probe_normalizer(0.9, 0.0) == 0.9

    # fail-soft IO leg (_env_probe_io returns None on an unreadable
    # table): the min-of-legs helper must tolerate missing legs so the
    # always-emit-final-JSON contract survives a probe failure
    assert _min_opt(1.0, 2.0) == 1.0
    assert _min_opt(None, 2.0) == 2.0
    assert _min_opt(1.0, None) == 1.0
    assert _min_opt(None, None) is None


def test_sf_of_fixture_and_replica_dirs(capsys):
    """The bench's ``sf`` comes from the fixture dir's basename; replica
    dirs name no number and record -1.0 instead of raising before the
    warm-up. Pure string handling — no Spark session."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _sf_of

    assert _sf_of("/data/sf0.1") == 0.1
    assert _sf_of("/data/sf0.001/") == 0.001
    assert _sf_of("/data/sf10") == 10.0
    assert capsys.readouterr().err == ""
    for replica in (".scale/sf1x", "/data/sf100x-work", "/data/sf100x-dedup", "/data/corpus"):
        assert _sf_of(replica) == -1.0
    assert capsys.readouterr().err.count("recording sf -1.0") == 4


def test_janino_compile_count_is_guarded(spark):
    """The ledger's compile count reads Spark's CodegenMetrics through
    the JVM handle: a new generated class moves it, and a session
    without a handle (Spark Connect) records None instead of raising."""
    import os
    import sys
    import types

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import janino_compiles

    before = janino_compiles(spark)
    # a literal no earlier plan used: its generated class is new
    spark.range(3).selectExpr(f"id * {os.getpid()} + 17 AS x").collect()
    assert janino_compiles(spark) > before
    assert janino_compiles(types.SimpleNamespace()) is None


def test_mover_twin_exclusion_split():
    """VERDICT r11 #4: documented reference twins (fixed-cost by
    design, e.g. tx_bpe_tokenize_fold's compile-bound unrolled fold)
    are split OUT of regressions_gt_1p5x — they land in the separate
    twin bucket (recorded, never adjudicated as code drift). Pure
    arithmetic — no Spark session."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _movers_gt_1p5x

    times = {"a": 3.0, "twin": 4.8, "b": 1.0, "c": 0.06}
    prior = {"a": 1.0, "twin": 2.9, "b": 0.9, "c": 0.01}
    common = sorted(times)
    twins = {"twin"}
    movers = _movers_gt_1p5x(common, times, prior, set(common) - twins)
    twin_movers = _movers_gt_1p5x(common, times, prior, twins)
    # 'a' is a real 3x mover; 'twin' moved 1.66x but lands in the twin
    # bucket; 'b' is under threshold; 'c' is under the 50 ms jitter
    # floor (0.06/0.05 = 1.2x after flooring)
    assert movers == {"a": [1.0, 3.0]}
    assert twin_movers == {"twin": [2.9, 4.8]}
