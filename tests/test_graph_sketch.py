"""Connected-components dedup clustering + sketch-aggregate accuracy."""

from __future__ import annotations

from pyspark.sql import functions as F

from ingestion_pipeline_spark.operators.graph import connected_components, dup_clusters


def test_connected_components_chain_triangle(spark):
    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "src bigint, dst bigint",
    )
    got = {
        (r["n"], r["component"]) for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_dup_clusters_singletons_and_survivors(spark):
    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(1, 5), (5, 6), (2, 3)], "id_a bigint, id_b bigint"
    )
    assigned = dup_clusters(ids, pairs, "doc_id")
    got = {(r["doc_id"], r["component"]) for r in assigned.collect()}
    assert got == {
        (1, 1), (5, 1), (6, 1),   # one cluster via 1-5-6
        (2, 2), (3, 2),
        (4, 4), (7, 7),           # untouched docs are singletons
    }
    survivors = {
        r["doc_id"]
        for r in assigned.filter(F.col("doc_id") == F.col("component")).collect()
    }
    assert survivors == {1, 2, 4, 7}


def _cc_jobs(spark, edges, group, **kw):
    """Run ``connected_components`` under its own job group; return the
    labels and the number of Spark jobs the call launched."""
    sc = spark.sparkContext
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    sc.setJobGroup(group, group)
    try:
        got = {
            r["n"]: r["component"]
            for r in connected_components(df, **kw).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return got, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixed_point_stops_on_repeated_witness(spark):
    """The loop driver must stop once the convergence witness repeats.
    Values cannot show this (CC is idempotent at its fixpoint), so the
    test counts jobs: a star centred on its minimum id converges in
    initialization and must stop after ONE confirmation round — as many
    jobs as a run capped at one round — while a 6-node path needs
    several rounds and so strictly more jobs."""
    star = [(1, i) for i in range(2, 7)]
    path = [(i, i + 1) for i in range(1, 6)]
    got, star_jobs = _cc_jobs(spark, star, "fp-star")
    assert set(got.values()) == {1}
    _, capped_jobs = _cc_jobs(spark, star, "fp-star-capped", max_iter=1)
    assert star_jobs == capped_jobs
    got, path_jobs = _cc_jobs(spark, path, "fp-path")
    assert got == {i: 1 for i in range(1, 7)}
    assert path_jobs > star_jobs


def test_sketch_aggregates_accuracy(spark, sf_dir):
    from ingestion_pipeline_spark.sources.parquet_tables import table

    ev = table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: (r["users"], r["p50"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        )
        .collect()
    }
    # exercise the REGISTRY query so the driver-facing output shape is
    # pinned: flat scalar p50/p95/p99 columns, not array<double> — the
    # array form crashed the driver's rows-only canonicalizer
    # (pandas sort_values on list cells, CORRECTNESS_r10 / VERDICT r10 #1)
    from ingestion_pipeline_spark.plans import REGISTRY

    q = REGISTRY["g_sketch_aggregates"].spark(spark, sf_dir)
    assert [f.name for f in q.schema.fields] == [
        "event_type", "approx_users", "p50", "p95", "p99", "n_events",
    ]
    assert all(
        f.dataType.typeName() != "array" for f in q.schema.fields
    ), "driver rows-only canonicalizer cannot sort array cells"
    approx = {
        r["event_type"]: (r["approx_users"], r["p50"]) for r in q.collect()
    }
    assert exact.keys() == approx.keys()
    for etype, (users, p50) in exact.items():
        a_users, a_p50 = approx[etype]
        assert abs(a_users - users) / users <= 0.05
        spread_ref = max(abs(p50), 1e-9)
        assert abs(a_p50 - p50) / spread_ref <= 0.05


def test_dataset_split_stable_under_repartitioning(spark, sf_dir):
    from ingestion_pipeline_spark.functions.sampling import (
        dataset_split,
        deterministic_sample,
    )
    from ingestion_pipeline_spark.sources.parquet_tables import table
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["split"] for r in docs.select(
        "doc_id", dataset_split(F.col("doc_id")).alias("split")).collect()}
    b = {r["doc_id"]: r["split"] for r in docs.repartition(13).select(
        "doc_id", dataset_split(F.col("doc_id")).alias("split")).collect()}
    assert a == b  # partitioning-independent (sample()/sampleBy() are not)

    n = len(a)
    from collections import Counter
    frac = {k: v / n for k, v in Counter(a.values()).items()}
    assert 0.7 <= frac["train"] <= 0.9
    assert 0.04 <= frac.get("val", 0) <= 0.18
    assert 0.04 <= frac.get("test", 0) <= 0.18

    kept = docs.filter(deterministic_sample(F.col("doc_id"), 0.25)).count()
    assert 0.15 <= kept / n <= 0.35


# ---- PageRank ---------------------------------------------------------

def _pr_reference(edges, damping=0.85, iters=10):
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {i: [] for i in range(n)}
    for s, d in edges:
        out[idx[s]].append(idx[d])
    rank = [1.0 / n] * n
    for _ in range(iters):
        contrib = [0.0] * n
        dangling = 0.0
        for i in range(n):
            if out[i]:
                share = rank[i] / len(out[i])
                for j in out[i]:
                    contrib[j] += share
            else:
                dangling += rank[i]
        rank = [
            (1 - damping) / n + damping * (contrib[i] + dangling / n)
            for i in range(n)
        ]
    return {nodes[i]: rank[i] for i in range(n)}


# ---- Mergeable HLL sketches ------------------------------------------

def test_hll_merge_within_5pct_of_exact(spark):
    import pyspark.sql.functions as F
    from ingestion_pipeline_spark.plans.registry_ext23 import g_hll_partitioned_merge
    from ingestion_pipeline_spark.sources.parquet_tables import table

    sf = "/root/testdata/sf0.001"
    got = {r["event_type"]: r["est_users"] for r in g_hll_partitioned_merge(spark, sf).collect()}
    exact = {
        r["event_type"]: r["exact"]
        for r in table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert set(got) == set(exact)
    for t in exact:
        assert abs(got[t] - exact[t]) <= max(1, 0.05 * exact[t])


def test_textrank_keywords_semantics(spark, sf_dir):
    """TextRank keywords: deterministic, ranks positive and ordered,
    and the surfaced words are high-connectivity corpus words (every
    keyword appears in the top-vocabulary by construction)."""
    from ingestion_pipeline_spark.plans import query_map

    fn = query_map()["tx_textrank_keywords"]
    a = [(r["keyword"], r["rank"]) for r in fn(spark, sf_dir).collect()]
    b = [(r["keyword"], r["rank"]) for r in fn(spark, sf_dir).collect()]
    assert a == b  # fixed-iteration PageRank is reproducible
    assert len(a) == 20
    ranks = [r for _, r in a]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r > 0 for r in ranks)
    # connector words out-rank rare ones: each keyword occurs many times
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from pyspark.sql import functions as F

    counts = {
        r["w"]: r["n"]
        for r in docs.select(
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert all(counts.get(kw, 0) >= 5 for kw, _ in a)


def test_pagerank_fixed_point_tracks_float_reference(spark):
    """Fixed-point integer PageRank (the oracle-gated variant) agrees
    with the float reference to within the quantization error bound
    (~iters·|V| micro-units), and ranks are positive integers."""
    from ingestion_pipeline_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixed_point,
    )

    edges = [(0, i) for i in range(1, 6)] + [(10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["n"]: r["rank_fp"]
        for r in pagerank_fixed_point(df).collect()
    }
    sym = edges + [(b, a) for a, b in edges]
    ref = _pr_reference(sym)
    assert set(got) == set(ref)
    for k in ref:
        assert isinstance(got[k], int) and got[k] > 0
        # each of 10 iterations can lose < |V| units to floor division
        assert abs(got[k] / PR_SCALE - ref[k]) < 10 * len(ref) / PR_SCALE
    # same ordering conclusions as the float path
    assert got[0] > got[1]
    assert got[10] == got[11]


def test_label_propagation_semantics(spark):
    """LPA on two triangles joined by ONE bridge edge: connected
    components would merge everything into one cluster; majority-vote
    LPA must keep the two dense triangles as separate communities."""
    from ingestion_pipeline_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    edges = [
        (1, 2), (2, 3), (1, 3),      # triangle A
        (10, 11), (11, 12), (10, 12),  # triangle B
        (3, 10),                       # weak bridge
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    lpa = {r["n"]: r["community"] for r in label_propagation(df).collect()}
    cc = {r["n"]: r["component"] for r in connected_components(df).collect()}
    assert len(set(cc.values())) == 1       # one component (bridged)
    assert lpa[1] == lpa[2] == lpa[3]       # triangle A is one community
    assert lpa[10] == lpa[11] == lpa[12]    # triangle B is one community
    assert lpa[1] != lpa[10]                # ...and they stay distinct


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """PPR rank mass must stay in the seed's neighbourhood: on two
    disjoint triangles with a seed in only one, the other triangle
    gets rank 0; within the seeded triangle the seed ranks highest."""
    from ingestion_pipeline_spark.operators.graph import pagerank_fixed_point

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["n"]: r["rank_fp"]
        for r in pagerank_fixed_point(
            df, seed=lambda n: n == 1
        ).collect()
    }
    assert got[10] == got[11] == got[12] == 0  # unreachable from seed
    assert got[1] > got[2] > 0 and got[2] == got[3]  # seed dominates
