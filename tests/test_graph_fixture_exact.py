"""Exact-value pins for the r12 graph-iteration refactor.

Round 12 rewrote the per-round join shape of the uniform and seeded
fixed-point PageRank and of ``label_propagation`` (degree attached to
the static edge frame once; the redundant per-round node left-join
dropped on symmetrized graphs; LPA's window argmax replaced by an
aggregate argmin of ``(-count, label)``); both PageRank forms are now
one ``pagerank_fixed_point`` with a ``seed`` predicate. The arithmetic
contract must be BIT-IDENTICAL — these queries are value-hash-gated
against unrolled DuckDB CTEs — so this module replays the exact integer
recurrences in pure Python on a fixture graph with every interesting
shape (star, clique, chain, bridge, isolated pair) and asserts
equality, not proximity.
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from ingestion_pipeline_spark.operators.graph import (
    PR_SCALE,
    bounded_pagerank_fixed_point,
    label_propagation,
    pagerank_fixed_point,
)

# star(0;1-4) + clique(10,11,12) + chain 20-21-22-23 + bridge 4-10 +
# isolated pair (30,31)
EDGES = [
    (0, 1), (0, 2), (0, 3), (0, 4),
    (10, 11), (10, 12), (11, 12),
    (20, 21), (21, 22), (22, 23),
    (4, 10),
    (30, 31),
]


def _sym(edges):
    return edges + [(b, a) for a, b in edges]


def _ref_pagerank_fp(edges, iters=10):
    sym = _sym(edges)
    nodes = sorted({n for e in sym for n in e})
    deg = defaultdict(int)
    for s, _ in sym:
        deg[s] += 1
    n_total = len(nodes)
    init = PR_SCALE // n_total
    base = (15 * PR_SCALE) // (100 * n_total)
    r = {n: init for n in nodes}
    for _ in range(iters):
        contrib = defaultdict(int)
        for s, d in sym:
            contrib[d] += r[s] // deg[s]
        r = {n: base + (85 * contrib[n]) // 100 for n in nodes}
    return r


def _ref_ppr_fp(edges, seed_list, iters=10):
    sym = _sym(edges)
    nodes = sorted({n for e in sym for n in e})
    seeds = [s for s in seed_list if s in nodes]
    deg = defaultdict(int)
    for s, _ in sym:
        deg[s] += 1
    n_seeds = len(seeds)
    init = PR_SCALE // n_seeds
    base = (15 * PR_SCALE) // (100 * n_seeds)
    is_seed = {n: 1 if n in seeds else 0 for n in nodes}
    r = {n: is_seed[n] * init for n in nodes}
    for _ in range(iters):
        contrib = defaultdict(int)
        for s, d in sym:
            contrib[d] += r[s] // deg[s]
        r = {n: is_seed[n] * base + (85 * contrib[n]) // 100 for n in nodes}
    return r


def _ref_lpa(edges, iters=4):
    sym = _sym(edges)
    nodes = sorted({n for e in sym for n in e})
    label = {n: n for n in nodes}
    for _ in range(iters):
        votes = {n: defaultdict(int) for n in nodes}
        for s, d in sym:
            votes[d][label[s]] += 1
        for n in nodes:
            votes[n][label[n]] += 1  # self-vote
        label = {
            n: min(votes[n], key=lambda lb: (-votes[n][lb], lb))
            for n in nodes
        }
    return label


def test_pagerank_fixed_point_exact(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r["n"]: r["rank_fp"]
        for r in pagerank_fixed_point(df).collect()
    }
    assert got == _ref_pagerank_fp(EDGES, iters=10)


def test_personalized_pagerank_fixed_point_exact(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r["n"]: r["rank_fp"]
        for r in pagerank_fixed_point(
            df, seed=lambda n: n.isin(0, 20)
        ).collect()
    }
    assert got == _ref_ppr_fp(EDGES, [0, 20], iters=10)


def _jobs(spark, group, action):
    """``action()``'s result and the Spark jobs it ran, counted in its
    own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_seeded_pagerank_runs_as_many_jobs_as_uniform(spark):
    """A seed predicate costs no job over uniform PageRank: both run the
    same prelude (symmetrize, node flags with the seed count observed on
    their checkpoint, static edge frame) and the same rounds. Counted
    with AQE off: adaptive re-planning adds or drops a job per 3-round
    segment from run to run (41-43 jobs on this graph with it on), which
    hides the operator's own job structure."""
    df = spark.createDataFrame(EDGES, "src long, dst long")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, seeded = _jobs(spark, "ppr-seeded", lambda: pagerank_fixed_point(
            df, seed=lambda n: n.isin(0, 20)
        ).collect())
        _, uniform = _jobs(
            spark, "ppr-uniform",
            lambda: pagerank_fixed_point(df).collect(),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert seeded == uniform


def test_label_propagation_exact(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r["n"]: r["community"]
        for r in label_propagation(df).collect()
    }
    assert got == _ref_lpa(EDGES, iters=4)


def _ranks(df):
    return {r["n"]: r["rank_fp"] for r in df.collect()}


def test_bounded_pagerank_fixed_point_exact(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = bounded_pagerank_fixed_point(df, "src", "dst", iters=10, max_edges=100)
    assert got.schema.simpleString() == "struct<n:bigint,rank_fp:bigint>"
    assert _ranks(got) == _ref_pagerank_fp(EDGES, iters=10)


@pytest.mark.parametrize(
    "edges, ddl",
    [
        # string node ids, as TextRank's word graph has
        ([("a", "b"), ("a", "c"), ("c", "d"), ("e", "f")], "src string, dst string"),
        # both orientations present: the symmetrized multiset counts each twice
        ([(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (1, 4)], "src long, dst long"),
        ([], "src long, dst long"),
    ],
    ids=["string_ids", "both_orientations", "empty"],
)
def test_bounded_pagerank_equals_distributed(spark, edges, ddl):
    df = spark.createDataFrame(edges, ddl)
    got = bounded_pagerank_fixed_point(df, "src", "dst", iters=10, max_edges=100)
    assert got.schema["n"].dataType == df.schema["src"].dataType
    assert _ranks(got) == _ranks(pagerank_fixed_point(df))


def test_bounded_pagerank_rejects_more_than_max_edges(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    bounded_pagerank_fixed_point(df, "src", "dst", iters=1, max_edges=len(EDGES))
    with pytest.raises(ValueError, match="more than 11 edges"):
        bounded_pagerank_fixed_point(df, "src", "dst", iters=1, max_edges=len(EDGES) - 1)


def test_textrank_keywords_runs_few_jobs(spark, sf_dir):
    """The vocabulary-bounded word graph is ranked in one local pass: the
    whole query stays within 10 Spark jobs (the distributed loop alone
    ran 28)."""
    from ingestion_pipeline_spark.plans import query_map

    rows, jobs = _jobs(
        spark, "textrank-jobs",
        lambda: query_map()["tx_textrank_keywords"](spark, sf_dir).collect(),
    )
    assert len(rows) == 20
    assert jobs <= 10
