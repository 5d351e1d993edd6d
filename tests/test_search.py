"""BM25 keyword retrieval vs a straight-line Python reference."""

from __future__ import annotations

import math

import pytest

from ingestion_pipeline_spark.operators.search import B, K1, bm25_scores, bm25_topk

DOCS = [
    (1, "spark shuffles the table by hash"),
    (2, "the table of tables joins a table"),
    (3, "hash hash hash"),
    (4, "nothing relevant here at all"),
    (5, "Spark TABLE Hash"),  # case-folding
]
TERMS = ["spark", "table", "hash"]
# on this ASCII text str.split() is the engine's whitespace rule
TOKS = {d: t.lower().split() for d, t in DOCS}


def _ref_scores(toks: dict[int, list[str]]) -> dict[int, float]:
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {w: sum(1 for v in toks.values() if w in v) for w in TERMS}
    out = {}
    for d, v in toks.items():
        s = 0.0
        for w in TERMS:
            tf = v.count(w)
            idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
            s += idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * len(v) / avgdl)))
        if any(w in v for w in TERMS):
            out[d] = s
    return out


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_scores_match_reference(docs):
    got = {r["doc_id"]: r["score"] for r in bm25_scores(docs, "text", "doc_id", TERMS).collect()}
    ref = _ref_scores(TOKS)
    assert set(got) == set(ref)  # doc 4 excluded (no matching term)
    for d in ref:
        assert got[d] == pytest.approx(ref[d], rel=1e-12)


def test_topk_order_and_rank(docs):
    rows = bm25_topk(docs, "text", "doc_id", TERMS, k=3).collect()
    ref = _ref_scores(TOKS)
    want = sorted(ref, key=lambda d: (-ref[d], d))[:3]
    assert [r["doc_id"] for r in rows] == want
    assert [r["rank"] for r in rows] == [1, 2, 3]


def test_kernel_counts_tokens_like_word_tokens(spark):
    """The kernel's dl and tf come from the engine's whitespace rule,
    which the JVM ``word_tokens`` and the BM25 oracles share: NBSP and
    U+2028 join words. ``str.split()`` splits on both, which would give
    doc 1 three tokens and doc 2 a ``table`` hit."""
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.functions.text import word_tokens

    rows = [
        (1, "spark\xa0table hash"),
        (2, "table\u2028hash spark"),
        (3, "hash table table"),
        (4, "spark"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = {
        r["doc_id"]: list(r["tk"])
        for r in df.select("doc_id", word_tokens(F.lower("text")).alias("tk")).collect()
    }
    assert len(jvm[1]) == 2 and "table" not in jvm[2]
    got = {r["doc_id"]: r["score"] for r in bm25_scores(df, "text", "doc_id", TERMS).collect()}
    ref = _ref_scores(jvm)
    assert set(got) == set(ref)
    for d in ref:
        assert got[d] == pytest.approx(ref[d], rel=1e-12)
