"""Forty-seventh registry tranche: TextRank keyword extraction.

``tx_textrank_keywords`` — TextRank (Mihalcea & Tarau, EMNLP 2004):
build the word co-occurrence graph (adjacent lowercase-alpha word
pairs across the corpus, vocabulary-bounded), run PageRank over it,
surface the top-ranked words as corpus keywords. The bigram machinery
(``tx_topk_bigrams`` shape) builds the edges; the centrality is the
fixed-point integer PageRank of ``operators/graph.py`` (1e-12 rank
units, damping 85/100, 10 rounds), so the result is oracle-gated: the
DuckDB oracle unrolls the same recurrence (``pagerank_fp_ctes``) and
the value hash gates the math.

The graph has at most ``_TOP_VOCAB × (_TOP_VOCAB − 1)`` edges whatever
the corpus size, so it is ranked by ``bounded_pagerank_fixed_point`` —
one collect and a local pass — and not by the distributed loop, which
ran 28 Spark jobs for the 10 rounds over its 900-edge, 30-node graph at
sf0.1, nearly all of them per-job overhead. Semantics are also pinned
in ``tests/test_graph_sketch.py`` (connector words rank above rare
ones, determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import alpha_words, alpha_words_sql
from ..operators.graph import PR_ITERS, PR_SCALE, bounded_pagerank_fixed_point
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .pagerank_sql import PR_RANKS, pagerank_fp_ctes
from .registry import register

_TOP_VOCAB = 150
_TOP_K = 20
# distinct ordered pairs of distinct vocabulary words: the graph's size
# bound whatever the corpus size
_MAX_EDGES = _TOP_VOCAB * (_TOP_VOCAB - 1)

_EDGES_SQL = f"""
    toks AS (
        SELECT {alpha_words_sql("lower(text)")} AS w
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT t.word AS word, COUNT(*) AS n
            FROM toks, UNNEST(w) AS t(word) GROUP BY t.word
        ) ORDER BY n DESC, word LIMIT {_TOP_VOCAB}
    ),
    rawpairs AS (
        SELECT u.p[1] AS id_a, u.p[2] AS id_b
        FROM toks, UNNEST(list_zip(w, w[2:])) AS u(p)
    ),
    pairs AS (
        SELECT DISTINCT id_a, id_b FROM rawpairs
        WHERE id_b IS NOT NULL AND id_a <> id_b
          AND id_a IN (SELECT word FROM vocab)
          AND id_b IN (SELECT word FROM vocab)
    )"""


@register(
    "tx_textrank_keywords",
    f"""
    WITH {_EDGES_SQL},
    {pagerank_fp_ctes()}
    SELECT n AS keyword, r AS rank_fp,
           ROUND(CAST(r AS DOUBLE) / {PR_SCALE}, 8) AS rank
    FROM {PR_RANKS}
    ORDER BY r DESC, n LIMIT {_TOP_K}
    """,
    "TextRank corpus keywords: adjacent-word co-occurrence edges over "
    f"the top-{_TOP_VOCAB} vocabulary (bounded — rare words cannot "
    "enter the graph), symmetric fixed-point PageRank (damping 85/100, "
    "10 rounds, integer 1e-12 rank units, so the DuckDB oracle unrolls "
    f"the iterations and the value hash gates the math), top-{_TOP_K} "
    "by (rank DESC, word). One corpus bigram pass builds the edge list; "
    f"the graph has at most {_MAX_EDGES} edges whatever the corpus "
    "size, so the bounded PageRank operator ranks it in one local pass "
    "(the distributed loop ran 28 Spark jobs on it at sf0.1).",
)
def tx_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    # arrays_zip rather than the zip_with higher-order function: that
    # runs interpreted (CodegenFallback).
    words = docs.select(alpha_words(F.lower(F.col("text"))).alias("w"))
    # vocabulary bound: only top-N words may be graph nodes
    vocab = (
        words.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(_TOP_VOCAB)
        .select("word")
    )
    pairs = (
        words.select(
            F.explode(
                F.arrays_zip(
                    F.col("w").alias("src"),
                    F.slice(
                        "w", 2, F.greatest(F.size("w") - 1, F.lit(0))
                    ).alias("dst"),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )
    edges = (
        pairs.join(F.broadcast(vocab.withColumnRenamed("word", "src")), "src")
        .join(F.broadcast(vocab.withColumnRenamed("word", "dst")), "dst")
        .distinct()
    )
    ranks = bounded_pagerank_fixed_point(
        edges, "src", "dst", iters=PR_ITERS, max_edges=_MAX_EDGES
    )
    return (
        ranks.orderBy(F.col("rank_fp").desc(), F.col("n"))
        .limit(_TOP_K)
        .select(
            F.col("n").alias("keyword"),
            "rank_fp",
            F.round(
                F.col("rank_fp").cast("double") / F.lit(PR_SCALE), 8
            ).alias("rank"),
        )
    )
