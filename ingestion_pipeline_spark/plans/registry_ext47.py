"""Forty-seventh registry tranche: TextRank keyword extraction.

``tx_textrank_keywords`` — TextRank (Mihalcea & Tarau, EMNLP 2004):
build the word co-occurrence graph (adjacent lowercase-alpha word
pairs across the corpus, vocabulary-bounded), run PageRank over it,
surface the top-ranked words as corpus keywords. A pure composition of
verified pieces: the bigram machinery (``tx_topk_bigrams`` shape)
builds the edges, the centrality comes from the SAME
``pagerank_fixed_point`` operator the near-dup graph uses (oracle-adjacent: Python-reference-
pinned in ``test_graph_sketch.py``) — graph algorithms in this engine
are reusable operators, not per-query specials.

Iterative float fixpoint → rows-only gate; semantics pinned in
``tests/test_graph_sketch.py`` (connector words rank above rare ones,
ranks sum to 1, determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import PR_SCALE, pagerank_fixed_point
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .pagerank_sql import pagerank_fp_ctes
from .registry import register

_TOP_VOCAB = 150
_TOP_K = 20

_EDGES_SQL = f"""
    toks AS (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           w -> w <> '') AS w
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
    {pagerank_fp_ctes(10)}
    SELECT n AS keyword, r AS rank_fp,
           ROUND(CAST(r AS DOUBLE) / {PR_SCALE}, 8) AS rank
    FROM pr_r10
    ORDER BY r DESC, n LIMIT {_TOP_K}
    """,
    "TextRank corpus keywords: adjacent-word co-occurrence edges over "
    f"the top-{_TOP_VOCAB} vocabulary (bounded — rare words cannot "
    "enter the graph), symmetric fixed-point PageRank (damping 85/100, "
    "10 rounds, the d_pagerank_neardup operator verbatim — integer "
    "1e-12 rank units, so the DuckDB oracle unrolls the iterations and "
    f"the value hash gates the math), top-{_TOP_K} by (rank DESC, "
    "word). One corpus bigram pass builds the edge list; every "
    "PageRank round is one shuffle — the graph is vocabulary-sized, so "
    "rounds are trivially cheap however large the corpus that "
    "produced the edges.",
)
def tx_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(table(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda t: t != F.lit("")
    )
    words = docs.select(toks.alias("w"))
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
                F.zip_with(
                    F.col("w"),
                    F.slice("w", 2, F.greatest(F.size("w") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("src"), b.alias("dst")),
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
    ranks = pagerank_fixed_point(edges, src="src", dst="dst", iters=10)
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
