"""Keyword retrieval — BM25 scoring over the document corpus.

The reference's retrieval is embedding-only (Pinecone/pgvector cosine,
``chatbot/main.py:68-69``); a production corpus engine also needs the
lexical side of hybrid search. BM25 here is expressed as PURE column
math over one scan of the corpus:

- per-doc stats (dl, per-term tf) are INTEGER counts from one Arrow
  pandas_udf pass (a HOF chain would be CodegenFallback, interpreted
  per token per term) — no explode, no shuffle, exactness preserved;
- corpus stats (N, avgdl, per-term df) reduce to a SINGLE row, which
  broadcast-cross-joins back onto the per-doc frame (a one-row build
  side — free at any corpus size);
- the score sums the per-term contributions in FIXED textual order, so
  the double result is bit-identical to an oracle computing the same
  expression (float addition is not associative; a groupBy-sum over an
  exploded term table would be partition-order dependent).

Cost at 100 TB: one corpus scan + one single-row broadcast + a top-k
(TakeOrdered) — the same envelope as the brute-force cosine scan. For
a standing query workload you would materialize the inverted index
(explode → (term, doc, tf) postings, partitioned by term); for ad-hoc
scoring this scan-side shape avoids the index entirely.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import split_words

K1 = 1.2
B = 0.75


def bm25_scores(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    terms: list[str],
) -> DataFrame:
    """Per-document BM25 score for a bag-of-terms query.

    Output: ``(id_col, score)`` for documents matching >= 1 term.
    """
    # Arrow-batched term counting: dl and per-term tf are INTEGERS, so
    # moving the tokenize+count into Python costs no float parity — and
    # the HOF alternative (size(filter(tokens, ...)) per term) is
    # CodegenFallback, interpreted per token per term. Measured 1.7 s ->
    # sub-second at sf0.1; the gap grows with |terms| × corpus size.
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType, StructField, StructType

    fields = [StructField("dl", IntegerType())] + [
        StructField(f"tf{i}", IntegerType()) for i in range(len(terms))
    ]

    @pandas_udf(StructType(fields))
    def term_counts(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            ws = split_words((t or "").lower())
            rows.append([len(ws)] + [ws.count(w) for w in terms])
        return pd.DataFrame(rows, columns=[f.name for f in fields])

    # asNondeterministic: projection collapse would otherwise inline the
    # UDF into every subfield extraction — |terms|+1 ArrowEvalPython
    # passes over the corpus (see SCALE.md "UDF-fed joins", hazard 1).
    term_counts = term_counts.asNondeterministic()

    # checkpointed (r12, guide §2.4/§4): per_doc feeds the corpus-stats
    # aggregate AND the scoring projection. The pre-r12 shape kept the
    # stats branch on a separate JVM-native tokenize pass precisely so
    # the UDF would not run twice (the r3 bench regression on the RRF
    # fusion plan) — materializing the skinny (id, dl, tf...) rows
    # makes that second full-corpus tokenize pass unnecessary: ONE
    # text pass total, and the stats reduce over stored ints.
    per_doc = (
        docs.select(id_col, term_counts(F.col(text_col)).alias("__c"))
        .select(
            id_col,
            F.col("__c.dl").alias("__dl"),
            *[F.col(f"__c.tf{i}").alias(f"__tf_{i}") for i in range(len(terms))],
        )
        .localCheckpoint(eager=False)
    )
    # Corpus stats (N, avgdl, per-term df) derive from the UDF's own
    # output — df_i == count(tf_i > 0) is the same term-presence the
    # old array_contains branch computed (bit-for-bit, per the original
    # equivalence note), and avgdl/N are plain reductions of dl/rows.
    # The aggregate still reduces to ONE broadcastable row.
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg(F.col("__dl").cast("double")).alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    # fixed-order sum of per-term contributions (see module docstring)
    contrib = [
        F.log(
            F.lit(1.0)
            + (F.col("__n") - F.col(f"__df_{i}") + F.lit(0.5))
            / (F.col(f"__df_{i}") + F.lit(0.5))
        )
        * (
            F.col(f"__tf_{i}").cast("double")
            * F.lit(K1 + 1.0)
            / (
                F.col(f"__tf_{i}").cast("double")
                + F.lit(K1)
                * (
                    F.lit(1.0 - B)
                    + F.lit(B) * F.col("__dl").cast("double") / F.col("__avgdl")
                )
            )
        )
        for i in range(len(terms))
    ]
    score = contrib[0]
    for c in contrib[1:]:
        score = score + c
    return (
        scored.withColumn("score", score)
        .filter(sum((F.col(f"__tf_{i}") > 0).cast("int") for i in range(len(terms))) > 0)
        .select(id_col, "score")
    )


def bm25_topk(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Top-k by (score desc, id) — deterministic under score ties.

    ``orderBy().limit(k)`` compiles to TakeOrdered (per-partition heap
    + k-row driver merge — no global sort, no single-partition window);
    the rank column is then numbered over just k rows."""
    from pyspark.sql.window import Window

    s = bm25_scores(docs, text_col, id_col, terms)
    top = s.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("score").desc(), F.col(id_col))),
    ).select(id_col, "score", "rank")
