"""Twentieth registry tranche: lexical retrieval — BM25 keyword top-k
over the documents corpus (the keyword half of hybrid search; the
vector half is the v_* family).

Oracle parity strategy: BOTH sides evaluate the textbook BM25
expression with identical association order and identical double
literals, and the per-term contributions are summed in fixed textual
order (never a groupBy-sum over exploded terms, whose float result is
partition-order dependent). See operators/search.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.search import B, K1, bm25_topk
from ..sources.parquet_tables import table
from .registry import _TOKS, register

TERMS = ["spark", "table", "hash"]
_K = 10

_TF = ",\n               ".join(
    f"len(list_filter(tk, t -> t = '{w}')) AS tf{i}" for i, w in enumerate(TERMS)
)
_DF = ",\n               ".join(
    f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
    for i in range(len(TERMS))
)
_CONTRIB = "\n             + ".join(
    f"ln(1.0 + (n - df{i} + 0.5) / (df{i} + 0.5))"
    f" * (CAST(tf{i} AS DOUBLE) * {K1 + 1.0!r}"
    f" / (CAST(tf{i} AS DOUBLE) + {K1!r} * ({1.0 - B!r}"
    f" + {B!r} * CAST(dl AS DOUBLE) / avgdl)))"
    for i in range(len(TERMS))
)
_MATCH = " OR ".join(f"tf{i} > 0" for i in range(len(TERMS)))


@register(
    "t_bm25_keyword_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    per_doc AS (
        SELECT doc_id, len(tk) AS dl,
               {_TF}
        FROM toks
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               avg(CAST(dl AS DOUBLE)) AS avgdl,
               {_DF}
        FROM per_doc
    ),
    scored AS (
        SELECT doc_id,
               {_CONTRIB} AS score
        FROM per_doc, stats
        WHERE {_MATCH}
    )
    SELECT doc_id, score, rank FROM (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= {_K}
    """,
    f"BM25 keyword top-{_K} for query terms {TERMS}: one corpus scan "
    "computes dl and per-term tf as pure array math (no explode), a "
    "single-row corpus-stats aggregate broadcast-joins back, and the "
    "score is a fixed-order double expression — TakeOrdered gives the "
    "top-k without a global sort. The lexical counterpart to "
    "v_cosine_top8; at 100 TB it is one scan + a one-row broadcast, "
    "and a standing-query workload would materialize the (term, doc, "
    "tf) postings index instead.",
)
def t_bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", TERMS, k=_K)
