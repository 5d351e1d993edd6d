"""Eighteenth registry tranche: Bloom-style membership pre-filtering
for incremental dedup — the 100 TB path for "is this content already in
the archive?".

A daily batch should not join the full archive. The standard answer is
a Bloom filter over archive content hashes; Spark does not expose
``bloom_filter_agg`` to SQL, so the sketch is built RELATIONALLY: each
archive hash sets k=4 positions (independent 32-bit slices of its md5,
mod m) and the "bitmap" is the DISTINCT positions table — ≤ m rows of
one int, broadcastable at any archive size, with exactly a Bloom
filter's false-positive semantics. A batch row whose 4 positions are
all present is a *candidate* duplicate and goes to the exact
(anti-join) confirm; any missing position proves novelty with no
further work. False positives therefore cost only extra confirm work,
never correctness — which is why the whole pipeline carries a plain
NOT-IN oracle.

At 100 TB: m = ~1e9 positions ≈ a few GB as a bitmap but the distinct-
positions TABLE is what broadcasts (or better, persists next to the
archive and refreshes incrementally — it is itself just an append-only
distinct aggregate). Daily cost: one scan of the batch + a broadcast
probe + an exact join over only the candidate slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import collapse_ws_sql
from ..operators.dedup import content_md5
from ..sources.parquet_tables import table
from .registry import register

_BATCH_SPLIT = 400  # same corpus/batch convention as d_incremental_novel_docs
_M = 1 << 20  # position space
_K = 4  # hash positions per key

# slice i of the md5 hex digest as an integer position in [0, m)
_POS_SQL = ", ".join(
    f"CAST(('0x' || substr(content_hash, {1 + 8 * i}, 8)) AS BIGINT) % {_M} AS p{i}"
    for i in range(_K)
)


def _positions(col):
    return [
        (F.conv(F.substring(col, 1 + 8 * i, 8), 16, 10).cast("long") % _M).alias(
            f"p{i}"
        )
        for i in range(_K)
    ]


@register(
    "d_bloom_novel_docs",
    f"""
    WITH hashed AS (
        SELECT doc_id, source,
               md5({collapse_ws_sql("trim(lower(text))")}) AS content_hash
        FROM documents
    ),
    corpus AS (SELECT * FROM hashed WHERE doc_id < {_BATCH_SPLIT}),
    batch  AS (SELECT * FROM hashed WHERE doc_id >= {_BATCH_SPLIT})
    SELECT b.doc_id, b.source
    FROM batch b
    WHERE b.content_hash NOT IN (SELECT content_hash FROM corpus)
    """,
    "Bloom-membership incremental dedup: the archive's content hashes "
    f"set k={_K} md5-slice positions mod m={_M}; the broadcastable "
    "DISTINCT-positions table is the bitmap. Batch rows missing any "
    "position are PROVEN novel with no archive join; rows with all "
    "positions present are candidates and pass through the exact "
    "anti-join confirm. False positives cost only confirm work, never "
    "correctness — hence the plain NOT-IN oracle. The sketch path "
    "means daily cost is O(batch) + one broadcast, not O(archive).",
)
def d_bloom_novel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (doc_id, source, content_hash) materialized ONCE (r12, guide
    # §2.4/§5): the branchy bloom dataflow below consumes this frame
    # from ~10 places, and the compiled plan re-executed the full
    # text scan + md5 normalization for each (r12 scan census: 37
    # parquet scans of documents in ONE query). The frame is 3 skinny
    # columns — at any archive size it is the cheap thing to persist;
    # the text column never leaves the scan.
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", "source", content_md5(F.col("text")).alias("content_hash")
        )
        .localCheckpoint(eager=False)
    )
    corpus = docs.filter(F.col("doc_id") < _BATCH_SPLIT)
    batch = docs.filter(F.col("doc_id") >= _BATCH_SPLIT)

    # the "bitmap": distinct set positions of the archive, unioned over
    # the k hash slices — one narrow long column, broadcastable. ONE
    # pass with a k-wide explode instead of k unioned scans (r12).
    bitmap = corpus.select(
        F.explode(F.array(*_positions(F.col("content_hash")))).alias("p")
    ).distinct()

    probe = batch.select("doc_id", "source", "content_hash", *_positions(F.col("content_hash")))
    # candidate iff ALL k positions are set: semi-join each slice
    cand = probe
    for i in range(_K):
        cand = cand.join(
            F.broadcast(bitmap),
            cand[f"p{i}"] == bitmap["p"],
            "left_semi",
        )
    cand = cand.select("doc_id", "content_hash")

    # proven-novel rows skip the archive entirely
    proven = probe.join(cand.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", "source"
    )
    # candidates get the exact confirm against the archive hash set
    confirmed_novel = (
        batch.join(cand.select("doc_id"), "doc_id", "left_semi")
        .join(
            corpus.select("content_hash").distinct(),
            "content_hash",
            "left_anti",
        )
        .select("doc_id", "source")
    )
    return proven.union(confirmed_novel)
