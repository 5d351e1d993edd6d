"""Count-Min sketch over word counts (Cormode & Muthukrishnan 2005) —
the exact-integer, portable-hash counting sketch, factored out of the
``g_countmin_heavy_hitters`` registry query so the core is reusable and
property-testable.

Every counter is plain integer algebra over md5-derived buckets, so —
unlike HLL/percentile sketches, whose bytes are engine-internal — the
full sketch AND its estimates are value-replayable on any engine
(the registry oracle does exactly that).

The sketch table (d x w counter rows) IS the mergeable state: per-
partition (or per-day) sketches union and re-aggregate with one
groupBy(r, bucket).sum — the same mergeability contract as partial
aggregation, made durable. At 100 TB the sketch build is one
vocab-sized aggregate after one token shuffle; estimates are a
vocab-sized broadcast join, never corpus-sized work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sinks import _table_exists

CMS_D = 4  # hash rows
CMS_W = 256  # buckets per row


def cms_bucket(word: F.Column, r: int, w: int = CMS_W) -> F.Column:
    """Portable bucket hash: first 8 hex digits of md5('{r}|'||word),
    mod w — identical in DuckDB as ('0x'||substring(md5(...),1,8))::UBIGINT % w."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"{r}|"), word)), 1, 8), 16, 10)
        .cast("long")
        % w
    )


def cms_sketch(word_counts: DataFrame, d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """(r, bucket, counter) sketch rows from a (word, cnt) table."""
    cells = None
    for r in range(d):
        part = word_counts.select(
            F.lit(r).alias("r"), cms_bucket(F.col("word"), r, w).alias("bucket"), "cnt"
        )
        cells = part if cells is None else cells.unionByName(part)
    return cells.groupBy("r", "bucket").agg(F.sum("cnt").alias("counter"))


def cms_estimates(word_counts: DataFrame, d: int = CMS_D, w: int = CMS_W) -> DataFrame:
    """(word, cnt, cms_estimate): per-word min-over-rows point estimate.
    CMS guarantees ``cms_estimate >= cnt`` always (collisions only ADD)."""
    sketch = cms_sketch(word_counts, d, w)
    probes = None
    for r in range(d):
        part = word_counts.select(
            "word", F.lit(r).alias("r"), cms_bucket(F.col("word"), r, w).alias("bucket")
        )
        probes = part if probes is None else probes.unionByName(part)
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("word")
        .agg(F.min("counter").alias("cms_estimate"))
    )
    return word_counts.join(est, "word")


def cms_streaming_writer(path: str, word_col: str = "word", d: int = CMS_D, w: int = CMS_W):
    """``foreachBatch`` function maintaining a DURABLE Count-Min sketch
    under a stream: per micro-batch, sketch the batch's words and MERGE
    (counter-wise sum) into the stored (r, bucket, counter) table.

    This is the streaming face of the sketch's mergeability: the stored
    table after N batches is identical to sketching the concatenated
    stream in one shot (asserted in tests). Each batch costs one
    batch-sized aggregate + a (d x w)-row read-merge-write — state size
    is CONSTANT (~1k rows) no matter how much data has flowed.

    Path existence is probed explicitly with ``sinks._table_exists``
    (the round-2-advisor discipline: a transient read error must
    propagate, not silently restart the sketch from zero)."""

    def write_batch(batch, batch_id: int) -> None:
        spark = batch.sparkSession
        wc = batch.groupBy(F.col(word_col).alias("word")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        delta = cms_sketch(wc, d, w)
        if _table_exists(spark, path):
            stored = spark.read.parquet(path)
            merged = (
                stored.unionByName(delta)
                .groupBy("r", "bucket")
                .agg(F.sum("counter").alias("counter"))
            )
        else:
            merged = delta
        # d x w rows: localCheckpoint cuts the self-read lineage so the
        # overwrite never races its own source files
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    return write_batch
