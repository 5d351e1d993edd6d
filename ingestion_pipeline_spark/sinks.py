"""Sinks (SURVEY §2.2).

The reference writes row-at-a-time (one INSERT per record with a commit
each — ``processor.py:55-62``; one vector upsert per text —
``consumer/consumer.py:117-120``). Here every sink is a set-oriented
append of a whole DataFrame/micro-batch:

- warehouse append  → flat parquet (K1; JDBC/Snowflake would be
  ``.format("jdbc")`` with the same frame).
- warehouse upsert  → the same flat table, keep-latest by whole-table
  rewrite (K1+).
- vector table      → parquet with array<float> column (K2; the "index"
  is just a table — SURVEY §2.2).
- quarantine        → dead-letter parquet with reason + timestamp (W7).
- bootstrap         → create-if-absent semantics via mergeSchema-free
  append to a fixed path (K3).

The warehouse has one layout, flat, because a re-delivery may move a
record's publication month: the perfbench ``ingest`` delta changes it
for 1,733, 1,746 and 1,719 of 1,920 re-deliveries (seeds 1-3). A
month-partitioned upsert that reads only the batch's months never finds
the old row and keeps both. An upsert that rewrites only what it
touches needs a partition derived from the key (a bucket of
``cve_id``'s hash), not from a field an update can change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the upsert's merge key and the version column whose maximum wins
_KEY = "cve_id"
_VERSION = "date_updated"


def append_parquet(df: DataFrame, path: str) -> None:
    df.write.mode("append").parquet(path)


def quarantine_append(df: DataFrame, path: str, reason: str) -> None:
    """W7 — dead-letter append: failed records are kept, never dropped,
    and never fail the pipeline (processor.py:65-66 log-and-continue)."""
    out = df.withColumn("reason", F.lit(reason)).withColumn("quarantined_at", F.current_timestamp())
    append_parquet(out, path)


def warehouse_upsert(spark, batch: DataFrame, path: str) -> None:
    """K1 upgraded from blind append to MERGE semantics: latest record
    per ``cve_id`` wins (the reference re-INSERTs every delta record —
    `processor.py:55-62` — and leaves duplicate cve_ids for readers to
    sort out; delta dumps re-deliver updated CVEs, so keep-latest by
    date_updated is the intended semantics).

    Implementation: union the stored table with the batch, keep the
    max-``date_updated`` row per key, rewrite the whole table flat (the
    layout ``append_parquet`` writes). On equal ``date_updated`` the
    batch row beats the stored one; two batch rows tied on both stay an
    arbitrary pick. The merged rows are checkpointed eagerly before the
    overwrite so the job never reads the files it is deleting.

    Raises ``ValueError``, leaving the table as it was, when the stored
    table's columns differ from the batch's: merging would drop the
    extra columns (a legacy ``partitionBy`` directory among them) and
    flatten the table. Table formats with native MERGE (Delta/Iceberg)
    slot in behind the same function signature.
    """
    from pyspark.sql.window import Window

    merged = batch.withColumn("_from_batch", F.lit(1))
    if _table_exists(spark, path):
        stored = spark.read.parquet(path)
        if set(stored.columns) != set(batch.columns):
            raise ValueError(
                f"cannot upsert into {path!r}: its columns {sorted(stored.columns)} "
                f"differ from the batch's {sorted(batch.columns)}"
            )
        old = stored.select(*batch.columns).withColumn("_from_batch", F.lit(0))
        merged = old.unionByName(merged)
    w = Window.partitionBy(_KEY).orderBy(F.col(_VERSION).desc(), F.col("_from_batch").desc())
    (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_from_batch")
        .localCheckpoint(eager=True)  # cut source files loose pre-overwrite
        .write.mode("overwrite")
        .parquet(path)
    )


def _table_exists(spark, path: str) -> bool:
    """Probe the table path EXPLICITLY (Hadoop FS — works for local,
    HDFS, s3a alike) instead of catching every read failure: a
    transient IO error or schema mismatch swallowed as "first write"
    would let an overwrite (the upsert, the CMS streaming writer)
    replace the table with batch-only rows — silent data loss for
    pre-existing keys. Real read errors propagate.

    The probe needs the session's JVM handles: without them (Spark
    Connect, a stopped context) it raises ``RuntimeError`` rather than
    report the table absent, which would let an overwrite replace it."""
    try:
        jvm, jsc = spark._jvm, spark._jsc
    except (AttributeError, NotImplementedError):
        jvm = jsc = None
    if jvm is None or jsc is None:
        raise RuntimeError(
            f"cannot probe whether {path!r} exists: the session has no "
            "JVM handle"
        )
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(jsc.hadoopConfiguration()).exists(jpath)


def jdbc_append(
    df: DataFrame,
    url: str,
    table: str,
    driver: str | None = None,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """K1, warehouse-flavored: the reference's Snowflake INSERT loop
    (``processor.py:55-62``, one row + one commit per record) as a
    set-oriented ``format("jdbc")`` write — executor-side batched
    INSERTs (``batchsize`` rows per round trip, ~10⁴× fewer commits).

    ``num_partitions`` caps concurrent connections: at cluster scale a
    1000-partition frame would open 1000 connections — coalesce to what
    the database can take. Any JDBC warehouse (Snowflake, Postgres,
    Derby in tests) is the same call with a different url/driver."""
    out = df.coalesce(num_partitions) if num_partitions else df
    w = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    if driver:
        w = w.option("driver", driver)
    w.save()


def jdbc_read(spark, url: str, table: str, driver: str | None = None) -> DataFrame:
    """S11 counterpart: point/partitioned reads back out of the JDBC
    warehouse (the reference's Snowflake SELECT path)."""
    r = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if driver:
        r = r.option("driver", driver)
    return r.load()


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on its join key.

    The 100 TB lever for repeated fact-fact joins: two tables bucketed
    into the same bucket count on the join key are co-located, so the
    join (and any groupBy on the key) needs NO exchange — Spark reads
    matching buckets pairwise and, when ``sort_col`` is the key, skips
    the sort as well. Shuffle cost is paid once at write time and
    amortized over every downstream join (`tests/test_scale.py` asserts
    the exchange-free plan).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:  # external table (bucketing metadata still lands in the catalog)
        w = w.option("path", path)
    w.saveAsTable(name)


def compact_parquet(spark, path: str, target_file_bytes: int = 256 * 1024 * 1024) -> int:
    """Small-file compaction — the maintenance pass every streaming
    parquet sink eventually needs: micro-batch appends accumulate files
    far below row-group size, and at 100 TB an unfixed table turns every
    scan into a metadata storm (one task + one footer read per tiny
    file).

    Rewrites the flat table at ``path`` so each output file targets
    ``target_file_bytes`` (sized from the CURRENT on-disk bytes, so
    compression ratio is carried over rather than guessed). Returns the
    number of files after compaction.

    Scale notes: the rewrite is one ``coalesce`` (no shuffle — file
    merging does not need key placement).
    """
    import glob
    import os
    import shutil
    import tempfile

    def parquet_files() -> list[str]:
        found = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        return [f for f in found if os.path.isfile(f)]

    total = sum(os.path.getsize(f) for f in parquet_files())
    n_out = max(1, -(-total // target_file_bytes))  # ceil div
    tmp = tempfile.mkdtemp(prefix="compact_", dir=os.path.dirname(path.rstrip("/")))
    try:
        spark.read.parquet(path).coalesce(int(n_out)).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return len(parquet_files())


def jdbc_idempotent_batch_writer(
    url: str,
    table: str,
    driver: str | None = None,
    num_partitions: int | None = 1,
):
    """Streaming → JDBC warehouse bridge: a ``foreachBatch`` function
    that lands each micro-batch tagged with its ``batch_id`` and SKIPS
    batches already present — so Spark's checkpoint-driven replay
    (restart, retry) converges instead of duplicating. Check-then-write
    is effectively-once: the duplication window between the data append
    and a crash is closed only by a transactional target (MERGE on a
    real warehouse; Derby here is the wire-level stand-in), which is
    exactly where the reference's auto-commit consumer
    (consumer/consumer.py:22,45) silently duplicates instead."""
    from pyspark.sql import functions as F

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        try:
            seen = {
                r["batch_id"]
                for r in jdbc_read(spark, url, table, driver=driver)
                .select("batch_id")
                .distinct()
                .collect()
            }
        except Exception as exc:  # noqa: BLE001 — inspect, don't swallow
            # Only "table missing" means first write. Anything else
            # (transient JDBC error, auth, network) must PROPAGATE so
            # Structured Streaming retries the batch — treating it as
            # first-write would re-append an already-written batch and
            # silently degrade effectively-once to at-least-once
            # (round-2 advisor finding).
            msg = str(exc).lower()
            missing = any(
                pat in msg
                for pat in (
                    "does not exist",  # Derby/Postgres wording
                    "not found",
                    "no such table",  # SQLite wording
                    "42x05",  # Derby SQLState: table/view missing
                    "42s02",  # MySQL/SQLServer SQLState
                    "42p01",  # Postgres SQLState: undefined table
                )
            )
            if not missing:
                raise
            seen = set()
        if batch_id in seen:
            return
        tagged = batch.withColumn("batch_id", F.lit(batch_id).cast("long"))
        jdbc_append(tagged, url, table, driver=driver, num_partitions=num_partitions)

    return write_batch
