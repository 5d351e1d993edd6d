"""Sinks (SURVEY §2.2).

The reference writes row-at-a-time (one INSERT per record with a commit
each — ``processor.py:55-62``; one vector upsert per text —
``consumer/consumer.py:117-120``). Here every sink is a set-oriented
append of a whole DataFrame/micro-batch:

- warehouse append  → partitioned parquet (K1; JDBC/Snowflake would be
  ``.format("jdbc")`` with the same frame).
- vector table      → parquet with array<float> column (K2; the "index"
  is just a table — SURVEY §2.2).
- quarantine        → dead-letter parquet with reason + timestamp (W7).
- bootstrap         → create-if-absent semantics via mergeSchema-free
  append to a fixed path (K3).

At 100 TB: warehouse appends are partitioned by publication month so
date-range queries (F6) prune; appends are idempotent per micro-batch
via deterministic file naming under streaming checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def append_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def warehouse_append(df: DataFrame, path: str) -> None:
    """K1 — the CVE_PERSISTENT shape (cve_id, date_updated,
    date_published, data), partitioned by publication month for partition
    pruning on F6 date-range filters."""
    out = df.withColumn("pub_month", F.date_format("date_published", "yyyy-MM"))
    append_parquet(out, path, partition_by=["pub_month"])


def quarantine_append(df: DataFrame, path: str, reason: str) -> None:
    """W7 — dead-letter append: failed records are kept, never dropped,
    and never fail the pipeline (processor.py:65-66 log-and-continue)."""
    out = df.withColumn("reason", F.lit(reason)).withColumn("quarantined_at", F.current_timestamp())
    append_parquet(out, path)


def warehouse_upsert(
    spark,
    batch: DataFrame,
    path: str,
    key: str = "cve_id",
    version_col: str = "date_updated",
) -> None:
    """K1 upgraded from blind append to MERGE semantics: latest record
    per key wins (the reference re-INSERTs every delta record —
    `processor.py:55-62` — and leaves duplicate cve_ids for readers to
    sort out; delta dumps re-deliver updated CVEs, so keep-latest by
    date_updated is the intended semantics).

    Implementation: union existing + batch, keep the max-``version_col``
    row per key (deterministic tie-break on the key itself), rewrite.
    The read side is materialized eagerly before the overwrite so the
    job never reads the files it is deleting. At warehouse scale this
    rewrite touches only the partitions present in the batch when the
    table is month-partitioned (warehouse_append's layout) — pair with
    dynamic partition overwrite; table formats with native MERGE
    (Delta/Iceberg) slot in behind the same function signature.
    """
    if _table_exists(spark, path):
        merged = spark.read.parquet(path).select(*batch.columns).unionByName(batch)
    else:  # first write — no table yet
        merged = batch
    _keep_latest(merged, key, version_col).write.mode("overwrite").parquet(path)


def _table_exists(spark, path: str) -> bool:
    """Probe the table path EXPLICITLY (Hadoop FS — works for local,
    HDFS, s3a alike) instead of catching every read failure: a
    transient IO error or schema mismatch swallowed as "first write"
    would let the upserts' overwrite replace the table with batch-only
    rows — silent data loss for pre-existing keys. Real read errors
    propagate.

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


def _keep_latest(merged: DataFrame, key: str, version_col: str) -> DataFrame:
    """The keep-latest merge rule both upserts share (see ``warehouse_upsert``)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key).orderBy(F.col(version_col).desc(), F.col(key))
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)  # cut source files loose pre-overwrite
    )


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


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction — the maintenance pass every streaming
    parquet sink eventually needs: micro-batch appends accumulate files
    far below row-group size, and at 100 TB an unfixed table turns every
    scan into a metadata storm (one task + one footer read per tiny
    file).

    Rewrites ``path`` so each output file targets ``target_file_bytes``
    (sized from the CURRENT on-disk bytes, so compression ratio is
    carried over rather than guessed), preserving an optional partition
    layout. Returns the number of files after compaction.

    Scale notes: the rewrite is one ``coalesce`` (no shuffle — file
    merging does not need key placement) unless a partition layout is
    (re)applied, which costs the same single shuffle any partitioned
    write pays. Run it per-partition in production (compact only
    partitions whose file count exceeds a threshold) — the API takes
    the partition directory as ``path`` for exactly that.
    """
    import glob
    import os
    import shutil
    import tempfile

    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(f)
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, -(-total // target_file_bytes))  # ceil div
    df = spark.read.parquet(path)

    tmp = tempfile.mkdtemp(prefix="compact_", dir=os.path.dirname(path.rstrip("/")))
    try:
        w = df.coalesce(int(n_out)).write.mode("overwrite")
        if partition_by:
            w = df.repartition(int(n_out), *[F.col(c) for c in partition_by]).write.mode(
                "overwrite"
            ).partitionBy(*partition_by)
        w.parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return len(
        [
            f
            for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
            if os.path.isfile(f)
        ]
    )


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


def warehouse_upsert_partitioned(
    spark,
    batch: DataFrame,
    path: str,
    key: str = "cve_id",
    version_col: str = "date_updated",
    partition_col: str = "pub_month",
) -> list[str]:
    """The O(delta) form of ``warehouse_upsert`` for month-partitioned
    tables: only the partitions PRESENT IN THE BATCH are read, merged
    (keep-latest per key, same semantics as ``warehouse_upsert``) and
    rewritten under ``partitionOverwriteMode=dynamic`` — untouched
    months' files are never read or replaced. A daily CVE delta
    touching 2 of 120 months costs 2 partition rewrites, not a table
    scan. Returns the list of partitions rewritten.

    Table formats with native MERGE (Delta/Iceberg) replace this
    function one-for-one; the call-site contract is identical."""
    if partition_col not in batch.columns:
        batch = batch.withColumn(
            partition_col, F.date_format("date_published", "yyyy-MM")
        )
    months = [r[0] for r in batch.select(partition_col).distinct().collect()]
    if _table_exists(spark, path):
        existing = (
            spark.read.parquet(path)
            .filter(F.col(partition_col).isin(months))
            .select(*batch.columns)
        )
        merged = existing.unionByName(batch)
    else:  # first write — no table yet
        merged = batch
    latest = _keep_latest(merged, key, version_col)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        latest.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return sorted(months)
