"""SparkSession factory with scale-oriented defaults.

The reference pipeline is single-process row-at-a-time Python (e.g. the
poll loop at ``consumer/consumer.py:127-145``); here every knob is set for
distributed columnar execution:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion — the 100 TB safety net.
- Arrow on: every Python-boundary transfer is vectorized.
- UTC session timezone: deterministic timestamp semantics across engines
  (the DuckDB oracle is timezone-naive).
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark.sql import SparkSession

_DEFAULT_CPUS = 32
_DEFAULT_DRIVER_MEM = "48g"
# Spark's byte-size syntax (JavaUtils.byteStringAs), positive: a whole
# number and an optional unit, case-insensitive
_BYTE_SIZE = re.compile(r"0*[1-9][0-9]*(b|[kmgtp]b?)?", re.IGNORECASE)


def _knob(name: str, default: str | None, valid, what: str) -> str | None:
    """Environment knob ``name``, stripped; unset gives ``default``. A
    value that fails ``valid`` falls back to ``default`` with a warning
    instead of failing every ``get_spark()``."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    raw = raw.strip()
    if valid(raw):
        return raw
    fallback = "Spark's default" if default is None else default
    warnings.warn(f"{name}={raw!r} is not {what}; using {fallback}", stacklevel=3)
    return default


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS``, the local core count; a value that is not
    a positive integer falls back to 32 with a warning."""
    raw = _knob(
        "SPARK_GRAFT_CPUS",
        str(_DEFAULT_CPUS),
        lambda v: v.isdecimal() and int(v) > 0,
        "a positive integer",
    )
    return int(raw)


def byte_size_knob(name: str, default: str | None) -> str | None:
    """A byte-size knob (``512m``, ``2g``, ``1048576``) for Spark; a
    value Spark would reject at launch (``48x``, ``1.5g``, ``0``) falls
    back to ``default`` with a warning."""
    return _knob(
        name,
        default,
        _BYTE_SIZE.fullmatch,
        "a positive byte size such as 512m or 2g",
    )


def get_spark(
    app_name: str = "ingestion-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster AQE coalesces/splits at runtime so the static value only has
    to be a sane upper bound (set it ~2-3x total executor cores there).
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # Local mode runs everything in ONE driver JVM whose default heap is
    # 1g — with 32 threads that is ~32 MB/task: broadcasts spill, sorts
    # spill, GC thrashes. Size it like the executor it actually is
    # (only effective at JVM launch; harmless on getOrCreate reuse).
    driver_mem = byte_size_knob("SPARK_GRAFT_DRIVER_MEM", _DEFAULT_DRIVER_MEM)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r12 (guide §3.1/§9): let the planner pick shuffled-hash join
        # when its size conditions fit, and let AQE rewrite sort-merge
        # to shuffled-hash at runtime when every post-shuffle partition
        # is under 128 MB (default 0 = never). SHJ skips both sorts;
        # interleaved A/B at sf0.1 measured flat-to-better on every
        # join-heavy query (q21 -6% min, the cascade family -10-20%
        # median) with no regressions. The 128 MB threshold is also the
        # production guard: a build side bigger than that per partition
        # falls back to sort-merge, which spills gracefully.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "134217728",
        )
        # r12 (guide §6): zstd for anything the engine writes — smaller
        # than snappy at similar read speed. Read paths are unaffected.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Generated-code cache (static: read once per JVM), sized from
        # CodegenMetrics counts at local[4]: d_dup_clusters_capped
        # compiles 108-112 classes and a perfbench iterative pass 134,
        # so at Spark's default of 100 every repeated pass recompiled
        # 111-136 of them (Janino, then the JIT); at 200, none. 1000
        # also keeps the classes that neighbouring queries share: a
        # bench.py suite at sf0.01 compiled 4,051 classes at 100 and
        # 2,593 at 1000.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )
    # r12 (guide §6/§2.2, scale-parameterised — NOT tuned for local):
    # on a real cluster raise the scan split size so large sequential
    # scans schedule fewer, bigger map tasks (512m-1g per guide §6),
    # which also shrinks M in the M×R shuffle-block product. Local
    # default stays Spark's 128m so the driver's bench is unaffected.
    max_part = byte_size_knob("SPARK_GRAFT_MAX_PARTITION_BYTES", None)
    if max_part:
        builder = builder.config("spark.sql.files.maxPartitionBytes", max_part)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
