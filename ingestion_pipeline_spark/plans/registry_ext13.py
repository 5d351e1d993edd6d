"""Fourteenth registry tranche: time-series gap-fill (dense hypertable
rollup), corpus n-gram frequency analytics, stratified corpus sampling,
and int8 embedding quantization — capabilities a training-data pipeline
needs that no earlier tranche covered.

Gap-fill is the classic hypertable shape (TimescaleDB's
``time_bucket_gapfill``): downstream consumers of an event rollup need
a row for every (bucket, series) cell, including empty ones, or charts
and joins silently skip holes. Spark has no native generator table, but
``sequence()`` + ``explode`` builds the dense calendar in-plan.

Int8 quantization is the storage story for 100 TB of embeddings:
4 bytes/dim float32 → 1 byte/dim symmetric int8 (scale = max|x|/127)
cuts the vector corpus 4× while keeping ANN recall; the codes and the
per-vector scale are plain columns, so the compression is one
whole-stage-codegen projection, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import alpha_words_sql, split_alpha, word_ngrams
from ..operators.relational import spread
from ..sources.parquet_tables import table
from .registry import register


@register(
    "w_gapfill_hourly",
    """
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket, t.event_type
        FROM bounds, (SELECT DISTINCT event_type FROM events) t
    ),
    actual AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT epoch_us(g.bucket) AS bucket_us, g.event_type,
           COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.total_value, 0.0) AS total_value
    FROM grid g LEFT JOIN actual a
      ON g.bucket = a.bucket AND g.event_type = a.event_type
    """,
    "Dense hourly rollup with gap-fill (the hypertable/time_bucket_gapfill "
    "shape): sequence(min_hour, max_hour) exploded into a calendar spine, "
    "cross-joined with the distinct series set (both sides tiny — the spine "
    "is hours-in-range rows and is broadcast), left-joined to the real "
    "per-hour aggregate so empty cells surface as explicit zeros. The only "
    "full-data pass is the groupBy rollup (map-side partial agg); the "
    "spine join touches |hours|x|series| rows regardless of event count, "
    "so the shape is scan-bound at any scale.",
)
def w_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    actual = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("total_value"),
        )
        # |hours|x|series|-bounded and consumed by bounds, the series
        # set AND the final left join; the hoped-for ReusedExchange
        # (comment below) did NOT fire in the compiled plan — the
        # divergent parent aggregates make the exchange subtrees
        # non-identical, so the full events scan ran three times (r12
        # scan census: 6 parquet scans). Checkpointed, the one
        # inherent pass remains (guide §2.4).
        .localCheckpoint(eager=False)
    )
    # bounds and the series set derive from the AGGREGATED table, not the
    # raw events: date_trunc(hour, min(ts)) == min(bucket) and the distinct
    # event_type sets are identical, so the three logical consumers share
    # ONE full-data pass.
    bounds = actual.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    series = actual.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(series))
    return grid.join(actual, ["bucket", "event_type"], "left").select(
        F.unix_micros("bucket").alias("bucket_us"),
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


@register(
    "tx_topk_bigrams",
    rf"""
    WITH w AS (
        SELECT lang,
               {alpha_words_sql("lower(text)")} AS ws
        FROM documents
    ),
    b AS (
        SELECT lang,
               unnest(list_transform(range(1, len(ws)),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM w
    ),
    c AS (
        SELECT lang, bigram, COUNT(*) AS n_occurrences FROM b GROUP BY 1, 2
    )
    SELECT lang, bigram, n_occurrences FROM (
        SELECT lang, bigram, n_occurrences,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n_occurrences DESC, bigram) AS rk
        FROM c
    ) WHERE rk <= 5
    """,
    "Corpus n-gram frequency analytics: tokenize (lower + non-letter "
    "split), form bigrams with zip_with over two offset slices of the "
    "token array (pure codegen, no Python), explode, count per (lang, "
    "bigram), window top-5 per language with deterministic tie-break. "
    "The bigram fan-out happens inside the scan projection; only "
    "(lang, bigram) partial counts shuffle — the classic vocabulary-"
    "building job over a training corpus.",
)
def tx_topk_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched PARTIAL bigram counts: the HOF chain
    # (split→filter→slice→zip_with) is CodegenFallback — interpreted per
    # array element — and the explode ships every bigram OCCURRENCE into
    # the shuffle. Counting per (lang, bigram) inside each Arrow batch
    # does the tokenization in C regex and acts as a Python-side map
    # combine: only distinct (lang, bigram) partials leave the scan
    # stage (measured 3.8 s → sub-second at sf0.1; the win scales with
    # occurrence/distinct ratio, i.e. with corpus size).
    from collections import Counter

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("lang", StringType()),
            StructField("bigram", StringType()),
            StructField("n_partial", LongType()),
        ]
    )

    def batch_counts(batches):
        for pdf in batches:
            c: Counter = Counter()
            for lang, text in zip(pdf["lang"], pdf["text"]):
                for g in word_ngrams(text or "", 2, split_alpha):
                    c[(lang, g)] += 1
            if c:
                ks = list(c.keys())
                yield pd.DataFrame(
                    {
                        "lang": [k[0] for k in ks],
                        "bigram": [k[1] for k in ks],
                        "n_partial": [c[k] for k in ks],
                    }
                )

    # spread(): a Python-heavy full-corpus pass must not inherit a
    # degenerate scan layout (one giant row group -> one task); no-op
    # when the input is already well-partitioned
    docs = spread(table(spark, sf_dir, "documents"))
    counts = (
        docs.select("lang", "text")
        .mapInPandas(batch_counts, out_schema)
        .groupBy("lang", "bigram")
        .agg(F.sum("n_partial").alias("n_occurrences"))
    )
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("n_occurrences"), F.asc("bigram"))
    )
    return (
        counts.withColumn("rk", rk)
        .filter(F.col("rk") <= 5)
        .select("lang", "bigram", "n_occurrences")
    )


@register(
    "d_stratified_sample",
    """
    SELECT doc_id, source, lang, rk FROM (
        SELECT doc_id, source, lang,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY md5(text), doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source, lang) AS grp_n
        FROM documents
    ) WHERE rk <= CEIL(0.2 * grp_n)
    """,
    "Stratified corpus sampling: keep at most ceil(20%) of every "
    "(source, lang) stratum, selecting rows by content-hash order "
    "(md5(text), doc_id tie-break) so the sample is deterministic and "
    "partitioning-independent — rebalancing a corpus mixture without a "
    "seed or a shuffle-order dependency. One window shuffle on the "
    "stratum key; at 100 TB the strata are the natural partition "
    "layout, so the window runs partition-local.",
)
def d_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    grp = Window.partitionBy("source", "lang")
    ordered = grp.orderBy(F.md5(F.col("text")), F.col("doc_id"))
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.row_number().over(ordered).alias("rk"),
            F.count("*").over(grp).alias("grp_n"),
        )
        .filter(F.col("rk") <= F.ceil(F.lit(0.2) * F.col("grp_n")))
        .select("doc_id", "source", "lang", "rk")
    )


@register(
    "v_quantize_int8",
    """
    SELECT vec_id,
           array_to_string(
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5)
                             AS INTEGER)), ',') AS qcodes,
           maxabs / 127.0 AS scale
    FROM (
        SELECT vec_id, embedding,
               GREATEST(list_max(list_transform(embedding,
                            x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS maxabs
        FROM embeddings
    )
    """,
    "Symmetric int8 embedding quantization (the 100 TB storage path: "
    "float32 -> int8 cuts the vector corpus 4x): per-vector scale = "
    "max|x|/127, codes = floor(x/scale + 0.5). Pure array-expression "
    "projection — whole-stage-codegen'd, no shuffle, no UDF; the "
    "explicit floor(+0.5) rounding makes Spark and DuckDB agree "
    "bit-for-bit where round() tie-breaking could differ. Codes are "
    "emitted as a joined string so the value hash covers every element.",
)
def v_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    maxabs = F.greatest(
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))),
        F.lit(1e-12),
    )
    with_scale = emb.select("vec_id", "embedding", maxabs.alias("maxabs"))
    codes = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 127.0 / F.col("maxabs") + 0.5)
        .cast("int")
        .cast("string"),
    )
    return with_scale.select(
        "vec_id",
        F.array_join(codes, ",").alias("qcodes"),
        (F.col("maxabs") / 127.0).alias("scale"),
    )
