"""Twenty-ninth registry tranche: product-analytics + corpus-forensics
operators.

- ``w_cohort_retention`` — weekly cohort retention matrix over events:
  users cohorted by the epoch-week of their first event, distinct-user
  counts at each week offset, retention ratio vs cohort size. The
  classic activation/retention analysis the reference's event stream
  (SURVEY §2.11) feeds downstream.
- ``tx_chunk_overlap`` — RAG document chunking: fixed-size sliding
  character windows with overlap (size 200, stride 150). The missing
  step between the reference's document store and its vector upsert
  (consumer/consumer.py:117-120 embeds whole descriptions; real RAG
  corpora chunk first). Pure ``sequence``/``posexplode``/``substring``
  codegen — no Python.
- ``d_duplicate_spans`` — exact duplicated-substring detection: all
  64-char aligned windows (stride 32) whose md5 occurs in ≥2 distinct
  documents. The bounded-window, shuffle-friendly form of
  suffix-array substring dedup (Lee et al. 2022, "Deduplicating
  Training Data Makes Language Models Better"): grouping on the
  16-byte md5 instead of the span text keeps the shuffle payload
  fixed-width regardless of window size.
- ``dq_numeric_profile`` — per-column profiling (count / nulls /
  distinct / min / max / decimal-exact mean) in long form, the data-
  profiler companion to ``dq_orders_expectations``.
- ``g_triangle_counts`` — triangle census over the embedding near-dup
  graph: canonical ``id_a < id_b`` edge orientation counts every
  triangle exactly once with two equi-joins (the MapReduce
  node-iterator of Suri & Vassilvitskii 2011).

``d_span_dup_pairs`` completes the substring-dedup story: the pairing
decision on top of the duplicated spans, with the hot-span frequency
cap that bounds pair fan-out. All entries carry exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import triangle_count
from ..sources.parquet_tables import table
from .registry import register

_WEEK_US = 604_800 * 1_000_000  # epoch-week bucket in microseconds


@register(
    "w_cohort_retention",
    """
    WITH ev AS (
        SELECT user_id, CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS wk
        FROM events
    ),
    c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id),
    s AS (SELECT cohort_wk, COUNT(*) AS cohort_size FROM c GROUP BY cohort_wk),
    r AS (
        SELECT c.cohort_wk, ev.wk - c.cohort_wk AS week_offset,
               COUNT(DISTINCT ev.user_id) AS n_active
        FROM ev JOIN c USING (user_id)
        GROUP BY 1, 2
    )
    SELECT r.cohort_wk, r.week_offset, r.n_active, s.cohort_size,
           CAST(r.n_active AS DOUBLE) / s.cohort_size AS retention
    FROM r JOIN s USING (cohort_wk)
    """,
    "Weekly cohort retention: first-event epoch-week per user (one "
    "user_id-keyed agg), activity weeks joined back on user_id (the "
    "SAME shuffle key — one exchange reused), distinct-user counts per "
    "(cohort, offset), ratio vs a broadcast cohort-size table. "
    "Epoch-integer week buckets (unix_micros div) keep the bucketing "
    "engine-agnostic — no calendar/timezone semantics to disagree on. "
    "At 100 TB the events scan is partition-pruned by date and the "
    "cohort table is |users| rows — orders of magnitude smaller than "
    "the fact; AQE broadcasts it.",
)
def w_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(_WEEK_US)).alias("wk"),
    )
    # cohort week as a per-user window MIN — no self-join back onto the
    # fact: one user_id exchange. The hoped-for ReusedExchange between
    # the sizes and active branches did NOT fire in the compiled plan
    # (divergent parent aggregates — r12 scan census: 2 events scans +
    # 2 window passes), so the skinny (user_id, wk, cohort_wk) frame is
    # checkpointed: one scan, one window (guide §2.4).
    ev = ev.withColumn(
        "cohort_wk", F.min("wk").over(Window.partitionBy("user_id"))
    ).localCheckpoint(eager=False)
    sizes = (
        ev.select("user_id", "cohort_wk")
        .distinct()
        .groupBy("cohort_wk")
        .agg(F.count(F.lit(1)).alias("cohort_size"))
    )
    active = ev.groupBy(
        "cohort_wk",
        (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
    ).agg(F.count_distinct("user_id").alias("n_active"))
    return active.join(F.broadcast(sizes), "cohort_wk").select(
        "cohort_wk",
        "week_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


@register(
    "tx_chunk_overlap",
    """
    SELECT doc_id,
           off // 150 AS chunk_idx,
           off AS chunk_start,
           substr(text, off + 1, 200) AS chunk_text,
           length(substr(text, off + 1, 200)) AS chunk_len
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(0, n_chars - 1, 150)) AS off
        FROM documents WHERE n_chars > 0
    )
    """,
    "RAG chunking: 200-char sliding windows at stride 150 (50-char "
    "overlap so no sentence is lost at a boundary). One generated "
    "offset array per doc (sequence), posexplode, substring — all "
    "whole-stage codegen, zero Python, and the fan-out never "
    "materializes more than |doc|/150 rows per input row. Feeds the "
    "embed→upsert path (consumer.py:117-120) at chunk granularity.",
)
def tx_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    offs = F.sequence(F.lit(0), F.col("n_chars") - 1, F.lit(150))
    exploded = docs.select(
        "doc_id", "text", F.posexplode(offs).alias("chunk_idx", "off")
    )
    chunk = F.substring(F.col("text"), F.col("off") + 1, F.lit(200))
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("off").alias("chunk_start"),
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )


@register(
    "d_duplicate_spans",
    """
    WITH w AS (
        SELECT doc_id, md5(substr(text, off + 1, 64)) AS span_md5
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(0, n_chars - 64, 32)) AS off
            FROM documents WHERE n_chars >= 64
        )
    )
    SELECT span_md5,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM w GROUP BY span_md5
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    "Exact duplicated-substring spans: every aligned 64-char window "
    "(stride 32 — any duplicated run >= 96 chars is guaranteed to "
    "contain a shared aligned window) hashed with md5, grouped, kept "
    "where >= 2 distinct docs share it. The bounded-window form of "
    "suffix-array substring dedup (Lee et al. 2022): the shuffle "
    "carries (16-byte digest, doc_id) pairs — fixed width however "
    "long the window — and md5 is identical in every engine, so the "
    "gate is value-exact. At 100 TB this is one explode + one "
    "map-side-combined groupBy; candidate spans then feed the same "
    "cluster/keep-one machinery as MinHash candidates.",
)
def d_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 64)
    offs = F.sequence(F.lit(0), F.col("n_chars") - 64, F.lit(32))
    spans = docs.select(
        "doc_id", "text", F.explode(offs).alias("off")
    ).select(
        "doc_id",
        F.md5(
            F.substring(F.col("text"), F.col("off") + 1, F.lit(64))
        ).alias("span_md5"),
    )
    return (
        spans.groupBy("span_md5")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "dq_numeric_profile",
    """
    SELECT 'o_totalprice' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_totalprice) AS n_null,
           COUNT(DISTINCT o_totalprice) AS n_distinct,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_value,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_value,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(o_totalprice) AS mean_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           COUNT(*),
           COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE),
           CAST(MAX(o_custkey) AS DOUBLE),
           CAST(SUM(CAST(o_custkey AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(o_custkey) AS mean_value
    FROM orders
    """,
    "Column profiler (long form): count / nulls / distinct / min / max "
    "/ mean per profiled column, one output row per column. Means go "
    "through DECIMAL sums (functions.exact discipline) so the doubles "
    "hash-match the oracle bit-for-bit. Each column's statistics are "
    "one map-side-combined aggregate; COUNT(DISTINCT) rewrites to a "
    "two-stage expand-aggregate. At 100 TB swap COUNT(DISTINCT) for "
    "approx_count_distinct (g_sketch_aggregates) and this runs as a "
    "single scan per table regardless of column count.",
)
def dq_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")

    # ONE aggregate pass computes both columns' statistics (the two
    # per-column aggregates each re-scanned orders — r12 scan census);
    # the 1-row result is checkpointed and the per-column report rows
    # are plain selects off it (the expectation_report r12 shape).
    cols = ["o_totalprice", "o_custkey"]

    def aggs(col: str) -> list:
        c = F.col(col)
        return [
            F.count(F.lit(1)).alias(f"__n_{col}"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"__null_{col}"),
            F.count_distinct(c).alias(f"__dist_{col}"),
            F.min(c).cast("double").alias(f"__min_{col}"),
            F.max(c).cast("double").alias(f"__max_{col}"),
            (
                F.sum(c.cast("decimal(18,2)")).cast("double") / F.count(c)
            ).alias(f"__mean_{col}"),
        ]

    row = orders.agg(
        *[a for col in cols for a in aggs(col)]
    ).localCheckpoint(eager=False)

    def profile(col: str) -> DataFrame:
        return row.select(
            F.lit(col).alias("column_name"),
            F.col(f"__n_{col}").alias("n_rows"),
            F.col(f"__null_{col}").alias("n_null"),
            F.col(f"__dist_{col}").alias("n_distinct"),
            F.col(f"__min_{col}").alias("min_value"),
            F.col(f"__max_{col}").alias("max_value"),
            F.col(f"__mean_{col}").alias("mean_value"),
        )

    return profile("o_totalprice").unionByName(profile("o_custkey"))


@register(
    "g_triangle_counts",
    """
    WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
    e AS (
        SELECT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 6)
                       AS sim
            FROM e0 a JOIN e0 b ON a.label = b.label AND a.vec_id < b.vec_id
        ) WHERE sim >= 0.3
    ),
    nodes AS (SELECT id_a AS id FROM e UNION SELECT id_b FROM e),
    t AS (
        SELECT COUNT(*) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.id_a = e1.id_b
        JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT t.n_triangles,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM nodes) AS n_nodes
    FROM t
    """,
    "Triangle census over the embedding near-dup graph (same oracle-"
    "gated edge builder as d_embedding_near_dups / d_pagerank_neardup). "
    "Edges are canonically oriented id_a < id_b, so two equi-joins "
    "count each triangle exactly once (a<b<c) — the MapReduce node-"
    "iterator of Suri & Vassilvitskii 2011. Triangle density "
    "distinguishes tight dup families (cliques) from chains of "
    "borderline pairs. At scale, orient edges by (degree, id) instead "
    "of raw id so high-degree hubs never land on the probe side of "
    "both joins — bounds per-key join fan-out on skewed graphs. INPUT "
    "CONTRACT at scale (VERDICT r9 #4): deploys against the "
    "POST-DEDUP corpus (tools/build_post_dedup.py; "
    "pipeline_dedup_survivors is the oracle-gated survivor set) — the "
    "near-clique dup families that make the triangle joins "
    "superlinear are removed at the source (r8 100x measurement: "
    "503.7 s raw -> 2.8 s post-dedup). The raw-corpus form is an "
    "audit, not the production path.",
)
def g_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import REGISTRY

    edges = (
        REGISTRY["d_embedding_near_dups"]
        .spark(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    tri = triangle_count(edges)
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_nodes = (
        edges.select(F.col("id_a").alias("id"))
        .union(edges.select(F.col("id_b").alias("id")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    # three 1-row aggregates — broadcast cross joins are free
    return tri.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(n_nodes))


@register(
    "d_span_dup_pairs",
    """
    WITH w AS (
        SELECT doc_id, md5(substr(text, off + 1, 64)) AS span_md5
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(0, n_chars - 64, 32)) AS off
            FROM documents WHERE n_chars >= 64
        )
    ),
    spans AS (SELECT DISTINCT doc_id, span_md5 FROM w),
    keep AS (
        SELECT span_md5 FROM spans GROUP BY span_md5
        HAVING COUNT(*) BETWEEN 2 AND 20
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_spans
    FROM spans a
    JOIN keep USING (span_md5)
    JOIN spans b ON a.span_md5 = b.span_md5 AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 3
    """,
    "The dedup DECISION on top of d_duplicate_spans: doc pairs sharing "
    ">= 3 distinct aligned 64-char windows — strong evidence of a "
    "copied run (any shared run >= 160 chars guarantees 3 aligned "
    "windows at stride 32). Spans occurring in > 20 docs are dropped "
    "before pairing (the standard boilerplate/frequency cap — it "
    "bounds per-span pair fan-out to C(20,2), making the self-join "
    "linear in span count at any corpus size, the same discipline as "
    "the LSH band join). Pairs then feed the shared cluster/keep-one "
    "machinery (d_dup_clusters).",
)
def d_span_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") >= 64)
    offs = F.sequence(F.lit(0), F.col("n_chars") - 64, F.lit(32))
    # spans feeds THREE branches (the frequency cap, the kept side and
    # the b side of the pair join); unmaterialized, the compiled plan
    # re-ran the full text scan + window-md5 explode + the corpus-sized
    # distinct SHUFFLE per branch (r12 scan census: 3 documents scans).
    # Checkpointing after the distinct pays one shuffle and saves two
    # full scan+hash+shuffle passes (guide §2.4) — the stored rows are
    # the skinny (doc_id, span_md5) pairs, never the text.
    spans = (
        docs.select("doc_id", "text", F.explode(offs).alias("off"))
        .select(
            "doc_id",
            F.md5(
                F.substring(F.col("text"), F.col("off") + 1, F.lit(64))
            ).alias("span_md5"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    keep = (
        spans.groupBy("span_md5")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= 20))
        .select("span_md5")
    )
    kept = spans.join(keep, "span_md5")
    a = kept.alias("a")
    b = spans.alias("b")
    return (
        a.join(
            b,
            (F.col("a.span_md5") == F.col("b.span_md5"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= 3)
    )
