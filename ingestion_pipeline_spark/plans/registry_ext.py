"""Extended plan registry: wider TPC-H-shaped coverage, table-level set
ops, sessionization/window analytics, RAG context aggregation (P4),
embedding near-dup, IVF ANN. Same contract as ``registry``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import cents_disc_price, exact_sum, money, one_minus, sum_cents
from ..functions.text import word_tokens_sql
from ..operators import similarity as sim
from ..operators.relational import spread, topk_per_group
from ..sources.parquet_tables import table
from .registry import SQL_DISC, SQL_EXT, _TOKS, _disc_price, register

# =======================================================================
# q* — more TPC-H shapes
# =======================================================================

@register(
    "q4_late_shipments",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
    "TPC-H Q4 shape: EXISTS decorrelated to a left-semi join by Catalyst "
    "— no fan-out, one shuffle.",
)
def q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "q6_revenue_delta",
    f"""
    SELECT CAST(SUM({SQL_EXT} * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: pure scan-filter-aggregate; all three predicates "
    "push to the parquet reader.",
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
            & F.col("l_discount").between(0.02, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(money("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)"))
            .cast("double")
            .alias("revenue_delta"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q14_promo_share",
    f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {SQL_EXT} * {SQL_DISC} ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(SUM({SQL_EXT} * {SQL_DISC}) AS DOUBLE) AS promo_share,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
    "TPC-H Q14 shape: conditional aggregate ratio over a broadcast "
    "dim join (part is the broadcast side).",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-07-01")))
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", cents_disc_price()).otherwise(
        F.lit(0).cast("long")
    )
    # operand-parity with the oracle: each integer-cents sum scales back
    # to dollars as a double BEFORE the ratio, matching the SQL's
    # CAST(SUM(decimal) AS DOUBLE) operands bit-for-bit.
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * (F.sum(promo) / F.lit(10000.0))
                / (F.sum(cents_disc_price()) / F.lit(10000.0))
            ).alias("promo_share"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "q18_large_orders",
    """
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_custkey, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 160
    ORDER BY sum_qty DESC, o_orderkey
    LIMIT 10
    """,
    "TPC-H Q18 shape: group-filter (HAVING) on the fact join, top-k. "
    "Map-side partial agg shrinks the shuffle to |orders| rows.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    from ..functions.exact import cents

    # qty in integer hundredths: HAVING > 160 ⟺ > 16000 cents, an exact
    # integer compare identical to the oracle's decimal HAVING.
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_custkey", "o_totalprice")
        .agg(F.sum(cents("l_quantity")).alias("qty_cents"))
        .filter(F.col("qty_cents") > 16000)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            (F.col("qty_cents") / F.lit(100.0)).alias("sum_qty"),
        )
        .orderBy(F.col("sum_qty").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# =======================================================================
# g* — cube / conditional buckets
# =======================================================================

@register(
    "g_cube_orders",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "Full cube over two dims — single Expand+Aggregate, no repeated scans.",
)
def g_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "g_priority_buckets",
    """
    SELECT o_orderstatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END) AS high_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 END) AS low_count
    FROM orders
    GROUP BY o_orderstatus
    """,
    "TPC-H Q12 shape: conditional count buckets (CASE routing, P9-style "
    "when/otherwise).",
)
def g_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_count"),
            F.count(F.when(~high, 1)).alias("low_count"),
        )
    )


# =======================================================================
# e* — table-level set operations (SURVEY §2.8 capability superset)
# =======================================================================

@register(
    "e_sources_intersect",
    """
    SELECT source FROM documents WHERE lang = 'en'
    INTERSECT
    SELECT source FROM documents WHERE lang = 'zh'
    """,
    "Table-level INTERSECT (E2 at relation granularity).",
)
def e_sources_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en").select("source")
    zh = docs.filter(F.col("lang") == "zh").select("source")
    return en.intersect(zh)


@register(
    "e_sources_except",
    """
    SELECT source FROM documents WHERE lang = 'en'
    EXCEPT
    SELECT source FROM documents WHERE lang = 'fr'
    """,
    "Table-level EXCEPT (E1 provenance difference at relation "
    "granularity).",
)
def e_sources_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    en = docs.filter(F.col("lang") == "en").select("source")
    fr = docs.filter(F.col("lang") == "fr").select("source")
    return en.subtract(fr)  # EXCEPT DISTINCT semantics


@register(
    "e_union_doc_sets",
    """
    SELECT doc_id, 'short' AS bucket FROM documents WHERE n_chars < 200
    UNION ALL
    SELECT doc_id, 'en' AS bucket FROM documents WHERE lang = 'en'
    """,
    "E3 — unionByName of two derived sets (option-list union shape, "
    "llama-chatbot/main.py:526-528).",
)
def e_union_doc_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    short = docs.filter(F.col("n_chars") < 200).select("doc_id", F.lit("short").alias("bucket"))
    en = docs.filter(F.col("lang") == "en").select("doc_id", F.lit("en").alias("bucket"))
    return short.unionByName(en)


# =======================================================================
# w* — sessionization, lag/lead, moving aggregates
# =======================================================================

@register(
    "w_sessionize_events",
    """
    WITH gaps AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) > 14400000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessions AS (
        SELECT user_id, event_id, ts_us,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
    FROM sessions
    GROUP BY user_id, session_id
    """,
    "Gap-based sessionization (4 h inactivity): lag → cumulative session "
    "id → per-session rollup. The batch formulation of streaming session "
    "windows (W6); one shuffle on user_id, reused by both windows.",
)
def w_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    order_w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(order_w)
    with_flag = ev.withColumn(
        "new_session", F.when(gap > 4 * 3600 * 1_000_000, 1).otherwise(0)
    )
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_session = with_flag.withColumn("session_id", F.sum("new_session").over(run_w))
    return with_session.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
    )


@register(
    "w_value_delta",
    """
    SELECT user_id, event_id,
           CAST(CAST(value AS DECIMAL(12,2)) -
                COALESCE(LAG(CAST(value AS DECIMAL(12,2)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS delta
    FROM events
    WHERE user_id < 30
    """,
    "Lag/lead delta per key — exact decimal subtraction.",
)
def w_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val = F.col("value").cast("decimal(12,2)")
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "user_id",
            "event_id",
            (val - F.coalesce(F.lag(val).over(w), F.lit(0).cast("decimal(12,2)")))
            .cast("double")
            .alias("delta"),
        )
    )


@register(
    "w_moving_avg_value",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_avg
    FROM events
    WHERE user_id < 30
    """,
    "Moving average over a 4-row window (explicit sum/count so the "
    "division is deterministic double math on both engines).",
)
def w_moving_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "user_id",
            "event_id",
            (
                F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double")
                / F.count("*").over(w)
            ).alias("moving_avg"),
        )
    )


@register(
    "t_price_percentiles",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    "Exact interpolated percentiles per group (Spark `percentile` ≡ "
    "DuckDB quantile_cont). At 100 TB swap to approx_percentile — the "
    "exact form shuffles all values per group.",
)
def t_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_price"),
        )
    )


# =======================================================================
# x*/j* — explode fan-out join (J3), JSON round-trip (X6)
# =======================================================================

@register(
    "x_explode_cve_join",
    """
    WITH extracted AS (
        SELECT doc_id,
               unnest(regexp_extract_all(
                   'issues CVE-2024-' || CAST(1000 + doc_id AS VARCHAR)
                   || ' CVE-2024-' || CAST(1000 + (doc_id + 1) % 500 AS VARCHAR),
                   'CVE-\\d{4}-\\d{4,7}')) AS cve_ref
    FROM documents
    )
    SELECT e.doc_id, e.cve_ref, d.source AS ref_source
    FROM extracted e
    JOIN documents d ON d.doc_id = CAST(substring(e.cve_ref, 10) AS BIGINT) - 1000
    """,
    "J3 — regex-extracted CVE ids exploded and each joined to its "
    "record (llama-chatbot/main.py:255-266): explode → equi-join.",
)
def x_explode_cve_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import extract_cve_ids

    docs = table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("issues CVE-2024-"),
        (F.lit(1000) + F.col("doc_id")).cast("string"),
        F.lit(" CVE-2024-"),
        (F.lit(1000) + (F.col("doc_id") + 1) % 500).cast("string"),
    )
    exploded = docs.select(
        "doc_id", F.explode(extract_cve_ids(synth)).alias("cve_ref")
    )
    lookup = docs.select(F.col("doc_id").alias("ref_doc"), F.col("source").alias("ref_source"))
    ref_id = F.substring(F.col("cve_ref"), 10, 100).cast("bigint") - 1000
    return (
        exploded.withColumn("ref_doc", ref_id)
        .join(F.broadcast(lookup), "ref_doc")
        .select("doc_id", "cve_ref", "ref_source")
    )


@register(
    "p_json_roundtrip",
    """
    SELECT event_id,
           '{"k":' || COALESCE(json_extract_string(props, '$.k'), '0') || '}' AS rebuilt
    FROM events
    WHERE event_type = 'click'
    """,
    "X6 — json parse → typed → re-serialize (json.loads/dumps round "
    "trip, processor.py:52).",
)
def p_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.extract import jget_str

    ev = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    k = jget_str("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        F.to_json(F.struct(k.alias("k"))).alias("rebuilt"),
    )


# =======================================================================
# rag — the §3.2 retrieve→join→context pipeline as one plan (P4)
# =======================================================================

@register(
    "rag_context_block",
    """
    WITH ranked AS (
        SELECT e.vec_id,
               ROUND(CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                 CAST(p.embedding AS DOUBLE[])) AS DOUBLE), 6) AS sim
        FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) p
        WHERE e.vec_id <> 0
        ORDER BY sim DESC, e.vec_id
        LIMIT 5
    )
    SELECT string_agg('- CVE ID: ' || CAST(d.doc_id AS VARCHAR) || ' | ' || substring(d.text, 1, 60),
                      chr(10) ORDER BY r.sim DESC, d.doc_id) AS context,
           COUNT(*) AS n_docs
    FROM ranked r JOIN documents d ON d.doc_id = r.vec_id
    """,
    "SURVEY §3.2 relational core: cosine top-k → point-lookup join (J1) "
    "→ ordered context-string aggregation (P4, "
    "chatbot/llama_index_chatbot.py:70-73). One plan: scan → project → "
    "TakeOrdered → broadcast join → agg.",
)
def rag_context_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .registry import _probe

    emb = table(spark, sf_dir, "embeddings")
    hits = sim.brute_force_topk(emb, "embedding", _probe(spark, sf_dir), k=5, exclude_id=0)
    docs = table(spark, sf_dir, "documents")
    joined = hits.join(F.broadcast(docs), hits.vec_id == docs.doc_id).select(
        "doc_id",
        "sim",
        F.concat(
            F.lit("- CVE ID: "),
            F.col("doc_id").cast("string"),
            F.lit(" | "),
            F.substring("text", 1, 60),
        ).alias("line"),
    )
    # order-deterministic string agg: collect (neg-sim, doc_id, line)
    # structs, sort, project, join — the Spark equivalent of
    # string_agg(... ORDER BY).
    sortable = F.struct((-F.col("sim")).alias("neg_sim"), F.col("doc_id").alias("doc_id"), F.col("line").alias("line"))
    return joined.agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(sortable)), lambda s: s.getField("line")),
            "\n",
        ).alias("context"),
        F.count("*").alias("n_docs"),
    )


# =======================================================================
# d*/v* — embedding near-dup + IVF ANN
# =======================================================================

@register(
    "d_embedding_near_dups",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT id_a, id_b, sim FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE), 6) AS sim
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE sim >= 0.3
    """,
    "Embedding-cosine near-dup pairs within label blocks (the dedup "
    "family's semantic variant). At 100 TB the label block is an LSH/IVF "
    "bucket so the pair space stays bounded.",
)
def d_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-block matrix sweep (applyInPandas): each vector crosses the
    # Python boundary ONCE and the |block|² cosines stay inside a
    # blocked BLAS matmul; only qualifying (id_a, id_b, sim) triples
    # come back. The earlier pair-explode self-join shipped both float
    # arrays for every pair through Arrow — measured 62 s at the 10×
    # smoke (10× vectors per label → 100× pairs) vs ~4 s for this path.
    # num/den cosine form and HALF_UP 6-dp rounding match
    # similarity.cosine_pairs_np, so the SQL oracle is unchanged.
    import numpy as np
    import pandas as pd

    # bound here so the worker receives the function, not the module
    cosine_blocks = sim.cosine_blocks

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        out_a, out_b, out_s = [], [], []
        for a0, S in cosine_blocks(np.stack(pdf["embedding"].to_numpy())):
            for r in range(len(S)):
                g = a0 + r
                js = np.nonzero(S[r, :g] >= 0.3)[0]
                if len(js):
                    out_a.extend(ids[js])
                    out_b.extend([ids[g]] * len(js))
                    out_s.extend(S[r, js])
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "sim": out_s})

    emb = spread(table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "embedding"
    )
    return emb.groupBy("label").applyInPandas(
        sweep, "id_a long, id_b long, sim double"
    )


@register(
    "v_ivf_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (
        SELECT vec_id AS cid,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS cv
        FROM e WHERE vec_id < 16
    ),
    probe AS (
        SELECT list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS pnorm,
               v AS pv
        FROM e WHERE vec_id = 0
    ),
    assign AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid
                   ) AS rn
            FROM e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    keep AS (
        SELECT cid FROM (
            SELECT c.cid,
                   ROW_NUMBER() OVER (
                       ORDER BY list_dot_product(p.pnorm, c.cv) DESC, c.cid
                   ) AS rn
            FROM cent c CROSS JOIN probe p
        ) WHERE rn <= 4
    )
    SELECT vec_id, cluster, sim FROM (
        SELECT e.vec_id, a.cluster,
               ROUND(CAST(list_cosine_similarity(e.v, p.pv) AS DOUBLE), 6) AS sim
        FROM e
        JOIN assign a ON e.vec_id = a.vec_id
        CROSS JOIN probe p
        WHERE a.cluster IN (SELECT cid FROM keep) AND e.vec_id <> 0
    )
    ORDER BY sim DESC, vec_id
    LIMIT 8
    """,
    "IVF-style ANN: 16 seed centroids (vec_id 0-15), corpus assigned to "
    "nearest centroid (broadcast argmax — no shuffle), probe searches "
    "its 4 nearest clusters only. The scale path when LSH recall is "
    "insufficient: cluster assignment is write-time work, queries scan "
    "|corpus|·n_probe/n_clusters rows.",
)
def v_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)
    # ONE driver-side job fetches centroids AND probe (verdict r5
    # directive #2), from the un-repartitioned scan — 16 rows never
    # need a shuffle. Assignment is an Arrow-vectorized argmax (one
    # BLAS matmul per batch) — 16 per-row interpreted fold expressions
    # would be the slow path.
    probe, centroids = sim.seed_centroids(table(spark, sf_dir, "embeddings"))
    nearest = sim.assign_nearest_np(centroids)

    def cos_py(a: list[float], b: list[float]) -> float:
        return sum(x * y for x, y in zip(sim.l2norm(a), sim.l2norm(b)))

    keep = sorted(range(16), key=lambda i: -cos_py(probe, centroids[i]))[:4]
    # the probe exclusion goes BEFORE the kernel column: the kernel is
    # non-deterministic to the optimizer, so no filter passes below it,
    # and this one belongs at the scan
    assigned = emb.filter(F.col("vec_id") != 0).withColumn(
        "cluster", nearest(F.col("embedding"))
    )
    # r12 (guide §4.2): Arrow probe-cosine kernel replaces the
    # interpreted HOF folds; float64 + JVM 6-dp rounding — value-identical.
    return (
        assigned.filter(F.col("cluster").isin(keep))
        .withColumn(
            "sim", F.round(sim.probe_cosine_np(probe)(F.col("embedding")), 6)
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(8)
        .select("vec_id", "cluster", "sim")
    )


# =======================================================================
# tx* — text-analysis family as oracle-checked queries
# =======================================================================

_LANG_HITS = {
    lang: f"len(list_filter({_TOKS}, t -> list_contains({markers!r}, t)))"
    for lang, markers in sorted(
        __import__("ingestion_pipeline_spark.functions.text", fromlist=["LANG_MARKERS"]).LANG_MARKERS.items()
    )
}


@register(
    "tx_langid",
    f"""
    WITH hits AS (
        SELECT doc_id, lang AS true_lang,
               {', '.join(f'{expr} AS h_{lang}' for lang, expr in _LANG_HITS.items())}
        FROM documents
    )
    SELECT doc_id, true_lang,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'es'
                WHEN h_fr = greatest(h_de, h_en, h_es, h_fr, h_zh) THEN 'fr'
                ELSE 'zh' END AS predicted_lang
    FROM hits
    """,
    "Marker-lexicon language ID (argmax over per-language stopword hits; "
    "ties break to the alphabetically-first language, matching the "
    "Spark fold). Real deployments swap a model UDF with this column "
    "signature.",
)
def tx_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import langid_join

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("true_lang"), "text"
    )
    return langid_join(docs).select(
        "doc_id", "true_lang", "predicted_lang"
    )


# Shared by tx_quality_scores and the token-budget selection oracle
# (registry_ext17) — the SQL twin of functions/text.py:quality_score.
QUALITY_PARTS_SQL = f"""
        SELECT doc_id,
               len({_TOKS}) AS n_tokens,
               len(list_filter({_TOKS},
                   t -> list_contains(['the','a','an','and','or','of','to','in','is','it'], t)))
                 AS n_stop,
               length(text) AS n_chars_raw,
               length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nopunct
        FROM documents
"""
QUALITY_EXPR_SQL = """
           ROUND(LEAST(1.0, GREATEST(0.0,
               LEAST(1.0, n_tokens / 100.0) * 0.4
             + LEAST(1.0, (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 5.0) * 0.3
             + GREATEST(0.0, 1.0 - (CASE WHEN n_chars_raw > 0
                                         THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw
                                         ELSE 0.0 END) * 4.0) * 0.3)), 6)
"""


@register(
    "tx_quality_scores",
    f"""
    WITH parts AS ({QUALITY_PARTS_SQL})
    SELECT doc_id, {QUALITY_EXPR_SQL} AS quality
    FROM parts
    """,
    "Composite document-quality heuristic (length/stopword/punctuation "
    "blend, clamped [0,1]) — the text-quality scoring stage of a "
    "training-data pipeline; all JVM-side column math.",
)
def tx_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import quality_score

    return table(spark, sf_dir, "documents").select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


@register(
    "tx_token_counts",
    rf"""
    SELECT doc_id,
           len({word_tokens_sql("text")}) AS n_words,
           len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_ish,
           length(text) AS n_chars_actual
    FROM documents
    """,
    "Token counting: whitespace words + BPE-ish word/punct tokens "
    "(RE2-safe GPT-2-style pre-tokenizer) + char length.",
)
def tx_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bpe_ish_token_count, token_count

    return table(spark, sf_dir, "documents").select(
        "doc_id",
        token_count(F.col("text")).alias("n_words"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_ish"),
        F.length("text").alias("n_chars_actual"),
    )
