"""Fifteenth registry tranche: training-corpus quality & retrieval
depth — intra-document repetition, Gopher-style quality rules,
benchmark-contamination detection, two-stage coarse→exact vector
retrieval, and funnel conversion analytics.

These are the operators a 100 TB pretraining-data pipeline runs between
raw ingest and training: repetition and quality gates drop boilerplate
and machine-generated junk (Rae et al., Gopher §A1.1-style rules);
contamination screens the corpus against an eval set by shared word
n-grams (the Lee et al. / GPT-3 appendix-C shape); two-stage retrieval
is how production ANN actually serves — a cheap low-dim coarse pass
prunes the corpus, the exact metric reranks survivors.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    alpha_words,
    alpha_words_sql,
    split_alpha,
    word_ngrams,
    word_shingles_np,
)
from ..operators.similarity import cosine_pairs_np
from ..operators.relational import spread, topk_per_group
from ..sources.parquet_tables import table
from .registry import register

_STOPWORDS = ("the", "and", "of", "to", "in", "a", "is", "for")


@register(
    "tx_repetition_ratio",
    """
    SELECT doc_id, n_trigrams, distinct_trigrams,
           CASE WHEN n_trigrams = 0 THEN 1.0
                ELSE CAST(distinct_trigrams AS DOUBLE) / n_trigrams END AS rep_ratio
    FROM (
        SELECT doc_id, len(tg) AS n_trigrams,
               len(list_distinct(tg)) AS distinct_trigrams
        FROM (
            SELECT doc_id,
                   list_transform(range(1, len(ws) - 1),
                                  i -> array_to_string(ws[i:i+2], ' ')) AS tg
            FROM (SELECT doc_id, """ + alpha_words_sql("lower(text)") + """ AS ws FROM documents)
        )
    )
    """,
    "Intra-document repetition gate (Gopher-style duplicate-n-gram "
    "rule): distinct word-trigram count / total trigram count per doc — "
    "low ratios flag boilerplate and looping machine text. Pure "
    "per-row array math inside the scan projection: no shuffle, no "
    "UDF, scan-bound at any corpus size.",
)
def tx_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched trigram counting: the HOF chain
    # (sequence→transform→slice→array_join→array_distinct) is
    # CodegenFallback — interpreted per ELEMENT — and measured 81 s at
    # the 10× smoke vs ~3 s for this per-row Python pass over Arrow
    # batches (same lesson as word_shingles_np).
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType, StructField, StructType

    @pandas_udf(
        StructType(
            [
                StructField("n", IntegerType()),
                StructField("d", IntegerType()),
            ]
        )
    )
    def trigram_counts(texts: pd.Series) -> pd.DataFrame:
        ns, ds = [], []
        for t in texts:
            tgs = word_ngrams(t or "", 3, split_alpha)
            ns.append(len(tgs))
            ds.append(len(set(tgs)))
        return pd.DataFrame({"n": ns, "d": ds})

    docs = spread(table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", trigram_counts(F.col("text")).alias("__tc")
    ).select(
        "doc_id",
        F.col("__tc.n").alias("n_trigrams"),
        F.col("__tc.d").alias("distinct_trigrams"),
        F.when(F.col("__tc.n") == 0, F.lit(1.0))
        .otherwise(F.col("__tc.d").cast("double") / F.col("__tc.n"))
        .alias("rep_ratio"),
    )


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@register(
    "tx_gopher_quality_flags",
    f"""
    SELECT doc_id, n_words, mean_word_len, stop_ratio, alpha_ratio,
           (n_words BETWEEN 5 AND 100000
            AND mean_word_len BETWEEN 2.0 AND 12.0
            AND alpha_ratio > 0.5) AS passes
    FROM (
        SELECT doc_id, len(ws) AS n_words,
               CASE WHEN len(ws) = 0 THEN 0.0
                    ELSE CAST(len(array_to_string(ws, '')) AS DOUBLE) / len(ws)
               END AS mean_word_len,
               CASE WHEN len(ws) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(ws,
                             x -> list_contains({_STOP_SQL}, x))) AS DOUBLE) / len(ws)
               END AS stop_ratio,
               CASE WHEN len(text) = 0 THEN 0.0
                    ELSE CAST(len(array_to_string(ws, '')) AS DOUBLE) / len(text)
               END AS alpha_ratio
        FROM (SELECT doc_id, text, {alpha_words_sql("lower(text)")} AS ws FROM documents)
    )
    """,
    "Gopher-style quality rules (Rae et al. A1.1): word count bounds, "
    "mean word length bounds, alphabetic-character ratio, stopword "
    "ratio — the cheap heuristic gate run on every document before "
    "expensive model scoring. Non-Latin scripts fail the alpha gate by "
    "design (the published rules are English-centric). Single-pass "
    "column expressions, whole-stage-codegen'd.",
)
def tx_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ws = alpha_words(F.lower(F.col("text")))
    base = docs.select(
        "doc_id",
        "text",
        F.size(ws).alias("n_words"),
        F.length(F.concat_ws("", ws)).alias("word_chars"),
        F.size(F.filter(ws, lambda w: w.isin(*_STOPWORDS))).alias("n_stop"),
    )
    nz = F.col("n_words") > 0
    out = base.select(
        "doc_id",
        "n_words",
        F.when(nz, F.col("word_chars").cast("double") / F.col("n_words"))
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        F.when(nz, F.col("n_stop").cast("double") / F.col("n_words"))
        .otherwise(F.lit(0.0))
        .alias("stop_ratio"),
        F.when(F.length("text") == 0, F.lit(0.0))
        .otherwise(F.col("word_chars").cast("double") / F.length("text"))
        .alias("alpha_ratio"),
    )
    return out.withColumn(
        "passes",
        F.col("n_words").between(5, 100000)
        & F.col("mean_word_len").between(2.0, 12.0)
        & (F.col("alpha_ratio") > 0.5),
    )


@register(
    "d_contamination_5gram",
    f"""
    WITH w AS (
        SELECT doc_id, {alpha_words_sql("lower(text)")} AS ws FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(ws) - 3),
                      i -> array_to_string(ws[i:i+4], ' ')))) AS s
        FROM w
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0),
    totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY 1),
    hits AS (
        SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corp c JOIN bench b ON c.s = b.s
        GROUP BY 1
    )
    SELECT h.doc_id, h.n_shared, t.n_shingles,
           CAST(h.n_shared AS DOUBLE) / t.n_shingles AS contamination
    FROM hits h JOIN totals t ON h.doc_id = t.doc_id
    """,
    "Benchmark-contamination screen (the GPT-3/Lee et al. n-gram "
    "overlap check): every corpus document is scored by the fraction "
    "of its distinct 5-word shingles that also appear in the eval set "
    "(doc_id %% 50 == 0 here — in production, the benchmark suite). "
    "The benchmark shingle set is small by construction -> broadcast "
    "join against the exploded corpus shingles; on the fixtures it "
    "isolates exactly the seeded near-dups of benchmark docs and "
    "nothing else (5-grams are past the chance-collision floor). "
    "Fan-out happens in the scan projection; only matching shingles "
    "shuffle for the per-doc count.",
)
def d_contamination_5gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One shingle explode over the corpus (doc_id filters push below the
    # Generate, so the bench branch tokenizes only 2% of docs), then a
    # broadcast LEFT join against the bench set with a hit indicator:
    # per-doc total and shared count come out of ONE aggregation — no
    # totals/hits twin aggregates and no aggregate-aggregate join.
    # (Round 1 ran the explode three times; referencing the shingle
    # array from two expressions in one projection is no better —
    # CollapseProject inlines the array expression into each use.)
    docs = table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(word_shingles_np(5, split_alpha)(F.col("text"))).alias("s")
    )
    bench = (
        sh.filter(F.col("doc_id") % 50 == 0)
        .select("s")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_shared",
            "n_shingles",
            (F.col("n_shared").cast("double") / F.col("n_shingles")).alias("contamination"),
        )
    )


@register(
    "v_two_stage_rerank",
    """
    WITH q AS (
        SELECT vec_id, embedding,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 127.0
                        / GREATEST(list_max(list_transform(embedding,
                              y -> abs(CAST(y AS DOUBLE)))), 1e-12) + 0.5)
                        AS DOUBLE)) AS codes
        FROM embeddings
    ),
    p AS (
        SELECT vec_id AS probe_id, embedding AS p_emb, codes AS p_codes
        FROM q WHERE vec_id % 100 = 0
        ORDER BY vec_id LIMIT 256
    ),
    coarse AS (
        SELECT p.probe_id, e.vec_id, e.embedding AS e_emb, p.p_emb,
               ROUND(CAST(list_cosine_similarity(e.codes, p.p_codes)
                          AS DOUBLE), 6) AS csim
        FROM q e, p
        WHERE e.vec_id <> p.probe_id
    ),
    cand AS (
        SELECT probe_id, vec_id, e_emb, p_emb FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                         ORDER BY csim DESC, vec_id) AS rk
            FROM coarse
        ) WHERE rk <= 30
    )
    SELECT probe_id, vec_id, sim FROM (
        SELECT probe_id, vec_id,
               ROUND(CAST(list_cosine_similarity(
                   CAST(e_emb AS DOUBLE[]), CAST(p_emb AS DOUBLE[])) AS DOUBLE), 6) AS sim,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY ROUND(CAST(list_cosine_similarity(
                                      CAST(e_emb AS DOUBLE[]),
                                      CAST(p_emb AS DOUBLE[])) AS DOUBLE), 6) DESC,
                                  vec_id) AS rk
        FROM cand
    ) WHERE rk <= 5
    """,
    "Two-stage retrieval (how production ANN serves): a coarse pass "
    "over the int8-quantized codes (the v_quantize_int8 "
    "representation — 4x fewer bytes scanned) takes top-30 candidates "
    "per probe, then the exact float cosine reranks to top-5. "
    "Quantized cosine tracks float cosine closely (recall vs exact "
    "top-5 asserted >= 0.9 in tests), unlike prefix truncation, which "
    "needs Matryoshka-trained embeddings. At 100 TB the codes column "
    "is the only thing the full scan touches; the float vectors are "
    "fetched for 30 rows per probe. Probes broadcast; the only "
    "shuffles are the two per-probe windows (keyed by probe_id).",
)
def v_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse stage as a probe-matrix scan: the probe set (a query
    workload — small by definition, collected driver-side like the IVF
    centroids) rides into a ``mapInPandas`` scorer as one numpy matrix;
    each corpus batch is int8-quantized and scored with a single BLAS
    matmul, and only a per-batch top-30-per-probe SUPERSET (value
    cut at the 30th score minus the 6dp rounding slack, so ties can't
    be lost) leaves Python. The round-1 crossJoin materialized
    |corpus|×|probes| rows each carrying BOTH 64-float arrays through
    Arrow — 100× more transfer at 10× scale (the 10× smoke took 124 s;
    this shape is linear in corpus size and doesn't materialize pairs).
    """
    import numpy as np

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)
    # Probe set = a query workload: O(1) in corpus size BY CONSTRUCTION
    # (the round-2 verdict flagged the unbounded `% 100` collect — 1% of
    # corpus scales with corpus). LIMIT 256 caps the driver-side matrix
    # at 256×dim floats no matter the scale; oracle applies the same cut.
    probe_rows = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(256)
        .collect()
    )
    p_ids = np.array([r["vec_id"] for r in probe_rows], dtype=np.int64)
    p_mat = np.array([[float(x) for x in r["embedding"]] for r in probe_rows])

    def quantize(m: "np.ndarray") -> "np.ndarray":
        maxabs = np.maximum(np.abs(m).max(axis=1), 1e-12)
        return np.floor(m * 127.0 / maxabs[:, None] + 0.5)

    p_codes = quantize(p_mat)
    p_norm = np.sqrt(np.einsum("ij,ij->i", p_codes, p_codes))

    out_schema = StructType(
        [
            StructField("probe_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("csim_raw", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            V = quantize(np.stack(pdf["embedding"].to_numpy()).astype(np.float64))
            vnorm = np.sqrt(np.einsum("ij,ij->i", V, V))
            den = vnorm[:, None] * p_norm[None, :]
            sims = np.where(den > 0, (V @ p_codes.T) / np.where(den == 0, 1.0, den), 0.0)
            sims = np.where(vids[:, None] == p_ids[None, :], -np.inf, sims)
            k = min(30, len(vids))
            kth = np.partition(sims, -k, axis=0)[-k, :]  # 30th best per probe
            # superset cut with 6dp-round slack; isfinite drops the
            # -inf self-pair (which would otherwise pass -inf >= -inf)
            keep = (sims >= (kth[None, :] - 1e-6)) & np.isfinite(sims)
            rows, cols = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "probe_id": p_ids[cols],
                    "vec_id": vids[rows],
                    "csim_raw": sims[rows, cols],
                }
            )

    coarse = emb.select("vec_id", "embedding").mapInPandas(score, out_schema)
    cand = topk_per_group(
        coarse.withColumn("csim", F.round(F.col("csim_raw"), 6)),
        ["probe_id"],
        [F.col("csim").desc(), F.col("vec_id").asc()],
        30,
    ).select("probe_id", "vec_id")
    # Exact rerank touches 30 rows per probe: broadcast the candidate
    # ids back onto the corpus for the float vectors, then score
    # against the (broadcast) probe vectors.
    # Rebuild the probe frame from the SAME bounded collect (not a second
    # corpus scan) so both stages see the identical ≤256-probe workload.
    probes_df = F.broadcast(
        spark.createDataFrame(
            [(r["vec_id"], r["embedding"]) for r in probe_rows],
            emb.select(
                F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("p_emb"),
            ).schema,
        )
    )
    reranked = (
        emb.select("vec_id", "embedding")
        .join(F.broadcast(cand), "vec_id")
        .join(probes_df, "probe_id")
        # r12 (guide §4.2): Arrow einsum kernel replaces the interpreted
        # HOF cosine folds; float64 + JVM 6-dp rounding — value-identical.
        .withColumn(
            "sim",
            F.round(cosine_pairs_np()(F.col("embedding"), F.col("p_emb")), 6),
        )
    )
    return topk_per_group(
        reranked, ["probe_id"], [F.col("sim").desc(), F.col("vec_id").asc()], 5
    ).select("probe_id", "vec_id", "sim")


@register(
    "w_funnel_conversion",
    """
    WITH s AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
             AND e.ts > s.t0 AND e.ts <= s.t0 + INTERVAL 24 HOUR
        WHERE e.event_type = 'click' GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN c ON e.user_id = c.user_id
             AND e.ts > c.t1 AND e.ts <= c.t1 + INTERVAL 24 HOUR
        WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS stage,
           COUNT(*) AS n_users
    FROM s LEFT JOIN c ON s.user_id = c.user_id
           LEFT JOIN p ON s.user_id = p.user_id
    GROUP BY 1
    """,
    "Ordered funnel conversion with a 24 h conversion window per step "
    "(signup -> click within 24 h -> purchase within 24 h of the "
    "click): three stage-gated min-aggregates chained by time-bounded "
    "joins, then a histogram of the furthest stage reached per user. "
    "Each stage is a keyed aggregate + equi-join on user_id — the same "
    "shuffle key throughout, so a real cluster reuses one "
    "partitioning; no window over the full event stream.",
)
def w_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # s and c are skinny per-user stage frames, each consumed by TWO
    # downstream branches (the next stage's join + the final staged
    # left-joins); without materialization the compiled plan expanded
    # the whole upstream per branch — 6 event scans in one query (r12
    # scan census). Checkpointed, the plan keeps the three inherent
    # pushed-filter scans of events (one per stage; guide §2.4).
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
        .localCheckpoint(eager=False)
    )
    day = F.expr("INTERVAL 24 HOUR")
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter((F.col("ts") > F.col("t0")) & (F.col("ts") <= F.col("t0") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .localCheckpoint(eager=False)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + day))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    staged = (
        s.join(c.select("user_id", "t1"), "user_id", "left")
        .join(p.select("user_id", "t2"), "user_id", "left")
        .select(
            F.when(F.col("t2").isNotNull(), F.lit(3))
            .when(F.col("t1").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("stage")
        )
    )
    return staged.groupBy("stage").agg(F.count("*").alias("n_users"))
