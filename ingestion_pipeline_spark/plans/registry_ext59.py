"""Fifty-ninth registry tranche (round 5): dataset-QA diagnostics —
label-noise detection, corpus word association, and the out-of-order
profile that sizes streaming watermarks.

- ``dq_label_outliers`` — confident-learning-shaped mislabel
  detection: each vector is compared against every label centroid
  (quantized-exact means) and flagged when its nearest centroid is
  not its own label's.  The per-label centroid matrix is 10 rows and
  broadcasts; the corpus side is one fan-out join + one keyed argmin.
- ``g_cooccurrence_pmi`` — top-50 pointwise-mutual-information
  bigrams with a min-count support gate: the word-association table
  (phrase mining / tokenizer-merge candidates).  Ordering is on the
  ROUNDED pmi with (w1, w2) tiebreak — a cross-engine-stable total
  order; raw last-ulp float ordering would be hash-fragile.
- ``w_watermark_lateness_profile`` — per-event-type out-of-orderness:
  how far behind the per-user running max event-time each event
  arrives (arrival order proxied by event_id, documented).  The p95
  lateness IS the `withWatermark` delay a stream needs; computed
  batch-side exactly (percentile ≡ quantile_cont, the
  t_price_percentiles identity).

All three oracle-gated; beyond-reference training-data / streaming-ops
surface (reference scope: /root/reference/consumer/consumer.py
processes records one at a time with no corpus QA).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_tables import table
from .registry import _TOKS, register


# =======================================================================
# dq_label_outliers — nearest-centroid label-noise flagging
# =======================================================================

@register(
    "dq_label_outliers",
    """
    WITH ex AS (
        SELECT label, CAST(i AS BIGINT) AS dim,
               CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
                    AS BIGINT) AS mi
        FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
    ),
    cstat AS (
        SELECT label, dim,
               CAST(floor(CAST(SUM(mi) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cq
        FROM ex GROUP BY label, dim
    ),
    cent AS (
        SELECT label AS clabel, list(cq ORDER BY dim) AS c
        FROM cstat GROUP BY label
    ),
    q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS m
        FROM embeddings
    ),
    d AS (
        SELECT q.vec_id, q.label, cent.clabel,
               CAST(list_aggregate(
                   list_transform(range(0, len(q.m)), i ->
                       (q.m[i + 1] - cent.c[i + 1])
                       * (q.m[i + 1] - cent.c[i + 1])),
                   'sum') AS BIGINT) AS d2
        FROM q CROSS JOIN cent
    ),
    best AS (
        SELECT vec_id, label, clabel AS best_label, d2 AS best_d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2, clabel) AS rn
        FROM d
    ),
    own AS (SELECT vec_id, d2 AS own_d2 FROM d WHERE label = clabel)
    SELECT b.vec_id, b.label, b.best_label, b.best_d2, o.own_d2,
           b.best_label <> b.label AS is_outlier
    FROM best b JOIN own o ON b.vec_id = o.vec_id
    WHERE b.rn = 1
    """,
    "Label-noise detection (the confident-learning / nearest-prototype "
    "audit): every vector vs every per-label centroid, flagged when "
    "the nearest centroid's label disagrees with its own. EVERYTHING "
    "is exact integer arithmetic: elements quantize to micro-units, "
    "centroids to floor(mean) micro-units, so every distance is an "
    "exact BIGINT — order-free on any engine, any batch shape. The "
    "hot path is ONE Arrow-vectorized int64 matmul per batch "
    "(mapInPandas, ||m||^2 - 2 m.C^T + ||c||^2 — the IVF "
    "assign_nearest shape; numpy argmin's first-min tiebreak over "
    "label-ascending centroid rows == the oracle's ORDER BY d2, "
    "label), after the |labels| x |dims| centroid matrix — computed "
    "distributed, bounded by the class domain — is collected and "
    "closed over. Measured at 100x/200k vectors: 39.4 s as a "
    "codegen-HOF fan-out join -> 2-3 s as the batch matmul. Scale: "
    "one posexplode centroid agg + one matmul scan; no pair fan-out "
    "ever materializes.",
)
def dq_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x")).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * 1_000_000).cast("long").alias("mi"),
    )
    cstat = ex.groupBy("label", "dim").agg(
        F.floor(F.sum("mi").cast("double") / F.count("*"))
        .cast("long")
        .alias("cq")
    )
    # |labels| x |dims| rows — bounded by the class domain, the same
    # driver-side collect budget as the IVF/k-means centroid inits
    rows = cstat.collect()
    labels = sorted({r["label"] for r in rows})
    dim_n = max(r["dim"] for r in rows) + 1
    cmat = np.zeros((len(labels), dim_n), dtype=np.int64)
    idx = {lab: i for i, lab in enumerate(labels)}
    for r in rows:
        cmat[idx[r["label"]], r["dim"]] = r["cq"]
    labels_np = np.array(labels, dtype=np.int64)
    c2 = (cmat * cmat).sum(axis=1)

    out_schema = (
        "vec_id long, label int, best_label int, "
        "best_d2 long, own_d2 long, is_outlier boolean"
    )

    def compute(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(
                [
                    np.floor(
                        np.asarray(v, dtype=np.float64) * 1_000_000
                    ).astype(np.int64)
                    for v in pdf["embedding"]
                ]
            )
            m2 = (m * m).sum(axis=1)
            dmat = m2[:, None] - 2 * (m @ cmat.T) + c2[None, :]
            best_idx = dmat.argmin(axis=1)  # first min == smallest label
            own_idx = np.array([idx[lab] for lab in pdf["label"]])
            rng = np.arange(len(pdf))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "label": pdf["label"].values,
                    "best_label": labels_np[best_idx].astype("int32"),
                    "best_d2": dmat[rng, best_idx],
                    "own_d2": dmat[rng, own_idx],
                    "is_outlier": labels_np[best_idx] != pdf["label"].values,
                }
            )

    return emb.select("vec_id", "label", "embedding").mapInPandas(
        compute, out_schema
    )


# =======================================================================
# g_cooccurrence_pmi — top-k PMI bigrams with support gate
# =======================================================================

_MIN_PAIR = 5
_TOP_PMI = 50


@register(
    "g_cooccurrence_pmi",
    f"""
    WITH tokd AS (SELECT {_TOKS} AS tk FROM documents),
    bigr AS (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM tokd, UNNEST(range(1, len(tk))) AS u(i)
    ),
    uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
        FROM (SELECT unnest(tk) AS w FROM tokd) GROUP BY w
    ),
    bf AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
        FROM bigr GROUP BY w1, w2
    ),
    tot AS (
        SELECT (SELECT CAST(SUM(cu) AS DOUBLE) FROM uni) AS nu,
               (SELECT CAST(SUM(cb) AS DOUBLE) FROM bf) AS nb
    ),
    pmi AS (
        SELECT b.w1, b.w2, b.cb, u1.cu AS cu1, u2.cu AS cu2,
               ROUND(log2((CAST(b.cb AS DOUBLE) / t.nb)
                          / ((CAST(u1.cu AS DOUBLE) / t.nu)
                             * (CAST(u2.cu AS DOUBLE) / t.nu))), 6) AS pmi
        FROM bf b
        JOIN uni u1 ON b.w1 = u1.w
        JOIN uni u2 ON b.w2 = u2.w
        CROSS JOIN tot t
        WHERE b.cb >= {_MIN_PAIR}
    )
    SELECT w1, w2, cb AS n_pair, cu1 AS n_w1, cu2 AS n_w2, pmi
    FROM pmi ORDER BY pmi DESC, w1, w2 LIMIT {_TOP_PMI}
    """,
    f"Word-association mining: top-{_TOP_PMI} pointwise mutual "
    f"information bigrams with a >={_MIN_PAIR}-count support gate — "
    "the phrase-mining / tokenizer-merge-candidate table. Counts are "
    "exact BIGINTs and the full integer evidence tuple (n_pair, n_w1, "
    "n_w2) ships in the output, so the value hash is anchored on "
    "exact integers even around the one transcendental; each PMI is "
    "one log2 of a ratio of exact values "
    "(per-row transcendental, no accumulation); and the final "
    "ordering is on the ROUNDED pmi with (w1, w2) tiebreak — a total "
    "order both engines agree on, where ordering by the raw double "
    "could flip last-ulp-adjacent rows at the cut. Shape: two "
    "token-keyed count aggs, two hash joins on the gram key, a 1-row "
    "totals broadcast, and a bounded TakeOrdered — no global sort, "
    "no driver state.",
)
def g_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    # tokd feeds both count branches, uni feeds the totals AND two
    # final joins, bf feeds the totals AND the gated output — without
    # materialization the compiled plan re-ran the full scan+tokenize
    # per consumer (r12 scan census: 10 parquet scans, 22 Exchanges in
    # ONE query). Checkpoint the tokenized frame (one tokenize pass)
    # and the two bounded count tables (vocab- / distinct-bigram-sized;
    # guide §2.4).
    tokd = docs.select(
        word_tokens(F.lower(F.col("text"))).alias("tk")
    ).localCheckpoint(eager=False)
    pairs = F.when(
        F.size("tk") >= 2,
        F.expr(
            "transform(sequence(1, size(tk) - 1), "
            "i -> struct(tk[i - 1] AS w1, tk[i] AS w2))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
    bigr = tokd.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    uni = (
        tokd.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
        .localCheckpoint(eager=False)
    )
    bf = (
        bigr.groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.sum("cu").cast("double").alias("nu")).crossJoin(
        bf.agg(F.sum("cb").cast("double").alias("nb"))
    )
    pmi = F.round(
        F.log2(
            (F.col("cb").cast("double") / F.col("nb"))
            / (
                (F.col("cu1").cast("double") / F.col("nu"))
                * (F.col("cu2").cast("double") / F.col("nu"))
            )
        ),
        6,
    )
    return (
        bf.filter(F.col("cb") >= _MIN_PAIR)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cu", "cu1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cu", "cu2"), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("cb").alias("n_pair"),
            F.col("cu1").alias("n_w1"),
            F.col("cu2").alias("n_w2"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(_TOP_PMI)
    )


# =======================================================================
# w_watermark_lateness_profile — out-of-orderness per event type
# =======================================================================

@register(
    "w_watermark_lateness_profile",
    """
    WITH seq AS (
        SELECT event_type,
               GREATEST(0, COALESCE(
                   MAX(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) - epoch_us(ts), 0)) AS late_us
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           ROUND(CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS late_share,
           ROUND(quantile_cont(late_us, 0.5), 6) AS p50_late_us,
           ROUND(quantile_cont(late_us, 0.95), 6) AS p95_late_us,
           CAST(MAX(late_us) AS BIGINT) AS max_late_us
    FROM seq GROUP BY event_type
    """,
    "Out-of-orderness profile: how far behind the per-user running "
    "max event-time each event arrives (arrival order proxied by "
    "event_id — the documented stand-in for ingest offsets in the "
    "batch fixture). The p95 column IS the `withWatermark` delay the "
    "streaming twin should declare: watermark sizing as a measured "
    "query, not a guess. Shape: one user-partitioned running-max "
    "window (keyed shuffle, never global), then a map-side-combined "
    "per-type rollup; percentiles are exact interpolated "
    "(Spark percentile ≡ DuckDB quantile_cont, the "
    "t_price_percentiles identity — at 100 TB swap approx_percentile "
    "and keep this form as the calibration twin).",
)
def w_watermark_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = F.greatest(
        F.lit(0).cast("long"),
        F.coalesce(
            F.max(F.unix_micros("ts")).over(w) - F.unix_micros("ts"),
            F.lit(0).cast("long"),
        ),
    )
    seq = ev.select("event_type", late.alias("late_us"))
    is_late = F.when(F.col("late_us") > 0, 1).otherwise(0)
    return seq.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(is_late).alias("n_late"),
        F.round(F.sum(is_late).cast("double") / F.count("*"), 6).alias(
            "late_share"
        ),
        F.round(F.expr("percentile(late_us, 0.5)"), 6).alias("p50_late_us"),
        F.round(F.expr("percentile(late_us, 0.95)"), 6).alias("p95_late_us"),
        F.max("late_us").alias("max_late_us"),
    )
