"""Sixty-first registry tranche (round 5): the loop-closing quartet —
annotation agreement, index health, curriculum assembly, and
active-learning selection.  Each composes an earlier operator family
into the decision it exists to serve.

- ``e_annotator_agreement`` — Cohen's kappa between the metadata
  ``lang`` column and the langid heuristic (the two "annotators" of
  dq_langid_confusion): the scalar that decides whether the metadata
  can be trusted at all.
- ``v_ivf_cell_balance`` — IVF cell-population report for the
  v_ivf_topk index: per-cell counts, shares, and the imbalance factor
  (max cell / ideal cell) that predicts tail query latency.
- ``pipeline_curriculum_order`` — curriculum assembly: the
  d_difficulty_buckets threshold buckets composed with the
  pipeline_epoch_shuffle hash order WITHIN each bucket — the actual
  read order of a curriculum epoch, as one query.
- ``s_active_learning_margin`` — boundary-example mining: the 100
  vectors whose exact integer classifier score sits closest to the
  operating threshold (midpoint of the e_threshold_sweep bounds) —
  the label-next list of an active-learning loop.

All four oracle-gated; beyond-reference training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import _QSCALE
from ..sources.parquet_tables import table
from .registry import register
from .registry_ext58 import _GREATEST, _LANG_HITS


@register(
    "e_annotator_agreement",
    f"""
    WITH hits AS (
        SELECT lang AS t,
               {', '.join(f'{expr} AS h_{lang}' for lang, expr in _LANG_HITS.items())}
        FROM documents
    ),
    pred AS (
        SELECT t,
               CASE WHEN {_GREATEST} = 0 THEN 'und'
                    {' '.join(f"WHEN h_{l} = {_GREATEST} THEN '{l}'" for l in sorted(_LANG_HITS)[:-1])}
                    ELSE '{sorted(_LANG_HITS)[-1]}' END AS p
        FROM hits
    ),
    conf AS (SELECT t, p, CAST(COUNT(*) AS BIGINT) AS c FROM pred GROUP BY t, p),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM conf),
    diag AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS d FROM conf WHERE t = p),
    rowt AS (SELECT t AS cls, CAST(SUM(c) AS BIGINT) AS rn FROM conf GROUP BY t),
    colt AS (SELECT p AS cls, CAST(SUM(c) AS BIGINT) AS cn FROM conf GROUP BY p),
    s AS (
        SELECT CAST(COALESCE(SUM(r.rn * c.cn), 0) AS BIGINT) AS s
        FROM rowt r JOIN colt c ON r.cls = c.cls
    )
    SELECT n.n AS n_docs,
           ROUND(CAST(diag.d AS DOUBLE) / n.n, 6) AS po,
           ROUND(CAST(s.s AS DOUBLE) / (CAST(n.n AS DOUBLE) * n.n), 6) AS pe,
           ROUND((CAST(diag.d AS DOUBLE) / n.n
                  - CAST(s.s AS DOUBLE) / (CAST(n.n AS DOUBLE) * n.n))
                 / (1.0 - CAST(s.s AS DOUBLE)
                    / (CAST(n.n AS DOUBLE) * n.n)), 6) AS kappa
    FROM n CROSS JOIN diag CROSS JOIN s
    """,
    "Cohen's kappa between the metadata lang column and the langid "
    "heuristic — chance-corrected agreement, the one scalar that "
    "decides whether corpus metadata can drive a mixture. Observed "
    "and expected agreement come from EXACT integer confusion counts "
    "(diagonal sum; sum of row-total x column-total over the classes "
    "both annotators use); the three output ratios are single IEEE "
    "divisions with identical operand order on both engines. Shape: "
    "the dq_langid_confusion matrix collapsed through three "
    "|classes|-bounded aggregations to ONE row — corpus touched "
    "once.",
)
def e_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import langid_join

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # |classes|² ≤ 36 rows consumed by FOUR branches (n, diag, row and
    # column totals) — without materialization each branch re-executed
    # the langid corpus pass (r12 scan census: 8 parquet scans, 42
    # Exchanges in the compiled plan). Checkpoint the bounded matrix
    # once; the corpus is touched the two inherent times (guide §2.4).
    conf = (
        langid_join(docs)
        .select(F.col("lang").alias("t"), F.col("predicted_lang").alias("p"))
        .groupBy("t", "p")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    n = conf.agg(F.sum("c").alias("n"))
    diag = conf.filter(F.col("t") == F.col("p")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("d")
    )
    rowt = conf.groupBy(F.col("t").alias("cls")).agg(F.sum("c").alias("rn"))
    colt = conf.groupBy(F.col("p").alias("cls")).agg(F.sum("c").alias("cn"))
    s = (
        rowt.join(colt, "cls")
        .agg(F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0)).cast("long").alias("s"))
    )
    po = F.col("d").cast("double") / F.col("n")
    pe = F.col("s").cast("double") / (F.col("n").cast("double") * F.col("n"))
    return (
        n.crossJoin(diag)
        .crossJoin(s)
        .select(
            F.col("n").alias("n_docs"),
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
        )
    )


_N_CELLS = 16


@register(
    "v_ivf_cell_balance",
    f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> floor(CAST(x AS DOUBLE) * {_QSCALE})) AS q
        FROM embeddings
    ),
    cent AS (
        SELECT vec_id AS cid, q AS cq,
               sqrt(list_dot_product(q, q)) AS nrm
        FROM e WHERE vec_id < {_N_CELLS}
    ),
    assign AS (
        SELECT vec_id, cid AS cluster FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.q, c.cq) / c.nrm DESC,
                                c.cid
                   ) AS rn
            FROM e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    cells AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM assign GROUP BY cluster
    ),
    tot AS (
        SELECT CAST(SUM(n_vectors) AS BIGINT) AS total,
               CAST(MAX(n_vectors) AS BIGINT) AS mx
        FROM cells
    )
    SELECT c.cluster, c.n_vectors,
           ROUND(CAST(c.n_vectors AS DOUBLE) / t.total, 6) AS share,
           ROUND(CAST(t.mx AS DOUBLE) * {_N_CELLS} / t.total, 6)
               AS imbalance_factor
    FROM cells c CROSS JOIN tot t
    """,
    f"IVF index health report for the v_ivf_topk layout ({_N_CELLS} "
    "seed centroids, argmax assignment): per-cell population, share, "
    "and the imbalance factor max_cell/(N/n_cells) that predicts tail "
    "latency (a probe hitting the hot cell scans imbalance_factor x "
    "the ideal row count). Assignment follows the exact-integer "
    "discipline (the dq_label_outliers pattern): vectors AND "
    "centroids quantized to floor(x*1e5) so every dot is an exact "
    "int64 on both engines (no BLAS accumulation-order / FMA ulps); "
    "the score dot/sqrt(||c||^2) is a single IEEE division by a "
    "correctly-rounded sqrt of an exact integer — bit-identical "
    "across engines, ties to lowest cid. Shape: Arrow-vectorized "
    "argmax assignment (one matmul per batch), one cluster-keyed "
    "count, a 1-row stats broadcast. The rebalance trigger of the "
    "ANN maintenance loop.",
)
def v_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators import similarity as sim
    from ..operators.similarity import spread

    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)
    centroid_rows = (
        emb.filter(F.col("vec_id") < _N_CELLS)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    centroids_q = np.floor(
        np.asarray(
            [[float(x) for x in r["embedding"]] for r in centroid_rows],
            dtype=np.float64,
        )
        * _QSCALE
    )
    nearest = sim.assign_nearest_quantized(centroids_q)
    cells = (
        emb.select(nearest(F.col("embedding")).alias("cluster"))
        .groupBy("cluster")
        .agg(F.count("*").alias("n_vectors"))
    )
    tot = cells.agg(
        F.sum("n_vectors").alias("total"), F.max("n_vectors").alias("mx")
    )
    return cells.crossJoin(F.broadcast(tot)).select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_vectors",
        F.round(F.col("n_vectors").cast("double") / F.col("total"), 6).alias(
            "share"
        ),
        F.round(
            F.col("mx").cast("double") * _N_CELLS / F.col("total"), 6
        ).alias("imbalance_factor"),
    )


@register(
    "pipeline_curriculum_order",
    """
    WITH total AS (SELECT COUNT(*) AS n FROM documents),
    cdf AS (
        SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY n_chars
    ),
    marks AS (
        SELECT n_chars,
               SUM(cnt) OVER (ORDER BY n_chars) - cnt AS cum_before
        FROM cdf
    ),
    bucketed AS (
        SELECT d.doc_id,
               CAST(1 + (10 * m.cum_before) // t.n AS BIGINT) AS bucket
        FROM documents d
        JOIN marks m USING (n_chars)
        CROSS JOIN total t
    )
    SELECT doc_id, bucket,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY bucket
               ORDER BY md5('cur1' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS pos
    FROM bucketed
    """,
    "Curriculum assembly: the d_difficulty_buckets threshold buckets "
    "(easy -> hard by length decile, ties share a bucket) composed "
    "with a deterministic hash shuffle WITHIN each bucket (the "
    "pipeline_epoch_shuffle discipline, seeded 'cur1') — the actual "
    "read order of a curriculum epoch: ascend buckets, random-but-"
    "reproducible inside each. One broadcast of the value->bucket "
    "map (the corpus is never sorted globally), one per-bucket "
    "window; a new curriculum seed is a new constant, not a new "
    "shuffle strategy. Buckets cap at ~N/10 rows so no task sees "
    "more than a decile.",
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    # one corpus aggregate instead of three scans: the histogram is
    # checkpointed and the total derives from it (sum of group counts
    # == count(*)) — the d_difficulty_buckets r12 fix (guide §2.4)
    cdf = (
        docs.groupBy("n_chars")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = cdf.agg(F.sum("cnt").alias("n"))
    marks = (
        cdf.withColumn(
            "cum_before",
            F.sum("cnt").over(
                Window.orderBy("n_chars").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            - F.col("cnt"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "n_chars", F.expr("1 + (10 * cum_before) div n").alias("bucket")
        )
    )
    bucketed = docs.select("doc_id", "n_chars").join(
        F.broadcast(marks), "n_chars"
    )
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.concat(F.lit("cur1"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    return bucketed.select(
        "doc_id", "bucket", F.row_number().over(w).cast("long").alias("pos")
    )


_N_BOUNDARY = 100


@register(
    "s_active_learning_margin",
    f"""
    WITH scored AS (
        SELECT vec_id,
               list_sum(list_transform(embedding,
                        x -> CAST(floor(x * 1000) AS BIGINT))) AS score_milli
        FROM embeddings
    ),
    bounds AS (
        SELECT (MIN(score_milli) + MAX(score_milli)) // 2 AS thresh FROM scored
    )
    SELECT s.vec_id, CAST(s.score_milli AS BIGINT) AS score_milli,
           CAST(ABS(s.score_milli - b.thresh) AS BIGINT) AS margin
    FROM scored s CROSS JOIN bounds b
    ORDER BY margin, s.vec_id
    LIMIT {_N_BOUNDARY}
    """,
    f"Active-learning selection: the {_N_BOUNDARY} vectors whose exact "
    "integer classifier score (the e_threshold_sweep fold) sits "
    "closest to the operating threshold (midpoint of the score "
    "bounds) — boundary examples, where a label buys the most "
    "decision-surface information. Margins are exact BIGINTs with a "
    "vec_id tiebreak, so the cut is a deterministic total order; the "
    "plan is one scan, a 1-row bounds broadcast, and a bounded "
    "TakeOrdered — no global sort, no skew surface. The label-next "
    "feed of the curation classifier's improvement loop.",
)
def s_active_learning_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        F.aggregate(
            "embedding",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.floor(x * 1000).cast("long"),
        ).alias("score_milli"),
    )
    bounds = scored.agg(
        F.expr("(MIN(score_milli) + MAX(score_milli)) div 2").alias("thresh")
    )
    return (
        scored.crossJoin(F.broadcast(bounds))
        .select(
            "vec_id",
            "score_milli",
            F.abs(F.col("score_milli") - F.col("thresh")).alias("margin"),
        )
        .orderBy("margin", "vec_id")
        .limit(_N_BOUNDARY)
    )
