"""Sixty-second registry tranche (round 6): data-selection economics —
the operators that decide WHAT a training run feeds on and what it
costs.

- ``d_dsir_importance`` — DSIR-style importance scoring (Xie et al.
  2023, "Data Selection for Language Models via Importance
  Resampling", public method): hashed bigram features, add-one
  smoothed log-likelihood ratio between a target slice (here the
  ``lang='en'`` subcorpus) and the raw corpus, per-doc importance
  score, top-k selection.
- ``d_eg_domain_reweight`` — one exponentiated-gradient step of
  domain reweighting (the DoReMi shape, public method): domains with
  higher reference loss get multiplicatively larger mixture weights.
  Tilts are EXACT powers of two of an integer-quantized loss, so the
  whole step is BIGINT arithmetic (the pow(x,0.7)-avoidance note
  applied to exp()).
- ``pipeline_padding_waste`` — the padding-waste table behind
  sequence packing: per length-bucket token counts, padded slots and
  waste under bucketed vs flat batching; the numbers that justify
  pipeline_pretrain_corpus's packing stage.
- ``v_ivf_reassignment_churn`` — index-maintenance economics: when
  the IVF coarse quantizer retrains, how many vectors change cells
  (the reassignment-IO bill of an index rebuild). Both assignments
  use the exact-integer v_ivf_cell_balance discipline, so the churn
  matrix is engine-exact.

All four oracle-gated; beyond-reference training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import _QSCALE
from ..sources.parquet_tables import table
from .registry import _TOKS, register

_B = 256          # DSIR hashed-feature buckets
_TOP_DSIR = 100   # selected docs

# bigram -> bucket: first 8 md5 hex digits mod B (the epoch-shuffle
# md5 parity trick — identical on both engines)
_SQL_BUCKET = (
    "CAST(('0x' || substr(md5('dsir' || w1 || ' ' || w2), 1, 8)) AS BIGINT) "
    f"% {_B}"
)


@register(
    "d_dsir_importance",
    f"""
    WITH tokd AS (SELECT doc_id, lang, {_TOKS} AS tk FROM documents),
    bigr AS (
        SELECT doc_id, lang, tk[i] AS w1, tk[i + 1] AS w2
        FROM tokd, UNNEST(range(1, len(tk))) AS u(i)
    ),
    feats AS (SELECT doc_id, lang, {_SQL_BUCKET} AS b FROM bigr),
    raw_c AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM feats GROUP BY b),
    tgt_c AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM feats
        WHERE lang = 'en' GROUP BY b
    ),
    tot AS (
        SELECT (SELECT CAST(SUM(cr) AS DOUBLE) FROM raw_c) AS r,
               (SELECT CAST(COALESCE(SUM(ct), 0) AS DOUBLE) FROM tgt_c) AS t
    ),
    lr AS (
        SELECT r.b,
               log2(((COALESCE(t.ct, 0) + 1) / (tot.t + {_B}))
                    / ((r.cr + 1) / (tot.r + {_B}))) AS lr
        FROM raw_c r LEFT JOIN tgt_c t ON r.b = t.b CROSS JOIN tot
    ),
    per AS (
        SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS tf
        FROM feats GROUP BY doc_id, b
    ),
    scored AS (
        SELECT p.doc_id,
               CAST(SUM(p.tf) AS BIGINT) AS n_bigrams,
               ROUND(list_aggregate(list_sort(list(CAST(p.tf AS DOUBLE)
                                                   * l.lr)), 'sum'), 6)
                   AS dsir_score
        FROM per p JOIN lr l ON p.b = l.b
        GROUP BY p.doc_id
    )
    SELECT doc_id, n_bigrams, dsir_score
    FROM scored ORDER BY dsir_score DESC, doc_id LIMIT {_TOP_DSIR}
    """,
    f"DSIR importance scoring: bigrams hash to {_B} buckets (md5 — "
    "engine-identical), the add-one-smoothed log2 likelihood ratio "
    "between the target slice (lang='en') and the raw corpus weights "
    f"each bucket, and the top-{_TOP_DSIR} docs by summed importance "
    "are the resampling candidates. Counts are exact BIGINTs; each "
    "ratio is one log2 of exact operands; per-doc terms fold in "
    "SORTED order (the tx_bigram_perplexity discipline — bare "
    "SUM(double) is partition-order-dependent); the cut orders by the "
    "ROUNDED score with doc_id tiebreak. Shape: two bucket-keyed "
    "count aggs (bucket domain bounded at "
    f"{_B}), one broadcast-size ratio table, one doc-keyed fold, one "
    "TakeOrdered — no global sort, no driver state.",
)
def d_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    tokd = docs.select(
        "doc_id", "lang", word_tokens(F.lower(F.col("text"))).alias("tk")
    )
    pairs = F.when(
        F.size("tk") >= 2,
        F.expr(
            "transform(sequence(1, size(tk) - 1), "
            "i -> struct(tk[i - 1] AS w1, tk[i] AS w2))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dsir"),
                        F.col("p.w1"),
                        F.lit(" "),
                        F.col("p.w2"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _B
    )
    feats = tokd.select(
        "doc_id", "lang", F.explode(pairs).alias("p")
    ).select("doc_id", "lang", bucket.alias("b"))
    # ONE (doc_id, lang, bucket) aggregation feeds all downstream
    # consumers. Deriving them lazily from per3 relied on ReuseExchange
    # deduping the heavy tokenize+explode+md5 subtree — but the
    # pushed-down lang='en' filter makes the branch subtrees
    # non-identical, so the compiled plan re-executed the full corpus
    # scan FIVE times (r12 plan audit: 5 parquet scans, 32 Exchanges).
    # localCheckpoint materializes per3 once — bounded at
    # |docs| x 256 skinny rows, far smaller than the corpus — and every
    # branch reads the materialized frame (plan drops to 1 scan or 0
    # post-checkpoint; guide §5 "caching" / §2.4 shared-exchange).
    per3 = (
        feats.groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    # r13 (VERDICT r12 #5, guide §2.3): raw and target counts in ONE
    # aggregate pass over per3 — the conditional sum is NULL exactly
    # where the old separate tgt_c aggregate left the left-join's ct
    # NULL (sum over an empty/all-NULL group), so the downstream
    # coalesce sees identical values. This removes the second groupBy(b)
    # pass, the raw_c⋈tgt_c join, and one of the two 1-row total
    # aggregates (t now derives from the same ≤256-row frame).
    bc = (
        per3.groupBy("b")
        .agg(
            F.sum("tf").alias("cr"),
            F.sum(F.when(F.col("lang") == "en", F.col("tf"))).alias("ct"),
        )
        .localCheckpoint(eager=False)
    )
    tot = bc.agg(
        F.sum("cr").cast("double").alias("r"),
        F.coalesce(F.sum("ct"), F.lit(0)).cast("double").alias("t"),
    )
    lr = (
        bc.crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.log2(
                ((F.coalesce(F.col("ct"), F.lit(0)) + 1) / (F.col("t") + _B))
                / ((F.col("cr") + 1) / (F.col("r") + _B))
            ).alias("lr"),
        )
    )
    per = per3.select("doc_id", "b", "tf")
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.col("tf").cast("double") * F.col("lr"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        per.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.round(folded, 6).alias("dsir_score"),
        )
        .orderBy(F.desc("dsir_score"), "doc_id")
        .limit(_TOP_DSIR)
    )


_EG_CAP = 2000   # truncated-length loss proxy cap (chars)
_EG_LEVELS = 8   # quantized loss levels -> tilt exponents 0..7


@register(
    "d_eg_domain_reweight",
    f"""
    WITH dom AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEAST(n_chars, {_EG_CAP})) AS BIGINT)
                   // CAST(COUNT(*) AS BIGINT) AS loss_milli
        FROM documents GROUP BY source
    ),
    mx AS (SELECT CAST(MAX(loss_milli) AS BIGINT) AS m FROM dom),
    tilted AS (
        SELECT d.source, d.n_docs, d.loss_milli,
               CAST((d.loss_milli * {_EG_LEVELS}) // (mx.m + 1) AS BIGINT)
                   AS tilt_exp,
               CAST(d.n_docs * (1 << CAST((d.loss_milli * {_EG_LEVELS})
                                          // (mx.m + 1) AS BIGINT))
                    AS BIGINT) AS weight
        FROM dom d CROSS JOIN mx
    ),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS w FROM tilted)
    SELECT t.source, t.n_docs, t.loss_milli, t.tilt_exp, t.weight,
           ROUND(CAST(t.weight AS DOUBLE) / tot.w, 6) AS share
    FROM tilted t CROSS JOIN tot
    """,
    "One exponentiated-gradient step of domain reweighting (the "
    "DoReMi shape): domains with higher reference loss get "
    "multiplicatively larger mixture weight. The fixture's loss proxy "
    "is the truncated-length mean (swap in any per-domain integer "
    "loss); the EG tilt is 2^q for an integer-quantized loss level q "
    "— an EXACT BIGINT power (the repo's libm-avoidance note applied "
    "to exp(eta*loss): pick eta so the tilt lands on powers of two), "
    "so weight and the final share's operands are exact on both "
    "engines and the only float is one division. Shape: one "
    "map-side-combined per-domain aggregate (domain count bounded), a "
    "1-row max broadcast, a 1-row total broadcast — corpus scanned "
    "once.",
)
def d_eg_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # |sources|-bounded and consumed by the max broadcast AND the tilt
    # projection; unmaterialized, each consumer re-ran the full corpus
    # aggregate (r12 scan census: 8 parquet scans in one query via the
    # dom->tilted->tot chain). Checkpointed, the corpus is scanned the
    # one inherent time (guide §2.4).
    dom = (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.expr(f"sum(least(n_chars, {_EG_CAP})) div count(*)").alias(
                "loss_milli"
            ),
        )
        .localCheckpoint(eager=False)
    )
    mx = dom.agg(F.max("loss_milli").alias("m"))
    tilted = (
        dom.crossJoin(F.broadcast(mx))
        .withColumn(
            "tilt_exp",
            F.expr(f"(loss_milli * {_EG_LEVELS}) div (m + 1)").cast("long"),
        )
        .select(
            "source",
            "n_docs",
            "loss_milli",
            "tilt_exp",
            F.expr("n_docs * shiftleft(CAST(1 AS BIGINT), CAST(tilt_exp AS INT))")
            .cast("long")
            .alias("weight"),
        )
    )
    tot = tilted.agg(F.sum("weight").cast("long").alias("w"))
    return tilted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "loss_milli",
        "tilt_exp",
        "weight",
        F.round(F.col("weight").cast("double") / F.col("w"), 6).alias("share"),
    )


_SEQ_CAP = 512
_BUCKETS = (64, 128, 256, 512)


@register(
    "pipeline_padding_waste",
    f"""
    WITH lens AS (
        SELECT doc_id, LEAST(len({_TOKS}), {_SEQ_CAP}) AS n_tok
        FROM documents
    ),
    bucketed AS (
        SELECT doc_id, n_tok,
               CASE {' '.join(f'WHEN n_tok <= {b} THEN {b}' for b in _BUCKETS)}
               END AS bucket
        FROM lens
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(bucket - n_tok) AS BIGINT) AS bucket_pad,
           CAST(SUM({_SEQ_CAP} - n_tok) AS BIGINT) AS flat_pad,
           ROUND(CAST(SUM(bucket - n_tok) AS DOUBLE)
                 / (CAST(COUNT(*) AS BIGINT) * bucket), 6) AS bucket_waste,
           ROUND(CAST(SUM({_SEQ_CAP} - n_tok) AS DOUBLE)
                 / (CAST(COUNT(*) AS BIGINT) * {_SEQ_CAP}), 6) AS flat_waste
    FROM bucketed GROUP BY bucket
    """,
    f"Padding-waste accounting (cap {_SEQ_CAP}, buckets {_BUCKETS}): "
    "per length bucket, the padded-slot bill under bucketed batching "
    "vs flat pad-to-max — the measured argument for sequence packing "
    "(pipeline_pretrain_corpus) and length-bucketed loaders. All "
    "counts exact BIGINTs; the two waste ratios are single IEEE "
    "divisions of exact integers. Shape: one projection + one "
    "4-group aggregate — corpus scanned once, shuffle carries 4 "
    "rows.",
)
def pipeline_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    n_tok = F.least(
        F.size(word_tokens(F.lower(F.col("text")))), F.lit(_SEQ_CAP)
    )
    bucket = F.when(n_tok <= _BUCKETS[0], _BUCKETS[0])
    for b in _BUCKETS[1:]:
        bucket = bucket.when(n_tok <= b, b)
    lens = docs.select(n_tok.alias("n_tok"), bucket.cast("long").alias("bucket"))
    agg = lens.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("sum_tokens"),
        F.sum(F.col("bucket") - F.col("n_tok")).cast("long").alias("bucket_pad"),
        F.sum(F.lit(_SEQ_CAP) - F.col("n_tok")).cast("long").alias("flat_pad"),
    )
    return agg.select(
        "bucket",
        "n_docs",
        "sum_tokens",
        "bucket_pad",
        "flat_pad",
        F.round(
            F.col("bucket_pad").cast("double")
            / (F.col("n_docs") * F.col("bucket")),
            6,
        ).alias("bucket_waste"),
        F.round(
            F.col("flat_pad").cast("double") / (F.col("n_docs") * _SEQ_CAP), 6
        ).alias("flat_waste"),
    )


_N_CELLS = 16


@register(
    "v_ivf_reassignment_churn",
    f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> floor(CAST(x AS DOUBLE) * {_QSCALE})) AS q
        FROM embeddings
    ),
    old_c AS (
        SELECT vec_id AS cid, q AS cq, sqrt(list_dot_product(q, q)) AS nrm
        FROM e WHERE vec_id < {_N_CELLS}
    ),
    new_c AS (
        SELECT vec_id - {_N_CELLS} AS cid, q AS cq,
               sqrt(list_dot_product(q, q)) AS nrm
        FROM e WHERE vec_id >= {_N_CELLS} AND vec_id < {2 * _N_CELLS}
    ),
    a_old AS (
        SELECT vec_id, cid AS old_cell FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.q, c.cq) / c.nrm DESC,
                                c.cid) AS rn
            FROM e CROSS JOIN old_c c
        ) WHERE rn = 1
    ),
    a_new AS (
        SELECT vec_id, cid AS new_cell FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.q, c.cq) / c.nrm DESC,
                                c.cid) AS rn
            FROM e CROSS JOIN new_c c
        ) WHERE rn = 1
    )
    SELECT o.old_cell, n.new_cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN o.old_cell <> n.new_cell THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM a_old o JOIN a_new n ON o.vec_id = n.vec_id
    GROUP BY o.old_cell, n.new_cell
    """,
    f"IVF retrain churn matrix: assign every vector under the OLD "
    f"coarse quantizer (seeds vec_id 0..{_N_CELLS - 1}) and a retrained "
    f"NEW one (seeds {_N_CELLS}..{2 * _N_CELLS - 1}), count the "
    "(old_cell, new_cell) transitions — the reassignment-IO bill of an "
    "index rebuild (off-diagonal mass = vectors whose codes must "
    "rewrite; the rebalance loop triggers when v_ivf_cell_balance "
    "drifts, this prices acting on it). Both assignments use the "
    "exact-integer quantized argmax (floor(x*1e5) coords, int64 dots, "
    "score = dot / correctly-rounded sqrt — engine-exact, ties to "
    "lowest cid). Shape: two Arrow matmul passes in ONE scan, one "
    f"bounded (≤{_N_CELLS * _N_CELLS}-row) aggregate.",
)
def v_ivf_reassignment_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators import similarity as sim
    from ..operators.relational import spread

    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)
    seed_rows = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2 * _N_CELLS)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    qmat = np.floor(
        np.asarray(
            [[float(x) for x in r["embedding"]] for r in seed_rows],
            dtype=np.float64,
        )
        * _QSCALE
    )
    assign_old = sim.assign_nearest_quantized(qmat[:_N_CELLS])
    assign_new = sim.assign_nearest_quantized(qmat[_N_CELLS:])
    both = emb.select(
        "vec_id",
        assign_old(F.col("embedding")).cast("long").alias("old_cell"),
        assign_new(F.col("embedding")).cast("long").alias("new_cell"),
    )
    return both.groupBy("old_cell", "new_cell").agg(
        F.count("*").alias("n_vectors"),
        F.sum(
            F.when(F.col("old_cell") != F.col("new_cell"), 1).otherwise(0)
        ).cast("long").alias("n_moved"),
    )
