"""Fifty-seventh registry tranche (round 5): four training-data ops on
the construction side of the pipeline — the transforms that turn a
curated corpus into model-ready examples and the diagnostics that
decide the mix.

- ``x_fim_transform`` — fill-in-the-middle reordering (the code-model
  pretraining transform): two deterministic cut points per document
  derived from seeded md5 hashes split the text into
  prefix/middle/suffix, re-emitted in PSM order with sentinel tags.
  A pure per-row projection: the one registry family with literally
  zero shuffle, zero aggregation — 100 TB is embarrassingly parallel.
- ``s_preference_pairs`` — DPO/RLHF preference-pair mining: within
  each (source, lang) group the top-scored document is "chosen" and
  every document at least MARGIN tokens weaker is paired as
  "rejected".  One group-bounded aggregation + one broadcast join.
- ``g_ngram_diversity`` — per-source corpus diversity: type-token
  ratio and distinct-bigram ratio (the self-repetition diagnostics
  behind mixture weighting).  Two map-side-combined aggregations
  joined on the |sources|-row key.
- ``v_standardize_dims`` — embedding whitening: per-dimension
  mean/std from EXACT integer milli-unit sums (partition-order
  independent), collapsed to one broadcast row, applied as a pure
  ``transform`` over the vector — the big table is never re-grouped.

All four oracle-gated; beyond-reference training-data surface
(reference scope is ingestion/RAG — /root/reference/consumer/
consumer.py processes records one at a time and never needs
corpus-level example construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_tables import table
from .registry import _TOKS, register


# =======================================================================
# x_fim_transform — fill-in-the-middle (PSM) reordering
# =======================================================================

def _md5_mod_sql(seed: str, modulus: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{seed}' || CAST(doc_id AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % ({modulus})"
    )


@register(
    "x_fim_transform",
    f"""
    WITH cuts AS (
        SELECT doc_id, text, length(text) AS n,
               {_md5_mod_sql("fim-a", "length(text) + 1")} AS ha,
               {_md5_mod_sql("fim-b", "length(text) + 1")} AS hb
        FROM documents
    )
    SELECT doc_id,
           LEAST(ha, hb) AS cut_lo,
           GREATEST(ha, hb) AS cut_hi,
           '<PRE>' || substr(text, 1, LEAST(ha, hb))
           || '<SUF>' || substr(text, GREATEST(ha, hb) + 1)
           || '<MID>' || substr(text, LEAST(ha, hb) + 1,
                                GREATEST(ha, hb) - LEAST(ha, hb))
           AS fim_text
    FROM cuts
    """,
    "Fill-in-the-middle transform (the code-model pretraining "
    "reorder): two cut points per doc from independent seeded md5 "
    "hashes mod (len+1), text split into prefix/middle/suffix and "
    "re-emitted PSM (<PRE>prefix<SUF>suffix<MID>middle) so the model "
    "learns infilling with the suffix visible. A pure function of "
    "(doc_id, text): deterministic under any partitioning, retry, or "
    "engine — the oracle recomputes the identical hashes. Scale: the "
    "whole operator is one narrow projection inside WholeStageCodegen "
    "— no shuffle, no state, no skew surface; new epoch seeds are new "
    "columns, not new jobs.",
)
def x_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")

    def md5_mod(seed: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") % (F.length("text").cast("long") + 1)

    cuts = docs.select(
        "doc_id",
        "text",
        md5_mod("fim-a").alias("ha"),
        md5_mod("fim-b").alias("hb"),
    )
    lo = F.least("ha", "hb")
    hi = F.greatest("ha", "hb")
    return cuts.select(
        "doc_id",
        lo.alias("cut_lo"),
        hi.alias("cut_hi"),
        F.concat(
            F.lit("<PRE>"),
            F.expr("substring(text, 1, least(ha, hb))"),
            F.lit("<SUF>"),
            F.expr("substring(text, greatest(ha, hb) + 1)"),
            F.lit("<MID>"),
            F.expr(
                "substring(text, least(ha, hb) + 1, "
                "greatest(ha, hb) - least(ha, hb))"
            ),
        ).alias("fim_text"),
    )


# =======================================================================
# s_preference_pairs — DPO pair mining per (source, lang) group
# =======================================================================

_MARGIN = 8  # minimum token-count gap between chosen and rejected


@register(
    "s_preference_pairs",
    f"""
    WITH scored AS (
        SELECT doc_id, source, lang, CAST(len({_TOKS}) AS BIGINT) AS score
        FROM documents
    ),
    chosen AS (
        SELECT source, lang, doc_id AS chosen_id, score AS chosen_score
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY source, lang
                ORDER BY score DESC, doc_id DESC
            ) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT s.source, s.lang, c.chosen_id,
           s.doc_id AS rejected_id,
           c.chosen_score - s.score AS margin
    FROM scored s
    JOIN chosen c ON s.source = c.source AND s.lang = c.lang
    WHERE s.doc_id <> c.chosen_id
      AND c.chosen_score - s.score >= {_MARGIN}
    """,
    "DPO/RLHF preference-pair construction: per (source, lang) prompt "
    f"group the top token-count doc is 'chosen' and every doc >= "
    f"{_MARGIN} tokens weaker pairs with it as 'rejected' — the "
    "best-vs-rest mining shape behind reward-model training sets. The "
    "champion per group is ONE max(struct(score, doc_id)) aggregation "
    "(deterministic argmax — lexicographic struct max == ORDER BY "
    "score DESC, doc_id DESC), and the |groups|-row champion table "
    "broadcast-joins back onto the scored scan; the corpus side is "
    "never re-shuffled. Margin filtering happens on the join output "
    "inside codegen. Scale: group count = |sources|x|langs| stays "
    "tiny however large the corpus; no skew surface beyond the "
    "existing per-group doc counts.",
)
def s_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        "lang",
        F.size(word_tokens(F.lower(F.col("text")))).cast("long").alias("score"),
    )
    chosen = (
        scored.groupBy("source", "lang")
        .agg(F.max(F.struct("score", "doc_id")).alias("c"))
        .select(
            "source",
            "lang",
            F.col("c.doc_id").alias("chosen_id"),
            F.col("c.score").alias("chosen_score"),
        )
    )
    return (
        scored.join(F.broadcast(chosen), ["source", "lang"])
        .filter(
            (F.col("doc_id") != F.col("chosen_id"))
            & (F.col("chosen_score") - F.col("score") >= _MARGIN)
        )
        .select(
            "source",
            "lang",
            "chosen_id",
            F.col("doc_id").alias("rejected_id"),
            (F.col("chosen_score") - F.col("score")).alias("margin"),
        )
    )


# =======================================================================
# g_ngram_diversity — per-source TTR + distinct-bigram ratio
# =======================================================================

@register(
    "g_ngram_diversity",
    f"""
    WITH tokd AS (
        SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ),
    uni AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
        FROM (SELECT source, unnest(tk) AS w FROM tokd)
        GROUP BY source
    ),
    big AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(COUNT(DISTINCT b) AS BIGINT) AS n_bigram_types
        FROM (
            SELECT source, tk[i] || ' ' || tk[i + 1] AS b
            FROM tokd, UNNEST(range(1, len(tk))) AS u(i)
        )
        GROUP BY source
    )
    SELECT u.source, u.n_tokens, u.n_types,
           ROUND(CAST(u.n_types AS DOUBLE) / u.n_tokens, 6) AS ttr,
           b.n_bigrams, b.n_bigram_types,
           ROUND(CAST(b.n_bigram_types AS DOUBLE) / b.n_bigrams, 6)
               AS bigram_diversity
    FROM uni u JOIN big b ON u.source = b.source
    """,
    "Per-source corpus diversity: type-token ratio and distinct-bigram "
    "ratio — the self-repetition diagnostics (a Self-BLEU stand-in) "
    "that feed mixture reweighting when a source turns out to be "
    "template spam. Two exploded aggregations (unigram, bigram), both "
    "map-side partially aggregated on (source, gram), joined on the "
    "|sources|-row key; the ratios are single IEEE divisions of exact "
    "BIGINT counts rounded to 6 places. Scale: distinct-counting is "
    "the only heavy part and it hash-spreads across reducers by gram; "
    "nothing is ever globally sorted or collected.",
)
def g_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    # tokd feeds the unigram AND bigram branches — unmaterialized, the
    # compiled plan re-ran the full scan+tokenize per branch (r12 scan
    # census: 2 documents scans). One tokenize pass, checkpointed
    # (guide §2.4; the tx_bigram_perplexity shape).
    tokd = docs.select(
        "source", word_tokens(F.lower(F.col("text"))).alias("tk")
    ).localCheckpoint(eager=False)
    uni = (
        tokd.select("source", F.explode("tk").alias("w"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("w").alias("n_types"),
        )
    )
    bigrams = F.when(
        F.size("tk") >= 2,
        F.expr(
            "transform(sequence(1, size(tk) - 1), "
            "i -> concat(tk[i - 1], ' ', tk[i]))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    big = (
        tokd.select("source", F.explode(bigrams).alias("b"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.countDistinct("b").alias("n_bigram_types"),
        )
    )
    return uni.join(big, "source").select(
        "source",
        "n_tokens",
        "n_types",
        F.round(
            F.col("n_types").cast("double") / F.col("n_tokens"), 6
        ).alias("ttr"),
        "n_bigrams",
        "n_bigram_types",
        F.round(
            F.col("n_bigram_types").cast("double") / F.col("n_bigrams"), 6
        ).alias("bigram_diversity"),
    )


# =======================================================================
# v_standardize_dims — embedding whitening from exact integer dim stats
# =======================================================================

_MILLI_SQL = "CAST(floor(CAST({x} AS DOUBLE) * 1000) AS BIGINT)"


@register(
    "v_standardize_dims",
    f"""
    WITH ex AS (
        SELECT CAST(i AS BIGINT) AS dim, embedding[i + 1] AS x
        FROM embeddings, UNNEST(range(0, len(embedding))) AS u(i)
    ),
    stats AS (
        SELECT dim, COUNT(*) AS n,
               SUM({_MILLI_SQL.format(x="x")}) AS s1,
               SUM({_MILLI_SQL.format(x="x")} * {_MILLI_SQL.format(x="x")})
                   AS s2
        FROM ex GROUP BY dim
    ),
    ms AS (
        SELECT dim,
               CAST(s1 AS DOUBLE) / n AS mean,
               sqrt(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                   AS std
        FROM stats
    ),
    onerow AS (
        SELECT list(mean ORDER BY dim) AS means,
               list(std ORDER BY dim) AS stds
        FROM ms
    )
    SELECT e.vec_id,
           array_to_string(list_transform(range(0, len(e.embedding)), i ->
               CASE WHEN o.stds[i + 1] = 0.0 THEN 0
                    ELSE CAST(floor(
                        ((floor(CAST(e.embedding[i + 1] AS DOUBLE) * 1000)
                          - o.means[i + 1]) / o.stds[i + 1])
                        * 1000000.0 + 0.5) AS BIGINT)
               END), ',') AS z_fixed
    FROM embeddings e CROSS JOIN onerow o
    """,
    "Embedding whitening (per-dimension standardization — the "
    "preprocessing step before PCA/IVF training or cosine calibration): "
    "each dimension's mean/std come from EXACT BIGINT milli-unit sums "
    "(floor(1000x) — partition-order independent where a double sum is "
    "not), the |dims|-row stats table collapses to ONE sorted-array "
    "row, and that row broadcasts onto the scan so z-vectors are a "
    "pure `transform(embedding, (x, i) -> ...)` projection — the big "
    "table is never exploded twice, re-grouped, or re-shuffled. The "
    "z-vector ships as comma-joined integer micro-units (fixed-point, "
    "the qcodes convention) so the contract hash has no float/array "
    "rendering surface. "
    "Scale: one posexplode aggregation (map-side combined to |dims| "
    "groups), one 1-row broadcast, one codegen projection; constant "
    "driver/executor state regardless of corpus size.",
)
def v_standardize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    milli = F.floor(F.col("x").cast("double") * 1000).cast("long")
    ex = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", milli.alias("m")
    )
    stats = ex.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("m").alias("s1"),
        F.sum(F.col("m") * F.col("m")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    ms = stats.select(
        "dim",
        mean.alias("mean"),
        F.sqrt(
            F.col("s2").cast("double") / F.col("n") - mean * mean
        ).alias("std"),
    )
    onerow = ms.agg(
        F.sort_array(F.collect_list(F.struct("dim", "mean", "std"))).alias(
            "a"
        )
    ).select(
        F.expr("transform(a, s -> s.mean)").alias("means"),
        F.expr("transform(a, s -> s.std)").alias("stds"),
    )
    # z in integer micro-units, comma-joined: fixed-point output keeps
    # the differential free of cross-engine float/array rendering (the
    # v_quantize_int8 qcodes convention); floor(z*1e6 + 0.5) is the
    # same deterministic IEEE op on both engines
    return emb.crossJoin(F.broadcast(onerow)).select(
        "vec_id",
        F.expr(
            "array_join(transform(embedding, (x, i) -> "
            "CAST(CASE WHEN stds[i] = 0.0D THEN 0L "
            "ELSE CAST(floor(((floor(CAST(x AS DOUBLE) * 1000) - means[i]) "
            "/ stds[i]) * 1000000.0D + 0.5D) AS BIGINT) END AS STRING)), ',')"
        ).alias("z_fixed"),
    )
