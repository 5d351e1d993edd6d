"""Fifty-eighth registry tranche (round 5): the mixture-and-tokenizer
decision tables — the four reports a pretraining run reads before it
fixes its data recipe.

- ``tx_oov_rate`` — vocabulary coverage per source: out-of-vocabulary
  token rate against the corpus' own top-256 vocabulary (the fertility
  /coverage diagnostic behind tokenizer sizing).  The vocab is a
  bounded TakeOrdered (256 rows), broadcast back onto the token
  stream.
- ``dq_langid_confusion`` — metadata-vs-heuristic language confusion
  matrix: the audit that catches mislabeled corpora before a mixture
  is computed from the `lang` column.  Reuses the tx_langid argmax
  column verbatim.
- ``d_temperature_mixture`` — temperature-scaled source weights
  (alpha = 0.5): w_i = sqrt(p_i) / Z, the standard low-resource
  upweighting for multilingual/multi-source mixes.  sqrt (exact per
  IEEE) instead of pow(x, 0.7) keeps both engines bit-identical; Z
  folds the 20 per-source terms in source order on both engines.
- ``pipeline_context_length_sweep`` — padding-waste sweep over
  candidate context lengths {{256,512,1024,2048}}: exact integer
  sequence counts (ceil division) per length, one broadcast fan-out
  aggregation — the table that picks the packing length
  pipeline_pack_sequences then uses.

All four oracle-gated; beyond-reference training-data surface
(reference scope is ingestion/RAG — /root/reference/consumer/
consumer.py — which never needs corpus-recipe decisions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import LANG_MARKERS
from ..sources.parquet_tables import table
from .registry import _TOKS, register

_VOCAB_K = 256


@register(
    "tx_oov_rate",
    f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS}) AS w FROM documents
    ),
    vocab AS (
        SELECT w FROM (
            SELECT w, COUNT(*) AS c FROM toks GROUP BY w
            ORDER BY c DESC, w LIMIT {_VOCAB_K}
        )
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           ROUND(CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.source
    """,
    f"Vocabulary coverage per source: OOV-token rate against the "
    f"corpus' own top-{_VOCAB_K} vocabulary (count-desc, token-asc "
    "tiebreak — a total order, so the vocab boundary is deterministic "
    "on both engines). The tokenizer-sizing / fertility diagnostic: a "
    "source with high OOV under the shared vocab inflates sequence "
    "lengths and deserves its own merges. Shape: one token-keyed count "
    f"agg, a {_VOCAB_K}-row TakeOrderedAndProject (never a full sort "
    "— Spark plans orderBy+limit as a bounded heap), broadcast hash "
    "LEFT join onto the token stream, one source-keyed agg. Scale: "
    "vocab size is a constant; the token stream shuffles only for the "
    "map-side-combined per-source rollup.",
)
def tx_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    # toks feeds the vocab top-K AND the final OOV join — without
    # materialization each consumer re-ran the full scan+tokenize+
    # explode (r12 scan census: 2 documents scans). One tokenize pass
    # over the skinny (source, w) rows (guide §2.4).
    toks = docs.select(
        "source", F.explode(word_tokens(F.lower(F.col("text")))).alias("w")
    ).localCheckpoint(eager=False)
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(oov).alias("n_oov"),
            F.round(
                F.sum(oov).cast("double") / F.count("*"), 6
            ).alias("oov_rate"),
        )
    )


# The oracle recomputes the tx_langid argmax verbatim (registry_ext.py
# keeps the same construction — marker-hit counts per language, CASE
# argmax with alphabetical tie-break, 'und' on zero hits).
_LANG_HITS = {
    lang: f"len(list_filter({_TOKS}, t -> list_contains({markers!r}, t)))"
    for lang, markers in sorted(LANG_MARKERS.items())
}
_GREATEST = "greatest(" + ", ".join(f"h_{l}" for l in sorted(LANG_MARKERS)) + ")"


@register(
    "dq_langid_confusion",
    f"""
    WITH hits AS (
        SELECT lang AS true_lang,
               {', '.join(f'{expr} AS h_{lang}' for lang, expr in _LANG_HITS.items())}
        FROM documents
    ),
    pred AS (
        SELECT true_lang,
               CASE WHEN {_GREATEST} = 0 THEN 'und'
                    {' '.join(f"WHEN h_{l} = {_GREATEST} THEN '{l}'" for l in sorted(LANG_MARKERS)[:-1])}
                    ELSE '{sorted(LANG_MARKERS)[-1]}' END AS predicted_lang
        FROM hits
    ),
    conf AS (
        SELECT true_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY true_lang, predicted_lang
    )
    SELECT true_lang, predicted_lang, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY true_lang), 6) AS share
    FROM conf
    """,
    "Language confusion matrix: metadata `lang` column vs the "
    "tx_langid marker-argmax heuristic, with per-true-language row "
    "shares — the audit that catches mislabeled corpora BEFORE "
    "d_domain_mixture / d_temperature_mixture trust the metadata. "
    "One codegen argmax projection (no join against the lexicon "
    "needed at this size; langid_join is the scale path for big "
    "lexicons), one map-side-combined (true,pred)-keyed count, and a "
    "share window over the |langs|^2-bounded matrix — the window "
    "partitions on true_lang and its frame is at most |langs|+1 rows "
    "by construction. Scale: the corpus is touched exactly once.",
)
def dq_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.text import langid_join

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # langid_join is the bound langid() column fold: one scan, zero
    # exchanges (3.16 → 0.94 s at the sf0.1 bench vs the explode →
    # lexicon-join shape it replaced)
    conf = (
        langid_join(docs)
        .select(F.col("lang").alias("true_lang"), "predicted_lang")
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("true_lang")
    return conf.select(
        "true_lang",
        "predicted_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "share"
        ),
    )


@register(
    "d_temperature_mixture",
    f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS}) AS w FROM documents
    ),
    counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM counts),
    z AS (
        SELECT list_aggregate(
                   list(sqrt(CAST(c.n AS DOUBLE) / t.big_n) ORDER BY c.source),
                   'sum') AS zsum
        FROM counts c CROSS JOIN tot t
    )
    SELECT c.source, c.n AS n_tokens,
           ROUND(sqrt(CAST(c.n AS DOUBLE) / t.big_n) / z.zsum, 6) AS weight,
           CAST(floor(sqrt(CAST(c.n AS DOUBLE) / t.big_n) / z.zsum
                      * t.big_n + 0.5) AS BIGINT) AS expected_tokens
    FROM counts c CROSS JOIN tot t CROSS JOIN z
    """,
    "Temperature-scaled mixture weights (alpha = 0.5): w_i = "
    "sqrt(n_i/N) / Z — the standard low-resource source upweighting "
    "(multilingual-BERT / XLM exponent sampling) with the temperature "
    "fixed at the one exponent whose transcendental (sqrt) is exact "
    "per IEEE-754 on every engine — pow(x, 0.7) is NOT guaranteed "
    "bit-identical across libm implementations and would flake the "
    "value hash. Z folds the |sources| terms in source order on both "
    "engines (the sorted-fold float discipline). Shape: one "
    "map-side-combined token count, a |sources|-row stats frame "
    "collapsed to one broadcast row, a pure projection for the "
    "weights. expected_tokens = floor(w*N + 0.5) is the per-epoch "
    "token budget the loader draws per source.",
)
def d_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    # |sources|-bounded and consumed by the normalization row AND the
    # final select — unmaterialized, each consumer re-ran the full
    # scan+tokenize+explode aggregate (r12 scan census: 2 documents
    # scans). Checkpointed (guide §2.4).
    counts = (
        docs.select(
            "source",
            F.explode(word_tokens(F.lower(F.col("text")))).alias("w"),
        )
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    onerow = counts.agg(
        F.sum("n").alias("big_n"),
        F.sort_array(F.collect_list(F.struct("source", "n"))).alias("arr"),
    ).select(
        "big_n",
        F.expr(
            "aggregate(arr, 0.0D, (acc, x) -> "
            "acc + sqrt(CAST(x.n AS DOUBLE) / big_n))"
        ).alias("zsum"),
    )
    s = F.sqrt(F.col("n").cast("double") / F.col("big_n"))
    return counts.crossJoin(F.broadcast(onerow)).select(
        "source",
        F.col("n").alias("n_tokens"),
        F.round(s / F.col("zsum"), 6).alias("weight"),
        F.floor(s / F.col("zsum") * F.col("big_n") + 0.5)
        .cast("long")
        .alias("expected_tokens"),
    )


_LENGTHS = [256, 512, 1024, 2048]


@register(
    "pipeline_context_length_sweep",
    f"""
    WITH sized AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents
    ),
    fanout AS (
        SELECT s.n_tok, l.ctx_len
        FROM sized s CROSS JOIN (
            SELECT unnest({_LENGTHS}) AS ctx_len
        ) l
    )
    SELECT CAST(ctx_len AS BIGINT) AS ctx_len,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM((n_tok + ctx_len - 1) // ctx_len) AS BIGINT) AS n_seqs,
           CAST(SUM((n_tok + ctx_len - 1) // ctx_len) * ctx_len AS BIGINT)
               AS padded_tokens,
           ROUND(CAST(SUM((n_tok + ctx_len - 1) // ctx_len) * ctx_len
                      - SUM(n_tok) AS DOUBLE)
                 / (SUM((n_tok + ctx_len - 1) // ctx_len) * ctx_len), 6)
               AS waste_rate
    FROM fanout GROUP BY ctx_len
    """,
    f"Context-length packing sweep over {_LENGTHS}: for each candidate "
    "length, the exact number of one-doc-per-sequence training "
    "sequences (ceil division in pure integer math), the padded token "
    "volume, and the padding-waste rate — the decision table read "
    "before fixing the packing length pipeline_pack_sequences uses. "
    "Shape: one narrow per-doc token count, a 4-row broadcast "
    "fan-out, and ONE map-side-combined aggregation per length — the "
    "corpus is scanned once regardless of how many candidate lengths "
    "are swept. All counts are exact BIGINTs; the waste ratio is a "
    "single IEEE division.",
)
def pipeline_context_length_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    sized = docs.select(
        F.size(word_tokens(F.lower(F.col("text")))).cast("long").alias("n_tok")
    )
    lengths = spark.createDataFrame(
        [(int(v),) for v in _LENGTHS], "ctx_len long"
    )
    seqs = F.expr("(n_tok + ctx_len - 1) div ctx_len")
    fanout = sized.crossJoin(F.broadcast(lengths)).select(
        "n_tok", "ctx_len", seqs.alias("n_seq")
    )
    padded = F.sum("n_seq") * F.col("ctx_len")
    return (
        fanout.groupBy("ctx_len")
        .agg(
            F.sum("n_tok").alias("total_tokens"),
            F.sum("n_seq").alias("n_seqs"),
            (F.sum("n_seq") * F.col("ctx_len")).alias("padded_tokens"),
            F.round(
                (padded - F.sum("n_tok")).cast("double") / padded, 6
            ).alias("waste_rate"),
        )
    )
