"""Sixty-third registry tranche (round 6): tokenizer economics and
selection calibration — the accounting layer between raw corpus
statistics and a training run's token bill.

- ``tx_tokenizer_fertility`` — per-language BPE fertility (BPE tokens
  per whitespace word): the standard multilingual-tokenizer equity
  metric (high fertility = that language pays more sequence positions
  per word). Reuses the trained ``tx_bpe_merges`` vocabulary and the
  production Arrow tokenizer, with the language column carried
  THROUGH the tokenizer so the rollup needs no corpus join.
- ``pipeline_token_budget`` — data-constrained scaling accounting
  (the Muennighoff et al. 2023 shape, public method: repeating data
  beyond ~4 epochs stops helping): given a fixed token budget split
  uniformly across sources, how many epochs each source must repeat,
  how many tokens it can actually fill at the 4-epoch cap, and the
  unique-token deficit.
- ``g_vocab_overlap`` — pairwise source-vocabulary Jaccard over each
  source's top-V tokens: the redundancy map that prices what mixing
  two sources actually adds (near-1 overlap = paying twice for the
  same distribution).
- ``e_calibration_bins`` — reliability table for the marker-hit
  language-ID score as an ``is-English`` classifier: per integer
  score bin, predicted-positive rate vs observed rate — the
  calibration evidence a threshold picker (e_threshold_sweep)
  assumes.
All four oracle-gated; beyond-reference training-data surface.
(``pipeline_padding_waste``'s zero-padding counterpart already exists
as ext15's ``pipeline_pack_sequences`` — the duplicate-registration
guard in ``register`` now makes such collisions impossible to miss.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.parquet_tables import table
from .bpe_sql import bpe_fertility_sql
from .registry import _TOKS, register


@register(
    "tx_tokenizer_fertility",
    bpe_fertility_sql(),  # re-learns the merges, re-applies via
    # chained REPLACEs, rolls up per lang (plans/bpe_sql.py)
    "Per-language BPE fertility: the tx_bpe_merges vocabulary applied "
    "by the production Arrow tokenizer (per-batch distinct-word "
    "cache), language carried THROUGH the tokenizer (carry_cols) so "
    "the per-lang rollup is one bounded aggregate — no corpus-keyed "
    "join anywhere. Word/token sums are exact BIGINTs; fertility is "
    "ONE division of exact operands (0.0 where the alpha tokenizer "
    "yields no words, e.g. zh). High fertility = that language pays "
    "more context positions per word — the metric that drives "
    "vocab-size and per-lang mixture decisions. Shape: one scan "
    "through mapInPandas + one |langs|-group aggregate.",
)
def tx_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import (
        BPE_MERGES,
        BPE_TOP_N,
        bpe_tokenize_counts_arrow,
        bpe_train_local,
        word_frequencies,
    )
    from ..operators.relational import spread

    docs = spread(table(spark, sf_dir, "documents"))
    learned = bpe_train_local(
        spark, word_frequencies(docs, top_n=BPE_TOP_N), n_merges=BPE_MERGES
    ).collect()
    merges = [(r["pair_a"], r["pair_b"]) for r in learned]
    counts = bpe_tokenize_counts_arrow(docs, merges, carry_cols=("lang",))
    return counts.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("sum_words"),
        F.sum("n_bpe_tokens").cast("long").alias("sum_bpe_tokens"),
        F.round(
            F.coalesce(
                F.sum("n_bpe_tokens").cast("double")
                / F.nullif(F.sum("n_words").cast("long"), F.lit(0)),
                F.lit(0.0),
            ),
            6,
        ).alias("fertility"),
    )


_EPOCH_CAP = 4  # unique-data repetition cap (data-constrained scaling)


@register(
    "pipeline_token_budget",
    f"""
    WITH src AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
               CAST({_EPOCH_CAP} AS BIGINT) * CAST(SUM(n_tokens) AS BIGINT)
                   AS budget
        FROM src
    )
    SELECT s.source, s.n_docs, s.n_tokens,
           tot.budget // tot.n_src AS alloc_tokens,
           LEAST((tot.budget // tot.n_src + s.n_tokens - 1) // s.n_tokens,
                 {_EPOCH_CAP}) AS epochs_used,
           LEAST(tot.budget // tot.n_src,
                 {_EPOCH_CAP} * s.n_tokens) AS usable_tokens,
           tot.budget // tot.n_src
               - LEAST(tot.budget // tot.n_src,
                       {_EPOCH_CAP} * s.n_tokens) AS deficit_tokens,
           ROUND(CAST(LEAST(tot.budget // tot.n_src,
                            {_EPOCH_CAP} * s.n_tokens) AS DOUBLE)
                 / (tot.budget // tot.n_src), 6) AS fill_rate
    FROM src s CROSS JOIN tot
    """,
    "Data-constrained token-budget accounting (the Muennighoff 2023 "
    f"shape): a budget of {_EPOCH_CAP}x the corpus's total tokens is "
    "split uniformly across sources; each source repeats for "
    "ceil(alloc/n_tokens) epochs capped at "
    f"{_EPOCH_CAP} (the point where repeating unique data stops "
    "paying), leaving small sources with an explicit unique-token "
    "deficit — the number that justifies up-weighting or acquiring "
    "more of a domain. Everything except fill_rate is exact BIGINT "
    "integer arithmetic (ceil as (a+b-1) div b); fill_rate is one "
    "division of exact operands. Shape: one map-side-combined "
    "per-source aggregate + a 1-row totals broadcast — corpus "
    "scanned once, shuffle carries |sources| rows.",
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    # bounded (|sources| rows) over a corpus-sized tokenize+agg
    # lineage with two consumers (totals + final select) — pin it so
    # the corpus scan executes once (the g_vocab_overlap note)
    src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(word_tokens(F.lower(F.col("text")))))
        .cast("long")
        .alias("n_tokens"),
    ).localCheckpoint(eager=False)
    tot = src.agg(
        F.count("*").cast("long").alias("n_src"),
        (F.lit(_EPOCH_CAP) * F.sum("n_tokens")).cast("long").alias("budget"),
    )
    alloc = F.expr("budget div n_src")
    usable = F.least(alloc, F.lit(_EPOCH_CAP) * F.col("n_tokens"))
    epochs = F.least(
        F.expr(f"(budget div n_src + n_tokens - 1) div n_tokens"),
        F.lit(_EPOCH_CAP).cast("long"),
    )
    return src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        alloc.alias("alloc_tokens"),
        epochs.alias("epochs_used"),
        usable.alias("usable_tokens"),
        (alloc - usable).alias("deficit_tokens"),
        F.round(usable.cast("double") / alloc, 6).alias("fill_rate"),
    )


_VOCAB_V = 200


@register(
    "g_vocab_overlap",
    f"""
    WITH tok AS (
        SELECT source, t.tok AS tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT source, {_TOKS} AS tk FROM documents) d,
             UNNEST(tk) AS t(tok)
        GROUP BY source, t.tok
    ),
    vocab AS (
        SELECT source, tok FROM (
            SELECT source, tok,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY cnt DESC, tok) AS rn
            FROM tok
        ) WHERE rn <= {_VOCAB_V}
    ),
    sizes AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab
        FROM vocab GROUP BY source
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM vocab a JOIN vocab b
          ON a.tok = b.tok AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_inter,
           sa.n_vocab AS n_vocab_a, sb.n_vocab AS n_vocab_b,
           ROUND(CAST(i.n_inter AS DOUBLE)
                 / (sa.n_vocab + sb.n_vocab - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.source_a = sa.source
    JOIN sizes sb ON i.source_b = sb.source
    """,
    f"Source-pair vocabulary redundancy: each source's top-{_VOCAB_V} "
    "tokens by frequency (ties broken by token — deterministic "
    "boundary), pairwise intersection via a token equi-join (pairs "
    "with empty intersection drop out — documented; their Jaccard is "
    "0), Jaccard from exact BIGINT set sizes with one final division. "
    "Near-1 overlap = the two sources feed the model the same "
    "distribution twice — the evidence behind source-level mixture "
    "cuts. Shape: one (source, token) map-side-combined count, a "
    "per-source window over the VOCAB-sized count table (never the "
    "corpus), a vocab-sized self-equi-join on token, bounded "
    "|sources|^2 output.",
)
def g_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "source",
            F.explode(word_tokens(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("cnt"), F.asc("tok"))
    # vocab (<= |sources| x V rows, but |sources| GROWS with the
    # corpus) sits on a corpus-sized explode+count lineage and feeds
    # FOUR consumers below (join left/right, two size frames) whose
    # differing shapes defeat ReuseExchange — left as lineage the
    # corpus subtree executes 4x (verified: ReusedExchange count 0 in
    # the executed plan). A lazy checkpoint makes all four consumers
    # share ONE materialization with no driver roundtrip (vs collect,
    # which the 100x smoke showed ballooning once the source domain
    # scales).
    vocab = (
        tok.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _VOCAB_V)
        .select("source", "tok")
        .localCheckpoint(eager=False)
    )
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n_vocab"))
    # shared-lineage self-join: rename BOTH key columns on the right
    # side (the v_lsh_recall_at_k / e_retrieval_mrr discipline)
    right = vocab.select(
        F.col("source").alias("source_b"), F.col("tok").alias("tok_b")
    )
    inter = (
        vocab.select(F.col("source").alias("source_a"), "tok")
        .join(
            right,
            (F.col("tok") == F.col("tok_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("source").alias("source_a"), F.col("n_vocab").alias("n_vocab_a")
    )
    sb = sizes.select(
        F.col("source").alias("source_b"), F.col("n_vocab").alias("n_vocab_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_inter",
            "n_vocab_a",
            "n_vocab_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_vocab_a") + F.col("n_vocab_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


_CAL_CAP = 9  # score bins 0..9 (marker hits, top bin open-ended)


@register(
    "e_calibration_bins",
    f"""
    WITH scored AS (
        SELECT LEAST(len(list_filter({_TOKS},
                         t -> list_contains(['the', 'and', 'of', 'is'], t))),
                     {_CAL_CAP}) AS bin,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS pos_rate
    FROM scored GROUP BY bin
    """,
    "Reliability table for the marker-hit language-ID score as an "
    "is-English classifier (the tx_langid 'en' lexicon): per integer "
    f"score bin (en-marker hits, capped at {_CAL_CAP}), how often the "
    "document actually IS English — rising pos_rate by bin = the "
    "score is calibrated enough for e_threshold_sweep's operating "
    "point to mean something. Counts exact BIGINT; pos_rate one "
    "division of exact operands. Shape: one scan, one "
    f"{_CAL_CAP + 1}-group aggregate — shuffle carries "
    f"{_CAL_CAP + 1} rows.",
)
def e_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import LANG_MARKERS, word_tokens

    docs = table(spark, sf_dir, "documents")
    toks = word_tokens(F.lower(F.col("text")))
    markers = LANG_MARKERS["en"]

    def is_en(t):
        return t.isin(markers)

    hits = F.size(F.filter(toks, is_en))
    scored = docs.select(
        F.least(hits, F.lit(_CAL_CAP)).cast("long").alias("bin"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    return scored.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.round(F.sum("pos").cast("double") / F.count("*"), 6).alias(
            "pos_rate"
        ),
    )
