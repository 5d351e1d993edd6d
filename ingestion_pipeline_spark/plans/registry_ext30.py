"""Thirtieth registry tranche: tokenizer training + histogram profiling.

- ``tx_bpe_merges`` — BPE merge-table training (Sennrich et al. 2016)
  over the documents corpus: one corpus pass builds the word-frequency
  table, then every merge round runs on that compact table (see
  ``operators/bpe.py`` for the scale argument). Iterative argmax
  fixpoint → rows-only gate; the merge table is pinned value-exactly
  against a pure-Python reference in ``tests/test_bpe.py``.
- ``g_histogram_totalprice`` — equal-width 20-bin histogram with
  data-derived bounds: one 1-row (min, max) aggregate broadcast onto
  the scan, integer bin index per row, map-side-combined counts. The
  distribution-profiling companion to ``dq_numeric_profile`` (exact
  bins, where ``t_price_percentiles`` gives quantiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import BPE_MERGES, BPE_TOP_N, bpe_train_local, word_frequencies
from ..sources.parquet_tables import table
from .bpe_sql import bpe_merges_sql, bpe_tokenize_sql
from .registry import register

_BINS = 20


@register(
    "tx_bpe_merges",
    bpe_merges_sql(),  # argmax rounds unrolled via the
    # chained-REPLACE greedy-merge identity (plans/bpe_sql.py)
    "BPE tokenizer training: 10 merge rounds over the top-200 word-"
    "frequency table of the documents corpus. Deterministic — exact "
    "integer pair counts, (count DESC, pair ASC) tie-break — so the "
    "merge table is reproducible on any engine; tests pin the trainer "
    "(operators/bpe.py:bpe_train_local) against a pure-Python BPE "
    "reference. At 100 TB the corpus is "
    "touched ONCE (word-freq agg); the serial merge loop runs on the "
    "collected vocabulary-sized table (Sennrich's trick — the same "
    "bounded-collect class as the IVF centroids), and the learned "
    "table broadcasts back for distributed tokenization.",
)
def tx_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return bpe_train_local(spark, word_frequencies(docs, top_n=BPE_TOP_N), n_merges=BPE_MERGES)


@register(
    "g_histogram_totalprice",
    f"""
    WITH b AS (
        SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ),
    x AS (
        SELECT LEAST(CAST(FLOOR((o_totalprice - lo) * {_BINS} / (hi - lo))
                          AS BIGINT), {_BINS - 1}) AS bin_idx,
               lo, hi
        FROM orders, b
    )
    SELECT bin_idx,
           lo + bin_idx * (hi - lo) / {_BINS} AS bin_lo,
           lo + (bin_idx + 1) * (hi - lo) / {_BINS} AS bin_hi,
           COUNT(*) AS n_orders
    FROM x GROUP BY bin_idx, lo, hi
    """,
    "Equal-width histogram (20 bins, data-derived bounds) over order "
    "totals: a 1-row (min, max) aggregate — servable straight from "
    "parquet footer stats — broadcast onto the scan, one integer bin "
    "expression per row, map-side-combined counts. Top bin closes the "
    "range (LEAST guard). Exact-bin distribution profiling alongside "
    "the quantile view (t_price_percentiles).",
)
def g_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_totalprice")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    span = F.col("hi") - F.col("lo")
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor((F.col("o_totalprice") - F.col("lo")) * _BINS / span),
            F.lit(_BINS - 1).cast("long"),
        ).alias("bin_idx"),
        "lo",
        "hi",
    )
    return (
        binned.groupBy("bin_idx", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bin_idx",
            (F.col("lo") + F.col("bin_idx") * span / _BINS).alias("bin_lo"),
            (F.col("lo") + (F.col("bin_idx") + 1) * span / _BINS).alias("bin_hi"),
            "n_orders",
        )
    )


def _learned_merges(spark: SparkSession, docs: DataFrame) -> list[tuple[str, str]]:
    learned = bpe_train_local(
        spark, word_frequencies(docs, top_n=BPE_TOP_N), n_merges=BPE_MERGES
    ).collect()
    return [(r["pair_a"], r["pair_b"]) for r in learned]


@register(
    "tx_bpe_tokenize",
    bpe_tokenize_sql(),  # oracle re-learns the merges AND
    # re-applies them via chained REPLACEs (plans/bpe_sql.py)
    "BPE tokenizer APPLICATION, production path: the learned merge "
    "list (tx_bpe_merges) broadcasts into a batched Arrow mapInPandas "
    "tokenizer with a per-batch distinct-word cache — merge count "
    "lengthens a Python loop over vocabulary-sized state, NOT the "
    "expression tree, so a real 10k-merge vocab costs the same plan "
    "(the round-2 verdict's scale caveat, closed). Emits per-doc "
    "word/BPE-token counts, the budget numbers sequence packing and "
    "token-budget selection consume. Value-identical to the all-"
    "Catalyst fold path (tx_bpe_tokenize_fold), pinned in test_bpe.py.",
)
def tx_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_tokenize_counts_arrow
    from ..operators.relational import spread

    docs = spread(table(spark, sf_dir, "documents"))
    return bpe_tokenize_counts_arrow(docs, _learned_merges(spark, docs))


@register(
    "tx_bpe_tokenize_fold",
    bpe_tokenize_sql(),  # same oracle as the Arrow path — the
    # two implementations must agree with it AND each other
    "BPE tokenizer application as PURE PLAN: the merge list unrolls "
    "into chained fold expressions — one interpreted higher-order fold "
    "per merge, no Python at runtime. Fine at 10 merges; the Arrow "
    "path (tx_bpe_tokenize) is the production choice at real vocab "
    "sizes. Kept registered so the bench carries BOTH paths and the "
    "equality pin in test_bpe.py has a living counterpart.",
)
def tx_bpe_tokenize_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_tokenize_counts
    from ..operators.relational import spread

    # higher-order functions evaluate INTERPRETED (not codegen) — the
    # fold-per-merge expression is CPU-bound, so a single-file scan
    # must spread across cores (10x smoke: 40s on 1 partition -> ~3s)
    docs = spread(table(spark, sf_dir, "documents"))
    return bpe_tokenize_counts(docs, _learned_merges(spark, docs))
