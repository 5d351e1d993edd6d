"""Fifty-sixth registry tranche (round 5): the three curation ops a
pretraining pipeline still lacked — cross-document boilerplate removal,
a bigram-LM perplexity filter, and classifier threshold calibration.

- ``tx_boilerplate_prune`` — RefinedWeb/CCNet-style boilerplate
  removal WITH corpus reconstruction: segments occurring in >=3
  DISTINCT documents are dropped from EVERY document (headers,
  footers, nav text).  Distinct from tx_dedup_chunks_rebuild (ext50),
  which keeps each chunk's first occurrence — boilerplate removal
  keeps none: a segment shared by many docs is noise everywhere,
  including its first appearance.
- ``tx_bigram_perplexity`` — the KenLM-shaped quality filter with the
  corpus itself as the LM, upgraded from unigram surprisal (ext17) to
  a bigram model with add-one smoothing: p(w2|w1) =
  (c(w1,w2)+1)/(c(w1)+V).  Production cuts both tails of the
  perplexity distribution (high = garbled, low = template spam).
- ``e_threshold_sweep`` — precision/recall/F1 at 10 score thresholds
  (the calibration table behind every "keep if classifier score >= t"
  gate, e.g. s_quality_classifier / pipeline_token_budget_select).
  All confusion counts are exact BIGINTs; the ratios are single
  IEEE divisions of those integers, identical on both engines.

All three oracle-gated; beyond-reference training-data surface
(reference scope: ingestion/RAG — see /root/reference/consumer/
consumer.py for its per-record processing loop; these are the
corpus-level operations that loop never needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_tables import table
from .registry import _TOKS, register

_SEG = 5        # tokens per boilerplate segment ("line" stand-in: the
                # fixture corpus carries no newlines, so segmentation is
                # fixed-width over the shared tokenizer)
_MIN_DOCS = 3   # segment present in >= this many distinct docs = boilerplate


@register(
    "tx_boilerplate_prune",
    f"""
    WITH segs AS MATERIALIZED (
        SELECT doc_id, i AS idx,
               array_to_string(tk[i * {_SEG} + 1 : (i + 1) * {_SEG}], ' ') AS seg
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents) d,
             UNNEST(range(0, CAST(ceil(len(tk) / {_SEG}.0) AS BIGINT))) AS u(i)
    ),
    shared AS (
        SELECT md5(seg) AS h, COUNT(DISTINCT doc_id) AS n_docs
        FROM segs GROUP BY md5(seg)
    ),
    kept AS (
        SELECT s.doc_id,
               string_agg(s.seg, ' ' ORDER BY s.idx) AS text_clean,
               CAST(COUNT(*) AS BIGINT) AS n_kept
        FROM segs s JOIN shared sh ON md5(s.seg) = sh.h
        WHERE sh.n_docs < {_MIN_DOCS}
        GROUP BY s.doc_id
    ),
    totals AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments
        FROM segs GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(k.text_clean, '') AS text_clean,
           COALESCE(t.n_segments, 0) AS n_segments,
           COALESCE(t.n_segments, 0) - COALESCE(k.n_kept, 0) AS n_dropped
    FROM documents d
    LEFT JOIN kept k ON d.doc_id = k.doc_id
    LEFT JOIN totals t ON d.doc_id = t.doc_id
    """,
    f"Cross-document boilerplate removal ({_SEG}-token segments "
    f"appearing in >={_MIN_DOCS} distinct docs are dropped from EVERY "
    "doc, then the corpus is rebuilt): the RefinedWeb line-dedup / C4 "
    "repeated-span filter, expressed as one segment explode, one "
    "hash-keyed COUNT(DISTINCT doc_id) aggregation, one hash-keyed "
    "join back, and one doc-keyed order-deterministic reassembly. The "
    "segment shuffle carries (16-byte md5, ids), never text bodies; "
    "the distinct-count is map-side partially aggregated. Differs from "
    "tx_dedup_chunks_rebuild (keep-first) in policy: boilerplate keeps "
    "NO occurrence. Scale: every stage is keyed on the segment hash or "
    "doc_id — no global ordering, no driver state.",
)
def tx_boilerplate_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    tk = word_tokens(F.lower(F.col("text")))
    # consumed by the segment explode AND the per-doc totals; without
    # materialization each consumer re-ran the full scan+tokenize (r12
    # scan census: 8 parquet scans in one query). One tokenize pass,
    # checkpointed (guide §2.4).
    with_tk = docs.select("doc_id", tk.alias("tk")).localCheckpoint(
        eager=False
    )
    n_segs = F.ceil(F.size("tk") / F.lit(float(_SEG))).cast("long")
    # Spark sequence(0, -1) DESCENDS — an empty doc must yield no
    # segments (matching DuckDB range(0, 0)), not idx 0 and -1
    idxs = F.when(
        n_segs > 0, F.sequence(F.lit(0).cast("long"), n_segs - 1)
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    segs = with_tk.select(
        "doc_id", F.explode(idxs).alias("idx"), "tk"
    ).select(
        "doc_id",
        "idx",
        F.array_join(F.slice("tk", F.col("idx") * _SEG + 1, _SEG), " ").alias(
            "seg"
        ),
    ).withColumn("h", F.md5("seg"))  # hash once; both sides key on it
    shared = segs.groupBy("h").agg(F.countDistinct("doc_id").alias("n_docs"))
    kept = (
        segs.join(shared, "h")
        .filter(F.col("n_docs") < _MIN_DOCS)
        .groupBy("doc_id")
        .agg(
            # order-deterministic rebuild: sort (idx, seg) structs, not
            # a bare collect_list (collect order is partition-dependent)
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    # per-doc segment totals need no explode at all: a projection on
    # the tokenized doc (the explode feeding an agg back to doc grain
    # would be a wasted shuffle)
    totals = with_tk.select("doc_id", n_segs.alias("n_segments"))
    # totals is 1:1 with docs (plain projection of the tokenized
    # frame), so anchoring the final left-join on docs.select("doc_id")
    # re-scanned the corpus for a doc_id set totals already carries —
    # anchor on totals directly (r12, the chunk_dedup_rebuild fix):
    # identical row set and values (n_segments never null from totals).
    return (
        totals
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.col("n_segments"),
            (
                F.coalesce("n_segments", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_dropped"),
        )
    )


@register(
    "tx_bigram_perplexity",
    f"""
    WITH tokd AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    bigr AS (
        SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
        FROM tokd, UNNEST(range(1, len(tk))) AS u(i)
    ),
    uni AS (
        SELECT w, COUNT(*) AS cu FROM (
            SELECT unnest(tk) AS w FROM tokd
        ) GROUP BY w
    ),
    vocab AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
    bfreq AS (SELECT w1, w2, COUNT(*) AS cb FROM bigr GROUP BY w1, w2),
    per AS (
        SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bigr GROUP BY doc_id, w1, w2
    ),
    terms AS (
        SELECT p.doc_id, p.tf,
               CAST(p.tf AS DOUBLE)
               * (-log2((b.cb + 1) / (u.cu + vocab.v))) AS term
        FROM per p
        JOIN bfreq b ON p.w1 = b.w1 AND p.w2 = b.w2
        JOIN uni u ON p.w1 = u.w
        CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           ROUND(list_aggregate(list_sort(list(term)), 'sum')
                 / CAST(SUM(tf) AS DOUBLE), 6) AS mean_surprisal
    FROM terms GROUP BY doc_id
    """,
    "Bigram-LM perplexity scoring (the KenLM filter shape with the "
    "corpus as its own LM): mean -log2 p(w2|w1) per document under "
    "add-one smoothing, p = (c(w1,w2)+1)/(c(w1)+V). Three aggregations "
    "(unigram counts, bigram counts, per-doc bigram tf) + two "
    "hash joins on the bigram/prefix key; the 1-row vocab size "
    "broadcasts. The per-doc mean folds terms in SORTED order on both "
    "engines (the tx_unigram_surprisal discipline) — a bare "
    "AVG(double) is partition-order dependent. Docs with <2 tokens "
    "have no bigrams and drop out, exactly as in the oracle's inner "
    "joins. Zipf-hot prefixes hash-spread across reducers; nothing "
    "collects to the driver.",
)
def tx_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import word_tokens

    docs = table(spark, sf_dir, "documents")
    # tokd feeds THREE aggregation branches (bigram counts, per-doc
    # bigram tf, unigram counts) — without materialization the compiled
    # plan re-ran the full scan+tokenize per branch (r12 scan census: 4
    # parquet scans). Checkpoint the tokenized frame once; the explodes
    # re-read the stored arrays (guide §2.4; A/B flat at sf0.1, the
    # removed work is 3 extra full-corpus tokenize passes).
    tokd = docs.select(
        "doc_id", word_tokens(F.lower(F.col("text"))).alias("tk")
    ).localCheckpoint(eager=False)
    pairs = F.when(
        F.size("tk") >= 2,
        F.expr(
            "transform(sequence(1, size(tk) - 1), "
            "i -> struct(tk[i - 1] AS w1, tk[i] AS w2))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<w1:string,w2:string>>)"))
    bigr = tokd.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    uni = (
        tokd.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    vocab = uni.agg(F.count("*").cast("double").alias("v"))
    bfreq = bigr.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    per = bigr.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("tf"))
    terms = (
        per.join(bfreq, ["w1", "w2"])
        .join(uni.withColumnRenamed("w", "w1"), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "tf",
            (
                F.col("tf").cast("double")
                * -F.log2((F.col("cb") + 1) / (F.col("cu") + F.col("v")))
            ).alias("term"),
        )
    )
    folded = F.aggregate(
        F.array_sort(F.collect_list("term")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return terms.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_bigrams"),
        F.round(folded / F.sum("tf").cast("double"), 6).alias(
            "mean_surprisal"
        ),
    )


_N_SHARDS = 16


def epoch_hashes(df: DataFrame, epoch_seed: str = "epoch1") -> DataFrame:
    """(doc_id, h, h2, shard) — the STATELESS half of the epoch
    shuffle: a pure function of (doc_id, epoch seed) needing zero
    corpus knowledge.  This is what makes the permutation incremental
    (``tests/test_incremental_epoch.py``): a newly ingested doc's
    shard and sort key are computable from the doc alone, and the
    within-shard read order (sort by ``(h2, doc_id)``) is STABLE under
    insertion — existing docs never reorder relative to each other, so
    new docs merge into a live epoch in O(new), never a corpus
    reshuffle."""

    def md5_bucket(prefix: str) -> F.Column:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")

    return df.select(
        "doc_id",
        md5_bucket(f"{epoch_seed}shard").alias("h"),
        md5_bucket(f"{epoch_seed}order").alias("h2"),
    ).withColumn("shard", (F.col("h") % _N_SHARDS).cast("long"))


def epoch_positions(hashed: DataFrame) -> DataFrame:
    """(doc_id, shard, pos) — the read-side rank over the accumulated
    hash state (the only corpus-wide step; one per-shard window)."""
    from pyspark.sql.window import Window

    return hashed.select(
        "doc_id",
        "shard",
        F.row_number()
        .over(Window.partitionBy("shard").orderBy("h2", "doc_id"))
        .cast("long")
        .alias("pos"),
    )



@register(
    "pipeline_epoch_shuffle",
    f"""
    SELECT doc_id,
           CAST(h % {_N_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY h % {_N_SHARDS}
               ORDER BY h2, doc_id
           ) AS BIGINT) AS pos
    FROM (
        SELECT doc_id,
               CAST(('0x' || substr(md5('epoch1shard' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h,
               CAST(('0x' || substr(md5('epoch1order' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h2
        FROM documents
    )
    """,
    "Epoch shuffle: the deterministic global permutation a training "
    "loader reads instead of ORDER BY random() — shard = md5 bucket of "
    "the doc id under an epoch seed, position within shard = rank by a "
    "second independent hash. A pure function of (doc_id, epoch): "
    "reproducible on any engine, any partitioning, any retry, and a "
    "new epoch seed is a whole new permutation with zero state. Scale: "
    "the only shuffle is the per-shard window partition; shards are "
    "sized (corpus/n_shards) and n_shards rises with the cluster, so "
    "no task ever sees more than one shard. Complements "
    "pipeline_shard_manifest (ext32: contiguous fixed-capacity shards "
    "for resumable writes) with the read-side randomization.",
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return epoch_positions(epoch_hashes(table(spark, sf_dir, "documents")))


_N_THRESH = 10


@register(
    "e_threshold_sweep",
    f"""
    WITH scored AS (
        SELECT vec_id,
               list_sum(list_transform(embedding,
                        x -> CAST(floor(x * 1000) AS BIGINT))) AS score_milli,
               CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
        FROM embeddings
    ),
    bounds AS (
        SELECT MIN(score_milli) AS lo, MAX(score_milli) AS hi FROM scored
    ),
    thresholds AS (
        SELECT k, lo + (k * (hi - lo)) // {_N_THRESH} AS thresh
        FROM bounds, UNNEST(range(0, {_N_THRESH})) AS u(k)
    ),
    conf AS (
        SELECT t.k, t.thresh,
               CAST(SUM(CASE WHEN s.score_milli >= t.thresh AND s.y = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN s.score_milli >= t.thresh AND s.y = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN s.score_milli < t.thresh AND s.y = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM scored s CROSS JOIN thresholds t
        GROUP BY t.k, t.thresh
    )
    SELECT k, CAST(thresh AS BIGINT) AS thresh, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall
    FROM conf
    """,
    f"Classifier threshold calibration: the {_N_THRESH}-point "
    "precision/recall table behind every `keep if score >= t` "
    "curation gate. The score is an EXACT integer (sum of "
    "floor(1000x) over the embedding, folded in array order — "
    "bit-identical on any partitioning), thresholds are integer "
    "lerps of the broadcast (min, max) bounds, and the confusion "
    "counts are one map-side-combined aggregation over a "
    f"{_N_THRESH}-way broadcast fan-out. Precision/recall are single "
    "IEEE divisions of exact integers — no float accumulation "
    "anywhere. At 100 TB: one scan, one 1-row bounds agg, one "
    "10x-fanout partial agg; nothing keyed on a skewed column.",
)
def e_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        F.aggregate(
            "embedding",
            F.lit(0).cast("long"),
            lambda acc, x: acc + F.floor(x * 1000).cast("long"),
        ).alias("score_milli"),
        F.when(F.col("label") >= 5, 1).otherwise(0).alias("y"),
    )
    bounds = scored.agg(
        F.min("score_milli").alias("lo"), F.max("score_milli").alias("hi")
    )
    thresholds = bounds.crossJoin(
        spark.range(_N_THRESH).select(F.col("id").alias("k"))
    ).select(
        "k",
        (
            F.col("lo")
            + F.expr(f"(k * (hi - lo)) div {_N_THRESH}")
        ).alias("thresh"),
    )
    conf = (
        scored.crossJoin(F.broadcast(thresholds))
        .groupBy("k", "thresh")
        .agg(
            F.sum(
                F.when((F.col("score_milli") >= F.col("thresh")) & (F.col("y") == 1), 1).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when((F.col("score_milli") >= F.col("thresh")) & (F.col("y") == 0), 1).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when((F.col("score_milli") < F.col("thresh")) & (F.col("y") == 1), 1).otherwise(0)
            ).alias("fn"),
        )
    )
    pr = F.when(F.col("tp") + F.col("fp") == 0, F.lit(0.0)).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    )
    rc = F.when(F.col("tp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    )
    return conf.select(
        "k",
        "thresh",
        "tp",
        "fp",
        "fn",
        pr.alias("precision"),
        rc.alias("recall"),
    )
