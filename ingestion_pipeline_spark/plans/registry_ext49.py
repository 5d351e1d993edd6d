"""Forty-ninth registry tranche: value-gated sketch + vector families.

- ``g_countmin_heavy_hitters`` — Count-Min sketch (Cormode &
  Muthukrishnan 2005) over corpus words with portable md5-derived
  bucket hashes, then heavy-hitter extraction by sketch ESTIMATE. The
  mergeable-sketch counting pattern the HLL family demonstrates
  (g_sketch_aggregates, g_hll_partitioned_merge) but — unlike HLL,
  whose sketch bytes are engine-internal — with every counter exact
  integer math, so the full sketch AND the estimates are value-hash
  gated by the oracle.
- ``t_tfidf_topk`` — TF-IDF retrieval beside BM25: same fixed-textual-
  order float-sum discipline as t_bm25_keyword_topk.
- ``v_sign_hamming_topk`` — 64-bit binary (sign) quantization packed
  into two 32-bit words + Hamming-distance top-k. The 32x-compressed
  first stage of binary-quantized retrieval (the bit-level sibling of
  v_quantize_int8 / v_two_stage_rerank's coarse pass).
- ``v_matryoshka_prefix_topk`` — prefix-truncated (Matryoshka-style,
  Kusupati et al. 2022) 16-dim retrieval with the full-dim cosine
  carried alongside: the cheap-first-stage/exact-rerank evidence in
  one value-gated plan.

All beyond-reference training-data surface (the reference delegates
similarity to a vector store and does no corpus analytics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from ..operators.similarity import cosine_pairs_np
from ..operators.relational import spread, topk
from ..sources.parquet_tables import table
from .registry import _TOKS, register

_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row
_HH_FRACTION = 200  # heavy hitter = est >= total_tokens / 200



def _bucket_sql(r: int) -> str:
    return (
        f"CAST(('0x' || substring(md5('{r}|' || word), 1, 8))::UBIGINT "
        f"% {_CMS_W} AS BIGINT)"
    )


@register(
    "g_countmin_heavy_hitters",
    f"""
    WITH words AS MATERIALIZED (
        SELECT t.word AS word, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT {_TOKS} AS tk FROM documents) d, UNNEST(tk) AS t(word)
        GROUP BY t.word
    ),
    total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens FROM words),
    cells AS MATERIALIZED (
        {' UNION ALL '.join(
            f"SELECT {r} AS r, {_bucket_sql(r)} AS bucket, word, cnt FROM words"
            for r in range(_CMS_D)
        )}
    ),
    sketch AS MATERIALIZED (
        SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS counter
        FROM cells GROUP BY r, bucket
    ),
    est AS (
        SELECT c.word, CAST(MIN(s.counter) AS BIGINT) AS cms_estimate
        FROM cells c
        JOIN sketch s ON s.r = c.r AND s.bucket = c.bucket
        GROUP BY c.word
    )
    SELECT w.word, w.cnt AS exact_count, e.cms_estimate
    FROM words w JOIN est e ON w.word = e.word, total
    WHERE e.cms_estimate * {_HH_FRACTION} >= n_tokens
    """,
    f"Count-Min sketch heavy hitters: {_CMS_D}x{_CMS_W} exact-integer "
    "counter matrix over md5-derived buckets (one vocabulary-sized "
    "aggregate builds it — the corpus scan only feeds word counts, so "
    "sketch cost is O(vocab) after one token shuffle), then per-word "
    "estimate = min over rows, heavy hitter = estimate >= total/"
    f"{_HH_FRACTION}. CMS guarantees estimate >= exact (asserted in "
    "tests) with overestimate bounded by collisions — and both the "
    "sketch and the estimates are plain integer algebra, so the "
    "oracle replays them exactly. At 100 TB the 1 KB counter matrix "
    "is the mergeable per-partition state; the estimate join is "
    "vocab-sized, never corpus-sized.",
)
def g_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_estimates

    docs = spread(table(spark, sf_dir, "documents"))
    words = (
        docs.select(
            F.explode(word_tokens(F.lower(F.col("text")))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).localCheckpoint(eager=False)  # vocab-sized; reused by sketch + probes
    total = words.agg(F.sum("cnt").alias("n_tokens"))
    return (
        cms_estimates(words, _CMS_D, _CMS_W)
        .crossJoin(F.broadcast(total))
        .filter(F.col("cms_estimate") * _HH_FRACTION >= F.col("n_tokens"))
        .select("word", F.col("cnt").alias("exact_count"), "cms_estimate")
    )


_TFIDF_TERMS = ["data", "system", "code"]
_TFIDF_K = 10

_TF_COLS = ",\n               ".join(
    f"len(list_filter(tk, t -> t = '{w}')) AS tf{i}"
    for i, w in enumerate(_TFIDF_TERMS)
)
_DF_COLS = ",\n               ".join(
    f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
    for i in range(len(_TFIDF_TERMS))
)
_TFIDF_CONTRIB = "\n             + ".join(
    f"CAST(tf{i} AS DOUBLE) * ln((n + 1.0) / (df{i} + 1.0))"
    for i in range(len(_TFIDF_TERMS))
)
_TFIDF_MATCH = " OR ".join(f"tf{i} > 0" for i in range(len(_TFIDF_TERMS)))


@register(
    "t_tfidf_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    per_doc AS (
        SELECT doc_id, {_TF_COLS} FROM toks
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n, {_DF_COLS} FROM per_doc
    ),
    scored AS (
        SELECT doc_id, {_TFIDF_CONTRIB} AS score
        FROM per_doc, stats
        WHERE {_TFIDF_MATCH}
    )
    SELECT doc_id, score, rank FROM (
        SELECT doc_id, score,
               row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= {_TFIDF_K}
    """,
    f"TF-IDF top-{_TFIDF_K} for query terms {_TFIDF_TERMS}: raw tf x "
    "smoothed idf ln((N+1)/(df+1)), per-term contributions summed in "
    "FIXED TEXTUAL ORDER (the t_bm25_keyword_topk float discipline — "
    "never a groupBy-sum over exploded terms), corpus stats a one-row "
    "broadcast. One scan + TakeOrdered at any corpus size.",
)
def t_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tk = word_tokens(F.lower(F.col("text")))

    # a default-arg closure (lambda t, w=w: ...) has arity 2, so F.filter
    # would bind the ARRAY INDEX to the second parameter and silently
    # shadow the default — bind the term via a factory instead
    def term_eq(word: str):
        return lambda t: t == F.lit(word)

    # per_doc feeds the stats aggregate AND the scoring projection —
    # unmaterialized, each branch re-ran the full scan + interpreted
    # HOF tokenize (r12 scan census: 2 documents scans). Checkpointed
    # skinny (doc_id, tf...) ints: one text pass (guide §2.4; the
    # bm25_scores fix).
    per_doc = docs.select(
        "doc_id",
        *[
            F.size(F.filter(tk, term_eq(w))).alias(f"tf{i}")
            for i, w in enumerate(_TFIDF_TERMS)
        ],
    ).localCheckpoint(eager=False)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df{i}")
            for i in range(len(_TFIDF_TERMS))
        ],
    )
    score = None
    for i in range(len(_TFIDF_TERMS)):
        term = F.col(f"tf{i}").cast("double") * F.log(
            (F.col("n") + F.lit(1.0)) / (F.col(f"df{i}") + F.lit(1.0))
        )
        score = term if score is None else score + term
    match = None
    for i in range(len(_TFIDF_TERMS)):
        c = F.col(f"tf{i}") > 0
        match = c if match is None else match | c
    from pyspark.sql.window import Window

    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(match)
        .select("doc_id", score.alias("score"))
    )
    # rank window runs over the already-top-k rows (k=10, one tiny
    # partition), not the corpus
    return topk(
        scored, [F.col("score").desc(), F.col("doc_id").asc()], _TFIDF_K
    ).select(
        "doc_id",
        "score",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .alias("rank"),
    )


_HAM_K = 10


def _pack_bits_sql(expr: str, lo_dim: int) -> str:
    """32 sign bits of dims [lo_dim+1 .. lo_dim+32] packed into BIGINT."""
    terms = " + ".join(
        f"(CASE WHEN {expr}[{lo_dim + i + 1}] > 0 "
        f"THEN CAST({1 << (31 - i)} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )
    return f"({terms})"


@register(
    "v_sign_hamming_topk",
    f"""
    WITH codes AS MATERIALIZED (
        SELECT vec_id,
               {_pack_bits_sql('embedding', 0)} AS hi,
               {_pack_bits_sql('embedding', 32)} AS lo
        FROM embeddings
    ),
    probe AS (SELECT hi AS phi, lo AS plo FROM codes WHERE vec_id = 0)
    SELECT vec_id, hamming, rank FROM (
        SELECT c.vec_id,
               CAST(bit_count(xor(c.hi, p.phi))
                    + bit_count(xor(c.lo, p.plo)) AS INTEGER) AS hamming,
               row_number() OVER (
                   ORDER BY bit_count(xor(c.hi, p.phi))
                            + bit_count(xor(c.lo, p.plo)), c.vec_id) AS rank
        FROM codes c, probe p WHERE c.vec_id <> 0
    ) WHERE rank <= {_HAM_K}
    """,
    f"Binary (sign-bit) quantized retrieval: 64 dims -> 64 bits packed "
    "into two 32-bit words at scan time (32x smaller than float32 — "
    "the cheapest ANN first stage there is), Hamming distance = "
    f"popcount(xor) per word, top-{_HAM_K} by (distance, vec_id). "
    "Pure integer algebra end to end, so the oracle gates it exactly. "
    "At 100 TB the codes column is 8 bytes/vector — the whole corpus "
    "scans from memory; production pairs this with the exact-rerank "
    "stage exactly as v_two_stage_rerank does for int8.",
)
def v_sign_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)

    def pack(lo_dim: int) -> F.Column:
        acc = F.lit(0).cast("long")
        for i in range(32):
            acc = acc + F.when(
                F.element_at("embedding", lo_dim + i + 1) > 0,
                F.lit(1 << (31 - i)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        return acc

    codes = emb.select(
        "vec_id", pack(0).alias("hi"), pack(32).alias("lo")
    )
    probe = F.broadcast(
        codes.filter(F.col("vec_id") == 0).select(
            F.col("hi").alias("phi"), F.col("lo").alias("plo")
        )
    )
    scored = (
        codes.filter(F.col("vec_id") != 0)
        .crossJoin(probe)
        .select(
            "vec_id",
            (
                F.bit_count(F.expr("hi ^ phi")) + F.bit_count(F.expr("lo ^ plo"))
            )
            .cast("int")
            .alias("hamming"),
        )
    )
    from pyspark.sql.window import Window

    ranked = topk(
        scored, [F.col("hamming").asc(), F.col("vec_id").asc()], _HAM_K
    ).select(
        "vec_id",
        "hamming",
        F.row_number()
        .over(Window.orderBy(F.col("hamming"), F.col("vec_id")))
        .alias("rank"),
    )
    return ranked


_MAT_DIM = 16
_MAT_K = 8


@register(
    "v_matryoshka_prefix_topk",
    f"""
    WITH e AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS v,
               CAST(embedding[1:{_MAT_DIM}] AS DOUBLE[]) AS vp
        FROM embeddings
    ),
    probe AS (SELECT v AS pv, vp AS pvp FROM e WHERE vec_id = 0)
    SELECT vec_id, sim_prefix, sim_full FROM (
        SELECT e.vec_id,
               ROUND(CAST(list_cosine_similarity(e.vp, p.pvp) AS DOUBLE), 6)
                   AS sim_prefix,
               ROUND(CAST(list_cosine_similarity(e.v, p.pv) AS DOUBLE), 6)
                   AS sim_full,
               row_number() OVER (
                   ORDER BY ROUND(CAST(list_cosine_similarity(e.vp, p.pvp)
                                       AS DOUBLE), 6) DESC, e.vec_id) AS rk
        FROM e, probe p WHERE e.vec_id <> 0
    ) WHERE rk <= {_MAT_K}
    """,
    f"Matryoshka-style prefix retrieval: cosine over the first "
    f"{_MAT_DIM} of 64 dims (4x less compute/IO) picks top-{_MAT_K}, "
    "with the full-dim cosine carried alongside as the rerank "
    "evidence — the truncate-then-rerank pattern MRL-trained "
    "embeddings serve in production. Prefix slice happens at scan "
    "time, so a column-pruned reader would fetch only the leading "
    "dims when the layout splits them.",
)
def v_matryoshka_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(table(spark, sf_dir, "embeddings"), min_partitions=8)
    pref = emb.select(
        "vec_id",
        "embedding",
        F.slice("embedding", 1, _MAT_DIM).alias("vp"),
    )
    probe = F.broadcast(
        pref.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("pv"), F.col("vp").alias("pvp")
        )
    )
    scored = (
        pref.filter(F.col("vec_id") != 0)
        .crossJoin(probe)
        # r12 (guide §4.2): Arrow einsum kernels replace the interpreted
        # HOF cosine folds (two per row here); float64 + JVM 6-dp
        # rounding — value-identical.
        .select(
            "vec_id",
            F.round(
                cosine_pairs_np()(F.col("vp"), F.col("pvp")), 6
            ).alias("sim_prefix"),
            F.round(
                cosine_pairs_np()(F.col("embedding"), F.col("pv")), 6
            ).alias("sim_full"),
        )
    )
    return topk(
        scored, [F.col("sim_prefix").desc(), F.col("vec_id").asc()], _MAT_K
    ).select("vec_id", "sim_prefix", "sim_full")
