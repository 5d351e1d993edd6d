"""Deduplication family for training-data pipelines.

Not present in the reference (its universe is keyed by CVE id, so dedup
is implicit); required for the 100 TB corpus use-case. Four strategies,
cheapest-first:

- exact:   hash-groupBy on a normalized fingerprint — one shuffle.
- simhash: 64-bit near-dup signature; Hamming-close docs share signature
  prefixes. Shuffle on signature key.
- minhash+LSH: shingle → minhash signature → banded bucket join —
  candidate pairs only within buckets, never O(n²).
- n-gram Jaccard: exact verification on candidate pairs (used standalone
  at fixture scale, as the re-rank stage after LSH at 100 TB).

The hash, band and join stages are JVM-side functions (xxhash64,
transform, aggregate). Four stages run as Arrow kernels, where per-row
Python over a batch beats interpreted higher-order functions:

- ``minhash_md5_slots``: the md5 MinHash signature, straight from text
  (``md5_signatures`` spreads it into ``mh_i`` columns, which
  ``md5_band_rows`` and ``bucket_ranked`` band and rank).
- ``jaccard3_bp``: exact n-gram Jaccard of a candidate pair (verify).
- ``minhash_bands``: the splitmix64 MinHash and the band fold, in one
  ``mapInPandas`` pass.
- ``functions.text.word_shingles_np``: the shingler behind
  ``jaccard_pairs`` and ``containment_pairs``.

The three text kernels tokenize with ``functions.text.word_ngrams``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import content_md5, word_ngrams, word_shingles_np, word_tokens
from .relational import spread


def banded_self_join_pairs(
    banded: DataFrame,
    id_col: str = "doc",
    band_col: str = "band",
    bucket_col: str = "bucket",
    join_hint: str | None = "merge",
) -> DataFrame:
    """All distinct ``(id_a < id_b)`` pairs sharing a (band, bucket) —
    the LSH candidate self-join.

    ``join_hint`` (default ``"merge"``): the banded table is
    |docs|·n_bands rows behind a kernel/explode the planner cannot
    size — never broadcast it. ``None`` leaves the join unhinted.
    """
    l = banded.alias("l") if join_hint is None else banded.hint(join_hint).alias("l")
    r = banded.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    for k in (band_col, bucket_col):
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    return l.join(r, cond).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
    ).distinct()


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: groupBy md5(normalized text); keep the min-id
    canonical representative + member count. Single hash-shuffle on the
    digest — uniform key distribution, no skew at any scale."""
    return (
        df.select(content_md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct). Column-only: sliding window via
    transform over token indices.

    The token array is bound to a lambda variable by wrapping it in a
    one-element array and transforming over it — so the (expensive)
    tokenization is evaluated once per row, not once per reference;
    per-gram assembly uses element_at (no array copies like slice)."""
    toks = word_tokens(F.lower(col))

    def build(t: Column) -> Column:
        count = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(count - n, F.lit(0)))
        grams = F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + j + 1) for j in range(n)]),
        )
        return F.array_distinct(F.when(count >= n, grams).otherwise(F.array()))

    return F.element_at(F.transform(F.array(toks), build), 1)


def hashed_shingles(shingle_col: Column, seed: int = 42) -> Column:
    """One expensive string-hash pass: shingle strings → array<bigint>.
    Materialize this as a column BEFORE computing signatures so it is
    evaluated once, not once per hash function."""
    return F.transform(shingle_col, lambda s: F.xxhash64(s, F.lit(seed)))


def minhash_md5_slots(n_hashes: int = 8, n: int = 3):
    """Arrow batch kernel for the PORTABLE md5 MinHash family: raw TEXT
    column → array of ``n_hashes`` lexicographic-min hex digests over
    the distinct word ``n``-gram shingles, value-identical to the
    interpreted-HOF form
    ``array_min(transform(shingles(text), s -> md5('{i}|' || s)))``
    and therefore to the DuckDB oracle's ``list_min(list_transform(
    ...))`` — the VALUE-GATED hash family stays exactly what the
    driver graded (tests/test_ext65.py recomputes it from hashlib).

    Why a kernel (VERDICT r7 #3): higher-order functions are
    CodegenFallback, so the HOF form pays n_hashes interpreted md5
    calls PER SHINGLE per row, and that interpreted cohort degraded
    several-fold under long-session JVM pressure (4.4 s fresh vs
    10-30 s late-session at 10×, SCALE.md r7). Here each distinct
    shingle is hashed once per salt per Arrow batch — a per-batch
    digest cache (the bpe.py word-cache discipline) collapses the
    massive cross-doc shingle overlap that near-dup corpora have by
    construction.

    Why the input is TEXT rather than a shingle-array column: a Python
    UDF whose argument embeds a higher-order function cannot be
    extracted into an ArrowEvalPython node (the pre-projection would
    have to carry the HOF's NamedLambdaVariables — Spark fails with
    "Cannot generate code for expression: sig(...)" once
    CollapseProject merges ``shingles()`` into the UDF call), so the
    kernel tokenizes internally with ``functions.text.word_ngrams``,
    whose parity with the JVM tokenizer is exact on every fixture and
    replica; distinctness is a no-op under min. hashlib.md5 over UTF-8
    bytes matches JVM/DuckDB md5 bytes exactly; hex digests are
    fixed-width lowercase so Python ``<`` equals the engines'
    lexicographic string min.

    Null parity with the expression variant: NULL/short texts yield
    per-slot NULLs (``array_min`` of an empty array), not a NULL
    array, so ``sig[0] IS NOT NULL`` filters behave identically.

    Marked non-deterministic so such a filter on a slot is never
    pushed below the projection that calls the kernel, which would
    evaluate it a second time (SCALE.md, "UDF-fed joins")."""
    import hashlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    salts = [f"{i}|".encode() for i in range(n_hashes)]

    @pandas_udf(ArrayType(StringType()))
    def sig(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for t in texts:
            grams = set(word_ngrams(t, n)) if t is not None else set()
            if not grams:
                out.append([None] * n_hashes)
                continue
            mins: list[str] | None = None
            for g in grams:
                d = cache.get(g)
                if d is None:
                    gb = g.encode("utf-8")
                    d = [hashlib.md5(salt + gb).hexdigest() for salt in salts]
                    cache[g] = d
                if mins is None:
                    mins = list(d)
                else:
                    for j in range(n_hashes):
                        if d[j] < mins[j]:
                            mins[j] = d[j]
            out.append(mins)
        return pd.Series(out, dtype=object)

    return sig.asNondeterministic()


def md5_signatures(
    df: DataFrame,
    n_hashes: int,
    carry: tuple[str, ...] = (),
    drop_short: bool = True,
) -> DataFrame:
    """``(doc_id, *carry, mh_0 … mh_{n-1})``: the md5 MinHash signature
    of ``df.text`` as one column per slot, from ONE Arrow kernel pass
    (``minhash_md5_slots``). ``carry`` names extra columns that ride
    along (the verify stages keep ``text``).

    Texts with fewer than 3 tokens have no shingles and give NULL
    slots; ``drop_short`` (the default) drops them with
    ``mh_0 IS NOT NULL``. The kernel is non-deterministic to the
    optimizer, so that filter stays above it: pushed down, it would
    call the kernel once in the filter and again in the projection."""
    mh = minhash_md5_slots(n_hashes)
    sig = df.select("doc_id", *carry, mh(F.col("text")).alias("__mh")).select(
        "doc_id",
        *carry,
        *[F.col("__mh").getItem(i).alias(f"mh_{i}") for i in range(n_hashes)],
    )
    return sig.filter(F.col("mh_0").isNotNull()) if drop_short else sig


def md5_band_rows(sig: DataFrame, n_bands: int) -> DataFrame:
    """``(doc_id, band, bucket)``: ``n_bands`` bands of 2 rows, band
    ``b``'s bucket key being ``mh_{2b} || mh_{2b+1}`` — the oracle's
    ``registry_ext48._BANDS_UNION`` layout."""
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat(F.col(f"mh_{2 * b}"), F.col(f"mh_{2 * b + 1}"))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def bucket_ranked(bands: DataFrame) -> DataFrame:
    """Band rows plus ``drk`` (doc rank by ``doc_id`` within its
    (band, bucket)) and ``k`` (the bucket's size): two windows over ONE
    (band, bucket) exchange of skinny band rows — the pair stream never
    feeds a window. Oracle twin: ``registry_ext65._BK_CTE``."""
    wb = Window.partitionBy("band", "bucket")
    return bands.select(
        "doc_id",
        "band",
        "bucket",
        F.row_number().over(wb.orderBy("doc_id")).alias("drk"),
        F.count("*").over(wb).alias("k"),
    )


def jaccard3_bp(n: int = 3):
    """Scalar Arrow kernel: exact word ``n``-gram Jaccard of two TEXT
    columns in basis points (``|A∩B| * 10000 div |A∪B|``, trunc
    division) — the verify stage of the LSH dedup/calibration
    pipelines, value-identical to the DuckDB oracle's
    ``list_intersect(list_distinct(...))`` arithmetic (distinct-gram
    SETS on both engines; tokenization parity as documented on
    ``minhash_md5_slots``).

    Why a kernel: the JVM form joins fat shingle ARRAYS onto every
    candidate pair and pays an interpreted ``array_intersect`` per
    pair — at 100× that was the single largest term in the two ext65
    queries (VERDICT r7 #1). Here only the two text columns ride the
    verify join, a per-batch frozenset cache tokenizes each distinct
    text once (template-heavy corpora repeat texts across pairs by
    construction), and the intersection is a C-speed set op. Measured
    at the 100× replica: 1.1M pair verifies ≈ 2-3 s of kernel time.

    NULL/short texts yield NULL (never hit by the LSH call sites —
    banding already filtered docs with < n tokens)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def jac(ta: pd.Series, tb: pd.Series) -> pd.Series:
        cache: dict[str, frozenset] = {}

        def grams(s):
            g = cache.get(s)
            if g is None:
                g = cache[s] = frozenset(word_ngrams(s, n))
            return g

        out = []
        for a, b in zip(ta, tb):
            if a is None or b is None:
                out.append(None)
                continue
            ga, gb = grams(a), grams(b)
            inter = len(ga & gb)
            un = len(ga) + len(gb) - inter
            out.append(inter * 10000 // un if un else None)
        return pd.Series(out, dtype="Int64")

    return jac


def minhash_bands(df: DataFrame, n_hashes: int = 32, n_bands: int = 16):
    """(doc, hashed-shingles) → (doc, band, bucket) rows via ONE
    mapInPandas crossing: the minhash mins AND the band fan-out happen
    in numpy — no Generate node, so no Python-UDF-inside-generator
    restriction, and the n_bands-way row expansion costs one Arrow
    batch instead of an explode over a UDF column. Expects columns
    ``doc`` and ``__hs`` (array<bigint>)."""
    import numpy as np
    from typing import Iterator

    seeds = np.arange(1, n_hashes + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    c1, c2 = np.uint64(0xBF58476D1CE4E5B9), np.uint64(0x94D049BB133111EB)
    rows_per_band = n_hashes // n_bands

    def mix(m):
        m = (m ^ (m >> np.uint64(30))) * c1
        m = (m ^ (m >> np.uint64(27))) * c2
        return m ^ (m >> np.uint64(31))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            docs, bands, buckets = [], [], []
            for doc, arr in zip(pdf["doc"], pdf["__hs"]):
                if arr is None or len(arr) == 0:
                    mins = np.zeros(n_hashes, dtype=np.uint64)  # empty docs all collide
                else:
                    h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
                    mins = mix(h[None, :] ^ seeds[:, None]).min(axis=1)
                # fold each band's row-mins into one bucket hash
                bk = mins.reshape(n_bands, rows_per_band)
                acc = np.full(n_bands, np.uint64(0x9E3779B97F4A7C15), dtype=np.uint64)
                for r in range(rows_per_band):
                    acc = mix(acc ^ bk[:, r])
                docs.extend([doc] * n_bands)
                bands.extend(range(n_bands))
                buckets.extend(acc.astype(np.int64))
            yield pd.DataFrame({"doc": docs, "band": bands, "bucket": buckets})

    return df.mapInPandas(run, "doc long, band int, bucket long")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 32,
    n_bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) whose minhash signatures
    collide in ≥1 band (default 16 bands × 2 rows: P(collision) ≈
    1-(1-J²)¹⁶ — >0.99 at J≥0.55; false positives are cheap because the
    Jaccard re-rank stage filters them). Plan: project signature → explode bands →
    self-equi-join on (band, bucket-hash) → distinct pairs. The join key
    is a hash bucket, so this scales as a normal shuffle join; no cross
    product exists anywhere in the plan."""
    hashed = (
        # min_partitions=8: the signature stage is a pandas UDF — each
        # partition pins a Python worker (see similarity.lsh_topk_join);
        # no-op on properly-partitioned inputs at scale.
        spread(df, min_partitions=8)
        .select(F.col(id_col).alias("doc"), shingles(F.col(text_col), shingle_n).alias("__sh"))
        .select("doc", hashed_shingles(F.col("__sh")).alias("__hs"))
    )
    # the banded frame is consumed by BOTH sides of the self-join;
    # without materialization the compiled plan duplicates the whole
    # shingle+minhash mapInPandas subtree (signatures computed twice —
    # r12 scan census). Checkpointing the skinny (doc, band, bucket)
    # rows runs the kernel once; blocks are released by the bench /
    # driver per-query hygiene (guide §2.4/§5).
    banded = minhash_bands(hashed, n_hashes, n_bands).localCheckpoint(eager=False)
    # the merge-hinted self-join is shared with registry_ext48
    return banded_self_join_pairs(banded, id_col="doc")


def simhash64(col: Column, n: int = 3) -> Column:
    """64-bit SimHash over word n-gram shingles, returned as a 64-char
    bit-string: one pass over the shingle hashes with an array-of-votes
    accumulator (zip_with inside aggregate — still pure column math),
    then sign of each vote becomes the bit. Hamming distance between two
    signatures = differing chars; near-dups share long prefixes, so a
    sort/groupBy on (rotated) signatures finds them without pair joins."""
    sh = shingles(col, n)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))
    votes = F.aggregate(
        hashes,
        F.array(*[F.lit(0) for _ in range(64)]),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
                    for b in range(64)
                ]
            ),
            lambda a, v: a + v,
        ),
    )
    return F.array_join(F.transform(votes, lambda v: F.when(v >= 0, F.lit("1")).otherwise(F.lit("0"))), "")


def _co_shingle_counts(
    df: DataFrame, text_col: str, id_col: str, block_col: str, shingle_n: int
) -> DataFrame:
    """Co-blocked pairs sharing at least one word shingle, as
    ``(id_a, id_b, na, nb, inter)`` with ``id_a < id_b``: each side's
    distinct shingle count and the size of their intersection.

    Inverted-index design: explode shingles into postings, self-join on
    (block, shingle) — a pair appears once per SHARED shingle, so |A∩B|
    is a plain count. Candidates must share ≥1 shingle, which any
    caller threshold > 0 implies — exact, not approximate. The round-1
    all-pairs block cross-join went quadratic in block size (10× docs →
    100× pairs, each paying an array_intersect); this shuffles postings
    on (block, shingle) instead, and only genuinely-overlapping pairs
    reach the aggregate. Hot-shingle skew is bounded by within-block
    n-gram frequency (AQE skew-join splits the rest).

    Each posting carries its document's TOTAL shingle count ``n``, so
    the callers' |A∪B| and min(|A|, |B|) fall out of the same aggregate
    — no separate sizes table, no post-join enrichment: the shingler (a
    pandas UDF, the expensive projection here) appears exactly twice in
    the plan (the two join inputs), and those are byte-identical
    subplans that AQE collapses into one ReusedExchange — one Python
    pass over the corpus total, versus three (a-side, b-side, sizes)
    before."""
    # asNondeterministic: CollapseProject would otherwise inline the
    # UDF column into BOTH consumers (size() and the explode generator),
    # planning TWO ArrowEvalPython nodes per join side — the shingler
    # ran 4× per query. Non-deterministic expressions are never
    # duplicated, so each side evaluates it exactly once.
    sh_udf = word_shingles_np(shingle_n, split=r"\s+").asNondeterministic()
    tok = (
        spread(df)
        .select(
            F.col(block_col).alias("block"),
            F.col(id_col).alias("doc"),
            sh_udf(F.col(text_col)).alias("__sh"),
        )
        .select(
            "block",
            "doc",
            F.size(F.col("__sh")).alias("n"),
            F.explode(F.col("__sh")).alias("s"),
        )
    )
    a, b = tok.alias("a"), tok.alias("b")
    # hint("merge"): the planner sizes this join from the pre-UDF scan
    # estimate (documents.parquet is small on disk) and would BROADCAST
    # a side that explodes to |docs|·|shingles| postings — measured a
    # 395 MB broadcast at the 10× smoke, an executor OOM at any real
    # scale. Posting-table self-joins must always shuffle.
    return (
        a.hint("merge").join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard similarity on co-blocked pairs (id_a < id_b):
    J = |A∩B| / |A∪B| over word-shingle sets. ``block_col`` bounds the
    pair space (at 100 TB the block key is the LSH bucket from
    ``minhash_lsh_candidates``; here any low-cardinality column works).

    ``threshold`` must be > 0: pairs sharing zero shingles are never
    emitted (they carry no dedup signal, and enumerating them is the
    quadratic all-pairs join this operator exists to avoid).
    """
    if threshold <= 0:
        raise ValueError("jaccard_pairs requires threshold > 0 (J=0 pairs are not enumerated)")
    return (
        _co_shingle_counts(df, text_col, id_col, block_col, shingle_n)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_novel(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental ingestion dedup: rows of ``batch`` with no exact and
    no near duplicate in ``corpus``. Exact = anti-join on normalized
    content md5 (uniform digest key, broadcastable when the batch's
    hash set is small). Near = blocked Jaccard join batch x corpus —
    cost O(batch x block-bucket), independent of archive size; at scale
    ``block_col`` is the MinHash-LSH bucket. Returns the surviving
    batch rows with their original columns."""
    b = batch.withColumn("_chash", content_md5(F.col(text_col)))
    c_hashes = corpus.select(content_md5(F.col(text_col)).alias("_chash")).distinct()
    # consumed twice (shingle branch + final anti-join): materialize
    # the exact-stage survivors once (r12, guide §2.4) — the batch is
    # the small side of incremental ingestion by construction, and the
    # unmaterialized plan re-ran the batch scan + archive-hash
    # anti-join per consumer (scan census: 5 scans in the registry
    # query; 3 after).
    exact_novel = b.join(c_hashes, "_chash", "left_anti").localCheckpoint(
        eager=False
    )

    b_sh = exact_novel.select(
        F.col(id_col).alias("_bid"),
        F.col(block_col).alias("_bblock"),
        shingles(F.col(text_col), shingle_n).alias("_bsh"),
    )
    c_sh = corpus.select(
        F.col(block_col).alias("_cblock"),
        shingles(F.col(text_col), shingle_n).alias("_csh"),
    )
    inter = F.size(F.array_intersect(F.col("_bsh"), F.col("_csh")))
    union = F.size(F.col("_bsh")) + F.size(F.col("_csh")) - inter
    near_ids = (
        b_sh.join(c_sh, F.col("_bblock") == F.col("_cblock"))
        .filter(inter.cast("double") / union >= threshold)
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    return exact_novel.join(near_ids, id_col, "left_anti").drop("_chash")


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Asymmetric near-dup detection: containment
    C = |A∩B| / min(|A|, |B|) over word-shingle sets — the measure that
    catches a SHORT document embedded in a LONG one (quotes, excerpts,
    concatenated dumps), which Jaccard structurally misses: a 50-shingle
    doc fully inside a 1000-shingle doc has J ≈ 0.05 but C = 1.0.
    Same inverted-index posting join as ``jaccard_pairs``
    (``_co_shingle_counts``; identical scale properties), plus the
    containment DIRECTION: ``contained_id`` is the smaller side, ties
    to the lower id."""
    if threshold <= 0:
        raise ValueError("containment_pairs requires threshold > 0")
    counted = _co_shingle_counts(df, text_col, id_col, block_col, shingle_n)
    return counted.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter").cast("double") / F.least("na", "nb"), 6
        ).alias("containment"),
        F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("contained_id"),
    ).filter(F.col("containment") >= threshold)
