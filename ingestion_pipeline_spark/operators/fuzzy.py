"""Fuzzy string matching at scale — deletion-neighborhood (FastSS /
SymSpell) candidate generation + exact edit-distance verify.

The reference pipeline keys everything on exact CVE ids; real ingest
also has to reconcile *dirty* identifiers (OCR'd names, typo'd vendor
strings, near-identical product labels). The naive answer is an
all-pairs ``levenshtein`` cross-join — O(n²) comparisons, a
non-starter at any scale. The scalable shape is the FastSS trick:

    lev(s, t) <= 1  ⇒  N(s) ∩ N(t) ≠ ∅
    where N(x) = {x} ∪ { x with one character deleted }

so an *equi-join* on the deletion-neighborhood key produces a
candidate superset (the implication is one-way: shared deletions can
also arise from lev-2 transpositions like "ab"/"ba"), and a single
exact ``levenshtein`` evaluation per candidate keeps only true
matches. Cost model at 100 TB: |corpus| × (len+1) posting rows, one
shuffle on the posting key, candidate volume ∝ Σ bucket² over tiny
buckets — the same envelope as MinHash-LSH banding (operators/
dedup.py), never a cross product.

Spark-first notes: the neighborhood is pure column math
(``sequence`` × ``substring`` concat under ``transform`` — no Python
crossing), the posting self-join is hinted ``merge`` for the same
reason as the MinHash banding join (the optimizer sizes the build
side from the pre-explode scan and would broadcast a fan-out table,
see SCALE.md "UDF-fed joins"), and the verify is the built-in JVM
``levenshtein``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _neighborhood_expr(colname: str) -> Column:
    """``{s} ∪ { s minus character i }`` as an array<string> column —
    ``transform`` over ``sequence(1, length(s))`` doing pure substr
    concatenation: whole-stage-codegen string slicing, no UDF."""
    return F.expr(
        f"array_union(array({colname}), "
        f"transform(sequence(1, length({colname})), "
        f"i -> concat(substr({colname}, 1, i-1), substr({colname}, i+1))))"
    )


def fuzzy_self_join(
    df: DataFrame,
    key_col: str,
    str_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All pairs (a, b) with ``levenshtein(a.str, b.str) <= max_dist``
    and ``a.key < b.key`` — without the O(n²) cross product.

    Currently implements the ``max_dist=1`` neighborhood (one deletion
    level); higher distances chain deletions (FastSS generalizes, at
    (len choose d) postings per row).

    Output columns: ``a_key, a_str, b_key, b_str, dist``.
    """
    if max_dist != 1:
        raise NotImplementedError("deletion-neighborhood join implemented for max_dist=1")
    a, b = "a", "b"
    # rows feeds SIX plan branches (both posting sides via strs, both
    # key-expansion sides, both dup-pair sides); unmaterialized, the
    # compiled plan re-ran the source scan per branch (r12 scan census:
    # 6 scans of the input table in one query). Checkpoint the skinny
    # (key, str) projection once (guide §2.4).
    rows = df.select(
        F.col(key_col).alias("__key"), F.col(str_col).alias("__str")
    ).localCheckpoint(eager=False)

    # The neighborhood join runs over DISTINCT strings, never raw rows:
    # duplicate strings (dirty corpora are full of them) would multiply
    # every posting bucket by their copy count and the candidate volume
    # by its square — measured 50 s vs 6 s at the 10× smoke, whose
    # replica duplicates each name 10×. Key pairs are re-expanded
    # afterwards by plain output-proportional equi-joins on the string.
    # strs feeds both posting sides of the self-join — checkpointed so
    # the distinct aggregate runs once, not per side.
    strs = rows.select("__str").distinct().localCheckpoint(eager=False)
    # r13 (guide §2.3 "shuffle keys, not payloads"; VERDICT r12 #4):
    # the join key is xxhash64(variant), computed map-side, so the
    # ~len(str) variant STRINGS per row never cross the posting
    # exchange — each posting row shrinks from (str + variant) to
    # (str + 8 bytes). Value-identical: every lev<=1 pair of distinct
    # strings shares >=1 deletion variant (FastSS completeness for
    # d=1: a substitution pair shares the delete-at-i variant, an
    # insert/delete pair shares the shorter string itself), so hashing
    # cannot LOSE a true pair (equal variants => equal hashes); a hash
    # COLLISION only adds candidates, which the levenshtein filter
    # below prunes unless they are true lev<=1 pairs — and those are
    # already in the set — before the distinct dedupes.
    postings = strs.select(
        "__str", F.explode(_neighborhood_expr("__str")).alias("__variant")
    ).select("__str", F.xxhash64("__variant").alias("__vh"))
    right = postings.withColumnRenamed("__str", "__str_r")
    # merge hint: postings explode ~len× past the scan the optimizer
    # sizes the build side from — never broadcast a fan-out table.
    # verify BEFORE dedup: levenshtein is whole-stage-codegen and kills
    # ~80% of candidates (lev-2 pairs sharing one deletion variant), so
    # the distinct shuffles only true matches — measured 57 s -> 21 s at
    # the 10× smoke with the other order (distinct over 15 M candidates
    # vs over 3.3 M survivors)
    str_pairs = (
        postings.hint("merge")
        .join(right, "__vh")
        .filter(F.col("__str") < F.col("__str_r"))  # each unordered pair once
        .withColumn("dist", F.levenshtein("__str", "__str_r"))
        .filter(F.col("dist") <= max_dist)
        .select("__str", "__str_r", "dist")
        .distinct()
    )

    # cross-string expansion: all key combos of the two strings, oriented
    # so the smaller key (with ITS string) comes first
    left_keys = rows.withColumnRenamed("__key", "__k1")
    right_keys = rows.select(
        F.col("__key").alias("__k2"), F.col("__str").alias("__str_r")
    )
    cross = (
        str_pairs.join(left_keys, "__str")
        .join(right_keys, "__str_r")
        .select(
            F.least("__k1", "__k2").alias(f"{a}_key"),
            F.when(F.col("__k1") < F.col("__k2"), F.col("__str"))
            .otherwise(F.col("__str_r"))
            .alias(f"{a}_str"),
            F.greatest("__k1", "__k2").alias(f"{b}_key"),
            F.when(F.col("__k1") < F.col("__k2"), F.col("__str_r"))
            .otherwise(F.col("__str"))
            .alias(f"{b}_str"),
            "dist",
        )
        # equal keys = two copies of the same entity, never a pair
        .filter(F.col(f"{a}_key") < F.col(f"{b}_key"))
    )

    # same-string (dist 0) pairs: keyed self-join on the exact string —
    # streams through sort-merge, no collect_list state
    dup_right = rows.select(
        F.col("__key").alias("__key_r"), F.col("__str").alias("__str")
    )
    dups = (
        rows.join(dup_right, "__str")
        .filter(F.col("__key") < F.col("__key_r"))
        .select(
            F.col("__key").alias(f"{a}_key"),
            F.col("__str").alias(f"{a}_str"),
            F.col("__key_r").alias(f"{b}_key"),
            F.col("__str").alias(f"{b}_str"),
            F.lit(0).alias("dist"),
        )
    )
    return cross.union(dups)
