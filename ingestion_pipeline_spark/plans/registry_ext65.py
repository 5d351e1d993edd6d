"""Sixty-fifth registry tranche (round 7, the one allowed micro-tranche):
operational diagnostics for the two machines this engine leans on
hardest at 100 TB — the shuffle and the LSH estimator — plus the
dedup attrition report every corpus release ships with.

- ``dq_join_skew_profile`` — the pre-join shuffle diagnostic: per-key
  load profile of the canonical ``customer ⋈ orders`` key
  (``o_custkey``) — heavy-hitter top-10 with exact basis-point shares,
  plus key-count percentiles (p50/p99) and a max/avg skew factor, all
  in exact BIGINT arithmetic. This is the table that DECIDES whether a
  join needs salting (``operators/skew.py``) before it runs: skew
  factor ~100 → salt, ~1 → don't. Shape: ONE corpus shuffle
  (groupBy key), then everything else lives on the bounded
  count-histogram — percentiles come from a cumulative window over
  |distinct count values| rows, never a global sort of the keys.
- ``d_minhash_jaccard_calibration`` — the LSH estimator audited
  against its ground truth under the hot-bucket doc-cap discipline
  (``d_minhash_band_tuning``'s pattern): each (band, bucket)
  contributes pairs only among its ``_BUCKET_CAP`` lowest doc_ids, so
  the pair STREAM itself is bounded per bucket; for every sampled
  pair, the signature-slot Jaccard estimate (matching mins / 8, exact
  ×1250 basis points) next to the EXACT 3-gram Jaccard. Census
  columns keep the cap honest: n_bucket_slots (Σ C(k,2) over ALL
  buckets — the uncapped workload, join-free from the bucket
  histogram), n_hot_buckets, n_pairs_sampled. The exact Jaccard runs
  as an Arrow text kernel on the sampled pairs only (VERDICT r7 #1:
  the uncapped form verified 5.95M pairs at 100× — quadratic in
  template-family size, 4.3 → 38.4 s at 10×→100×).
- ``pipeline_dedup_cascade`` — per-stage attrition of the standard
  dedup cascade: exact (normalized-content md5 keep-min-id, the
  ``d_exact_dup_groups`` convention) then near-dup over the
  exact-stage survivors: drop any doc whose TOP-``_VERIFY_K``
  lower-id LSH candidates (ranked by shared-band count desc, id_a
  tie-break — the minhash-agreement signal the banding join yields
  for free) contain a qualifying partner (exact Jaccard ≥ 0.5). Not
  sequential greedy: a doc is dropped even when its qualifying
  partner is itself dropped, which under-counts survivors vs the
  keep-set cascade. Output is the 2-row docs_in/docs_out/removed
  table a corpus release report leads with, plus the
  over_budget_docs census (docs with more candidates than the verify
  budget). The per-doc budget bounds the exact-Jaccard bill at K
  verifies per doc at any corpus size (VERDICT r7 #1: the
  verify-every-candidate form was quadratic in template-family size,
  9.1 → 70.9 s at 10×→100×).

- ``pipeline_dedup_survivors`` (round 9) — the cascade's survivor ID
  set as a first-class oracle-gated query; shares the
  ``cascade_frames()`` plan with the attrition report and
  ``tools/build_post_dedup.py`` so the three can never drift.

Round 9 (VERDICT r8 #1): the cascade's candidate-pair ENUMERATION is
now hot-bucket-guarded — in (band, bucket)s over ``_ENUM_CAP`` docs,
members pair only against the bucket's min-id representative (k-1
pairs, not C(k,2)), censused in ``guarded_buckets``; the per-doc
verify budget's potential under-drop is censused in
``over_budget_undropped`` (ADVICE r8).

Reference provenance: all are beyond-reference training-data
surface (the reference dedups by primary key only, processor.py:55-59);
skew profiling and LSH calibration follow the standard literature
(Leskovec-Rajaraman-Ullman ch.3 for minhash estimator properties).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import collapse_ws_sql
from ..sources.parquet_tables import table
from .registry import _SHINGLES_SQL, _mh_sql, register
from .registry_ext6 import components_ctes
from .registry_ext48 import _BANDS_UNION, _N_BANDS, _N_HASHES

_PCTS = (50, 99)


@register(
    "dq_join_skew_profile",
    f"""
    WITH cnts AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY o_custkey
    ),
    hist AS (
        SELECT cnt, CAST(COUNT(*) AS BIGINT) AS freq FROM cnts GROUP BY cnt
    ),
    cum AS (
        SELECT cnt,
               CAST(SUM(freq) OVER (ORDER BY cnt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_keys,
               CAST(SUM(freq) OVER () AS BIGINT) AS n_keys,
               CAST(SUM(cnt * freq) OVER () AS BIGINT) AS total,
               CAST(MAX(cnt) OVER () AS BIGINT) AS max_cnt
        FROM hist
    ),
    pstats AS (
        SELECT
            {', '.join(
                f"CAST(MIN(CASE WHEN cum_keys >= "
                f"greatest(CAST(1 AS BIGINT), (n_keys * {p}) // 100) "
                f"THEN cnt END) AS BIGINT) AS p{p}_cnt"
                for p in _PCTS
            )},
            CAST(MAX(n_keys) AS BIGINT) AS n_keys,
            CAST(MAX(total) AS BIGINT) AS total,
            CAST(MAX(max_cnt) AS BIGINT) AS max_cnt
        FROM cum
    ),
    top10 AS (
        SELECT o_custkey, cnt,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, o_custkey)
                    AS BIGINT) AS rank
        FROM cnts
        ORDER BY cnt DESC, o_custkey LIMIT 10
    )
    SELECT t.o_custkey, t.cnt, t.rank,
           (t.cnt * 10000) // p.total AS share_bp,
           p.n_keys, p.p50_cnt, p.p99_cnt,
           (p.max_cnt * 100 * p.n_keys) // p.total AS skew_x100
    FROM top10 t CROSS JOIN pstats p
    """,
    "Join-key skew profile for the customer-orders join: heavy-hitter "
    "top-10 o_custkeys with exact basis-point load shares, key-count "
    "p50/p99, and the max/avg skew factor (x100) — the numbers that "
    "decide whether the join gets salted (operators/skew.py) before "
    "it runs at 100 TB. ONE corpus shuffle (groupBy key), checkpointed "
    "so both consumers (TakeOrdered heavy-hitter heap, count "
    "histogram) read it once; percentiles and totals all ride one "
    "cumulative window over |distinct count values| rows (never a "
    "global key sort). Every metric is exact BIGINT (trunc division "
    "both engines), so the value hash gates it.",
)
def dq_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE corpus scan + ONE key shuffle: the per-key count table feeds
    # both consumers (heavy-hitter heap, count histogram) through a
    # checkpoint — the g_vocab_overlap discipline; as plain lineage the
    # scan+shuffle re-executed per consumer (ReuseExchange misses the
    # renamed branches — verified on the first cut's plan).
    cnts = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    hist = cnts.groupBy("cnt").agg(F.count("*").alias("freq"))
    # totals ride the same bounded-histogram sort as the cumulative
    # counts (two frames over one ordering → one window exchange), so
    # no separate aggregate branch re-reads the corpus
    w_cum = Window.orderBy("cnt").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("cnt").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "cnt",
        F.sum("freq").over(w_cum).alias("cum_keys"),
        F.sum("freq").over(w_all).alias("n_keys"),
        F.sum(F.col("cnt") * F.col("freq")).over(w_all).alias("total"),
        F.max("cnt").over(w_all).alias("max_cnt"),
    )
    pstats = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum_keys")
                    >= F.greatest(
                        F.lit(1).cast("long"),
                        F.expr(f"(n_keys * {p}) div 100"),
                    ),
                    F.col("cnt"),
                )
            ).alias(f"p{p}_cnt")
            for p in _PCTS
        ],
        F.max("n_keys").alias("n_keys"),
        F.max("total").alias("total"),
        F.max("max_cnt").alias("max_cnt"),
    )
    top10 = (
        cnts.orderBy(F.desc("cnt"), "o_custkey")
        .limit(10)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "o_custkey"))
            .cast("long"),
        )
    )
    return top10.crossJoin(F.broadcast(pstats)).select(
        "o_custkey",
        "cnt",
        "rank",
        F.expr("(cnt * 10000) div total").alias("share_bp"),
        "n_keys",
        "p50_cnt",
        "p99_cnt",
        F.expr("(max_cnt * 100 * n_keys) div total").alias("skew_x100"),
    )


_CAL_MATCH = " + ".join(
    f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
    for i in range(_N_HASHES)
)

# Per-(band, bucket) DOC cap for the calibration audit — the
# d_minhash_band_tuning hot-bucket discipline (registry_ext64.py):
# each bucket contributes pairs only among its _BUCKET_CAP lowest
# doc_ids, hot buckets are censused (n_hot_buckets), and the join-free
# n_bucket_slots column (Σ C(k,2) over ALL buckets, computed from the
# bucket histogram alone) reports the EXACT uncapped pair workload the
# cap avoided — no silent truncation. The r7 per-bucket PAIR-rank
# budget bounded hot buckets but not the thin tail of 1-3-pair
# collision buckets, which at 100× carried 1.05M of the 5.95M pairs
# into the exact-Jaccard verify; capping DOCS caps the pair STREAM
# itself (the window runs over |band rows| = 4n, never over pairs).
_BUCKET_CAP = 24

# the oracle twin of ``operators.dedup.bucket_ranked``
_BK_CTE = """bk AS (
        SELECT doc_id, band, bucket,
               ROW_NUMBER() OVER (PARTITION BY band, bucket
                                  ORDER BY doc_id) AS drk,
               COUNT(*) OVER (PARTITION BY band, bucket) AS k
        FROM bands
    )"""


@register(
    "d_minhash_jaccard_calibration",
    f"""
    WITH sig AS (
        SELECT doc_id,
               {', '.join(_mh_sql(i) for i in range(_N_HASHES))},
               {_SHINGLES_SQL} AS sh
        FROM documents
    ),
    bands AS ({_BANDS_UNION}),
    {_BK_CTE},
    census AS (
        SELECT CAST(COALESCE(SUM(k * (k - 1) // 2), 0) AS BIGINT)
                   AS n_bucket_slots,
               CAST(COALESCE(SUM(CASE WHEN k > {_BUCKET_CAP}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_hot_buckets
        FROM bk WHERE drk = 1
    ),
    samp AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
             AND a.drk <= {_BUCKET_CAP} AND b.drk <= {_BUCKET_CAP}
    ),
    sc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_sampled FROM samp)
    SELECT s.id_a, s.id_b,
        CAST({_CAL_MATCH} AS BIGINT) AS match_slots,
        CAST(({_CAL_MATCH}) * 1250 AS BIGINT) AS est_bp,
        CAST(len(list_intersect(a.sh, b.sh)) * 10000 AS BIGINT)
            // CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                    AS BIGINT) AS jac_bp,
        c.n_bucket_slots, c.n_hot_buckets, sc.n_pairs_sampled
    FROM samp s
    JOIN sig a ON a.doc_id = s.id_a
    JOIN sig b ON b.doc_id = s.id_b
    CROSS JOIN census c CROSS JOIN sc
    """,
    "MinHash estimator calibration under the hot-bucket doc-cap "
    "discipline (the d_minhash_band_tuning pattern, VERDICT r7 #1): "
    f"each (band, bucket) contributes pairs only among its "
    f"{_BUCKET_CAP} lowest doc_ids, so the pair STREAM — not just the "
    "verify stage — is bounded per bucket; for every sampled pair the "
    "signature-slot Jaccard estimate (matching mins/8 as exact x1250 "
    "basis points) sits beside the EXACT 3-gram Jaccard (x10000 bp, "
    "trunc division), the proxy-vs-truth audit the near-dup pipeline "
    "needs at 100 TB. Census columns make the cap exact and visible: "
    "n_bucket_slots = sum-over-ALL-buckets C(k,2) (the join-free "
    "uncapped pair workload, computed from the bucket histogram "
    "alone) and n_hot_buckets = buckets over the cap; "
    "n_pairs_sampled = the rows actually audited. The banding "
    "self-join stays SKINNY (ids only), the doc-rank window rides "
    "|band rows| = 4n (never the pair stream), and the exact Jaccard "
    "runs as an Arrow text kernel (operators/dedup.py jaccard3_bp) on "
    "the sampled pairs — no shingle arrays are materialized or "
    "shuffled anywhere (the r7 uncapped form paid an interpreted "
    "array_intersect on 5.95M pairs at 100x: 38.4 s; this plan "
    "verifies the bounded sample only).",
)
def d_minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import bucket_ranked, jaccard3_bp, md5_band_rows, md5_signatures
    from ..operators.relational import spread

    docs = spread(table(spark, sf_dir, "documents"), min_partitions=8)

    # signatures are the stored artifact a 100 TB dedup pipeline
    # materializes anyway; text rides the same checkpoint so the verify
    # stage reads it column-pruned from the blocks instead of re-joining
    # the parquet (shingle ARRAYS are never materialized — the exact
    # Jaccard runs as a text kernel). All 8 md5 slots come from ONE
    # Arrow kernel pass straight off the text column (VERDICT r7 #3).
    sig = md5_signatures(docs, _N_HASHES, carry=("text",)).localCheckpoint(eager=False)
    bk = bucket_ranked(md5_band_rows(sig, _N_BANDS)).localCheckpoint(eager=False)
    census = bk.filter(F.col("drk") == 1).agg(
        F.coalesce(F.sum(F.expr("k * (k - 1) div 2")), F.lit(0))
        .cast("long")
        .alias("n_bucket_slots"),
        F.coalesce(
            F.sum(F.when(F.col("k") > _BUCKET_CAP, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_hot_buckets"),
    )
    kept = bk.filter(F.col("drk") <= _BUCKET_CAP).select(
        "doc_id", "band", "bucket"
    )
    left, right = kept.alias("l"), kept.alias("r")
    samp = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    sc = samp.agg(F.count("*").cast("long").alias("n_pairs_sampled"))
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("ta"),
        *[F.col(f"mh_{i}").alias(f"amh_{i}") for i in range(_N_HASHES)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("tb"),
        *[F.col(f"mh_{i}").alias(f"bmh_{i}") for i in range(_N_HASHES)],
    )
    match_slots = sum(
        F.when(F.col(f"amh_{i}") == F.col(f"bmh_{i}"), 1).otherwise(0)
        for i in range(_N_HASHES)
    )
    jac = jaccard3_bp()
    return (
        samp.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            match_slots.cast("long").alias("match_slots"),
            (match_slots * 1250).cast("long").alias("est_bp"),
            jac(F.col("ta"), F.col("tb")).alias("jac_bp"),
        )
        .crossJoin(F.broadcast(census))
        .crossJoin(F.broadcast(sc))
    )


_NEAR_BP = 5000  # exact-Jaccard qualify threshold for the near stage
# Per-doc verify budget for the near stage: each doc is tested against
# its _VERIFY_K most-promising lower-id candidates, ranked by shared
# LSH band count (descending — more colliding bands ⇒ higher minhash
# agreement ⇒ higher Jaccard, the signal the banding join produces for
# free) with id_a as the deterministic tie-break. Bounds the exact-
# Jaccard bill at K verifies per doc at ANY corpus size; docs with
# more candidates than the budget are censused in over_budget_docs.
#
# Round 10 (VERDICT r9 #1): raised 8 → 32 on a MEASUREMENT, not an
# argument. tools/audit_verify_budget.py exact-Jaccarded the full
# untested candidate tails of 5,000 sampled over-budget-undropped
# docs on the 100x replica: 70 had a qualifying partner hiding past
# the top-8 budget — miss-rate 1.40% (140 bp), above the ~1%
# materiality line — with every miss at rank 9-23 (p50 = 12,
# max = 23). K = 32 covers the measured worst rank with margin, and
# because the _ENUM_CAP guard bounds any doc's candidate list at
# <= 4 x (_ENUM_CAP - 1) + 4 = 96 by construction, the flat raise IS
# the stratum-only extension the verdict asked for: docs with <= 8
# candidates have no rows past their list and are byte-identically
# unaffected. Residual exposure past rank 32 stays censused
# (over_budget_docs / over_budget_undropped) and re-audited at the
# new budget (tools/scale_runs/r10_verify_budget_audit_k32.json).
_VERIFY_K = 32
# Hot-bucket guard on the candidate-pair ENUMERATION (VERDICT r8 #1):
# the per-doc verify budget bounds the expensive exact-Jaccard stage,
# but the banded self-join feeding it enumerated Σ C(k,2) skinny pairs
# per (band, bucket) — one 10⁵-doc boilerplate bucket at true 100 TB
# is 5×10⁹ pairs before any budget applies. In buckets with
# k > _ENUM_CAP docs, only the bucket's MIN doc_id stays on the left
# side of the self-join, so the bucket contributes k-1 pairs (every
# non-min member against the family representative — a k-doc bucket
# colliding on a full band is a dup family by construction, and the
# exact-stage keep-min-id convention makes the min the canonical
# partner) instead of C(k,2); small buckets enumerate exactly as
# before. Guarded buckets are censused in guarded_buckets — the cap is
# never silent. Same threshold as the calibration's audit doc-cap.
_ENUM_CAP = 24


def cascade_frames(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The dedup-cascade survivor plan, shared by the attrition report
    (``pipeline_dedup_cascade``), the survivor materialization
    (``pipeline_dedup_survivors``) and the post-dedup replica builder
    (``tools/build_post_dedup.py``) so the three can never drift.

    Keys returned (all lazy DataFrames; ``s1``/``sig``/``bk``/``ranked``/
    ``edges`` are checkpointed because they feed multiple consumers):

    - ``docs``      full documents rows
    - ``s1``        exact-stage survivor doc_ids as a 1-column frame
                    (keep-min-id per normalized-content md5) — also
                    the node set the capped cluster/leakage queries
                    component over
    - ``ranked``    near-stage candidate pairs (id_a, id_b, nb, rk)
                    after the hot-bucket enumeration guard
    - ``guarded``   1-row census: n_guarded_buckets (buckets whose
                    enumeration the _ENUM_CAP guard bounded)
    - ``ob``        1-row census: n_over (docs holding more candidates
                    than the _VERIFY_K verify budget)
    - ``excluded``  1-row census: excluded_pairs (candidate pairs past
                    the verify budget — never verified, never edges)
    - ``edges``     VERIFIED near-dup pairs (id_a, id_b): in-budget
                    candidates whose exact 3-gram Jaccard qualifies —
                    the edge list the capped cluster query
                    (``d_dup_clusters_capped``) components over
    - ``drops``     near-stage dropped doc ids (= distinct id_b of
                    ``edges`` — derived, so drop and edge semantics
                    can never drift)
    - ``obu``       1-row census: n_over_undropped (over-budget docs
                    NOT dropped — the potential under-drop exposure:
                    their candidate list was truncated and nothing in
                    the top-K qualified, so a qualifying partner could
                    hide in the untested tail; ADVICE r8)
    - ``survivors`` full documents rows surviving both stages

    Release (ADVICE r9): the checkpoint blocks stay until the session
    drops them — registry loops release them through
    ``plans.run_each``, and any other caller running several cascade
    consumers in ONE session (each call checkpoints its own copies,
    including the text-bearing ``sig``) must call
    ``plans.release_caches`` between calls or the duplicate blocks
    accumulate.
    """
    from ..functions.text import content_md5
    from ..operators.dedup import bucket_ranked, jaccard3_bp, md5_band_rows, md5_signatures
    from ..operators.relational import spread

    docs = table(spark, sf_dir, "documents")
    norm = content_md5(F.col("text"))
    # exact-stage keep-min-id stays the groupBy + join-back shape ON
    # MEASUREMENT (r12, guide §1): a min()-over-window rewrite (one
    # scan, one exchange on paper) shuffles and sorts the FULL text
    # rows by the content hash, where this shape shuffles only skinny
    # (hash, min_id) pairs through a map-side partial aggregate and
    # then semi-joins the ids back (broadcast at bench SF; at scale the
    # join shuffles text ONCE by doc_id — no worse than the window's
    # one text exchange, guide §8 "decide with small rows"). A/B
    # best-of-5 at sf0.1: window form regressed pipeline_dedup_survivors
    # 1.19 -> 4.76 s and d_split_leakage_capped 2.30 -> 4.00 s; this
    # form restored them. ``d1`` is defined once and reused by the
    # signature stage AND ``survivors`` (one expression, no drift).
    # r12: s1 is the skinny survivor-id frame (consumers use only the
    # ids / their count — the __h group key never leaves this function)
    # and it feeds sig, survivors AND the returned s1 key;
    # unmaterialized, every consumer re-ran the full-text norm-md5
    # aggregate (scan census: 5+ documents scans per capped query).
    # the node set of the capped cluster queries IS s1: min(doc_id)
    # per group is an existing doc_id and docs is unique by doc_id, so
    # docs⋈s1 selects exactly s1's ids — a former docs join was a full
    # extra scan for an identical id set.
    s1 = (
        docs.groupBy(norm.alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    d1 = docs.join(s1, "doc_id")

    # signatures via ONE Arrow kernel pass off the text column
    # (VERDICT r7 #3); text rides the same checkpoint so the verify
    # stage reads it column-pruned from the blocks — no shingle arrays
    sig = md5_signatures(
        spread(d1.select("doc_id", "text"), min_partitions=8),
        _N_HASHES,
        carry=("text",),
    ).localCheckpoint(eager=False)
    # per-bucket doc rank + bucket size, checkpointed because the
    # guarded left side, the unguarded right side and the guard census
    # all read it
    bk = bucket_ranked(md5_band_rows(sig, _N_BANDS)).localCheckpoint(eager=False)
    guarded = bk.filter(F.col("drk") == 1).agg(
        F.coalesce(
            F.sum(F.when(F.col("k") > _ENUM_CAP, 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_guarded_buckets")
    )
    # hot-bucket guard: the LEFT side keeps only the bucket minimum in
    # guarded buckets, so per-bucket enumeration is C(k,2) for
    # k <= _ENUM_CAP and k-1 above — the pair stream is source-bounded
    left = (
        bk.filter((F.col("k") <= _ENUM_CAP) | (F.col("drk") == 1))
        .select("doc_id", "band", "bucket")
        .alias("l")
    )
    right = bk.select("doc_id", "band", "bucket").alias("r")
    # skinny candidate pairs with their shared-band count: the SAME
    # groupBy that dedupes multi-band collisions yields nb, the
    # ranking signal — no signature re-join, no extra shuffle
    pnb = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("nb"))
    )
    ranked = pnb.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("id_b").orderBy(F.desc("nb"), "id_a")
        ),
    ).localCheckpoint(eager=False)
    ob = ranked.filter(F.col("rk") == _VERIFY_K + 1).agg(
        F.count("*").cast("long").alias("n_over")
    )
    # budget-cap census: candidate PAIRS past the verify budget (never
    # verified, so never edges) — both capped production queries ride
    # this one definition as a 1-row broadcast
    excluded = ranked.filter(F.col("rk") > _VERIFY_K).agg(
        F.count("*").cast("long").alias("excluded_pairs")
    )
    jac = jaccard3_bp()
    # verified near-dup EDGES: in-budget candidates whose exact Jaccard
    # qualifies — the drop rule AND the capped cluster graph both read
    # this one definition
    # r12: checkpointed — edges feeds drops, obu, survivors and the
    # cluster/leakage/graph consumers; unmaterialized each one re-ran
    # BOTH text joins and the Arrow 3-gram-Jaccard kernel over every
    # in-budget candidate pair (the most expensive stage of the
    # cascade, guide §4/§2.4). The kept rows are the skinny verified
    # (id_a, id_b) pairs.
    edges = (
        ranked.filter(F.col("rk") <= _VERIFY_K)
        .join(
            sig.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta")),
            "id_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb")),
            "id_b",
        )
        .filter(jac(F.col("ta"), F.col("tb")) >= _NEAR_BP)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    drops = edges.select(F.col("id_b").alias("doc_id")).distinct()
    # under-drop exposure census: over-budget docs that were NOT
    # dropped (rename both sides — same-lineage join keys can collapse
    # to one attribute and silently drop the condition otherwise)
    obu = (
        ranked.filter(F.col("rk") == _VERIFY_K + 1)
        .select(F.col("id_b").alias("ob_id"))
        .join(
            drops.select(F.col("doc_id").alias("dr_id")),
            F.col("ob_id") == F.col("dr_id"),
            "left_anti",
        )
        .agg(F.count("*").cast("long").alias("n_over_undropped"))
    )
    # survivors = exact-stage survivors minus near-dup drops; d1 IS
    # docs⋈s1, so reusing it saves another full-docs scan + join (r12)
    survivors = d1.join(drops, "doc_id", "left_anti")
    return {
        "docs": docs,
        "s1": s1,
        "sig": sig,
        "bk": bk,
        "ranked": ranked,
        "guarded": guarded,
        "ob": ob,
        "excluded": excluded,
        "edges": edges,
        "drops": drops,
        "obu": obu,
        "survivors": survivors,
    }


# shared oracle CTE block: exact stage + signatures + guarded banded
# enumeration + per-doc budget rank + verified drops — the cascade
# semantics both dedup queries (attrition report, survivor set) gate on
_CASCADE_SQL_CTES = f"""
    s1 AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY md5({collapse_ws_sql("trim(lower(text))")})
    ),
    d1 AS (SELECT d.* FROM documents d JOIN s1 USING (doc_id)),
    sig AS (
        SELECT doc_id, {', '.join(_mh_sql(i) for i in range(_N_HASHES))},
               {_SHINGLES_SQL} AS sh
        FROM d1
    ),
    bands AS ({_BANDS_UNION}),
    {_BK_CTE},
    gb AS (
        SELECT CAST(COALESCE(SUM(CASE WHEN k > {_ENUM_CAP}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_guarded
        FROM bk WHERE drk = 1
    ),
    pnb AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS nb
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE a.k <= {_ENUM_CAP} OR a.drk = 1
        GROUP BY a.doc_id, b.doc_id
    ),
    rk AS (
        SELECT id_a, id_b,
               ROW_NUMBER() OVER (PARTITION BY id_b
                                  ORDER BY nb DESC, id_a) AS rk
        FROM pnb
    ),
    ob AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_over FROM rk
        WHERE rk = {_VERIFY_K} + 1
    ),
    drops AS (
        SELECT DISTINCT r.id_b AS doc_id
        FROM rk r
        JOIN sig a ON a.doc_id = r.id_a
        JOIN sig b ON b.doc_id = r.id_b
        WHERE r.rk <= {_VERIFY_K}
          AND CAST(len(list_intersect(a.sh, b.sh)) * 10000 AS BIGINT)
              // CAST(len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)) AS BIGINT)
              >= {_NEAR_BP}
    ),
    obu AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_over_undropped
        FROM rk r
        WHERE r.rk = {_VERIFY_K} + 1
          AND r.id_b NOT IN (SELECT doc_id FROM drops)
    )
"""


@register(
    "pipeline_dedup_cascade",
    f"""
    WITH {_CASCADE_SQL_CTES},
    n AS (
        SELECT CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n0,
               CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n1,
               CAST((SELECT COUNT(*) FROM drops) AS BIGINT) AS nd,
               (SELECT n_over FROM ob) AS n_over,
               (SELECT n_guarded FROM gb) AS n_guarded,
               (SELECT n_over_undropped FROM obu) AS n_obu
    )
    SELECT 'exact' AS stage, n0 AS docs_in, n1 AS docs_out,
           n0 - n1 AS removed, CAST(0 AS BIGINT) AS over_budget_docs,
           CAST(0 AS BIGINT) AS guarded_buckets,
           CAST(0 AS BIGINT) AS over_budget_undropped FROM n
    UNION ALL
    SELECT 'near_dup' AS stage, n1 AS docs_in, n1 - nd AS docs_out,
           nd AS removed, n_over AS over_budget_docs,
           n_guarded AS guarded_buckets,
           n_obu AS over_budget_undropped FROM n
    """,
    "Dedup-cascade attrition report: stage 1 removes exact dups "
    "(normalized-content md5, keep-min-id — the d_exact_dup_groups "
    "convention); stage 2 removes near-dups among the survivors: drop "
    "any doc whose TOP-" f"{_VERIFY_K}" " lower-id LSH candidates — "
    "ranked by shared-band count (desc, id_a tie-break), the minhash-"
    "agreement signal the banding join produces for free — contain a "
    "qualifying partner (exact 3-gram Jaccard >= 0.5). (Not "
    "sequential greedy: a doc is dropped even when its qualifying "
    "partner was itself dropped, so docs_out under-counts survivors "
    "vs the keep-set cascade; the per-doc budget can also under-drop "
    "when a qualifying partner hides past the top-K — deterministic "
    "and SQL-expressible either way, with BOTH approximation "
    "directions censused.) Output is the 2-row docs_in/docs_out/"
    "removed table a corpus release leads with, plus three census "
    "columns that keep every cap honest: over_budget_docs (docs "
    "holding more candidates than the verify budget), guarded_buckets "
    "(hot (band,bucket)s whose pair ENUMERATION the _ENUM_CAP guard "
    "bounded — VERDICT r8 #1: in buckets over " f"{_ENUM_CAP}" " docs "
    "each member pairs only against the bucket's min-id family "
    "representative, k-1 pairs instead of C(k,2), so one 1e5-doc "
    "boilerplate bucket at 100 TB costs 1e5 pairs, not 5e9), and "
    "over_budget_undropped (over-budget docs NOT dropped — the exact "
    "potential under-drop exposure, ADVICE r8). The per-doc budget "
    "bounds the exact-Jaccard bill at <= K verifies per doc, pairs "
    "stay skinny through the banded join (the rank signal is the SAME "
    "groupBy that dedupes band collisions), and the verify stage "
    "reads two TEXT columns and runs the Arrow Jaccard kernel "
    "(operators/dedup.py jaccard3_bp) — no shingle arrays are "
    "materialized or shuffled. Shared plan: cascade_frames() — also "
    "the semantics pipeline_dedup_survivors and "
    "tools/build_post_dedup.py materialize.",
)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = cascade_frames(spark, sf_dir)
    n0 = fr["docs"].agg(F.count("*").alias("n0"))
    n1 = fr["s1"].agg(F.count("*").alias("n1"))
    nd = fr["drops"].agg(F.count("*").cast("long").alias("nd"))
    row = (
        n0.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(fr["ob"]))
        .crossJoin(F.broadcast(fr["guarded"]))
        .crossJoin(F.broadcast(fr["obu"]))
    )
    return row.selectExpr(
        "stack(2, "
        "'exact', n0, n1, n0 - n1, CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(0 AS BIGINT), "
        "'near_dup', n1, n1 - nd, nd, n_over, n_guarded_buckets, "
        "n_over_undropped) "
        "AS (stage, docs_in, docs_out, removed, over_budget_docs, "
        "guarded_buckets, over_budget_undropped)"
    )


@register(
    "pipeline_dedup_survivors",
    f"""
    WITH {_CASCADE_SQL_CTES}
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    JOIN s1 USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    "The dedup cascade's SURVIVOR SET as a first-class oracle-gated "
    "query (VERDICT r8 #5): the doc ids (with source and n_chars for "
    "release accounting) that pass both stages of "
    "pipeline_dedup_cascade — exact keep-min-id, then the budgeted, "
    "hot-bucket-guarded near-dup drop. This is the corpus every "
    "downstream release measurement runs on: "
    "tools/build_post_dedup.py materializes exactly this set (pinned "
    "by tests/test_post_dedup_tool.py), and the graph-diagnostic "
    "family (g_triangle_counts, d_*pagerank*, d_lpa_communities) "
    "deploys against it at scale — the r8 post-dedup measurement took "
    "g_triangle_counts from 503.7 s to 2.8 s at 100x by removing the "
    "dup-family cliques at the source. Built from the SAME "
    "cascade_frames() plan as the attrition report (one shared "
    "definition, zero drift): one Arrow signature pass, one "
    "(band,bucket) window exchange, the guarded skinny self-join, "
    "<= " f"{_VERIFY_K}" " Arrow-kernel Jaccard verifies per doc, then "
    "one broadcast-able id semi-join + anti-join back to documents.",
)
def pipeline_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = cascade_frames(spark, sf_dir)
    return fr["survivors"].select("doc_id", "source", "n_chars")


# shared oracle CTE pieces: the VERIFIED edge rule (``ed``) and the
# past-budget census (``exc``) are standalone constants so the capped
# graph-diagnostic tranche (registry_ext66: triangle census) can gate
# on the byte-identical edge definition without dragging in the
# recursive component closure it doesn't need.
_ED_CTE = f"""ed AS (
        SELECT r.id_a, r.id_b
        FROM rk r
        JOIN sig a ON a.doc_id = r.id_a
        JOIN sig b ON b.doc_id = r.id_b
        WHERE r.rk <= {_VERIFY_K}
          AND CAST(len(list_intersect(a.sh, b.sh)) * 10000 AS BIGINT)
              // CAST(len(a.sh) + len(b.sh)
                      - len(list_intersect(a.sh, b.sh)) AS BIGINT)
              >= {_NEAR_BP}
    )"""

_EXC_CTE = f"""exc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS excluded_pairs FROM rk
        WHERE rk > {_VERIFY_K}
    )"""

# shared oracle CTE block #2: verified edges -> recursive transitive
# closure -> min-label components -> past-budget census. Appended after
# _CASCADE_SQL_CTES by BOTH capped production queries
# (d_dup_clusters_capped, d_split_leakage_capped) so the edge rule and
# the component rule cannot drift between the cluster assignment and
# the release gate that audits it. Composed from _ED_CTE/_EXC_CTE —
# byte-identical to the r11-graded form (pinned by
# tests/test_ext66.py::test_edge_cte_composition_stable).
_EDGE_COMP_CTES = f"""
    {_ED_CTE},
    {components_ctes("ed")},
    {_EXC_CTE}
"""


@register(
    "d_dup_clusters_capped",
    f"""
    WITH RECURSIVE {_CASCADE_SQL_CTES},
    {_EDGE_COMP_CTES}
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
           exc.excluded_pairs, g.n_guarded AS guarded_buckets
    FROM d1 d
    LEFT JOIN comp c ON d.doc_id = c.u
    CROSS JOIN exc CROSS JOIN gb g
    """,
    "The PRODUCTION form of near-dup cluster assignment (VERDICT r9 "
    "#4): connected components over the dedup cascade's VERIFIED edge "
    "list — LSH-banded candidates after the hot-bucket enumeration "
    "guard, per-doc verify budget (top-" f"{_VERIFY_K}" " by shared-"
    "band count), and exact 3-gram-Jaccard >= 0.5 qualification — "
    "instead of d_dup_clusters' exact all-co-shingled-pairs audit "
    "(quadratic in sub-threshold co-shingle family size: 370 s at "
    "100x even post-dedup). Built from the SAME cascade_frames() plan "
    "as the attrition report and survivor set (one shared edge "
    "definition — the drop rule is DERIVED from these edges, zero "
    "drift), then min-label propagation (operators/graph.py, "
    "O(diameter) rounds, one shuffle per round) assigns every "
    "exact-stage survivor its cluster representative; untouched docs "
    "are singletons. What the caps exclude is censused, never silent: "
    "excluded_pairs = candidate pairs past the verify budget (never "
    "verified, so never edges) and guarded_buckets = hot (band,"
    "bucket)s whose enumeration the _ENUM_CAP guard bounded. The "
    "oracle recomputes the same components via recursive-CTE "
    "transitive closure over the same edge rule, so the whole "
    "banding -> budget -> verify -> clusters path is value-gated. At "
    "100 TB the edge list is <= " f"{_VERIFY_K}" " x docs by "
    "construction (budget-bounded), so the component step rides "
    "skinny id-pair shuffles — the inherently-quadratic exact audit "
    "stays a documented diagnostic (d_dup_clusters docstring).",
)
def d_dup_clusters_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import dup_clusters

    fr = cascade_frames(spark, sf_dir)
    assigned = dup_clusters(fr["s1"], fr["edges"], "doc_id")
    return (
        assigned.crossJoin(F.broadcast(fr["excluded"]))
        .crossJoin(
            F.broadcast(
                fr["guarded"].select(
                    F.col("n_guarded_buckets").alias("guarded_buckets")
                )
            )
        )
        .select("doc_id", "component", "excluded_pairs", "guarded_buckets")
    )


def _split_leakage_capped_sql() -> str:
    # late import keeps tranche modules import-order independent
    # (plans/__init__ loads ext43 first, but a direct `import
    # registry_ext65` in a tool/test must not require it)
    from .registry_ext43 import split_case_sql

    return f"""
    WITH RECURSIVE {_CASCADE_SQL_CTES},
    {_EDGE_COMP_CTES},
    membership AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
        FROM d1 d LEFT JOIN comp c ON d.doc_id = c.u
    ),
    msp AS (
        SELECT cluster_id, {split_case_sql()} AS split FROM membership
    )
    SELECT m.cluster_id,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT m.split) AS n_splits,
           array_to_string(list_sort(list_distinct(list(m.split))), ',')
               AS splits,
           CAST(COUNT(DISTINCT m.split) > 1 AS INT) AS leaky,
           e.excluded_pairs, g.n_guarded AS guarded_buckets
    FROM msp m
    CROSS JOIN exc e CROSS JOIN gb g
    GROUP BY m.cluster_id, e.excluded_pairs, g.n_guarded
    HAVING COUNT(*) >= 2
    """


@register(
    "d_split_leakage_capped",
    _split_leakage_capped_sql(),
    "The PRODUCTION form of the split-leakage release gate (VERDICT "
    "r10 #2): same semantics as d_split_leakage_check — near-dup "
    "cluster members must land in the SAME train/val/test split or "
    "held-out eval is contaminated by near-copies of training docs — "
    "but the cluster stage is d_dup_clusters_capped's VERIFIED edge "
    "list (LSH-banded candidates -> hot-bucket enumeration guard -> "
    "top-" f"{_VERIFY_K}" "-per-doc verify budget -> exact 3-gram "
    "Jaccard >= 0.5) instead of the quadratic all-co-shingled-pairs "
    "exact audit (jaccard_pairs at 0.12: 400 s raw / 105 s post-dedup "
    "at 100x — the documented diagnostic, not the per-release gate). "
    "Clusters form over the exact-stage survivors (d1) — the corpus a "
    "release actually splits — via the SAME cascade_frames() edge "
    "definition the attrition report, survivor set and capped cluster "
    "assignment share (zero drift by construction); splits are the "
    "deterministic md5-bucket dataset_split (oracle CASE shared with "
    "d_split_leakage_check via split_case_sql). Output: one row per "
    "multi-member cluster with its distinct-split count, sorted split "
    "list and leaky flag, plus the two cap censuses (excluded_pairs "
    "past the verify budget, guarded_buckets) so what the caps "
    "excluded from the edge graph — and hence from this audit — is "
    "never silent. The oracle re-derives everything (recursive-CTE "
    "closure over the same edge rule + hash-bucket split), so the "
    "leakage verdict is value-gated end to end. The fix when leaky "
    "> 0 is split-by-cluster (hash the CLUSTER id, not the doc id); "
    "this query is the regression gate proving you did. At 100 TB the "
    "edge list is <= " f"{_VERIFY_K}" " x docs by construction, so "
    "the gate rides the cascade's cost (tens of seconds at the 100x "
    "replica) — cheap enough to run on every corpus release.",
)
def d_split_leakage_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sampling import dataset_split
    from ..operators.graph import dup_clusters

    fr = cascade_frames(spark, sf_dir)
    # split is a PURE function of doc_id, so it is computed inline on
    # the membership frame — a separate splits frame would re-derive
    # d1 (a second full text-scan s1 aggregate) and pay a doc_id
    # sort-merge join for a value `md5` produces from the key in hand.
    # Interleaved 100x A/B (r11, two sessions, alternating order):
    # joined form 39-153 s (median ~50), inline form 41-48 s (median
    # ~44) — the wall gain is modest on a warm-page-cache local box,
    # but the plan drops one full-corpus TEXT scan + one exchange,
    # which is the certain win at 100 TB
    msp = dup_clusters(fr["s1"], fr["edges"], "doc_id").select(
        F.col("component").alias("cluster_id"),
        dataset_split(F.col("doc_id")).alias("split"),
    )
    audit = (
        msp.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("split").alias("n_splits"),
            F.array_join(
                F.array_sort(F.collect_set("split")), ","
            ).alias("splits"),
            (F.count_distinct("split") > 1).cast("int").alias("leaky"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return (
        audit.crossJoin(F.broadcast(fr["excluded"]))
        .crossJoin(
            F.broadcast(
                fr["guarded"].select(
                    F.col("n_guarded_buckets").alias("guarded_buckets")
                )
            )
        )
        .select(
            "cluster_id",
            "n_docs",
            "n_splits",
            "splits",
            "leaky",
            "excluded_pairs",
            "guarded_buckets",
        )
    )
