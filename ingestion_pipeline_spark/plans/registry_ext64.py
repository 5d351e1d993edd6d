"""Sixty-fourth registry tranche (round 6): selection materialization
and pipeline QA — turning round-6's selection *scores* into shipped
datasets, and two data-quality monitors.

- ``pipeline_mixture_manifest`` — the materialization step between
  domain weights and an actual dataset: the ``d_eg_domain_reweight``
  tilt becomes a DYADIC per-source acceptance rate (2^tilt / 2^max),
  and each document's accept/reject decision is a content-hash
  comparison — deterministic, partition-independent, and STABLE under
  reprocessing (a doc's decision never changes when the corpus grows,
  so incremental ingestion never resamples history).
- ``d_minhash_band_tuning`` — the LSH S-curve in table form: candidate
  -pair counts for every (bands × rows) split of the 8-hash md5
  signature — the evidence behind choosing ``d_minhash_lsh_md5_pairs``'
  4×2 operating point. All four configurations ride ONE signature
  computation and ONE band-bucket self-join.
- ``dq_benford_deviation`` — first-digit Benford profile of order
  totals: the classic fabricated-/corrupted-numeric-data screen.
  Expected shares are embedded as LITERAL doubles (identical text in
  Spark and the oracle — no runtime libm anywhere).

All three oracle-gated; beyond-reference training-data surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_tables import table
from .registry import _mh_sql, register

_EG_CAP = 2000    # same loss proxy as d_eg_domain_reweight
_EG_LEVELS = 8    # tilt exponents 0..7; acceptance denominator 2^7


def mixture_tilts(docs: DataFrame) -> DataFrame:
    """The manifest's corpus-DEPENDENT half: per-source dyadic tilt
    exponents from capped mean char-loss (exact BIGINT arithmetic).
    Frozen at epoch start, this table is what makes the manifest
    incremental — see ``tests/test_incremental_epoch.py``."""
    # |sources|-bounded and consumed by the max AND the tilt select;
    # unmaterialized, each consumer re-ran the full corpus aggregate
    # (r12 scan census — the d_eg_domain_reweight fix applied to the
    # shared helper; guide §2.4)
    dom = (
        docs.groupBy("source")
        .agg(
            F.expr(f"sum(least(n_chars, {_EG_CAP})) div count(*)").alias(
                "loss_milli"
            )
        )
        .localCheckpoint(eager=False)
    )
    mx = dom.agg(F.max("loss_milli").alias("m"))
    return dom.crossJoin(F.broadcast(mx)).select(
        "source",
        F.expr(f"(loss_milli * {_EG_LEVELS}) div (m + 1)")
        .cast("long")
        .alias("tilt_exp"),
    )


def mixture_draw(doc_id: F.Column) -> F.Column:
    """The manifest's STATELESS half: a doc's acceptance draw is a pure
    content hash of its id — partition-independent and fixed for the
    document's lifetime, so reprocessing / corpus growth can never flip
    an old decision under a frozen tilt table."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix"), doc_id.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % (1 << (_EG_LEVELS - 1))
    )


def mixture_accept(docs: DataFrame, tilt: DataFrame) -> DataFrame:
    """Apply a (frozen or fresh) tilt table to docs: broadcast join +
    codegen filter — the manifest body shared by the registry query and
    the incremental twin test."""
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(tilt), "source")
        .select(
            "doc_id", "source", "tilt_exp",
            mixture_draw(F.col("doc_id")).alias("draw"),
        )
        .filter(
            F.col("draw")
            < F.expr("shiftleft(CAST(1 AS BIGINT), CAST(tilt_exp AS INT))")
        )
    )


@register(
    "pipeline_mixture_manifest",
    f"""
    WITH dom AS (
        SELECT source,
               CAST(SUM(LEAST(n_chars, {_EG_CAP})) AS BIGINT)
                   // CAST(COUNT(*) AS BIGINT) AS loss_milli
        FROM documents GROUP BY source
    ),
    mx AS (SELECT CAST(MAX(loss_milli) AS BIGINT) AS m FROM dom),
    tilt AS (
        SELECT d.source,
               CAST((d.loss_milli * {_EG_LEVELS}) // (mx.m + 1) AS BIGINT)
                   AS tilt_exp
        FROM dom d CROSS JOIN mx
    )
    SELECT doc.doc_id, doc.source, t.tilt_exp,
           CAST(('0x' || substr(md5('mix' || CAST(doc.doc_id AS VARCHAR)),
                                1, 8)) AS BIGINT)
               % {1 << (_EG_LEVELS - 1)} AS draw
    FROM documents doc JOIN tilt t ON doc.source = t.source
    WHERE CAST(('0x' || substr(md5('mix' || CAST(doc.doc_id AS VARCHAR)),
                               1, 8)) AS BIGINT)
          % {1 << (_EG_LEVELS - 1)} < (1 << CAST(t.tilt_exp AS INTEGER))
    """,
    "Mixture manifest: the d_eg_domain_reweight tilt materialized as "
    "an actual dataset. Each source's acceptance rate is the DYADIC "
    f"2^tilt_exp / 2^{_EG_LEVELS - 1} (exact — no float thresholds), "
    "and each doc draws md5('mix'||doc_id) mod "
    f"{1 << (_EG_LEVELS - 1)}: accepted iff draw < 2^tilt_exp. "
    "Content-hash draws make the manifest deterministic, "
    "partition-independent, and reprocessing-stable (new corpus "
    "batches never flip old decisions — the property that makes "
    "incremental ingestion resample-free; the d_dataset_split / "
    "epoch-shuffle discipline applied to mixture sampling). Shape: one "
    "bounded per-source aggregate broadcast back onto one corpus scan "
    "— the filter is codegen column math, no shuffle of the corpus.",
)
def pipeline_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return mixture_accept(docs, mixture_tilts(docs))


_N_HASHES = 8
# every (bands x rows) factorization of the 8-hash signature
_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]
# buckets larger than this are censused, not pair-joined (the
# duplicate-spans hot-cap discipline — C(k,2) of a hot bucket is the
# quadratic bill the tuning table exists to warn about)
_HOT_CAP = 50


def _band_rows_sql() -> str:
    selects = []
    for nb, r in _CONFIGS:
        for b in range(nb):
            bucket = " || ".join(f"mh_{b * r + j}" for j in range(r))
            selects.append(
                f"SELECT doc_id, 'b{nb}r{r}' AS cfg, {b} AS band, "
                f"{bucket} AS bucket FROM sig WHERE mh_0 IS NOT NULL"
            )
    return " UNION ALL ".join(selects)


@register(
    "d_minhash_band_tuning",
    f"""
    WITH sig AS MATERIALIZED (
        SELECT doc_id, {', '.join(_mh_sql(i) for i in range(_N_HASHES))}
        FROM documents
    ),
    bands AS MATERIALIZED ({_band_rows_sql()}),
    buckets AS MATERIALIZED (
        SELECT cfg, band, bucket, CAST(COUNT(*) AS BIGINT) AS k
        FROM bands GROUP BY cfg, band, bucket
    ),
    stats AS (
        SELECT cfg,
               CAST(SUM(k * (k - 1) // 2) AS BIGINT) AS n_bucket_slots,
               CAST(SUM(CASE WHEN k > {_HOT_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hot_buckets
        FROM buckets GROUP BY cfg
    ),
    pairs AS (
        SELECT DISTINCT a.cfg, a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN buckets s ON a.cfg = s.cfg AND a.band = s.band
                      AND a.bucket = s.bucket AND s.k <= {_HOT_CAP}
        JOIN bands b
          ON a.cfg = b.cfg AND a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
    )
    SELECT c.cfg, c.n_bands, c.rows_per_band,
           CAST(COALESCE(st.n_bucket_slots, 0) AS BIGINT) AS n_bucket_slots,
           CAST(COALESCE(st.n_hot_buckets, 0) AS BIGINT) AS n_hot_buckets,
           CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_candidate_pairs
    FROM (VALUES {', '.join(f"('b{nb}r{r}', CAST({nb} AS BIGINT), CAST({r} AS BIGINT))" for nb, r in _CONFIGS)})
         AS c(cfg, n_bands, rows_per_band)
    LEFT JOIN stats st ON c.cfg = st.cfg
    LEFT JOIN (
        SELECT cfg, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY cfg
    ) p ON c.cfg = p.cfg
    """,
    "LSH banding S-curve as a table: for every (bands x rows) split of "
    "the 8-hash md5 MinHash signature — b8r1 (recall-max) through b1r8 "
    "(precision-max) — the verification bill. Two complementary "
    "columns: n_bucket_slots = sum-over-buckets C(k,2), the EXACT pair "
    "workload each configuration would generate, computed from bucket "
    "populations alone (join-free, linear at any corpus size); and "
    "n_candidate_pairs = the distinct pairs actually materialized from "
    f"buckets of <= {_HOT_CAP} docs, with hot buckets censused in "
    "n_hot_buckets instead of joined (the duplicate-spans <=20-hot-cap "
    "discipline: a quadratic hot bucket tells you the config is "
    "unaffordable — the census IS that answer; the first 100x smoke "
    "of the uncapped form measured b8r1 at 307 s, which is the table's "
    "own lesson applied to itself). The shipped 4x2 operating point "
    "has zero hot buckets on the fixtures, so its pair count stays "
    "identical to d_minhash_lsh_md5_pairs (pinned in test_ext64). ONE "
    "signature computation feeds all configurations through a single "
    "explode into (cfg, band, bucket) rows; the only joins are "
    "bucket-keyed.",
)
def d_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_signatures
    from ..operators.relational import spread

    docs = spread(table(spark, sf_dir, "documents"), min_partitions=8)

    # ONE Arrow kernel pass for all 8 slots straight from text
    # (value-equal to the HOF md5 form the oracle replays) — VERDICT
    # r7 #3.
    sig = md5_signatures(docs, _N_HASHES)
    band_structs = []
    for nb, r in _CONFIGS:
        for b in range(nb):
            band_structs.append(
                F.struct(
                    F.lit(f"b{nb}r{r}").alias("cfg"),
                    F.lit(b).alias("band"),
                    F.concat(
                        *[F.col(f"mh_{b * r + j}") for j in range(r)]
                    ).alias("bucket"),
                )
            )
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.cfg", "bb.band", "bb.bucket")
    # ONE aggregate feeds BOTH the census and the pair enumeration
    # (r10 rewrite): the old shape filtered small buckets with a
    # census join and then SELF-JOINED bands on (cfg, band, bucket) —
    # three shuffles keyed on up-to-256-char concatenated-md5 bucket
    # strings, measured 52 s of the query's 87-97 s at 100x. Grouping
    # once and expanding each small bucket's sorted doc list locally
    # (k <= _HOT_CAP caps the expansion at C(24,2) = 276 pairs per
    # bucket) produces the IDENTICAL pair multiset from one exchange:
    # 8.2 s on the same replica, 6.3x. Hot buckets pay a collect
    # buffer of k ids before the filter discards them (~80 KB at the
    # 100x max; a true-100TB corpus with 10^7-doc boilerplate buckets
    # would pre-truncate with the cascade's representative window —
    # measured 4x slower here, so not the default. If mega-buckets
    # ever appear, cap the collected list post-sort — slice(ids, 1,
    # _HOT_CAP + 1) keeps k from count(*) intact — per ADVICE r10.)
    # grouped.persist() follows the caller-must-clearCache contract
    # (cascade_frames precedent): bench/driver hygiene releases it;
    # long-lived sessions unpersist after their action (ADVICE r10).
    grouped = bands.groupBy("cfg", "band", "bucket").agg(
        F.count("*").alias("k"),
        F.array_sort(F.collect_list("doc_id")).alias("ids"),
    ).persist()
    stats = grouped.groupBy("cfg").agg(
        F.sum(F.expr("k * (k - 1) div 2")).cast("long").alias(
            "n_bucket_slots"
        ),
        F.sum(F.when(F.col("k") > _HOT_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_hot_buckets"),
    )
    pairs = (
        grouped.filter(F.col("k") <= _HOT_CAP)
        .select(
            "cfg",
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS id_a, y AS id_b))))"
                )
            ).alias("p"),
        )
        .select("cfg", F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    counts = pairs.groupBy("cfg").agg(F.count("*").alias("n_pairs"))
    grid = spark.createDataFrame(
        [(f"b{nb}r{r}", nb, r) for nb, r in _CONFIGS],
        "cfg string, n_bands long, rows_per_band long",
    )
    return (
        grid.join(F.broadcast(stats), "cfg", "left")
        .join(F.broadcast(counts), "cfg", "left")
        .select(
            "cfg",
            "n_bands",
            "rows_per_band",
            F.coalesce(F.col("n_bucket_slots"), F.lit(0))
            .cast("long")
            .alias("n_bucket_slots"),
            F.coalesce(F.col("n_hot_buckets"), F.lit(0))
            .cast("long")
            .alias("n_hot_buckets"),
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("long")
            .alias("n_candidate_pairs"),
        )
    )


# Benford expected shares as shared literals: repr(log10(1 + 1/d))
# renders the same shortest-repr double in both engines — the value is
# a compile-time constant, so no runtime libm is involved anywhere.
_BENFORD = {d: repr(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}


@register(
    "dq_benford_deviation",
    f"""
    WITH digits AS (
        -- floor() BEFORE the integer cast: Spark's double->bigint cast
        -- truncates while DuckDB's ROUNDS (9999.7 would flip 9 -> 1)
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM digits GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n FROM obs),
    exp_t AS (
        SELECT * FROM (VALUES {', '.join(
            f"(CAST({d} AS BIGINT), CAST({_BENFORD[d]} AS DOUBLE))"
            for d in range(1, 10)
        )}) AS e(digit, expected_share)
    )
    SELECT e.digit,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           e.expected_share,
           ROUND(CAST(COALESCE(o.n_orders, 0) AS DOUBLE) / tot.n, 6)
               AS observed_share,
           ROUND(CAST(COALESCE(o.n_orders, 0) AS DOUBLE) / tot.n
                 / e.expected_share, 6) AS deviation_ratio
    FROM exp_t e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN tot
    """,
    "Benford first-digit screen over order totals — the standard "
    "fabricated-/corrupted-numeric-data monitor (synthetic uniform "
    "prices show as deviation_ratio far from 1 on low digits, which "
    "is exactly what it should report on THIS fixture). Expected "
    "shares log10(1+1/d) are baked in as IDENTICAL literal doubles on "
    "both engines (compile-time constants — the libm-avoidance note "
    "applied to log10); counts are exact BIGINTs; observed_share and "
    "deviation_ratio are divisions of exact/shared operands. Shape: "
    "one scan + 9-group aggregate + 1-row total broadcast onto a "
    "9-row literal grid.",
)
def dq_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    # the ≤9-row digit histogram feeds the total AND the grid join;
    # unmaterialized, each consumer re-ran the orders scan (r12 scan
    # census: 2 scans). Checkpointed (guide §2.4) — the downstream
    # joins are explicitly broadcast-hinted, so the lost statistics
    # cannot demote a join strategy.
    obs = (
        digits.groupBy("digit")
        .agg(F.count("*").alias("n_orders"))
        .localCheckpoint(eager=False)
    )
    tot = obs.agg(F.sum("n_orders").cast("long").alias("n"))
    grid = spark.createDataFrame(
        [(d, float(_BENFORD[d])) for d in range(1, 10)],
        "digit long, expected_share double",
    )
    return (
        grid.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n_orders"), F.lit(0))
            .cast("long")
            .alias("n_orders"),
            "expected_share",
            F.round(
                F.coalesce(F.col("n_orders"), F.lit(0)).cast("double")
                / F.col("n"),
                6,
            ).alias("observed_share"),
            F.round(
                F.coalesce(F.col("n_orders"), F.lit(0)).cast("double")
                / F.col("n")
                / F.col("expected_share"),
                6,
            ).alias("deviation_ratio"),
        )
    )
