"""Sixtieth registry tranche (round 5): the linear-algebra and
interval-analytics long tail — a distributed PCA power iteration, a
bucketed interval-overlap join, and mean-reciprocal-rank retrieval
evaluation.

- ``v_pca_power_iteration`` — top principal direction of the embedding
  corpus by three unrolled power-iteration rounds (v <- normalize(A^T
  (A v))).  Every matrix product is EXACT integer arithmetic
  (milli-quantized elements x milli-quantized direction), so the
  distributed sums are order-free; only the per-round normalization
  touches doubles, and it folds the |dims|-vector in index order.
  Completes the dimensionality family (whitening -> PCA -> Matryoshka
  -> PQ).
- ``j_interval_overlap_join`` — click-session x purchase-session
  overlap pairs per user: the range-join shape Spark has no native
  operator for, made scalable by exploding each interval onto time
  buckets and equi-joining on (user, bucket) — the cross product
  never materializes; exact overlap filters the bucket candidates.
- ``e_retrieval_mrr`` — MRR of the banded-LSH retrieval against the
  exact nearest neighbor (self-match excluded on both sides): the
  second retrieval-quality metric after v_lsh_recall_at_k, and the
  one leaderboards actually report.

All three oracle-gated; beyond-reference surface (reference scope:
/root/reference/llama-chatbot/main.py retrieves top-k from Pinecone
and never evaluates its own ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity as sim
from ..operators.relational import topk_per_group
from ..sources.parquet_tables import table
from .registry import _COS_SQL, _LSH_BITS_SQL, _LSH_PER_BAND, register

_PCA_ROUNDS = 3


def _pca_oracle() -> str:
    m_list = (
        "list_transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    sql = f"""
    WITH q AS (
        SELECT vec_id, {m_list} AS m FROM embeddings
    ),
    v0 AS (
        SELECT list_transform(range(0, len(m)), i -> CAST(1000 AS BIGINT)) AS v
        FROM q LIMIT 1
    )"""
    prev = "v0"
    for t in range(1, _PCA_ROUNDS + 1):
        sql += f""",
    u{t} AS (
        SELECT q.vec_id, q.m,
               CAST(list_aggregate(list_transform(range(0, len(q.m)),
                    i -> q.m[i + 1] * {prev}.v[i + 1]), 'sum') AS BIGINT) AS u
        FROM q CROSS JOIN {prev}
    ),
    w{t} AS (
        SELECT CAST(i AS BIGINT) AS dim,
               CAST(SUM(m[i + 1] * u) AS BIGINT) AS w
        FROM u{t}, UNNEST(range(0, len(m))) AS t(i)
        GROUP BY i
    ),
    v{t} AS (
        SELECT list_transform(wl, w -> CAST(floor(
                   1000.0 * (CAST(w AS DOUBLE) / sqrt(n2)) + 0.5) AS BIGINT))
               AS v
        FROM (
            SELECT wl,
                   list_aggregate(list_transform(wl,
                       w -> CAST(w AS DOUBLE) * CAST(w AS DOUBLE)), 'sum') AS n2
            FROM (SELECT list(w ORDER BY dim) AS wl FROM w{t})
        )
    )"""
        prev = f"v{t}"
    sql += f"""
    SELECT CAST(i AS BIGINT) AS dim, v[i + 1] AS v_milli,
           ROUND(CAST(v[i + 1] AS DOUBLE) / 1000.0, 6) AS component
    FROM {prev}, UNNEST(range(0, len(v))) AS t(i)
    """
    return sql


@register(
    "v_pca_power_iteration",
    _pca_oracle(),
    f"Top principal direction by {_PCA_ROUNDS} unrolled power-iteration "
    "rounds over the embedding corpus (v <- normalize(A^T(Av))), the "
    "coarse-to-fine complement of v_standardize_dims. Determinism by "
    "construction: elements and the direction are milli-quantized "
    "BIGINTs, so the row-dot (fold in index order) and the per-dim "
    "A^T-sum (exact integer, order-free across any partitioning) never "
    "touch accumulation-order-dependent floats; only the per-round "
    "norm is a double, folded over the |dims|-vector in index order "
    "and immediately re-quantized. Shape per round: one broadcast of "
    "the 1-row direction, one codegen row-fold, one posexplode to a "
    "|dims|-group map-side-combined sum, one 1-row collapse — the "
    "corpus is scanned once per round and never shuffled by key. "
    "Integer headroom: |m|<=5e3, |u|<=64*5e3*1e3~3e8, |w|<=rows*1.5e12 "
    "— exact to ~6M rows/partition-free at BIGINT; beyond that drop "
    "the direction scale to 100 (documented, same code path).",
)
def v_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 (guide §2.3/§4.2, the kmeans_fixed_point precedent): each round used
    # to run an interpreted 64-element `aggregate` fold PER ROW for u,
    # then posexplode |corpus|×dim (dim, mu) rows through the groupBy
    # exchange. One mapInPandas per round now computes u = M@v and the
    # per-partition A^T·u partials (dim rows per partition) in int64
    # numpy — exact integer arithmetic, order-free, so the global sums
    # are value-identical to the old exchange; the per-round norm fold
    # runs driver-side over the collected |dims| vector with the SAME
    # IEEE ops in the SAME index order (float64 `acc + w*w` left fold,
    # then floor(1000*(w/sqrt(n2)) + 0.5) per element — Python floats
    # ARE IEEE doubles). Per round the only exchange carries
    # dim×partitions skinny rows instead of |corpus|×dim.
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    emb = table(spark, sf_dir, "embeddings")
    dim_n = len(emb.select("embedding").first()["embedding"])
    part_schema = StructType(
        [StructField("dim", LongType()), StructField("w", LongType())]
    )

    def make_partials(v_list: list[int]):
        def gen(batches):
            va = np.asarray(v_list, dtype=np.int64)
            acc = np.zeros(len(v_list), dtype=np.int64)
            seen = False
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.floor(
                    np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                    * 1000.0
                ).astype(np.int64)
                u = M @ va
                acc += M.T @ u
                seen = True
            if seen:
                yield pd.DataFrame(
                    {
                        "dim": np.arange(len(v_list), dtype=np.int64),
                        "w": acc,
                    }
                )

        return gen

    v = [1000] * dim_n
    for _ in range(_PCA_ROUNDS):
        rows = (
            emb.select("embedding")
            .mapInPandas(make_partials(list(v)), part_schema)
            .groupBy("dim")
            .agg(F.sum("w").alias("w"))
            .collect()  # bounded: |dims| rows
        )
        w_by_dim = {int(r["dim"]): int(r["w"]) for r in rows}
        wl = [w_by_dim.get(i, 0) for i in range(dim_n)]
        n2 = 0.0
        for w in wl:  # index-order left fold, as the oracle replays it
            n2 += float(w) * float(w)
        root = math.sqrt(n2)
        if root == 0.0:
            # ADVICE r12: an empty / all-zero corpus gave the old SQL
            # path IEEE NaN, and this Python replay a ZeroDivisionError;
            # keep v unchanged (a fixed point) instead of raising. No
            # declared fixture reaches this branch.
            continue
        v = [
            int(math.floor(1000.0 * (float(w) / root) + 0.5)) for w in wl
        ]
    out = spark.createDataFrame(
        [(i, int(v[i])) for i in range(dim_n)], "dim BIGINT, v_milli BIGINT"
    )
    return out.select(
        "dim",
        "v_milli",
        F.round(F.col("v_milli").cast("double") / 1000.0, 6).alias(
            "component"
        ),
    )


# 48-hour session gap: the fixture's synthetic event stream has a
# median same-type inter-event gap of ~34 h per user, so a web-style
# 30-min gap would fragment every session into singletons and the
# overlap join would have nothing to do. The operator is gap-agnostic.
_GAP_US = 48 * 3_600 * 1_000_000
# bucket granularity tracks expected interval length (a perf knob, not
# a semantics knob): day buckets for multi-day sessions keep the
# per-interval fan-out at ~|days|, the way hour buckets would for
# web-scale 30-min sessions
_BUCKET_US = 24 * 3_600 * 1_000_000


def _session_sql(etype: str) -> str:
    return f"""
        SELECT user_id,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS sess,
               ts_us
        FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        > {_GAP_US} OR LAG(epoch_us(ts)) OVER (
                            PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                        IS NULL THEN 1 ELSE 0 END AS new_s
            FROM events WHERE event_type = '{etype}'
        )
    """


@register(
    "j_interval_overlap_join",
    f"""
    WITH ca AS ({_session_sql("click")}),
    a AS (
        SELECT user_id, sess AS a_id,
               MIN(ts_us) AS a_start, MAX(ts_us) AS a_end
        FROM ca GROUP BY user_id, sess
    ),
    cb AS ({_session_sql("purchase")}),
    b AS (
        SELECT user_id, sess AS b_id,
               MIN(ts_us) AS b_start, MAX(ts_us) AS b_end
        FROM cb GROUP BY user_id, sess
    )
    SELECT a.user_id, a.a_id, b.b_id,
           a.a_start, a.a_end, b.b_start, b.b_end,
           LEAST(a.a_end, b.b_end) - GREATEST(a.a_start, b.b_start)
               AS overlap_us
    FROM a JOIN b ON a.user_id = b.user_id
    WHERE a.a_start <= b.b_end AND b.b_start <= a.a_end
    """,
    "Interval-overlap join (the range-join shape): click sessions x "
    "purchase sessions per user, emitting every overlapping pair with "
    "its overlap length — attribution/abuse analytics Spark has no "
    "native operator for. Both interval sets are derived by the "
    "standard lag-gap sessionization (48-h gap tuned to the fixture's "
    "event density, exact integer micro-second bounds). The oracle "
    "states the theta join directly; the Spark plan never forms it: "
    "each interval explodes onto the day buckets it covers (sequence "
    "between floor-buckets — fan-out bounded by interval length), "
    "the join is an EQUI-join on (user_id, bucket), and "
    "dropDuplicates on the pair key removes multi-bucket dupes before "
    "the exact overlap predicate filters candidates. Scale: shuffle "
    "keys are (user, bucket) — time-sliced, so one hot user cannot pin "
    "a reducer for its whole history.",
)
def j_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")

    def sessions(etype: str, id_alias: str, s_alias: str, e_alias: str) -> DataFrame:
        base = ev.filter(F.col("event_type") == etype).select(
            "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
        )
        wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        new_s = F.when(
            F.col("ts_us") - F.lag("ts_us").over(wo) > _GAP_US, 1
        ).otherwise(
            F.when(F.lag("ts_us").over(wo).isNull(), 1).otherwise(0)
        )
        wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sess = base.select(
            "user_id",
            "ts_us",
            F.sum(new_s).over(wc).cast("long").alias("sess"),
        )
        return sess.groupBy("user_id", "sess").agg(
            F.min("ts_us").alias(s_alias), F.max("ts_us").alias(e_alias)
        ).withColumnRenamed("sess", id_alias)

    a = sessions("click", "a_id", "a_start", "a_end")
    b = sessions("purchase", "b_id", "b_start", "b_end")

    def bucketed(df: DataFrame, s: str, e: str) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    (F.col(s) / _BUCKET_US).cast("long"),
                    (F.col(e) / _BUCKET_US).cast("long"),
                )
            ),
        )
    cand = (
        bucketed(a, "a_start", "a_end")
        .join(bucketed(b, "b_start", "b_end"), ["user_id", "bucket"])
        .dropDuplicates(["user_id", "a_id", "b_id"])
        .drop("bucket")
    )
    return cand.filter(
        (F.col("a_start") <= F.col("b_end"))
        & (F.col("b_start") <= F.col("a_end"))
    ).select(
        "user_id",
        "a_id",
        "b_id",
        "a_start",
        "a_end",
        "b_start",
        "b_end",
        (
            F.least("a_end", "b_end") - F.greatest("a_start", "b_start")
        ).alias("overlap_us"),
    )


_N_PROBES = 5
_MRR_K = 10


@register(
    "e_retrieval_mrr",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, embedding FROM embeddings),
    sig AS (
        SELECT vec_id, v, [{_LSH_BITS_SQL}] AS bits FROM e
    ),
    banded AS (
        SELECT vec_id, band,
               array_to_string(list_slice(bits, band * {_LSH_PER_BAND} + 1, band * {_LSH_PER_BAND} + {_LSH_PER_BAND}), '') AS bkey
        FROM sig CROSS JOIN (SELECT unnest({list(range(sim.LSH_BANDS))}) AS band) b
    ),
    cand AS (
        SELECT DISTINCT c.vec_id, p.vec_id AS probe_id
        FROM banded c JOIN banded p USING (band, bkey)
        WHERE p.vec_id < {_N_PROBES} AND c.vec_id <> p.vec_id
    ),
    lshr AS (
        SELECT probe_id, vec_id, rn AS lsh_rank FROM (
            SELECT cand.probe_id, cand.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cand.probe_id
                       ORDER BY ROUND(CAST(list_cosine_similarity(ce.v, pe.v) AS DOUBLE), 6) DESC,
                                cand.vec_id
                   ) AS rn
            FROM cand
            JOIN e ce ON cand.vec_id = ce.vec_id
            JOIN e pe ON cand.probe_id = pe.vec_id
        ) WHERE rn <= {_MRR_K}
    ),
    exact1 AS (
        SELECT probe_id, vec_id AS true_top1 FROM (
            SELECT p.vec_id AS probe_id, e.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                      ORDER BY {_COS_SQL} DESC, e.vec_id) AS rn
            FROM embeddings e,
                 (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id < {_N_PROBES}) p
            WHERE e.vec_id <> p.vec_id
        ) WHERE rn = 1
    )
    SELECT x.probe_id, x.true_top1,
           CAST(COALESCE(l.lsh_rank, 0) AS BIGINT) AS lsh_rank,
           CASE WHEN l.lsh_rank IS NULL THEN 0.0
                ELSE 1.0 / l.lsh_rank END AS reciprocal_rank
    FROM exact1 x
    LEFT JOIN lshr l ON x.probe_id = l.probe_id AND x.true_top1 = l.vec_id
    """,
    f"Retrieval MRR@{_MRR_K}: for each of {_N_PROBES} probes, the "
    "reciprocal rank of the TRUE nearest neighbor (exact cosine, "
    "self-match excluded) within the banded-LSH top-10 — the metric "
    "retrieval leaderboards report, as a value-hash-gated query. Both "
    "rankings AND the metric are independently re-derived by the "
    "oracle (LCG hyperplanes inline as literals, the "
    "v_lsh_recall_at_k technique). Reciprocal ranks are exact IEEE "
    "(1/k for small integer k). Scale: exact side is |probes| x "
    "corpus (bounded probe sample), LSH side is the banded equi-join "
    "— the post-rebuild regression check alongside recall@k.",
)
def e_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # r12 (guide §2.4): the bounded probe frame feeds the exact AND the
    # LSH arm — checkpointed so the filtered scan runs once (the
    # v_lsh_recall_at_k fix; consumers broadcast via explicit hints).
    probes = (
        emb.filter(F.col("vec_id") < _N_PROBES)
        .select(F.col("vec_id").alias("probe_id"), "embedding")
        .localCheckpoint(eager=False)
    )
    exact = (
        emb.crossJoin(
            F.broadcast(
                probes.select("probe_id", F.col("embedding").alias("__pv"))
            )
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        # r12 (guide §4.2): Arrow einsum kernel replaces the interpreted
        # zip_with/aggregate cosine folds; same float64 math, same JVM
        # 6-dp rounding — value-identical (cosine_pairs_np precedent).
        .withColumn(
            "sim",
            F.round(
                sim.cosine_pairs_np()(F.col("embedding"), F.col("__pv")), 6
            ),
        )
    )
    exact1 = (
        topk_per_group(
            exact.drop("__pv"),
            ["probe_id"],
            [F.col("sim").desc(), F.col("vec_id").asc()],
            1,
        )
        .select("probe_id", F.col("vec_id").alias("true_top1"))
    )
    lsh = (
        sim.lsh_topk_join(emb, probes, dim=64, k=_MRR_K + 1)
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    # rename BOTH join keys before the join: exact1 and lshr share
    # lineage through `emb`, and same-named columns from a common
    # ancestor can resolve to one attribute (Spark then warns
    # "trivially true equals predicate" and the equi-condition is lost)
    lshr = topk_per_group(
        lsh,
        ["probe_id"],
        [F.col("sim").desc(), F.col("vec_id").asc()],
        _MRR_K,
        rank_alias="lsh_rank",
    ).select(
        F.col("probe_id").alias("l_probe_id"),
        F.col("vec_id").alias("l_vec_id"),
        "lsh_rank",
    )
    return exact1.join(
        lshr,
        (F.col("probe_id") == F.col("l_probe_id"))
        & (F.col("true_top1") == F.col("l_vec_id")),
        "left",
    ).select(
        "probe_id",
        "true_top1",
        F.coalesce(F.col("lsh_rank").cast("long"), F.lit(0).cast("long")).alias(
            "lsh_rank"
        ),
        F.when(F.col("lsh_rank").isNull(), F.lit(0.0))
        .otherwise(F.lit(1.0) / F.col("lsh_rank"))
        .alias("reciprocal_rank"),
    )
