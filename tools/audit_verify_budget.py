"""Measure the dedup cascade's verify-budget UNDER-DROP exposure
(VERDICT r9 #1).

``pipeline_dedup_cascade`` tests each doc against only its top-K
(=``_VERIFY_K``) lower-id LSH candidates, ranked by shared-band count.
Docs with MORE candidates than the budget whose top-K all failed the
exact-Jaccard test are censused (``over_budget_undropped``) but were,
until this audit, an UNMEASURED approximation: a qualifying partner
could hide in the untested tail (rk > K). This tool takes a
deterministic sample of those docs, exact-Jaccards their FULL candidate
tails, and reports the measured miss-rate — docs with a qualifying
partner past the budget — alongside the shared-band-count rank position
of each miss (the stratum argument says the tail is the LEAST-likely
place for a qualifying partner, because rank follows minhash agreement;
this measures it instead of arguing it).

Usage:
    python tools/audit_verify_budget.py [--base DIR] [--sample N]
        [--out FILE]

Defaults: --base .scale/sf100x-work (the kept 100x replica),
--sample 5000. Prints one JSON line and writes it to --out
(default tools/scale_runs/r10_verify_budget_audit.json).

Output fields:
- n_over_budget_undropped: the full censused population
- n_sampled: docs audited (deterministic xxhash64-ordered sample)
- n_missed: sampled docs with >=1 qualifying partner in the tail
- miss_rate_bp: n_missed * 10000 // n_sampled (basis points)
- tail_pairs_verified: exact-Jaccard calls the audit paid
- miss_first_rank_{min,p50,max}: rank of the FIRST qualifying partner
  among missed docs (how deep past the budget the misses hide)

The same semantics run at fixture scale in
tests/test_ext65.py::test_verify_budget_tail_audit_recompute, where the
miss set is recomputed from first principles in Python.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def audit_frames(spark, base: str, sample: int):
    """Lazy audit plan pieces: (population census, sampled-doc tail
    verification results). Shared by the CLI and the fixture-scale
    test so the audited semantics cannot drift from the tested ones."""
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.operators.dedup import jaccard3_bp
    from ingestion_pipeline_spark.plans.registry_ext65 import (
        _NEAR_BP,
        _VERIFY_K,
        cascade_frames,
    )

    fr = cascade_frames(spark, base)
    # over-budget docs NOT dropped — the exact censused population
    # (same construction as the obu census, rename-proofed the same way)
    obu_ids = (
        fr["ranked"]
        .filter(F.col("rk") == _VERIFY_K + 1)
        .select(F.col("id_b").alias("ob_id"))
        .join(
            fr["drops"].select(F.col("doc_id").alias("dr_id")),
            F.col("ob_id") == F.col("dr_id"),
            "left_anti",
        )
        .select(F.col("ob_id").alias("doc_id"))
    ).persist()
    n_pop = obu_ids.count()
    # deterministic sample: first N by xxhash64(doc_id) — uniform over
    # the population, reproducible across runs and shuffle layouts
    sample_ids = (
        obu_ids.orderBy(F.xxhash64("doc_id"), "doc_id").limit(sample)
    ).persist()
    n_sampled = sample_ids.count()
    # FULL untested tails of the sampled docs: every candidate past the
    # budget, with its rank. Bounded by |sample| x per-doc tail length —
    # exactly the bill the budget avoided, paid once, on a sample.
    jac = jaccard3_bp()
    tails = (
        fr["ranked"]
        .filter(F.col("rk") > _VERIFY_K)
        .join(sample_ids.select(F.col("doc_id").alias("id_b")), "id_b")
        .join(
            fr["sig"].select(
                F.col("doc_id").alias("id_a"), F.col("text").alias("ta")
            ),
            "id_a",
        )
        .join(
            fr["sig"].select(
                F.col("doc_id").alias("id_b"), F.col("text").alias("tb")
            ),
            "id_b",
        )
        .select(
            "id_b",
            "rk",
            (jac(F.col("ta"), F.col("tb")) >= _NEAR_BP).alias("qual"),
        )
    )
    return obu_ids, sample_ids, tails, n_pop, n_sampled


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--base", default=".scale/sf100x-work")
    ap.add_argument("--sample", type=int, default=5000)
    ap.add_argument(
        "--out", default="tools/scale_runs/r10_verify_budget_audit.json"
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.plans import release_caches
    from ingestion_pipeline_spark.plans.registry_ext65 import _VERIFY_K
    from ingestion_pipeline_spark.session import get_spark

    spark = get_spark("audit-verify-budget")
    t0 = time.perf_counter()
    obu_ids, sample_ids, tails, n_pop, n_sampled = audit_frames(
        spark, os.path.abspath(args.base), args.sample
    )
    stats = tails.agg(
        F.count("*").cast("long").alias("tail_pairs_verified"),
        F.sum(F.when(F.col("qual"), 1).otherwise(0))
        .cast("long")
        .alias("qual_pairs"),
    ).first()
    # per missed doc: rank of the FIRST qualifying tail partner
    miss = (
        tails.filter(F.col("qual"))
        .groupBy("id_b")
        .agg(F.min("rk").alias("first_rank"))
    ).persist()
    n_missed = miss.count()
    rank_stats = (
        miss.agg(
            F.min("first_rank").alias("mn"),
            F.expr("percentile_approx(first_rank, 0.5)").alias("md"),
            F.max("first_rank").alias("mx"),
        ).first()
        if n_missed
        else None
    )
    wall = round(time.perf_counter() - t0, 1)
    out = {
        "base": os.path.abspath(args.base),
        "verify_k": _VERIFY_K,
        "n_over_budget_undropped": n_pop,
        "n_sampled": n_sampled,
        "n_missed": n_missed,
        "miss_rate_bp": (n_missed * 10000 // n_sampled) if n_sampled else 0,
        "tail_pairs_verified": int(stats["tail_pairs_verified"]),
        "qual_tail_pairs": int(stats["qual_pairs"] or 0),
        "miss_first_rank_min": rank_stats["mn"] if rank_stats else None,
        "miss_first_rank_p50": rank_stats["md"] if rank_stats else None,
        "miss_first_rank_max": rank_stats["mx"] if rank_stats else None,
        "wall_sec": wall,
    }
    # one-shot consumer: drop the cascade's checkpoint blocks and the
    # audit's own persists now that the figures are collected
    release_caches(spark)
    line = json.dumps(out)
    print(line)
    try:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
