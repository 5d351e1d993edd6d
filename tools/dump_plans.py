"""Dump `.explain("formatted")` plans of registry queries.

With no ``--round``, write PLANS.md: the digest for a representative
slice of headline queries, so plan quality (pushed filters, pruned
schemas, broadcast choices, exchange counts) is reviewable without
running anything. With ``--round R --tag before|after NAME...``, write
each named query's plan to ``plans/<R>/<NAME>_<tag>.txt`` — the
before/after plan evidence an optimization round commits alongside its
change (the r12/r13 files were dumped at ``--sf`` sf0.1). Queries are
explained in registry order; one that fails is reported on stderr
(exit 1) and the others are still written.

    python tools/dump_plans.py [--sf SF_DIR]
    python tools/dump_plans.py [--sf SF_DIR] --round r13 --tag after q1_pricing_summary ...
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SHOWCASE = [
    # one per family: the plan each SCALE.md claim is about
    "q1_pricing_summary",      # pushdown + partial agg
    "q5_region_revenue",       # broadcast dim chain
    "t_top3_orders_per_customer",  # single-shuffle window top-k
    "v_cosine_top8",           # no-shuffle probe search (TakeOrdered)
    "d_exact_dup_groups",      # one-hash-shuffle dedup
    "d_minhash_lsh_candidates",  # banded self-join
    "w_sessionize_events",     # shared user_id window shuffle
    "tx_chunk_overlap",        # zero-shuffle generated fan-out
    "t_global_dense_ids",      # decomposed global numbering
    "j_point_in_time_enrich",  # equi + interval-residual temporal join
    "g_histogram_totalprice",  # 1-row bounds broadcast
    "pipeline_corpus_prep",    # the composite
    # round-3 families
    "tx_dedup_chunks_rebuild",  # digest-keyed window + rebuild rollup
    "g_countmin_heavy_hitters",  # vocab-sized sketch + broadcast estimate join
    "v_sign_hamming_topk",     # 8-byte-code scan + popcount TakeOrdered
    "v_kmeans_clusters",       # Arrow int64 assignment (final round)
    # round-4: the BM25 family after the single-Arrow-pass fix — the
    # stats branch must show NO ArrowEvalPython, and the fused RRF plan
    # exactly one
    "t_bm25_keyword_topk",
    "v_hybrid_rrf_fusion",
    # round-4 additions: sequential state, late interaction, capstone
    "w_ewma_user_value",
    "v_maxsim_late_interaction",
    "pipeline_pretrain_corpus",
    # round-8: the rebuilt LSH-verify pair (VERDICT r7 #1) — the plans
    # must show the bounded shapes: ONE Arrow kernel pass for the 8
    # md5 minhash slots (no HOF CodegenFallback), the skinny banded
    # self-join, the doc-rank/per-doc-budget window riding band rows
    # (never the pair stream), and the Arrow text-kernel verify
    # reading text column-pruned from the signature checkpoint
    "d_minhash_jaccard_calibration",
    "pipeline_dedup_cascade",
    "pipeline_dedup_survivors",
    # round-7/8: the shuffle-diagnostics model citizen — one checkpointed
    # key shuffle feeding both consumers, histogram-window percentiles
    "dq_join_skew_profile",
    # round-10/11 (VERDICT r10 #3): the capped production cluster
    # assignment (shared cascade scan + 1-row census broadcasts), the
    # rewritten one-exchange band tuning (census + sorted per-bucket
    # id lists from ONE groupBy, pairs expanded locally), and the
    # production split-leakage release gate over the verified edges
    "d_dup_clusters_capped",
    "d_minhash_band_tuning",
    "d_split_leakage_capped",
    # round-12 (VERDICT r11 #2): the capped production triangle census
    # over the cascade's verified edge list (checkpointed edge fan-out
    # to the triangle legs + join-free wedge census off the degree
    # histogram, 1-row broadcasts throughout)
    "g_triangle_census_capped",
]


def dump_round(spark, sf_dir: str, round_dir: str, tag: str, names: list[str]) -> int:
    """Write ``plans/<round_dir>/<name>_<tag>.txt`` for each query."""
    from ingestion_pipeline_spark.plans import plan_text, run_each
    from tools.audit_plans import exchange_count

    out_dir = os.path.join(ROOT, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)

    def dump(name, fn):
        plan = plan_text(fn(spark, sf_dir), "formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {plan.count('Scan parquet')} parquet scans, "
              f"{exchange_count(plan)} exchanges -> {path}")

    failed = {n: r for n, r in run_each(spark, dump, names).items() if r}
    for name, exc in failed.items():
        print(f"{name}: ERROR {type(exc).__name__}: {exc}"[:300], file=sys.stderr)
    return 1 if failed else 0


def main() -> int:
    from __spark_entry__ import SF_SMOKE

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--sf", default=SF_SMOKE, help="fixture directory (default: the sf0.001 smoke fixture)")
    ap.add_argument("--round", help="plans/ subdirectory, e.g. r13")
    ap.add_argument("--tag", choices=["before", "after"])
    ap.add_argument("names", nargs="*", help="queries to dump (with --round)")
    args = ap.parse_args()
    if bool(args.round) != bool(args.tag) or bool(args.round) != bool(args.names):
        ap.error("--round, --tag and query names go together")

    from ingestion_pipeline_spark.plans import plan_text, run_each
    from ingestion_pipeline_spark.session import get_spark

    sf_dir = args.sf
    spark = get_spark("dump-plans")
    if args.round:
        return dump_round(spark, sf_dir, args.round, args.tag, args.names)
    plans = run_each(
        spark, lambda _name, fn: plan_text(fn(spark, sf_dir), "formatted"), SHOWCASE
    )
    failed = {n: p for n, p in plans.items() if isinstance(p, Exception)}
    if failed:
        print(f"explain failed: {failed}", file=sys.stderr)
        return 1
    out = [
        "# PLANS — formatted physical plans for the showcase queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}` (single-file",
        "fixtures; at scale the same plans read partitioned directories).",
        "Read alongside SCALE.md: each plan is the evidence for that",
        "family's shuffle/pushdown claim.",
        "",
    ]
    for name in SHOWCASE:
        out.append(f"## {name}\n\n```\n{plans[name].strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
