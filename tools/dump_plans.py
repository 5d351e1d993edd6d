"""Write PLANS.md: the `.explain("formatted")` digest for a
representative slice of headline queries, so plan quality (pushed
filters, pruned schemas, broadcast choices, exchange counts) is
reviewable without running anything. Usage:

    python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
    # reading text column-pruned from the signature persist
    "d_minhash_jaccard_calibration",
    "pipeline_dedup_cascade",
    "pipeline_dedup_survivors",
    # round-7/8: the shuffle-diagnostics model citizen — one persisted
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


def main() -> int:
    from ingestion_pipeline_spark.plans import plan_text, run_each
    from ingestion_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("dump-plans")
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
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
