"""Scale smoke (VERDICT r1 #7): run the heaviest registry queries at
~10x the largest driver fixture (sf0.1 → ≈sf1) to surface skew, memory
and shuffle behavior before claiming 100× readiness.

The driver ships no sf1 fixtures, so this builds a deterministic 10×
replica of sf0.1 under ``<repo>/.scale/sf1x/`` — each table is
cross-joined with ``range(K)`` and its keys remapped consistently
(``key*K + i``) so join fan-outs, group cardinalities and LSH bucket
sizes all grow 10× like real data would (NOT a row-copy with identical
keys, which would only grow dup-groups). Fixture inputs themselves are
untouched. Usage:

    python tools/scale_smoke.py [--warmup] [K] [query ...]

``--warmup`` runs each query once untimed at sf0.001 first (absorbs
the one-time plan-compile cost that otherwise dominates single-run
fresh-session numbers for complex-codegen plans).

Prints one JSON line: {"k": K, "rows": {...}, "queries": {name: sec}}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"

# The five heaviest headline shapes by plan inspection (VERDICT r1) plus
# the widest shuffles in the registry.
DEFAULT_QUERIES = [
    "q1_pricing_summary",
    "q18_large_orders",
    "t_top3_orders_per_customer",
    "w_sessionize_events",
    "d_minhash_lsh_candidates",
    "v_lsh_knn_join",
    "d_dup_clusters",
    "pipeline_corpus_prep",
    # round-2 additions: the new families' heaviest shapes
    "j_fuzzy_name_pairs",
    "t_bm25_keyword_topk",
    "v_hybrid_rrf_fusion",
    "v_pq_adc_topk",
    "tx_vocab_build",
    "v_negative_samples",
    "g_zorder_orders",
    "s_winsorized_quality",
    "g_hll_partitioned_merge",
    # ext29/30: the high-fan-out text ops (chunk/span explodes), the
    # reused-shuffle cohort join, and the iterative BPE trainer
    "tx_chunk_overlap",
    "d_duplicate_spans",
    "w_cohort_retention",
    "g_triangle_counts",
    "tx_bpe_merges",
    # round-3 additions: fixed-point graph ranks, Arrow BPE apply,
    # chunk-dedup corpus rebuild, md5 LSH banding, CMS, quantized
    # retrieval, unrolled-greedy MMR
    "d_pagerank_neardup",
    "tx_textrank_keywords",
    "tx_bpe_tokenize",
    "tx_dedup_chunks_rebuild",
    "d_minhash_lsh_md5_pairs",
    "g_countmin_heavy_hitters",
    "v_sign_hamming_topk",
    "v_mmr_rerank",
    "s_quality_classifier",
    "v_kmeans_clusters",
    "d_lpa_communities",
    "d_personalized_pagerank",
    "pipeline_clean_corpus",
    # round-4 additions: sequential per-entity state, late interaction,
    # the dedup→gate→pack capstone
    "w_ewma_user_value",
    "w_holt_trend_forecast",
    "v_maxsim_late_interaction",
    "pipeline_pretrain_corpus",
    # round-5 additions: cross-doc boilerplate removal, bigram-LM
    # perplexity, threshold calibration
    "tx_boilerplate_prune",
    "tx_bigram_perplexity",
    "e_threshold_sweep",
    "pipeline_epoch_shuffle",
    # ext57: example construction + diagnostics (FIM reorder,
    # preference-pair mining, per-source diversity, dim whitening)
    "x_fim_transform",
    "s_preference_pairs",
    "g_ngram_diversity",
    "v_standardize_dims",
    # ext58: mixture/tokenizer decision tables
    "tx_oov_rate",
    "dq_langid_confusion",
    "d_temperature_mixture",
    "pipeline_context_length_sweep",
    # ext59: dataset-QA diagnostics
    "dq_label_outliers",
    "g_cooccurrence_pmi",
    "w_watermark_lateness_profile",
    # ext60: PCA, interval overlap, retrieval MRR
    "v_pca_power_iteration",
    "j_interval_overlap_join",
    "e_retrieval_mrr",
    # ext62 (round 6): data-selection economics + integer-PQ upgrades
    "d_dsir_importance",
    "d_eg_domain_reweight",
    "pipeline_padding_waste",
    "v_ivf_reassignment_churn",
    "v_ivfadc_topk",  # v_pq_adc_topk already in the round-2 block
    # ext63/ext64 (round 6): tokenizer economics, selection
    # materialization, QA screens — the full-suite r7 sweep (verdict
    # r6 #4) covers every tranche's heaviest shapes in ONE session
    "tx_tokenizer_fertility",
    "pipeline_token_budget",
    "g_vocab_overlap",
    "e_calibration_bins",
    "pipeline_mixture_manifest",
    "d_minhash_band_tuning",
    "dq_benford_deviation",
    # ext65 (round 7): shuffle/LSH operational diagnostics + cascade
    "dq_join_skew_profile",
    "d_minhash_jaccard_calibration",
    "pipeline_dedup_cascade",
]


_PERMS3 = [
    [0, 1, 2], [0, 2, 1], [1, 0, 2], [1, 2, 0], [2, 0, 1], [2, 1, 0]
]


def _perturb_text(col):
    """Per-replica word-level text perturbation (documents only):
    hash-selected permutations of word TRIPLES. Word group
    j = (3j, 3j+1, 3j+2) is rearranged by permutation
    ``xxhash64(md5(text), rep, j) % 6`` — two distinct patterns pick
    the same arrangement for a group with probability 1/6, so a 3-gram
    (spanning ≤ 2 groups) survives both with ~(1/6)² — measured
    cross-replica Jaccard ~0.03, far below the registry's lowest
    near-dup threshold (0.12). Trailing partial groups (< 3 words) and
    docs shorter than 3 words stay identity.

    Why this exact construction (three earlier cuts measured worse):
    - Rearranging preserves the word MULTISET and exact char count — a
      word-SUFFIXING cut grew the vocabulary ×K (tx_bpe_tokenize 6.7 →
      64.7 s; real vocabulary grows sublinearly).
    - The pattern must vary per (text, rep), not per rep%5 — a
      stride-5 positional cut collapsed k=100 into 5 distinct
      patterns (20-strong identical-copy families; d_dup_clusters
      293 s at 100×) and left cross-replica Jaccard ~0.3, ABOVE the
      0.12 clustering threshold, so near-dup families still grew ×K.
    - Binary pair-swaps bottom out at same-decision probability 1/2 →
      measured mean cross-replica Jaccard 0.17, still above 0.12;
      6-way triple permutations push it to ~0.03.
    - Seeding on md5(text) (not doc_id) makes identical-text docs
      share each replica's pattern: every base exact-dup family
      replicates as a NEW same-sized family per rep — dup-family
      COUNT grows ×K, family SIZE stays constant, which is how real
      corpora grow. Replica 0 is the identity copy (handled by the
      caller), so the base corpus and its dup structure survive
      verbatim."""
    from pyspark.sql import functions as F

    toks = F.split(col, " ")
    perms = F.array(
        *[F.array(*[F.lit(x) for x in p]) for p in _PERMS3]
    )

    def with_seed(h):  # h = md5(text), bound ONCE per row
        def build(t):
            n = F.size(t)

            def elem(w, i):
                j = (i / 3).cast("long")          # group index
                r = (i % 3) + 1                   # 1-based slot in group
                p = F.pmod(
                    F.xxhash64(h, F.col("__rep"), j), F.lit(6)
                ).cast("int")
                src = F.element_at(F.element_at(perms, p + 1), r)
                # full groups only: a trailing group of < 3 words (and
                # any doc of < 3 words) keeps identity order
                return F.when(
                    (j * 3 + 3) <= n,
                    F.element_at(t, (j * 3 + src + 1).cast("int")),
                ).otherwise(w)

            return F.transform(t, elem)

        return F.element_at(F.transform(F.array(toks), build), 1)

    return F.array_join(
        F.element_at(F.transform(F.array(F.md5(col)), with_seed), 1), " "
    )


def build_scaled(spark, out_dir: str, k: int) -> dict[str, int]:
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.sources.parquet_tables import TABLE_NAMES, table

    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    rep = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__rep")

    def remap(col: str):
        return (F.col(col) * k + F.col("__rep")).alias(col)

    for name in TABLE_NAMES:
        df = table(spark, SRC, name)
        if name in ("region", "nation"):
            scaled = df  # dimension tables stay fixed, as at real scale
        else:
            rep_df = df.select("*", rep)
            cols = []
            for f in df.schema.fields:
                c = f.name
                # grow EVERY entity-key space, keeping foreign keys
                # consistent (custkey/suppkey/partkey remap on both the
                # dimension and the fact side, so joins stay 1:1 instead
                # of fanning out x K against duplicated dimension copies)
                if c in (
                    "l_orderkey", "o_orderkey", "event_id", "doc_id", "vec_id",
                    "c_custkey", "o_custkey",
                    "s_suppkey", "l_suppkey",
                    "p_partkey", "l_partkey",
                    "user_id",
                ):
                    cols.append(remap(c))
                elif c == "c_name":
                    # regenerate from the REMAPPED key: replica names must
                    # be distinct strings, or every string-keyed operator
                    # (fuzzy join, exact dedup) sees a degenerate x K
                    # duplication real growth would not have
                    cols.append(
                        F.format_string(
                            "Customer#%09d",
                            F.col("c_custkey") * k + F.col("__rep"),
                        ).alias("c_name")
                    )
                elif c == "ts":  # jitter replicas so time ties don't explode
                    cols.append(
                        (F.col("ts") + F.make_interval(secs=F.col("__rep")))
                        .alias("ts")
                    )
                elif c == "embedding":
                    # VERDICT r5 directive #3: verbatim-copied embeddings
                    # made every LSH bucket collide (identical vectors
                    # share every band key → quadratic bucket joins that
                    # real 100× data would not have) and degenerate
                    # k-means/centroid geometry. Perturb each copy with
                    # DETERMINISTIC per-(vec_id, rep, dim) hash noise,
                    # then rescale to the ORIGINAL norm so unit-norm
                    # invariants (cosine ≡ dot) survive. Replica 0 is the
                    # identity copy — the base corpus embeds unchanged.
                    # Noise amplitude ±0.15 per dim ≈ cosine ~0.8 to the
                    # source vector: replicas are near neighbours (dup
                    # structure still grows) but no longer collide in
                    # every band.
                    def _noisy(v):
                        perturbed = F.transform(
                            v,
                            lambda x, j: x.cast("double")
                            + (
                                F.pmod(
                                    F.xxhash64(
                                        F.col("vec_id"), F.col("__rep"), j
                                    ),
                                    F.lit(10007),
                                ).cast("double")
                                / 10007.0
                                - 0.5
                            )
                            * 0.3,
                        )
                        dot = lambda a: F.aggregate(  # noqa: E731
                            a,
                            F.lit(0.0),
                            lambda acc, x: acc + x.cast("double") * x.cast("double"),
                        )
                        scale = F.sqrt(dot(v) / dot(perturbed))
                        return F.transform(
                            perturbed, lambda x, _j: (x * scale).cast("float")
                        )

                    cols.append(
                        F.when(F.col("__rep") == 0, F.col(c))
                        .otherwise(_noisy(F.col(c)))
                        .alias(c)
                    )
                elif c == "text" and name == "documents":
                    # Round-7: the TEXT analog of the r5/r6 embedding
                    # fix — perturb text per replica so dup FAMILIES
                    # multiply instead of growing ×K (verbatim copies
                    # collide in every minhash band → quadratic pair
                    # joins: d_minhash_lsh_candidates 100.1 s at 100×).
                    # Construction details, measured inter-replica
                    # Jaccard, and the rejected alternatives (word
                    # suffixing, stride swaps) live in _perturb_text's
                    # docstring. Replica 0 stays the identity copy, so
                    # the base corpus and its ORIGINAL dup structure
                    # survive verbatim.
                    cols.append(
                        F.when(F.col("__rep") == 0, F.col(c))
                        .otherwise(_perturb_text(F.col(c)))
                        .alias(c)
                    )
                elif c == "n_chars" and name == "documents":
                    # keep the fixture invariant n_chars == length(text)
                    # through the perturbation
                    cols.append(
                        F.when(F.col("__rep") == 0, F.col(c))
                        .otherwise(
                            F.length(_perturb_text(F.col("text"))).cast("long")
                        )
                        .alias(c)
                    )
                else:
                    # NOTE bounded CLASS domains (embeddings.label,
                    # documents.lang, event_type, priorities, flags …)
                    # deliberately pass through unchanged: real 100×
                    # growth adds rows per class, not classes. Only
                    # entity KEYS grow (the list above).
                    cols.append(F.col(c))
            scaled = rep_df.select(*cols)
        dest = f"{out_dir}/{name}.parquet"
        if name not in ("region", "nation"):
            # write a realistic multi-file layout: the fixture is one file
            # with one giant row group, and replicating it K x produces a
            # handful of unsplittable monsters — scans (especially Python
            # passes) would run on 1-2 tasks no matter the cluster size
            scaled = scaled.repartition(32)
        scaled.write.mode("overwrite").parquet(dest)
        rows[name] = spark.read.parquet(dest).count()
    return rows


def main() -> int:
    from ingestion_pipeline_spark.plans import run_each
    from ingestion_pipeline_spark.session import get_spark

    argv = sys.argv[1:]
    # --warmup: before TIMING each query, run it once UNTIMED at the
    # tiny sf0.001 fixture in the same session. Complex-codegen plans
    # carry a one-time first-in-session plan-compile cost (~7.5 s for
    # tx_boilerplate_prune even at 500 docs — SCALE.md round-8
    # addendum), so a single-run fresh-session smoke without warm-up
    # measures cold compile + run, not the operator. Opt-in so
    # historical single-run numbers stay comparable.
    warmup = "--warmup" in argv
    # --all: sweep EVERY registered query (the full-suite 100x refresh,
    # VERDICT r9 #5) instead of the curated heavy-shape list.
    all_queries = "--all" in argv
    argv = [a for a in argv if a not in ("--warmup", "--all")]
    k = int(argv[0]) if argv else 10
    names = argv[1:] or (None if all_queries else DEFAULT_QUERIES)
    # SPARK_GRAFT_SCALE_DIR: reuse a pre-built replica (skip the
    # ~10-min 100x build and the exit-time delete) — for iterating on
    # individual queries against one kept replica.
    reuse_dir = os.environ.get("SPARK_GRAFT_SCALE_DIR")
    out_dir = reuse_dir or os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1x")

    spark = get_spark("scale-smoke")
    if reuse_dir:
        rows = {}
        build_s = 0.0
        print(f"# reusing replica at {out_dir}", file=sys.stderr)
    else:
        t0 = time.perf_counter()
        rows = build_scaled(spark, out_dir, k)
        build_s = round(time.perf_counter() - t0, 1)
        print(f"# built {k}x replica in {build_s}s: {rows}", file=sys.stderr)

    # machine-state fingerprint at sweep start/end (VERDICT r9 #5: the
    # 100x tables in SCALE.md are probe-annotated so cross-session
    # comparisons start ambient-corrected) — same fixed probe bench.py
    # records, read under the same both-medians drift rule.
    from bench import _env_probe

    probe_start = _env_probe(spark)
    print(f"# env probe (start): {probe_start}s", file=sys.stderr)

    def timed(name, fn):
        if warmup:
            fn(spark, os.path.join(os.path.dirname(SRC), "sf0.001")).write.format(
                "noop"
            ).mode("overwrite").save()
        t0 = time.perf_counter()
        fn(spark, out_dir).write.format("noop").mode("overwrite").save()
        sec = round(time.perf_counter() - t0, 2)
        print(f"# {name}: {sec}s", file=sys.stderr)
        return sec

    # run_each releases localCheckpoint blocks between queries — the
    # same measured leak bench.py documents (in the r7 70-query
    # single-session sweep the accumulated pressure degraded UNRELATED
    # late queries 4-16x: d_minhash_lsh_md5_pairs 4.0 -> 66.6 s,
    # v_kmeans_clusters 7.0 -> 41.5 s, all recovered once the release
    # landed).
    times: dict[str, float] = {}
    failures = 0
    for name, res in run_each(spark, timed, names).items():
        if isinstance(res, Exception):
            times[name] = -1.0
            failures += 1
            print(f"# {name}: FAILED {type(res).__name__}: {res}",
                  file=sys.stderr)
        else:
            times[name] = res

    probe_end = _env_probe(spark)
    print(f"# env probe (end): {probe_end}s", file=sys.stderr)
    print(json.dumps({
        "k": k,
        "build_sec": build_s,
        "rows": rows,
        "queries": times,
        "env_probe_sec": {
            "start": probe_start,
            "end": probe_end,
            "min": min(probe_start, probe_end),
        },
    }))
    if not reuse_dir:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
