"""Physical-plan audit: .explain() every registry query and flag
anti-scale patterns. Usage:

    python tools/audit_plans.py [sf_dir]

Checks per query:
- CartesianProduct / BroadcastNestedLoopJoin without an allowlist entry
  (intended only where a probe/1-row side is broadcast by design);
- parquet scans that read every column of a wide table (projection
  should prune);
- single-shuffle sanity: counts distinct Exchange operators (shuffle
  and broadcast, each once however often a cached frame is read) so a
  regression that doubles shuffles is visible in review diffs, and
  prints the parquet scan count per table (``scans=lineitem:2,...``) —
  a table scanned more than once inside ONE query is a candidate for a
  shared materialization (the d_dsir_importance finding: five scans
  because the pushed-down lang filter defeated ReuseExchange).
- unpartitioned Window nodes (round-5, verdict r4 directive #3): a
  ``Window``/``WindowInPandas`` with an empty partition spec moves its
  whole input to ONE task — Spark itself warns ``WindowExec: No
  Partition Defined``.  Fine over provably bounded frames (top-k
  results, distinct-value histograms, |groups|-row tables), a
  scale-killer over the corpus (the retired ntile form of
  d_difficulty_buckets).  Every allowlisted query documents WHY its
  frame is bounded; anything else is flagged.
- Python UDFs evaluated twice: one UDF call planned in more than one
  ``ArrowEvalPython``/``BatchEvalPython`` node runs its kernel once per
  node (the optimizer copies a deterministic UDF into a pushed-down
  filter or into both consumers of a collapsed projection; the kernels
  are marked non-deterministic against that, SCALE.md "UDF-fed
  joins"). Counted on the formatted plan, so a persisted frame's plan
  counts once however often it is read. A ``localCheckpoint``ed frame
  shows as ``Scan ExistingRDD`` with its lineage cut off, so a
  duplicate inside a checkpointed frame is invisible here;
  ``tests/test_plan_pins_r13.py`` pins the signature frames that the
  near-dup queries checkpoint.

Exit 1 on any unexpected flag — wired for CI use.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries where a nested-loop/cross join is the intended plan: the
# broadcast side is a probe set or 1-row aggregate by construction.
NLJ_ALLOWED = {
    "v_cosine_top8",       # 1-row probe vector broadcast
    "v_threshold_search",  # same
    "v_knn_join",          # tiny probe table cross-joined by design
    "rag_context_block",   # 1-row probe
    "rag_answer_end_to_end",
    "q15_top_supplier",    # 1-row max-revenue broadcast equality join
    "q11_top_brand_value",   # 1-row total-value threshold broadcast
    "q22_rich_quiet_customers",  # 1-row average-balance broadcast
    "j_price_band_join",   # 6-row band table: broadcast NLJ is the plan
    "w_gapfill_hourly",    # calendar spine x tiny series set: dense grid by design
    "d_domain_mixture",    # 1-row (total, n_sources) aggregate broadcast
    "tx_unigram_surprisal",  # 1-row corpus-total broadcast
    "v_two_stage_rerank",  # broadcast probe set x corpus: the exact-knn join shape
    "t_bm25_keyword_topk",  # 1-row corpus-stats (N, avgdl, df) broadcast
    "v_hybrid_rrf_fusion",  # BM25 stats broadcast + 1-row probe, both inherited
    "v_negative_samples",  # tiny anchor set broadcast x corpus on label<>: by design
    "dq_join_skew_profile",  # 10-row TakeOrdered top-k x 1-row stats broadcast
    "pipeline_dedup_cascade",  # three 1-row count aggregates cross-joined into the 2-row stack
    "d_dup_clusters_capped",   # two 1-row censuses (excluded_pairs,
                               # guarded_buckets) broadcast onto the
                               # per-doc component assignment
    "d_split_leakage_capped",  # same two 1-row censuses broadcast
                               # onto the per-cluster audit rows
    "g_triangle_census_capped",  # five 1-row aggregates (triangles,
                                 # edges, degree stats, two cap
                                 # censuses) cross-joined into the
                                 # single census row
    "d_personalized_pagerank_capped",  # the two 1-row cap censuses
                                       # broadcast onto the per-doc
                                       # rank rows
    "d_lpa_communities_capped",  # same two 1-row censuses broadcast
                                 # onto the per-doc community rows
    "d_minhash_jaccard_calibration",  # 1-row pair-census (total vs sampled) broadcast onto the capped calibration rows
    "g_triangle_counts",   # 1-row edge/node-count aggregates broadcast onto 1-row triangle count
    "g_histogram_totalprice",  # 1-row (min, max) bounds broadcast onto the scan
    "dq_psi_drift",        # 1-row bounds/totals/psi-total broadcasts onto |bins| rows
    "v_maxsim_late_interaction",  # <=4-row query-token broadcast x doc tokens: the late-interaction shape
    "v_lsh_recall_at_k",   # inherits v_knn_join's broadcast probe x corpus exact side
    "tx_bpe_merges",       # merge table materialized via createDataFrame (scan-free plan)
    "g_countmin_heavy_hitters",  # 1-row token-total broadcast onto vocab-sized estimates
    "t_tfidf_topk",        # 1-row corpus-stats (N, df) broadcast — BM25 shape
    "v_sign_hamming_topk",  # 1-row probe code broadcast onto the code scan
    "v_matryoshka_prefix_topk",  # 1-row probe vector broadcast
    "d_difficulty_buckets",  # 1-row corpus-count stats frame broadcast
                             # onto the |distinct n_chars| histogram (r5
                             # threshold-bucketing rewrite)
    "tx_bigram_perplexity",  # 1-row vocab-size broadcast (surprisal shape)
    "e_threshold_sweep",     # 1-row (min,max) bounds + 10-row threshold
                             # grid broadcast onto the scan
    "v_standardize_dims",    # 1-row per-dim mean/std arrays broadcast
                             # onto the embeddings scan
    "d_temperature_mixture",  # 1-row (N, Z) stats broadcast onto the
                              # |sources|-row counts frame
    "g_cooccurrence_pmi",     # 1-row (NU, NB) totals broadcast
    "v_pca_power_iteration",  # 1-row direction vector broadcast per
                              # power-iteration round (x3)
    "e_retrieval_mrr",        # bounded probe sample broadcast x corpus
                              # on the exact side (the recall@k shape)
    "e_annotator_agreement",  # three 1-row stat frames (n, diag, s)
                              # crossed into the single output row
    "v_ivf_cell_balance",     # 1-row (total, max) stats broadcast onto
                              # the |cells|-row report
    "pipeline_curriculum_order",  # 1-row corpus-count stats frame (the
                                  # d_difficulty_buckets shape)
    "s_active_learning_margin",   # 1-row (min+max)/2 threshold broadcast
    "pipeline_context_length_sweep",  # 4-row candidate-length grid
                                      # broadcast fan-out onto the scan
    "d_dsir_importance",      # 1-row (R, T) corpus-total broadcast onto
                              # the 256-row bucket-ratio table
    "d_eg_domain_reweight",   # 1-row max-loss + 1-row weight-total
                              # broadcasts onto the |domains|-row frame
    "pipeline_token_budget",  # 1-row (n_src, budget) totals broadcast
                              # onto the |sources|-row frame
    "dq_benford_deviation",   # 1-row order-count total broadcast onto
                              # the 9-row literal digit grid
    "pipeline_mixture_manifest",  # 1-row max-loss broadcast onto the
                                  # |sources|-row tilt frame (the
                                  # d_eg_domain_reweight shape)
    "entry",
}

# Wide tables where reading every column indicates missing pruning.
WIDE = {"lineitem": 10, "orders": 6, "events": 6}

# Queries whose UNPARTITIONED window runs over a provably bounded frame
# (the input row count is capped by construction, independent of data
# scale), so the single-task sort is O(bound), not O(corpus).  Anything
# not listed here that plans an empty-partition-spec Window is flagged.
# (This is the exact trigger set at round 5 — every other registry
# query plans zero unpartitioned windows; re-running the scan after a
# new tranche keeps the set honest.)
GLOBAL_WINDOW_ALLOWED = {
    "tx_vocab_build":        "dense-id window AFTER the top-500 LIMIT "
                             "(registry_ext25.py:61-64)",
    "d_difficulty_buckets":  "cumsum over the distinct-n_chars histogram "
                             "(bounded value domain, groupBy output), "
                             "never the corpus (registry_ext25.py r5 "
                             "threshold-bucketing rewrite)",
    "pipeline_curriculum_order": "inherits d_difficulty_buckets' "
                             "histogram cumsum; the corpus window is "
                             "partitioned by bucket (registry_ext61.py)",
    "t_global_dense_ids":    "prefix-sum over the |sources|-row offset "
                             "table; the corpus window is partitioned "
                             "by source (registry_ext32.py:33-49)",
    "pipeline_shard_manifest": "inherits t_global_dense_ids' offsets "
                             "window (same _dense_ids helper)",
    "t_bm25_keyword_topk":   "rank over the TakeOrdered top-k candidate "
                             "set (search.py:153)",
    "t_tfidf_topk":          "rank over the top-k candidate set "
                             "(registry_ext21.py:151)",
    "v_hybrid_rrf_fusion":   "two rank windows over two top-k result "
                             "lists feeding RRF",
    "dq_join_skew_profile":  "cumsum + totals over the distinct-cnt "
                             "count histogram (bounded value domain, "
                             "groupBy output) and rank over the 10-row "
                             "TakeOrdered heap (registry_ext65.py)",
    "v_sign_hamming_topk":   "rank over the k-row topk() output "
                             "(registry_ext49.py:296-303)",
}


def _groups(s: str) -> list[str]:
    """Top-level ``[...]`` group bodies of a plan line, in order."""
    depth = 0
    out: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                out.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return out


def unpartitioned_windows(plan: str) -> int:
    """Count Window nodes with an EMPTY partition spec.

    Physical-plan text (format verified on pyspark 4.1, see ROUND5.md):
    - ``Window [exprs], [part], [order]`` — partitioned;
      ``Window [exprs], [order]`` when the partition spec is empty.  A
      partition-only window (no orderBy) also prints two groups, so the
      2-group form is flagged only when its last group is an ORDER spec
      (carries ``ASC``/``DESC`` direction tokens, which plan text always
      prints; bare partition columns never do).
    - ``WindowGroupLimit [part], [order], fn, limit, mode`` — here the
      partition group is always printed, so empty = literal ``[]``.
    ``WindowInPandas`` follows the Window shape.
    """
    n = 0
    for line in plan.splitlines():
        stripped = line.lstrip(" :+-*()0123456789")
        if stripped.startswith("WindowGroupLimit ["):
            if stripped.startswith("WindowGroupLimit [],"):
                n += 1
        elif stripped.startswith(("Window [", "WindowInPandas [")):
            gs = _groups(stripped)
            if len(gs) == 2 and (" ASC" in gs[-1] or " DESC" in gs[-1]):
                n += 1
            elif len(gs) == 3 and not gs[1].strip():
                n += 1
    return n


def udf_eval_nodes(formatted: str) -> Counter:
    """``{udf call: eval nodes}``: how many ``ArrowEvalPython``/
    ``BatchEvalPython`` nodes of a formatted plan evaluate each Python
    UDF call.

    A call is keyed by its text with its result id
    (``sig(text#1)#54``), which the optimizer keeps when it copies the
    expression. An executed adaptive plan prints a ``Final Plan``
    beside its ``Initial Plan``, the same nodes under new ids, so only
    nodes of the initial plans count."""
    # node ids of the operator trees: the plan's and each subquery's,
    # each running up to its first "(id) Name" detail block
    tree_ids: set[str] = set()
    in_tree, final_col = False, None
    for line in formatted.splitlines():
        if line.startswith(("== Physical Plan ==", "Subquery:")):
            in_tree = True
        elif re.match(r"\(\d+\) ", line):
            in_tree = False
        elif not in_tree:
            continue
        elif final_col is not None:
            if line.find("== Initial Plan ==") == final_col:
                final_col = None
        elif "== Final Plan ==" in line:
            final_col = line.find("== Final Plan ==")
        else:
            tree_ids.update(re.findall(r"\((\d+)\)", line))
    calls: dict[str, set[str]] = {}
    # the call list may span lines: literals keep their newlines
    evals = re.finditer(
        r"^\((\d+)\) (?:Arrow|Batch)EvalPython\n.*?^Arguments: \[(.*?)\], \[pythonUDF\d",
        formatted,
        re.M | re.S,
    )
    for node in evals:
        if node.group(1) in tree_ids:
            for call in re.findall(r"\w+\(.*?\)#\d+", node.group(2), re.S):
                calls.setdefault(call, set()).add(node.group(1))
    return Counter({call: len(ids) for call, ids in calls.items()})


def audit(name: str, df) -> list[str]:
    """Print the query's audit line and return its flags."""
    from ingestion_pipeline_spark.plans import plan_text

    plan = plan_text(df)
    # scans and exchanges from the formatted plan, which describes each
    # operator once under its "(id) Name" line; the tree text repeats a
    # persisted frame's whole plan at every read
    formatted = plan_text(df, "formatted")
    scans = Counter(re.findall(r"Location:.*?/(\w+)\.parquet", formatted))
    exchanges = len(set(re.findall(r"^\((\d+)\) \w*Exchange\b", formatted, re.M)))
    flags: list[str] = []
    if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and name not in NLJ_ALLOWED:
        flags.append("unexpected cross/NLJ join")
    n_gwin = unpartitioned_windows(plan)
    if n_gwin and name not in GLOBAL_WINDOW_ALLOWED:
        flags.append(f"unpartitioned Window x{n_gwin} (single-task sort"
                     " of its whole input; allowlist only bounded frames)")
    for call, n in sorted(udf_eval_nodes(formatted).items()):
        if n > 1:
            flags.append(f"Python UDF {call} evaluated in {n} nodes")
    for line in plan.splitlines():
        if "FileScan parquet" not in line:
            continue
        cols = re.search(r"FileScan parquet \[([^\]]*)\]", line)
        tbl = re.search(r"/(\w+)\.parquet", line)
        if not cols or not tbl:
            continue
        name_t = tbl.group(1)
        ncols = cols.group(1).count(",") + 1 if cols.group(1) else 0
        if name_t in WIDE and ncols >= WIDE[name_t]:
            flags.append(f"unpruned scan of {name_t} ({ncols} cols)")
    status = "FLAG" if flags else "ok"
    scan_list = ",".join(f"{t}:{n}" for t, n in sorted(scans.items()))
    print(f"{status:4} {name}: exchanges={exchanges}"
          f" scans={scan_list or '-'}"
          + (f" — {'; '.join(flags)}" if flags else ""))
    return flags


def main() -> int:
    from ingestion_pipeline_spark.plans import run_each
    from ingestion_pipeline_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("audit-plans")
    results = run_each(spark, lambda name, fn: audit(name, fn(spark, sf_dir)))
    failures: list[str] = []
    for name, res in results.items():
        if isinstance(res, Exception):
            failures.append(f"{name}: explain failed: {res}")
        elif res:
            failures.append(f"{name}: {'; '.join(res)}")

    print(f"\n{len(failures)} flagged" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
