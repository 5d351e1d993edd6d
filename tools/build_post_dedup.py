"""Build the POST-DEDUP replica the graph diagnostics deploy against.

SCALE.md's 100x sweeps show the candidate-pair-graph family
(g_triangle_counts, d_lpa_communities, d_pagerank_neardup,
d_personalized_pagerank, d_dup_clusters) growing superlinearly on the
faithful replica: the input GRAPH grows quadratically/cubically in
dup-family size (100-copy families are near-cliques), while each
operator stays linear in its edges. The documented production answer
is to run those diagnostics on the post-dedup corpus, where the
family cliques are removed by construction. This tool turns that
claim into a measurement: it materializes the post-dedup replica, so
the SAME registry queries can be timed against it with

    SPARK_GRAFT_SCALE_DIR=.scale/sf100x-dedup python tools/scale_smoke.py \
        100 g_triangle_counts d_lpa_communities d_pagerank_neardup \
        d_personalized_pagerank d_dup_clusters

What it writes into --out:

- ``embeddings.parquet``: survivors of the embedding near-dup drop
  rule — drop any vec_id that appears as id_b in the
  d_embedding_near_dups edge list (id_a < id_b, cosine >= 0.3 within
  the label block), i.e. keep only vectors with no lower-id near-dup
  partner. The survivor set is edge-free by construction; what the
  diagnostics then measure is the real residual graph cost, not the
  dup-family cliques.
- ``documents.parquet``: pipeline_dedup_cascade survivors (exact
  stage: keep min doc_id per normalized-text md5; near stage: drop
  any doc whose top-K lower-id LSH candidates contain an exact
  3-gram-Jaccard >= 0.5 partner). The drop rule here mirrors
  plans/registry_ext65.py::pipeline_dedup_cascade stage-for-stage —
  same kernels (minhash_md5_slots, jaccard3_bp), same constants —
  but materializes the SURVIVOR ID SET the 2-row attrition report
  aggregates away.
- symlinks for every other table, so any registry query runs
  unchanged against the derived dir.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def embedding_survivors(spark, base: str):
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.plans import REGISTRY

    emb = spark.read.parquet(os.path.join(base, "embeddings.parquet"))
    edges = REGISTRY["d_embedding_near_dups"].spark(spark, base)
    dropped = edges.select(F.col("id_b").alias("vec_id")).distinct()
    return emb.join(dropped, "vec_id", "left_anti")


def document_survivors(spark, base: str):
    """Cascade survivor rows — the registry's own shared plan
    (registry_ext65.cascade_frames, round 9): the SAME definition the
    attrition report and pipeline_dedup_survivors run, so the tool can
    never drift from the queries it mirrors (it used to duplicate the
    plan; tests/test_post_dedup_tool.py pins the equality either way)."""
    from ingestion_pipeline_spark.plans.registry_ext65 import cascade_frames

    return cascade_frames(spark, base)["survivors"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--base", default=".scale/sf100x-work")
    ap.add_argument("--out", default=".scale/sf100x-dedup")
    args = ap.parse_args()
    base, out = os.path.abspath(args.base), os.path.abspath(args.out)

    from ingestion_pipeline_spark.plans import release_caches
    from ingestion_pipeline_spark.session import get_spark

    spark = get_spark("build-post-dedup")
    os.makedirs(out, exist_ok=True)
    counts: dict[str, int] = {}

    t0 = time.perf_counter()
    emb = embedding_survivors(spark, base)
    emb.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    counts["embeddings_survivors"] = spark.read.parquet(
        os.path.join(out, "embeddings.parquet")
    ).count()
    emb_s = round(time.perf_counter() - t0, 1)
    release_caches(spark)

    t0 = time.perf_counter()
    doc = document_survivors(spark, base)
    doc.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    counts["documents_survivors"] = spark.read.parquet(
        os.path.join(out, "documents.parquet")
    ).count()
    doc_s = round(time.perf_counter() - t0, 1)
    # one-shot consumer: release the cascade's checkpoint blocks
    # (sig carries the full text column — ADVICE r9 release contract)
    release_caches(spark)

    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        link = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(base, f"{t}.parquet"), link)

    print(
        json.dumps(
            {
                "base": base,
                "out": out,
                "counts": counts,
                "embedding_dedup_sec": emb_s,
                "document_dedup_sec": doc_s,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
