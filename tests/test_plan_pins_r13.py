"""r13 plan pins (VERDICT r12 #7/#10): the optimizer-contract hacks the
r12 optimizations rely on — asNondeterministic anti-duplication on the
Arrow cosine kernel, persist-for-stats broadcast preservation in the
ext65 cascade, checkpoint-deduped LSH kernels, column-pruned Arrow
transfers on the multimodal surface — each gets a test that fails if a
Spark upgrade (or a refactor) silently regresses the plan shape.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from ingestion_pipeline_spark.plans import plan_text

SF = "/root/testdata/sf0.001"


def _eval_nodes_per_kernel(df) -> Counter:
    """How many Python-eval nodes of ``df``'s plan call each UDF, by
    UDF name (``tools/audit_plans.py``'s count)."""
    from tools.audit_plans import udf_eval_nodes

    nodes = udf_eval_nodes(plan_text(df, "formatted"))
    return Counter({call.split("(")[0]: n for call, n in nodes.items()})


def test_probe_cosine_single_arrow_pass_with_pushed_filters(spark):
    """v_cosine_top8 shape: the threshold/exclusion filter must not be
    pushed below the non-deterministic Arrow kernel into a SECOND
    ArrowEvalPython (guide §4.4), and the id filter stays at the scan."""
    from ingestion_pipeline_spark.plans import query_map

    for name in ("v_cosine_top8", "v_threshold_search"):
        plan = plan_text(query_map()[name](spark, SF))
        assert plan.count("ArrowEvalPython") == 1, (name, plan)
        assert "PushedFilters: [" in plan, name
        spark.catalog.clearCache()


def test_md5_signature_kernel_runs_once_per_frame(spark, monkeypatch):
    """The md5 MinHash kernel is non-deterministic to the optimizer, so
    the signature frames' ``mh_0 IS NOT NULL`` filter is not pushed
    below the projection into a second ArrowEvalPython (the cascade's
    used to run the kernel on the 1-task documents scan as well as
    after ``spread``). The two builders' frames are caught where
    ``md5_signatures`` returns them: ``d_minhash_lsh_md5_pairs``
    checkpoints its frame, which hides the lineage from the query plan
    and from ``tools/audit_plans.py``."""
    from ingestion_pipeline_spark.operators import dedup
    from ingestion_pipeline_spark.plans import query_map, release_caches
    from ingestion_pipeline_spark.plans.registry_ext65 import cascade_frames

    try:
        assert _eval_nodes_per_kernel(cascade_frames(spark, SF)["sig"]) == {"sig": 1}
    finally:
        release_caches(spark)

    built, real = [], dedup.md5_signatures

    def caught(*args, **kwargs):
        built.append(real(*args, **kwargs))
        return built[-1]

    monkeypatch.setattr(dedup, "md5_signatures", caught)
    for name in ("d_minhash_lsh_md5_pairs", "d_minhash_band_tuning"):
        built.clear()
        try:
            query_map()[name](spark, SF)
            assert len(built) == 1, name
            assert _eval_nodes_per_kernel(built[0]) == {"sig": 1}, name
        finally:
            release_caches(spark)


def test_ivf_assignment_runs_once_with_probe_filter_at_scan(spark):
    """v_ivf_topk: one eval node per kernel (the cluster filter used to
    copy the assignment kernel below the ``spread`` exchange), and the
    probe exclusion still reaches the scan."""
    from ingestion_pipeline_spark.plans import query_map

    df = query_map()["v_ivf_topk"](spark, SF)
    assert _eval_nodes_per_kernel(df) == {"nearest": 1, "cos": 1}
    assert "Not(EqualTo(vec_id,0))" in plan_text(df, "formatted")


def test_cascade_docs_join_stays_broadcast(spark):
    """ext65 persist-for-stats: s1/edges are persist()ed precisely so
    the docs⋈s1 (and downstream) joins keep their size estimates — the
    r12 localCheckpoint detour demoted them to a sort-merge of the full
    text corpus (2x whole-family regression). Pin: no SortMergeJoin
    anywhere in the survivor plan at fixture scale."""
    from ingestion_pipeline_spark.plans import release_caches
    from ingestion_pipeline_spark.plans.registry_ext65 import cascade_frames

    import re

    frames = cascade_frames(spark, SF)
    try:
        plan = plan_text(frames["survivors"])
        # the docs⋈s1 join (Inner on doc_id both sides) must be a
        # broadcast; the r12 demotion turned exactly this join into a
        # sort-merge of the full text corpus. (Other SMJs — the
        # doc_id anti-join, the banded self-join — are legitimate.)
        bhj_docs = re.findall(
            r"BroadcastHashJoin \[doc_id#\d+L?\], \[doc_id#\d+L?\], Inner",
            plan,
        )
        assert bhj_docs, plan
        smj_docs = re.findall(
            r"SortMergeJoin \[doc_id#\d+L?\], \[doc_id#\d+L?\], Inner",
            plan,
        )
        assert not smj_docs, plan
    finally:
        release_caches(spark)


def test_minhash_lsh_kernel_runs_once(spark):
    """The banded frame is checkpointed so the shingle+minhash Arrow
    kernel runs ONCE, not once per self-join side (r12 scan census);
    the consumer plan must carry no Python-eval node and no parquet
    scan — both sides read the one materialized frame."""
    from ingestion_pipeline_spark.plans import query_map

    for name in ("d_minhash_lsh_candidates", "d_minhash_lsh_md5_pairs"):
        plan = plan_text(query_map()[name](spark, SF))
        for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
            assert node not in plan, (name, node)
        assert "Scan parquet" not in plan, name
        assert plan.count("Scan ExistingRDD") >= 2, name
        spark.catalog.clearCache()


@pytest.fixture()
def media(spark):
    rows = [
        ("/m/a.img", "image", b"\x89IMG" + bytes(range(50)), 1),
        ("/m/b.vid", "video", b"VID0" + bytes(range(60)), 1),
    ]
    return spark.createDataFrame(
        rows, "path string, modality string, content binary, extra int"
    )


def test_multimodal_arrow_transfer_ships_only_needed_columns(media):
    """r12 §17 (guide §4.1): mapInPandas is opaque to column pruning, so
    each multimodal kernel selects only the columns it reads before the
    Arrow transfer — an unselected column must not appear anywhere at or
    below the MapInPandas node."""
    from ingestion_pipeline_spark.operators import multimodal as mm

    cases = {
        "extract_features": mm.extract_features(media),
        "resize_images": mm.resize_images(media, 8, 8),
        "average_hash32": mm.average_hash32(media),
    }
    for name, df in cases.items():
        plan = plan_text(df)
        mip = [ln for ln in plan.splitlines() if "MapInPandas" in ln]
        assert mip, name
        # the Arrow transfer list is the run(...) argument list; the
        # raw scan line below may still display every source column
        assert all("extra" not in ln for ln in mip), (name, mip)
        proj = [ln for ln in plan.splitlines() if "Project [" in ln]
        assert proj and all("extra" not in ln for ln in proj), (name, proj)


def test_release_caches_clears_registry_persists(spark):
    """VERDICT r12 #9: the registry-boundary contract — after a
    cascade-consumer query runs, release_caches() leaves no persistent
    RDDs behind."""
    from ingestion_pipeline_spark.plans import query_map, release_caches

    df = query_map()["pipeline_dedup_survivors"](spark, SF)
    df.write.format("noop").mode("overwrite").save()
    release_caches(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
