"""Queries whose Python-worker code lives in this package must run when
the driver starts outside the checkout: the worker then cannot import
``ingestion_pipeline_spark`` (its path is only on the driver's
``sys.path``), so that code has to ship to the worker by value."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

WORKER_SIDE_QUERIES = (
    "t_topk_per_group_pandas",  # applyInPandas: registry_ext9._top3_pandas
    "mm_media_features",  # mapInPandas: operators/multimodal.py
    "s_pyds_nvd_scan",  # Python data source: sources/pyds.py
)


def test_worker_side_queries_run_outside_the_checkout(tmp_path, sf_dir):
    repo = str(Path(__file__).resolve().parents[1])
    script = "\n".join(
        [
            "import sys",
            f"sys.path.insert(0, {repo!r})",
            "from ingestion_pipeline_spark.plans import query_map",
            "from ingestion_pipeline_spark.session import get_spark",
            "spark = get_spark('worker-imports', master='local[2]', shuffle_partitions=2)",
            "qs = query_map()",
            f"for name in {WORKER_SIDE_QUERIES!r}:",
            f"    print(name, len(qs[name](spark, {sf_dir!r}).collect()))",
            "spark.stop()",
        ]
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != Path(repo)
    )
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-4000:]
    counts = dict(line.split() for line in r.stdout.splitlines())
    assert sorted(counts) == sorted(WORKER_SIDE_QUERIES)
    assert all(int(n) > 0 for n in counts.values()), counts
