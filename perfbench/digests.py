"""Check the iterative queries against their DuckDB oracles once, and
store the digest of each verified result in ``digests.json``.

    python3 perfbench/digests.py [full] [tiny]

Run from the repository root. For each scale it runs every iterative
query on the pinned session and its SQL from
``plans.oracle_sql_map()`` on DuckDB over the same corpus parquet, and compares
row count, columns and values (floats to 10 significant digits). Only a
result that matches its oracle gets a digest; the benchmark then checks
each run's output against the stored digest instead of re-running the
oracle, which at the full scale takes longer than a run may. Exits 1 if
any query disagrees with its oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from perfbench import checks, inputs, run
    from perfbench.workloads import ITERATIVE_QUERIES, PROBE_QUERIES
    from ingestion_pipeline_spark.plans import oracle_sql_map, query_map, release_caches

    scales = argv or ["full", "tiny"]
    work = os.path.join(ROOT, ".perfbench", "work", "digests")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update(SPARK_GRAFT_CPUS=str(run.CORES), SPARK_GRAFT_DRIVER_MEM=run.DRIVER_MEM)
    spark = run.start_session(work)
    qm, oracles = query_map(), oracle_sql_map()
    path = os.path.join(HERE, "digests.json")
    with open(path) as f:
        stored = json.load(f)
    bad = []
    try:
        for scale in scales:
            corpus = inputs.corpus_dir(scale)
            con = duckdb.connect()
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
            stored[scale] = {}
            for name in ITERATIVE_QUERIES + PROBE_QUERIES:
                rows = [r.asDict() for r in qm[name](spark, corpus).collect()]
                release_caches(spark)
                ref = con.execute(oracles[name]).fetch_arrow_table().to_pylist()
                digest, ref_digest = checks.result_digest(rows), checks.result_digest(ref)
                ok = digest == ref_digest
                print(f"{scale} {name}: {len(rows)} rows, oracle {len(ref)} rows, {'match' if ok else 'MISMATCH'}")
                if ok:
                    stored[scale][name] = digest
                else:
                    bad.append(f"{scale}/{name}")
    finally:
        run.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
