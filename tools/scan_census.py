"""Repeated-scan census (r12, guide §1/§2.4): explain every registry
query and count parquet scans per table in the compiled plan. A table
scanned N>1 times inside ONE query is a candidate for a shared
materialization (the d_dsir_importance finding: five scans because the
pushed-down lang filter defeated ReuseExchange). Planning-only — no
query execution beyond what plan construction itself triggers
(iterative operators materialize localCheckpoints at build time).

    python tools/scan_census.py [sf_dir] [--min 2]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    min_scans = 2
    from ingestion_pipeline_spark.plans import query_map, release_caches
    from ingestion_pipeline_spark.session import get_spark

    spark = get_spark("scan-census")
    out: list[tuple[str, str, int, int]] = []
    for name, fn in sorted(query_map().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: ERROR {type(exc).__name__}: {exc}"[:200],
                  file=sys.stderr)
            continue
        tables = re.findall(r"Location:.*?/(\w+)\.parquet", plan)
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        from collections import Counter

        for tbl, n in sorted(Counter(tables).items()):
            if n >= min_scans:
                out.append((name, tbl, n, n_exchange))
        # free per-query persisted state (localCheckpoint blocks)
        try:
            release_caches(spark)
        except Exception:  # noqa: BLE001
            pass
    print(f"{'query':42s} {'table':12s} scans exchanges")
    for name, tbl, n, ex in sorted(out, key=lambda r: -r[2]):
        print(f"{name:42s} {tbl:12s} {n:5d} {ex:9d}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
