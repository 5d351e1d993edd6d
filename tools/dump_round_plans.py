"""Dump `.explain("formatted")` for named registry queries into
plans/<round>/<query>_<tag>.txt — the before/after plan evidence an
optimization round commits alongside each change.

    python tools/dump_round_plans.py <round> <tag> <query> [query ...]
    python tools/dump_round_plans.py --sf /root/testdata/sf0.1 r13 after q1 ...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("round", help="plans/ subdirectory, e.g. r13")
    ap.add_argument("tag", choices=["before", "after"])
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from ingestion_pipeline_spark.plans import query_map, release_caches
    from ingestion_pipeline_spark.session import get_spark

    spark = get_spark(f"dump-{args.round}-plans")
    qs = query_map()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in args.names:
        df = qs[name](spark, args.sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_scan = plan.count("Scan parquet")
        n_ex = plan.count("Exchange")
        print(f"{name}: {n_scan} parquet scans, {n_ex} Exchange -> {path}")
        # release any localCheckpoint blocks plan construction pinned
        try:
            release_caches(spark)
        except Exception:  # noqa: BLE001
            pass
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
