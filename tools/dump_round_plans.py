"""Dump `.explain("formatted")` for named registry queries into
plans/<round>/<query>_<tag>.txt — the before/after plan evidence an
optimization round commits alongside each change. The queries are
explained in registry order; one that fails is reported on stderr (exit
1) and the others are still written.

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

    from ingestion_pipeline_spark.plans import plan_text, run_each
    from ingestion_pipeline_spark.session import get_spark

    spark = get_spark(f"dump-{args.round}-plans")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(out_dir, exist_ok=True)

    def dump(name, fn):
        plan = plan_text(fn(spark, args.sf), "formatted")
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {plan.count('Scan parquet')} parquet scans, "
              f"{plan.count('Exchange')} Exchange -> {path}")

    failed = {n: r for n, r in run_each(spark, dump, args.names).items() if r}
    for name, exc in failed.items():
        print(f"{name}: ERROR {type(exc).__name__}: {exc}"[:300], file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
