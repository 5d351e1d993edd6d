"""Per-query timer for optimization iteration: times the named registry
queries exactly as ``bench.py`` does (its warm-up, its adaptive
best-of-N through the noop sink, its per-query cache release) without
the full-suite sweep, so an optimization loop can re-measure its target
queries in seconds. Not a benchmark of record — ``bench.py`` is.

    python tools/time_queries.py q17_small_quantity_revenue d_dsir_importance
    python tools/time_queries.py --sf <sf_dir> <names...>

Prints one JSON line: ``{name: [min, median, max, n_runs]}``; a query
that raises is reported on stderr and left out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from bench import time_query, warm_up
    from ingestion_pipeline_spark.plans import run_each
    from ingestion_pipeline_spark.session import get_spark

    spark = get_spark("time-queries")
    warm_up(spark, args.sf)
    results = run_each(
        spark, lambda name, fn: time_query(spark, args.sf, name, fn), args.names
    )
    out: dict[str, list[float]] = {}
    for name, res in results.items():
        if isinstance(res, Exception):
            print(f"# {name}: ERROR {type(res).__name__}: {res}"[:300],
                  file=sys.stderr)
        else:
            out[name] = res
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
