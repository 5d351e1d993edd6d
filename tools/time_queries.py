"""Ad-hoc per-query timer for optimization iteration (round 12).

Times a named subset of registry queries with the SAME methodology as
bench.py (noop sink, best-of-N, per-query clearCache hygiene, warm-up
queries first) but without the full-suite sweep, so an optimization
loop can re-measure its target queries in seconds instead of re-running
the whole bench. NOT part of the driver contract — bench.py remains the
only benchmark of record.

    python tools/time_queries.py q17_small_quantity_revenue d_dsir_importance
    python tools/time_queries.py --runs 3 --sf /root/testdata/sf0.1 <names...>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    from ingestion_pipeline_spark.plans import query_map, release_caches
    from ingestion_pipeline_spark.session import get_spark

    spark = get_spark("time-queries")
    qs = query_map()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark.range(1).count()
    if not args.no_warmup:
        for wname in ("q1_pricing_summary", "v_cosine_top8"):
            if wname in qs:
                try:
                    qs[wname](spark, args.sf).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception:  # noqa: BLE001
                    pass

    out: dict[str, list[float]] = {}
    for name in args.names:
        spark.sparkContext.setJobDescription(f"time: {name}")
        runs: list[float] = []
        try:
            for i in range(args.runs):
                t0 = time.perf_counter()
                qs[name](spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 3))
                if i >= 2 and min(runs) < 1.0:
                    break
        except Exception as exc:  # noqa: BLE001
            print(f"# {name}: ERROR {type(exc).__name__}: {exc}"[:300],
                  file=sys.stderr)
        finally:
            try:
                release_caches(spark)
            except Exception:  # noqa: BLE001
                pass
        if runs:
            out[name] = [min(runs), sorted(runs)[len(runs) // 2], max(runs),
                         len(runs)]
            print(f"# {name}: min={min(runs)} runs={runs}", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
