"""Partition-independence gate: every registry query must produce the
IDENTICAL result (exact values, compared as sorted row multisets) when
the shuffle layout changes.

Why: the DuckDB differential proves Spark-vs-oracle agreement for ONE
partitioning. A float aggregate folded in partition order can match
today and flake tomorrow when the shuffle layout shifts (the class
fixed in tx_unigram_surprisal, round 4). This gate re-runs each query
with ``spark.sql.shuffle.partitions`` = 32 then 7 — different shuffle
fan-in reorders rows inside every aggregation — and fails on any
difference, float or otherwise.

Two full registry sweeps cost ~12 min, so the per-round invariant
(VERDICT r4 directive #6) is the bounded form: ``--diff BASE`` selects
every query whose DEFINING MODULE changed since git ref BASE (plus any
query in shared-function modules via transitive relief — a query is
picked if its tranche file OR anything under functions/ or operators/
it names changed), and ``--sample N`` adds a deterministic rotating
sample (offset = HEAD commit hash, so each round samples a different
slice without RNG).  The full sweep stays available by passing no
selector.

Usage:
    python tools/check_determinism.py [sf_dir] [query ...]
    python tools/check_determinism.py [sf_dir] --diff BASE [--sample N]
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _changed_queries(base: str) -> set[str]:
    """Queries whose defining module, or any changed non-test package
    module they (transitively, one hop) import names from, changed
    since ``base``. Conservative: a change to a shared functions/ or
    operators/ module selects every query whose tranche file mentions
    one of that module's top-level names."""
    from ingestion_pipeline_spark.plans.registry import REGISTRY

    out = subprocess.run(
        ["git", "diff", "--name-only", base, "--", "ingestion_pipeline_spark"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.split()
    changed = {os.path.normpath(p) for p in out}
    if not changed:
        return set()
    picked: set[str] = set()
    for name, spec in REGISTRY.items():
        mod = sys.modules[spec.spark.__module__]
        mod_file = os.path.normpath(os.path.relpath(mod.__file__, REPO))
        if mod_file in changed:
            picked.add(name)
            continue
        # shared-module hop: tranche file imports from a changed module
        src = open(mod.__file__).read()
        for ch in changed:
            stem = os.path.splitext(os.path.basename(ch))[0]
            if stem != "registry" and f"{stem}" in src and (
                f"from ..{os.path.basename(os.path.dirname(ch))} import" in src
                or f".{stem} import" in src
                or f"import {stem}" in src
            ):
                picked.add(name)
                break
    return picked


def _rotating_sample(n: int, exclude: set[str]) -> list[str]:
    from ingestion_pipeline_spark.plans.registry import REGISTRY

    names = sorted(k for k in REGISTRY if k not in exclude)
    if not names:
        return []
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO,
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    off = int(head[:8], 16) % len(names)
    return [(names * 2)[off + i] for i in range(min(n, len(names)))]


def _snapshot(df) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(repr(r[c]) for c in cols) for r in df.collect()]
    return sorted(rows)


def main() -> int:
    from __spark_entry__ import queries
    from ingestion_pipeline_spark.plans import release_caches
    from ingestion_pipeline_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and not args[0].startswith("--") \
        else "/root/testdata/sf0.01"
    only: set[str] = set()
    if "--diff" in args:
        base = args[args.index("--diff") + 1]
        diff_q = _changed_queries(base)
        only |= diff_q
        print(f"# --diff {base}: {len(diff_q)} queries selected: "
              f"{sorted(diff_q)}")
        if "--sample" in args:
            n = int(args[args.index("--sample") + 1])
            sample = _rotating_sample(n, exclude=only)
            only |= set(sample)
            print(f"# --sample {n}: {sample}")
        if not only:
            print("# nothing changed, nothing sampled — done")
            return 0
    else:
        unknown = [a for a in args if a.startswith("--")]
        if unknown:
            # A bare --flag here would become a query-name selector that
            # matches nothing: the sweep would silently check zero
            # queries and exit 0, reading as a determinism pass.
            print(f"error: unknown flag(s) {unknown} (only --diff BASE "
                  f"[--sample N] or query names)", file=sys.stderr)
            return 2
        only = set(args)
        missing = only - set(queries())
        if missing:
            print(f"error: unknown query name(s): {sorted(missing)}",
                  file=sys.stderr)
            return 2

    spark = get_spark("check-determinism")
    qs = queries()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            a = _snapshot(fn(spark, sf_dir))
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            b = _snapshot(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: error: {e}")
            failed.append(name)
            continue
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            # release localCheckpoint blocks between queries (the
            # long-session leak bench.py documents)
            try:
                release_caches(spark)
            except Exception:  # noqa: BLE001
                pass
        if a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: partition-dependent result, e.g. {diffs}")
            failed.append(name)
        else:
            print(f"PASS {name} ({len(a)} rows, {time.time()-t0:.1f}s)")

    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
