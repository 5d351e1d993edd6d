"""Steadiness proof: same-code runs in two interleaved sets.

    python3 perfbench/prove.py [--runs 10]

Run from the repository root. For each run index r (seed r + 1) it runs
sets A and B once each, A first on even indices and B first on odd ones,
and within a set every workload of ``BENCHMARK.json`` once, each as its
own ``run.py`` process with the ``run_seconds`` of ``BENCHMARK.json``.
It then reports, per set, workload and end-to-end metric, the median and
quartiles (``statistics.quantiles(n=4)``) and the spread
(q3 - q1) / median, and per workload and metric the drift of B's median
from A's, in the metric's worse direction. A metric holds when both
spreads and the drift are within its bound. The report goes to
``perfbench/steadiness.json``; the exit code is 1 if any metric does not
hold or any run is not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = ("A", "B")


def one_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description="interleaved same-code steadiness proof")
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)
    workloads = [w["name"] for w in spec["workloads"]]
    raw = {n: {w: [] for w in workloads} for n in SETS}
    t0 = time.time()
    for r in range(args.runs):
        for n in SETS if r % 2 == 0 else SETS[::-1]:
            for w in workloads:
                res = one_run(w, r + 1, spec["run_seconds"])
                raw[n][w].append(res)
                m = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
                print(f"[{time.time() - t0:6.0f}s] set {n} run {r} {w}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} {m}", flush=True)
    report = {"run_seconds": spec["run_seconds"], "runs": args.runs, "workloads": {}}
    ok = True
    for w in workloads:
        rep = report["workloads"][w] = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = {n: summarize([x["metrics"][name]["value"] for x in raw[n][w]]) for n in SETS}
            sign = 1 if m["better"] == "lower" else -1
            drift = sign * (sets["B"]["median"] - sets["A"]["median"]) / sets["A"]["median"]
            holds = drift <= bound and all(s["spread"] <= bound for s in sets.values())
            ok &= holds
            rep[name] = {"bound": bound, "sets": sets, "drift": drift, "holds": holds}
            line = "  ".join(
                f"{n}: med {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] spread {s['spread']:.3f}"
                for n, s in sets.items()
            )
            print(f"{w:10s} {name:11s} bound {bound:.2f}  {line}  drift {drift:+.3f}  {'ok' if holds else 'FAILS'}")
        runs = [x for n in SETS for x in raw[n][w]]
        rep["correct"] = all(x["correct"] for x in runs)
        rep["error_rate"] = sum(x["failed"] for x in runs) / sum(x["attempted"] for x in runs)
        ok &= rep["correct"]
    with open(os.path.join(HERE, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
