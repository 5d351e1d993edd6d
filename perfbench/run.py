"""Benchmark of record for the engine's write path and its iterative
curation queries.

    python3 perfbench/run.py --workload {ingest,iterative} \
        --seed N --seconds S --trace {0,1} [--scale {full,tiny}]

Run from the repository root. One invocation is one fresh Python process
and one pinned local Spark session: it writes the seeded inputs, sets up
(session, inputs readable, untimed warm-up) several times and reports the
median, runs timed passes for ``--seconds``, checks every output, and
prints one JSON line as the last line of standard output::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
from a run that traces every pass and reports what the spans cost as
``trace.overhead_s``. A layer the workload does not
exercise reads 0. The full record (pinned settings, every pass, CPU
steal, load average, the tail latency) goes to
``.perfbench/results/<workload>-seed<N>-trace<T>.json`` and the spans of
a traced run to ``...-spans.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import Tracer, cpu_steal_s, process_tree, tree_cpu_s  # noqa: E402

# Pinned session: k local cores (never more than the machine has), as
# many shuffle partitions, and a driver heap that fits a small box.
CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = CORES
DRIVER_MEM = "2g"
SETUPS = 3
# Engine knobs that would change plans; unset so the environment cannot
# move the numbers.
UNSET_KNOBS = (
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_GRAPH_LAYOUT",
    "SPARK_GRAFT_LSH_HOT_BUCKET",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
)


def span_cost_s(n: int = 20000) -> float:
    """Wall time one span adds, measured on an empty span. A traced
    pass's overhead is its span count times this; a wall-clock
    comparison of traced and untraced passes could not resolve it."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    if n <= 10:
        return {"value": None, "percentile": None, "n": n}
    s = sorted(samples)
    idx = n - 11
    return {"value": s[idx], "percentile": round(100 * (idx + 1) / n, 1), "n": n}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def start_session(work: str):
    from ingestion_pipeline_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the first session launched, and
    wait until it and the Python workers it started have exited."""
    from pyspark import SparkContext

    started = set(process_tree()) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers are the JVM's children, so they cannot be waited on
    # from here: poll until they are gone, then kill what is left
    deadline = time.monotonic() + 15
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            return
        time.sleep(0.1)


def run(args) -> dict:
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(results, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM spark-submit starts: keep its temp files in the run's
        # dir and write no /tmp/hsperfdata_* file
        _JAVA_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    )
    for k in UNSET_KNOBS:
        os.environ.pop(k, None)

    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    steal0, load0 = cpu_steal_s(), os.getloadavg()
    tracer = Tracer(False)
    wl = WORKLOADS[args.workload](work, args.seed, args.scale, tracer)

    # set-up, several times. The first starts at process start (imports,
    # the seeded inputs, JVM launch); the rest stop the session and start
    # a fresh one in the same JVM. Each records the wall and process-tree
    # CPU seconds of building its session and of opening the inputs plus
    # the warm-up.
    setups, spark = [], None
    for s in range(SETUPS):
        if s == 0:
            wl.prepare()
        else:
            spark.stop()
        c1, t1 = tree_cpu_s(), time.perf_counter()
        spark = start_session(work)
        c2, t2 = tree_cpu_s(), time.perf_counter()
        wl.open(spark)
        wl.warm_up(spark)
        c3, t3 = tree_cpu_s(), time.perf_counter()
        setups.append({"session_s": t2 - t1, "session_cpu_s": c2 - c1, "ready_s": t3 - t2, "ready_cpu_s": c3 - c2})
        if s == 0:
            # process start to the first session built
            start = {"wall": t2 - T_PROCESS, "cpu_s": c2}

    passes, problems, errors = [], [], 0
    t_start = time.perf_counter()
    tracer.enabled = bool(args.trace)
    i = 0
    while i == 0 or time.perf_counter() - t_start < args.seconds:
        first_span = len(tracer.spans)
        steal0_pass = cpu_steal_s()
        try:
            p = wl.traced_pass(spark, i) if args.trace and hasattr(wl, "traced_pass") else wl.run_pass(spark, i)
        except Exception:  # noqa: BLE001 — a failed pass is a failed operation
            problems.append(traceback.format_exc())
            errors += 1
            break
        spans: dict[str, float] = {}
        for sp in tracer.spans[first_span:]:
            spans[sp["name"]] = spans.get(sp["name"], 0.0) + sp["end"] - sp["start"]
        p.update(spans=spans, n_spans=len(tracer.spans) - first_span, steal_s=cpu_steal_s() - steal0_pass)
        problems += p["problems"]
        passes.append(p)
        i += 1
    measured_s = time.perf_counter() - t_start

    probes = {}
    if args.trace and not errors:
        tracer.enabled = True
        try:
            probes = wl.probes(spark)
        except Exception:  # noqa: BLE001
            problems.append(traceback.format_exc())
            errors += 1
    stop_jvm(spark)

    ops = [x for p in passes for x in p["ops"]]
    attempted = sum(p["attempted"] for p in passes) + errors
    failed = sum(p["failed"] for p in passes) + errors
    e2e = {
        # CPU seconds from process start to the first session built, plus
        # the median over the set-ups of opening the inputs and warming up
        "setup_s": start["cpu_s"] + median([s["ready_cpu_s"] for s in setups]),
        "pass_cpu_s": median([p["cpu_s"] for p in passes]),
        # wall-clock figures: recorded, not gated (see RECORD.md)
        "setup_wall_s": start["wall"] + median([s["ready_s"] for s in setups]),
        "pass_s": median([p["wall"] for p in passes]),
        "rows_per_s": median([p["rows_per_s"] for p in passes]),
        "op_p50_s": median(ops),
    }
    layers: dict[str, float] = {
        "session.start_s": median([s["session_s"] for s in setups]),
        "session.warmup_s": median([s["ready_s"] for s in setups]),
        "trace.overhead_s": median([p["n_spans"] for p in passes]) * span_cost_s() if args.trace else 0.0,
        "sinks.append_s": median([p["spans"].get("sinks.append", 0.0) for p in passes]),
    }
    for key in {k for p in passes for k in p["layers"]}:
        layers[key] = median([p["layers"][key] for p in passes if key in p["layers"]])
    layers.update(probes)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "pinned": {
            "master": f"local[{CORES}]",
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": DRIVER_MEM,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
        },
        "cpu_steal_s": cpu_steal_s() - steal0,
        "loadavg": {"start": load0, "end": os.getloadavg()},
        "setup_start": start,
        "setups": setups,
        "measured_s": measured_s,
        "passes": [{k: v for k, v in p.items() if k != "problems"} for p in passes],
        "op_tail_s": tail(ops),
        "error_rate": failed / max(attempted, 1),
        "end_to_end": e2e,
        "per_layer": layers,
        "problems": problems[:20],
    }
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.write(stem + "-spans.json")
    shutil.rmtree(work, ignore_errors=True)
    for p in problems[:5]:
        print(p, file=sys.stderr)
    return {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "iterative"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)
    missing = [p for p in ("ingestion_pipeline_spark", "BENCHMARK.json") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
