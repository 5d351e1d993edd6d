"""Benchmark: runs EVERY registered query (the full ``query_map()`` —
no selection rule, nothing silently unbenched; VERDICT r3 #5) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed best-of-N (N=3 once a sub-second time is seen,
N=5 for the >=1 s cohort) and the best time kept (early runs pay
one-off file-listing / codegen / JIT costs that a warm cluster
amortizes); per-query [min, median, max, n] spread goes to
bench_detail.json, with the number of classes Janino compiled over
each query's timed runs (``janino_compiles``; null without a JVM
handle).

Session hygiene (VERDICT r6 #2): real warm-up queries run untimed
before the loop (position-1 queries used to pay the 3-7 s session
cold-start), and the new detail file carries a ``vs_prior`` block —
common-subset wall and median per-query ratio against the previous
committed bench_detail.json — so the ±10-15% session drift is
quantified per run instead of re-litigated per verdict.

Environment fingerprint (VERDICT r9 #3): a fixed deterministic probe
(seeded in-memory aggregate + one small shuffle, no IO) is timed at
suite start and end — ``env_probe_sec`` in the detail file — and
``vs_prior`` carries a probe-normalized median ratio, so a
driver-to-driver wall comparison separates code drift from machine
drift in one field (r8's 156.9-vs-116.6 s scare was pure ambient
drift and took three full bench re-runs to adjudicate).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))




def _fresh_minima(
    names: list[str], sf_dir: str, repo_dir: str
) -> "tuple[dict[str, float], dict[str, str]]":
    """Fresh-subprocess standalone re-run of >1.5x movers (VERDICT r7
    #4): every round spent prose adjudicating whether a mover was a
    real regression or long-session JVM/scheduling pressure — the
    machinery now does it. Each mover runs best-of-3 in its OWN fresh
    Spark subprocess (run 1 absorbs the session cold-start; min is the
    warm standalone cost), so bench_detail.json carries the
    fresh-session number next to the in-suite one. Capped at 8
    subprocesses per run — more movers than that is session-level
    drift, not per-query regressions.

    Caveats (ADVICE r8): the parent bench JVM (heap + cached executor
    threads) stays RESIDENT while the subprocess runs, so fresh_min is
    measured under memory/CPU contention and can overstate a mover's
    true standalone cost — read it as an upper bound (the env-probe
    ratio in the same detail block quantifies the ambient state). A
    failed adjudication is recorded as a ``"failed:..."`` marker in a
    SEPARATE ``fresh_min_failed`` map (ADVICE r9: mixing floats and
    failure strings in one value space broke any consumer computing
    ratios over ``fresh_min`` or indexing ``movers[2]`` as a number);
    ``fresh_min`` itself stays purely numeric."""
    import subprocess

    out: dict[str, float] = {}
    failed: dict[str, str] = {}
    for name in names[:8]:
        script = (
            "import sys,time\n"
            f"sys.path.insert(0,{repo_dir!r})\n"
            "from ingestion_pipeline_spark.plans import query_map\n"
            "from ingestion_pipeline_spark.session import get_spark\n"
            "spark=get_spark('bench-fresh')\n"
            "spark.range(1).count()\n"
            f"fn=query_map()[{name!r}]\n"
            "runs=[]\n"
            "for i in range(3):\n"
            "    t0=time.perf_counter()\n"
            f"    fn(spark,{sf_dir!r}).write.format('noop')"
            ".mode('overwrite').save()\n"
            "    runs.append(time.perf_counter()-t0)\n"
            "print('FRESHMIN:%.3f'%min(runs))\n"
        )
        try:
            r = subprocess.run(
                [sys.executable, "-c", script],
                capture_output=True,
                text=True,
                timeout=300,
            )
            got = None
            for line in r.stdout.splitlines():
                if line.startswith("FRESHMIN:"):
                    got = float(line.split(":", 1)[1])
            if got is not None:
                out[name] = got
            else:
                failed[name] = f"failed:rc{r.returncode}"
        except subprocess.TimeoutExpired:
            failed[name] = "failed:timeout"
        except Exception as exc:  # noqa: BLE001 — adjudication must never fail a bench
            failed[name] = f"failed:{type(exc).__name__}"
    return out, failed


def _env_probe(spark, n_runs: int = 3) -> float:
    """Fixed deterministic environment probe (VERDICT r8 #2 / r9 #3):
    a seeded in-memory aggregate + one small shuffle — no IO, no
    Python UDF, code that never changes — so its wall time measures
    the MACHINE + JVM state, not the engine. Timed at suite start and
    end and recorded in bench_detail.json as ``env_probe_sec``;
    ``vs_prior`` carries a probe-normalized median ratio so a
    driver-to-driver total comparison starts ambient-drift-corrected
    (the r8 156.9-vs-116.6 s scare was pure machine drift and took
    three full bench re-runs to adjudicate). Best-of-``n_runs`` —
    the minimum is the least-contended estimate of machine speed."""
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(n_runs):
        t0 = time.perf_counter()
        (
            spark.range(0, 8_000_000, 1, 16)
            .select(
                ((F.col("id") * 2654435761) % 1048576).alias("k"),
                (F.col("id") % 97).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count("*").alias("c"))
            .agg(F.sum("s").alias("ts"), F.sum("c").alias("tc"))
            .collect()
        )
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _sf_of(sf_dir: str) -> float:
    """Scale factor named by the fixture dir's basename (``sf0.1`` →
    0.1). A replica dir (``.scale/sf1x``, ``sf100x-work``) names no
    number: -1.0, noted on stderr."""
    m = re.search(r"sf(\d+(?:\.\d+)?)$", os.path.basename(sf_dir.rstrip("/")))
    if m:
        return float(m.group(1))
    print(f"# no scale factor in {sf_dir!r}: recording sf -1.0", file=sys.stderr)
    return -1.0


def _probe_normalizer(
    probe_ratio: float, probe_ratio_io: "float | None"
) -> float:
    """The vs_prior machine-speed divisor (VERDICT r10 #5): the
    geometric blend of the CPU and IO probe ratios when both legs are
    available, else the CPU-only leg (priors from rounds before the IO
    leg existed). Factored out so the blend arithmetic is unit-testable
    without a Spark session (tests/test_scale.py)."""
    if probe_ratio_io:
        return round((probe_ratio * probe_ratio_io) ** 0.5, 3)
    return probe_ratio


def _movers_gt_1p5x(
    common: "list[str]",
    times: "dict[str, float]",
    prior_times: "dict[str, float]",
    names: "set[str]",
) -> "dict[str, list[float]]":
    """Queries in ``names`` that ran >1.5x slower than the prior
    (floored at 50 ms so millisecond jitter doesn't flag). Factored so
    the twin-exclusion split (VERDICT r11 #4) is unit-testable without
    a Spark session (tests/test_scale.py)."""
    return {
        n: [prior_times[n], times[n]]
        for n in common
        if n in names
        and prior_times[n] > 0
        and max(times[n], 0.05) / max(prior_times[n], 0.05) > 1.5
    }


def _env_probe_io(spark, sf_dir: str, n_runs: int = 3) -> "float | None":
    """Second probe leg (VERDICT r10 #5): a fixed parquet scan+agg over
    the run's own lineitem table — exercises the IO stack (file
    listing, footer reads, parquet page decode, OS page cache) the
    pure-CPU probe misses. The r10 driver pair showed the two medians
    disagreeing in SIGN (raw 0.972 vs CPU-normalized 0.769) on a
    session with 4.4x probe swings; the blend of both legs tracks
    machine state across BOTH axes. Best-of-``n_runs`` minimum — on a
    warm page cache both prior and current runs measure the same warm
    path, so the ratio stays apples-to-apples.

    Fail-soft: returns None if the table is absent/unreadable (e.g. a
    documents-only fixture dir) — the probe is diagnostics, and the
    always-emit-final-JSON contract (VERDICT r1 #2) means it must never
    abort a run whose 223 query timings already exist. A None leg makes
    ``_probe_normalizer`` fall back to the CPU-only divisor."""
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "lineitem.parquet")
    best = float("inf")
    try:
        for _ in range(n_runs):
            t0 = time.perf_counter()
            (
                spark.read.parquet(path)
                .select(
                    F.count("*").alias("c"),
                    F.sum("l_quantity").alias("q"),
                    F.min("l_shipdate").alias("d"),
                )
                .collect()
            )
            best = min(best, time.perf_counter() - t0)
    except Exception as exc:  # noqa: BLE001 — a probe must never fail a bench
        # ADVICE r11: log before swallowing so a null probe leg in the
        # output JSON is diagnosable (misconfigured sf_dir, corrupt file)
        print(f"# io probe failed: {exc!r}", file=sys.stderr)
        return None
    return round(best, 3)


def _min_opt(*vals: "float | None") -> "float | None":
    """min over the non-None probe legs; None if every leg failed."""
    present = [v for v in vals if v is not None]
    return min(present) if present else None


WARMUP_QUERIES = ("q1_pricing_summary", "v_cosine_top8")


def _noop_run(spark, sf_dir: str, builder) -> float:
    """Wall seconds of one build + full execution of a registry query.
    The noop sink executes the FULL plan (count() would let Catalyst
    prune computed columns and under-measure)."""
    t0 = time.perf_counter()
    builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def warm_up(spark, sf_dir: str) -> None:
    """Session warm-up, untimed: one tiny action (JVM + parquet footer
    caches), then real warm-up queries (VERDICT r6 #2a) that exercise
    the expensive one-off session paths — parquet listing + scan,
    shuffle + codegen compile, Arrow/pandas-UDF worker spin-up — so
    whichever query sits at position 1 of the graded window stops
    absorbing the 3-7 s session cold-start. A failing warm-up query is
    ignored: warm-up must never fail a bench."""
    from ingestion_pipeline_spark.plans import run_each

    spark.range(1).count()
    run_each(
        spark, lambda _name, fn: _noop_run(spark, sf_dir, fn), WARMUP_QUERIES
    )


def janino_compiles(spark) -> "int | None":
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics``), or None where the session has no JVM handle
    (Spark Connect, a stopped context)."""
    try:
        codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(codegen.METRIC_COMPILATION_TIME().getCount())
    except (AttributeError, NotImplementedError):
        return None


def time_query(spark, sf_dir: str, name: str, builder) -> list[float]:
    """Adaptive best-of-N timing of one query: ``[min, median, max,
    n_runs]``, the variance record VERDICT r4 #5 asked for.

    Run 1 pays file-listing/codegen; later runs can still catch a JIT
    compile — observed 3x spikes on subquery-heavy plans with best-of-2
    (q21 4.3s cold vs 1.4s warm), and the r4 driver run disagreed with
    the builder's same-code run by >2x on four multi-stage >1s queries
    (pipeline_corpus_prep 3.34 vs 1.42s) — multi-stage scheduling noise
    that best-of-3 cannot average out. Policy (VERDICT r6 #2b raised
    the floor): sub-second queries stop after THREE runs (the r6 detail
    showed 63 sub-second queries with n=2 spreads too wide to separate
    regression from scheduling noise); >=1s queries get five. True
    median (average the two middle values for even n): runs[n//2] on
    an n=2 cohort is the MAX, which overstated variance in the r5
    detail."""
    runs: list[float] = []
    for i in range(5):
        runs.append(_noop_run(spark, sf_dir, builder))
        if i >= 2 and min(runs) < 1.0:
            break
    runs.sort()
    mid = len(runs) // 2
    med = runs[mid] if len(runs) % 2 else (runs[mid - 1] + runs[mid]) / 2
    spread = [round(runs[0], 3), round(med, 3), round(runs[-1], 3), len(runs)]
    print(f"# {name}: {spread[0]}s (n={spread[3]}, max={spread[2]}s)",
          file=sys.stderr)
    return spread


def main() -> None:
    from ingestion_pipeline_spark.plans import run_each
    from ingestion_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_of(sf_dir)

    spark = get_spark("bench")

    # Prior per-query map (for the vs_prior common-subset comparison) —
    # read BEFORE this run overwrites the file.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
    )
    # Priors are kept per-sf (bench_detail_sf{sf}.json sidecar) so an
    # iteration run at sf0.01 can't clobber the committed sf0.1 prior
    # the driver's round run compares against.
    sidecar_path = detail_path.replace(".json", f"_sf{sf}.json")
    prior_times: dict[str, float] = {}
    prior_sf = None
    prior_probe = None
    prior_probe_io = None
    for src in (detail_path, sidecar_path):
        try:
            with open(src) as fh:
                prior = json.load(fh)
        except (OSError, ValueError):
            continue
        if prior.get("sf") == sf:
            prior_times = dict(prior.get("queries", {}))
            prior_sf = sf
            prior_probe = (prior.get("env_probe_sec") or {}).get("min")
            prior_probe_io = (prior.get("env_probe_io_sec") or {}).get("min")
            break

    warm_up(spark, sf_dir)
    print(f"# warm-up done (untimed: {', '.join(WARMUP_QUERIES)})",
          file=sys.stderr)

    probe_start = _env_probe(spark)
    probe_io_start = _env_probe_io(spark, sf_dir)
    print(f"# env probe (start): cpu {probe_start}s, io {probe_io_start}s",
          file=sys.stderr)

    # Bench the ENTIRE registry in its contract order (graded window
    # first) — every queries() entry is measured, none silently capped.
    # run_each isolates faults per query (VERDICT r1 #2: one broken
    # query must not take down the other timings, and the final JSON
    # line is ALWAYS emitted) and releases every persistent RDD between
    # queries: the iterative operators pin localCheckpoint blocks that
    # nothing unpins, and over a 200-query best-of-5 session the memory
    # pressure showed up as 3x late-session spikes on unrelated queries
    # (tx_textrank_keywords 2.9 -> 9.5 s in the r5 203-query run).
    # Between queries only, so best-of-N runs share their own caches.
    compiles: dict[str, "int | None"] = {}

    def timed(name, fn):
        before = janino_compiles(spark)
        runs = time_query(spark, sf_dir, name, fn)
        after = janino_compiles(spark)
        compiles[name] = None if None in (before, after) else after - before
        return runs

    results = run_each(spark, timed)
    times: dict[str, float] = {}
    # name -> [min, median, max, n_runs]; side-file only, the stdout
    # line stays compact.
    spread: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name, res in results.items():
        if isinstance(res, Exception):
            errors[name] = f"{type(res).__name__}: {res}"[:500]
            print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)
        else:
            spread[name] = res
            times[name] = res[0]

    probe_end = _env_probe(spark)
    probe_io_end = _env_probe_io(spark, sf_dir)
    print(f"# env probe (end): cpu {probe_end}s, io {probe_io_end}s",
          file=sys.stderr)

    total = round(sum(times.values()), 3)
    # Twin split (VERDICT r5 #6): documented reference twins are correct
    # but deliberately not the production path — their (known, accepted)
    # cost pollutes round-over-round comparisons, so report both
    # subtotals. "value" stays the all-query total for continuity.
    from ingestion_pipeline_spark.plans.registry import TWIN_QUERIES

    headline = round(
        sum(v for k, v in times.items() if k not in TWIN_QUERIES), 3
    )
    twins = round(total - headline, 3)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "headline_total": headline,
        "twins_total": twins,
        "twin_queries": sorted(TWIN_QUERIES & set(times)),
        "unit": "sec",
        "queries": times,
        "spread": spread,
        "janino_compiles": compiles,
        "sf": sf,
        # machine-state fingerprint (VERDICT r9 #3): fixed probe timed
        # at suite start and end; min is the least-contended estimate
        "env_probe_sec": {
            "start": probe_start,
            "end": probe_end,
            "min": min(probe_start, probe_end),
        },
        # second probe leg (VERDICT r10 #5): parquet scan+agg — the IO
        # axis the pure-CPU probe misses
        "env_probe_io_sec": {
            "start": probe_io_start,
            "end": probe_io_end,
            "min": _min_opt(probe_io_start, probe_io_end),
        },
    }
    # vs_prior (VERDICT r6 #2c): quantify session drift against the
    # previous committed detail file over the COMMON query subset, so a
    # round-over-round wall comparison starts from numbers, not vibes.
    if prior_times and prior_sf == sf:
        common = sorted(set(times) & set(prior_times))
        ratios = sorted(
            times[n] / prior_times[n] for n in common if prior_times[n] > 0
        )
        if ratios:
            mid = len(ratios) // 2
            med_ratio = (
                ratios[mid]
                if len(ratios) % 2
                else (ratios[mid - 1] + ratios[mid]) / 2
            )
            # Twin exclusion (VERDICT r11 #4): documented reference
            # twins (TWIN_QUERIES) are already outside the headline
            # subtotal because their cost is fixed BY DESIGN
            # (tx_bpe_tokenize_fold's unrolled 10k-REPLACE codegen
            # compiles in 3-21 s — a compile-bound noise magnet that
            # was the sole >1.5x mover on two consecutive flat-code
            # pairs). They are excluded from mover ADJUDICATION the
            # same way: recorded separately under
            # twin_regressions_gt_1p5x (never silent) but not
            # fresh-min re-run and never read as code drift.
            movers = _movers_gt_1p5x(
                common, times, prior_times, set(common) - TWIN_QUERIES
            )
            twin_movers = _movers_gt_1p5x(
                common, times, prior_times, TWIN_QUERIES
            )
            detail["vs_prior"] = {
                "n_common": len(common),
                "common_wall_now": round(sum(times[n] for n in common), 3),
                "common_wall_prior": round(
                    sum(prior_times[n] for n in common), 3
                ),
                "median_ratio": round(med_ratio, 3),
                # queries >1.5x slower than prior (floored at 50 ms so
                # millisecond jitter doesn't flag), for adjudication
                "regressions_gt_1p5x": movers,
            }
            if twin_movers:
                detail["vs_prior"]["twin_regressions_gt_1p5x"] = (
                    twin_movers
                )
            # probe normalization (VERDICT r9 #3): divide out the
            # machine-speed change the fixed probe measured, so the
            # normalized median isolates CODE drift from ambient drift
            if prior_probe:
                probe_ratio = round(
                    min(probe_start, probe_end) / prior_probe, 3
                )
                detail["vs_prior"]["probe_ratio"] = probe_ratio
                # blend normalization (VERDICT r10 #5): the CPU leg
                # tracks compute state, the parquet-scan leg tracks the
                # IO stack; the geometric mean of both ratios is the
                # machine-speed correction when the prior recorded both
                # legs, else fall back to the CPU-only leg (priors from
                # rounds before the IO leg existed).
                probe_ratio_io = None
                cur_probe_io = _min_opt(probe_io_start, probe_io_end)
                if prior_probe_io and cur_probe_io is not None:
                    probe_ratio_io = round(
                        cur_probe_io / prior_probe_io,
                        3,
                    )
                    detail["vs_prior"]["probe_ratio_io"] = probe_ratio_io
                norm_div = _probe_normalizer(probe_ratio, probe_ratio_io)
                if probe_ratio_io:
                    detail["vs_prior"]["probe_ratio_blend"] = norm_div
                norm_ratio = round(med_ratio / norm_div, 3)
                detail["vs_prior"]["median_ratio_probe_normalized"] = (
                    norm_ratio
                )
                # Adjudication rule (VERDICT r9 #3): the first same-code
                # driver-vs-builder pair showed the normalized ratio
                # OVER-correcting (1.126 where ground truth was 1.00;
                # raw was 1.044) — the pure-CPU probe tracks machine
                # state but not the full IO/scheduling stack, so the
                # normalized field carries a measured ±13% ambient band
                # and is ONE SIGNAL, not an oracle. Code drift is
                # declared only when BOTH medians agree: raw > 1.3 AND
                # probe-normalized > 1.3. One signal alone (however
                # large) reads as ambient/mis-calibration and defers to
                # per-query fresh_min adjudication.
                detail["vs_prior"]["drift_rule"] = (
                    "code_drift iff raw>1.3 AND probe_normalized>1.3 "
                    "(normalized band ±13%, measured r9; normalizer = "
                    "cpu×io blend when the prior has both legs, r11)"
                )
                detail["vs_prior"]["drift_verdict"] = (
                    "code_drift"
                    if med_ratio > 1.3 and norm_ratio > 1.3
                    else "ambient_or_none"
                )
            # Automatic fresh-session adjudication (VERDICT r7 #4):
            # each mover re-runs standalone in its own subprocess;
            # entries become [prior, in_suite, fresh_min].
            if movers:
                print(
                    f"# adjudicating {len(movers)} movers in fresh "
                    "subprocesses...",
                    file=sys.stderr,
                )
                fresh, fresh_failed = _fresh_minima(
                    sorted(movers),
                    sf_dir,
                    os.path.dirname(os.path.abspath(__file__)),
                )
                for n, fm in fresh.items():
                    movers[n] = movers[n] + [fm]
                    print(f"# fresh_min {n}: {fm}s (in-suite "
                          f"{times[n]}s)", file=sys.stderr)
                detail["vs_prior"]["fresh_min"] = fresh
                if fresh_failed:
                    # failures live in their own key so fresh_min and
                    # the movers arrays stay purely numeric (ADVICE r9)
                    detail["vs_prior"]["fresh_min_failed"] = fresh_failed
                    for n, why in fresh_failed.items():
                        print(f"# fresh_min {n}: {why}", file=sys.stderr)
    if errors:
        detail["errors"] = errors
    # Per-query detail goes to stderr + a side file; stdout's FINAL line is
    # a compact summary only. The driver captures a bounded tail of stdout
    # and parses the last line — a 93-entry map overflowed it in rounds 1-2
    # (BENCH_r02.json: rc=0 but parsed=null), so keep this line short.
    print(f"# detail: {json.dumps(detail)}", file=sys.stderr)
    for out_path in (detail_path, sidecar_path):
        try:
            with open(out_path, "w") as fh:
                json.dump(detail, fh, indent=1)
        except OSError:
            pass
    # top-10 (was top-3 through r12): the driver's per-query PERF table
    # compared n_common=1 under top-3 (VERDICT r12 #4); 10 entries is
    # still far below the 93-entry map that overflowed the tail window
    # in rounds 1-2. Additions-only: nothing removed or renamed.
    slowest = sorted(times, key=times.get, reverse=True)[:10]
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "headline_total": headline,
        "twins_total": twins,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "n_errors": len(errors),
        # one number for round-over-round drift; detail in vs_prior
        "vs_prior_median_ratio": detail.get("vs_prior", {}).get(
            "median_ratio"
        ),
        # machine fingerprint + drift-corrected ratio (VERDICT r9 #3)
        "env_probe_sec": min(probe_start, probe_end),
        "env_probe_io_sec": _min_opt(probe_io_start, probe_io_end),
        "vs_prior_median_ratio_probe_norm": detail.get("vs_prior", {}).get(
            "median_ratio_probe_normalized"
        ),
        # keep the contract's "queries" key but bounded (10 slowest) so
        # the line always fits the driver's tail window; full map in
        # bench_detail.json and on stderr.
        "queries": {k: times[k] for k in slowest},
    }))


if __name__ == "__main__":
    main()
