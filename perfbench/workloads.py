"""The two workloads of record, ``ingest`` and ``iterative``, and the
retrieval probe that traced ``iterative`` runs time.

Each workload writes its inputs once (:meth:`prepare`), then, per
set-up, opens them against a fresh session and runs an untimed warm-up
(:meth:`open`, :meth:`warm_up`). A timed pass (:meth:`run_pass`) returns
the wall and process-tree CPU seconds of the engine work it times, the
per-operation latencies, the rows delivered and the problems the
correctness checks found; the checks run outside the metered spans.
Traced runs add :meth:`probes`, which time single layers in isolation
after the passes.

Everything here calls the engine's public functions and reads its
outputs; no engine module is edited or patched outside a traced run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from . import checks, inputs
from .trace import Tracer, metered, scheduler_counts

HERE = os.path.dirname(os.path.abspath(__file__))

# ROADMAP item 3's iterative family, timed every pass: min-label
# connected components over the dedup cascade's edges, and PageRank over
# the word graph, two of the fixed-point loops in operators/graph.py.
ITERATIVE_QUERIES = [
    "d_dup_clusters_capped",
    "tx_textrank_keywords",
]
# The rest of the family, timed once each in traced runs only: a pass
# holding them would not fit a run. d_personalized_pagerank_capped's job
# count is also not repeatable (61 or 62 jobs on the same input), so a
# pass holding it would not give exact scheduler counts; k-means is the
# one loop outside graph.py.
PROBE_QUERIES = [
    "d_personalized_pagerank_capped",
    "d_lpa_communities_capped",
    "v_kmeans_clusters",
]
# Retrieval requests timed per traced run, after one warm-up request of
# each kind.
PROBE_VECTOR = 3
PROBE_KEYWORD = 1


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _parquet_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _release(spark, tracer: Tracer) -> int:
    """The registry's cache contract between operations: blocks a query
    persisted or checkpointed are dropped before the next one runs."""
    from ingestion_pipeline_spark.plans import release_caches

    with tracer.span("plans.release_caches"):
        return release_caches(spark)


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, scale: str, tracer: Tracer):
        self.work, self.seed, self.scale, self.tracer = work, seed, scale, tracer

    def prepare(self) -> None: ...

    def open(self, spark) -> None: ...

    def warm_up(self, spark) -> None: ...

    def run_pass(self, spark, i: int) -> dict: ...

    def probes(self, spark) -> dict[str, float]:
        return {}


# ------------------------------------------------------------------ ingest


class Ingest(Workload):
    """The reference's main dataflow: a CVE backlog drained by the
    file-source stream into warehouse, vector and quarantine parquet,
    then a keep-latest upsert of the re-delivered records."""

    name = "ingest"

    def prepare(self) -> None:
        self.truth = inputs.backlog(self.seed, self.scale)
        self.backlog_dir = os.path.join(self.work, "backlog")
        self.delta_dir = os.path.join(self.work, "delta")
        inputs.write_backlog(self.truth, self.backlog_dir, self.delta_dir)
        # the warm-up reads a copy of the first backlog file
        self.warm_dir = _fresh(os.path.join(self.work, "warm_backlog"))
        for f in sorted(os.listdir(self.backlog_dir))[:1]:
            shutil.copy(os.path.join(self.backlog_dir, f), self.warm_dir)
        self.per_trigger = inputs.SCALES[self.scale]["files_per_trigger"]

    def _drain(self, spark, src: str, out: str):
        from ingestion_pipeline_spark.functions.embed import with_embedding
        from ingestion_pipeline_spark.streaming import pipeline

        with self.tracer.span("streaming.drain"):
            stream = pipeline.cve_file_stream(spark, src, max_files_per_trigger=self.per_trigger)
            q = pipeline.run_dual_sink_ingest(
                stream,
                os.path.join(out, "warehouse"),
                os.path.join(out, "vectors"),
                os.path.join(out, "quarantine"),
                os.path.join(out, "checkpoint"),
                embed_fn=with_embedding,
            )
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q.recentProgress

    def _upsert(self, spark, out: str) -> None:
        from ingestion_pipeline_spark import sinks
        from ingestion_pipeline_spark.sources.files import read_cve_json_dir
        from ingestion_pipeline_spark.streaming.pipeline import extract_warehouse_rows

        with self.tracer.span("sinks.upsert"):
            delta = extract_warehouse_rows(read_cve_json_dir(spark, self.delta_dir))
            sinks.warehouse_upsert(spark, delta, os.path.join(out, "warehouse"))

    def warm_up(self, spark) -> None:
        # parse, extract and embed one backlog file into the noop sink: it
        # starts the Python workers and compiles the row path at a fraction
        # of the cost of a drain, which every set-up would pay
        from ingestion_pipeline_spark.functions.embed import with_embedding
        from ingestion_pipeline_spark.sources.files import read_cve_json_dir
        from ingestion_pipeline_spark.streaming.pipeline import extract_embedding_rows

        rows = extract_embedding_rows(read_cve_json_dir(spark, self.warm_dir), with_embedding)
        rows.write.format("noop").mode("overwrite").save()

    def run_pass(self, spark, i: int) -> dict:
        out = _fresh(os.path.join(self.work, f"pass{i}"))
        drain, upsert = {}, {}
        with metered(drain):
            progress = self._drain(spark, self.backlog_dir, out)
        landed = {s: spark.read.parquet(os.path.join(out, s)).count() for s in ("warehouse", "vectors", "quarantine")}
        written = {s: _parquet_files(os.path.join(out, s)) for s in landed}
        with metered(upsert):
            self._upsert(spark, out)
        rows = (
            spark.read.parquet(os.path.join(out, "warehouse"))
            .select("cve_id", F.date_format("date_updated", "yyyy-MM-dd'T'HH:mm:ss").alias("u"))
            .collect()
        )
        drain_problems = checks.check_ingest(landed, self.truth)
        upsert_problems = checks.check_upsert([(r[0], r[1]) for r in rows], self.truth["latest"])
        durs = [p["durationMs"] for p in progress]
        layers = {
            "sinks.upsert_s": upsert["wall"],
            "streaming.batches": float(len(progress)),
            "streaming.landed_ratio": landed["warehouse"] / self.truth["n_valid_rows"],
            "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in durs) / 1000,
            "streaming.query_planning_s": sum(d.get("queryPlanning", 0) for d in durs) / 1000,
            "streaming.latest_offset_s": sum(d.get("latestOffset", 0) for d in durs) / 1000,
            "streaming.wal_commit_s": sum(d.get("walCommit", 0) for d in durs) / 1000,
        }
        for sink, (n, size) in written.items():
            layers[f"sinks.{sink}.files_written"] = float(n)
            layers[f"sinks.{sink}.bytes_written"] = float(size)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "wall": drain["wall"] + upsert["wall"],
            "cpu_s": drain["cpu_s"] + upsert["cpu_s"],
            "ops": [p["batchDuration"] / 1000 for p in progress],
            "rows": landed["warehouse"] + landed["quarantine"],
            "rows_per_s": (landed["warehouse"] + landed["quarantine"]) / drain["wall"],
            "attempted": 2,
            "failed": bool(drain_problems) + bool(upsert_problems),
            "problems": drain_problems + upsert_problems,
            "layers": layers,
        }

    def traced_pass(self, spark, i: int) -> dict:
        """A pass with spans around the sink calls the stream makes."""
        from ingestion_pipeline_spark.streaming import pipeline

        real = pipeline.append_parquet, pipeline.quarantine_append

        def timed(fn):
            def call(*a, **k):
                with self.tracer.span("sinks.append"):
                    return fn(*a, **k)

            return call

        pipeline.append_parquet, pipeline.quarantine_append = timed(real[0]), timed(real[1])
        try:
            return self.run_pass(spark, i)
        finally:
            pipeline.append_parquet, pipeline.quarantine_append = real

    def probes(self, spark) -> dict[str, float]:
        """Parse, extract and embed timed alone into the noop sink."""
        from ingestion_pipeline_spark.functions import extract as ex
        from ingestion_pipeline_spark.functions.embed import with_embedding
        from ingestion_pipeline_spark.sources.files import read_cve_json_dir
        from ingestion_pipeline_spark.streaming.pipeline import extract_embedding_rows, extract_warehouse_rows

        def noop(df) -> float:
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        with self.tracer.span("sources.parse"):
            parse_s = noop(read_cve_json_dir(spark, self.backlog_dir))
        # the records the stream routes to the warehouse and vector sinks
        # (run_dual_sink_ingest's rule); the rest go to quarantine
        cve = F.col("cve")
        parsed = (
            read_cve_json_dir(spark, self.backlog_dir)
            .filter(cve.isNotNull() & (ex.cve_id(cve) != ""))
            .localCheckpoint(eager=True)
        )
        with self.tracer.span("functions.extract"):
            extract_s = noop(extract_warehouse_rows(parsed)) + noop(extract_embedding_rows(parsed))
        texts = extract_embedding_rows(parsed).select("text").localCheckpoint(eager=True)
        n = texts.count()
        with self.tracer.span("functions.embed"):
            embed_s = noop(with_embedding(texts, "text"))
        return {
            "sources.parse_s": parse_s,
            "functions.extract_s": extract_s,
            "functions.embed_rows_per_s": n / embed_s,
        }


# --------------------------------------------------------------- iterative


class Iterative(Workload):
    """The graph and fixed-point queries, collected (a noop sink for the
    driver), with the registry's cache release between queries."""

    name = "iterative"

    def prepare(self) -> None:
        self.corpus = inputs.corpus_dir(self.scale)
        self.order = inputs.query_order(self.seed, ITERATIVE_QUERIES, 64)
        with open(os.path.join(HERE, "digests.json")) as f:
            self.digests = json.load(f)[self.scale]

    def open(self, spark) -> None:
        from ingestion_pipeline_spark.plans import query_map

        self.qm = query_map()
        for name in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(self.corpus, f"{name}.parquet")).count()

    def _query(self, spark, name: str) -> list[dict]:
        with self.tracer.span(f"operators.graph.{name}"):
            with self.tracer.span("plans.build"):
                df = self.qm[name](spark, self.corpus)
            with self.tracer.span("action"):
                return [r.asDict() for r in df.collect()]

    def _check(self, name: str, rows: list[dict]) -> list[str]:
        return checks.check_digest(name, checks.result_digest(rows), self.digests.get(name))

    def warm_up(self, spark) -> None:
        # one small shuffle over the corpus; a query of the set as the
        # warm-up would cost as much as a timed query, in every set-up
        docs = spark.read.parquet(os.path.join(self.corpus, "documents.parquet"))
        docs.groupBy("lang").count().collect()

    def run_pass(self, spark, i: int) -> dict:
        sc = spark.sparkContext
        metered_s: dict[str, float] = {}
        lat, problems, failed, rows_out, released = [], [], 0, 0, 0
        counts = {"jobs": 0, "stages": 0, "tasks": 0}
        per_query = {}
        for name in self.order[i % len(self.order)]:
            self.tracer.op = f"{i}.{name}"
            sc.setJobGroup(f"q-{i}-{name}", name)
            q: dict[str, float] = {}
            with metered(q):
                rows = self._query(spark, name)
                released += _release(spark, self.tracer)
            for key, v in q.items():
                metered_s[key] = metered_s.get(key, 0.0) + v
            lat.append(q["wall"])
            c = scheduler_counts(sc, f"q-{i}-{name}")
            for key in counts:
                counts[key] += c[key]
                per_query[f"scheduler.{name}.{key}"] = float(c[key])
            per_query[f"operators.graph.{name}_s"] = q["wall"]
            found = self._check(name, rows)
            problems += found
            failed += bool(found)
            rows_out += len(rows)
        self.tracer.op = None
        layers: dict[str, float] = {f"scheduler.{k}": float(v) for k, v in counts.items()}
        layers["plans.rdds_released"] = float(released)
        layers.update(per_query)
        return {
            "wall": metered_s["wall"],
            "cpu_s": metered_s["cpu_s"],
            "ops": lat,
            "rows": rows_out,
            "rows_per_s": rows_out / metered_s["wall"],
            "attempted": len(lat),
            "failed": failed,
            "problems": problems,
            "layers": layers,
        }

    def probes(self, spark) -> dict[str, float]:
        """The probe queries, timed once each and checked, then the
        retrieval operators probed on the same corpus. Raises if an
        output fails its check."""
        out = {}
        for name in PROBE_QUERIES:
            t = time.perf_counter()
            rows = self._query(spark, name)
            out[f"operators.graph.{name}_s"] = time.perf_counter() - t
            _release(spark, self.tracer)
            problems = self._check(name, rows)
            if problems:
                raise RuntimeError(problems[0])
        out.update(retrieval_probes(spark, self.corpus, self.seed, self.tracer))
        return out


# ---------------------------------------------------------- retrieval probe


def retrieval_probes(spark, corpus: str, seed: int, tracer: Tracer) -> dict[str, float]:
    """The RAG read path's layers, on seeded requests: a vector request
    is ``brute_force_topk`` (k=8, a threshold), a keyword request is
    ``bm25_topk``, and each ends in the point-lookup join to
    ``documents`` (the ``entry()`` shape). Per request it times the
    build, the hits alone, and the whole request; the join's share is
    the whole request minus the hits alone. Every output is checked, a
    vector request against a numpy cosine top-k over the corpus. Raises
    if one is wrong."""
    import pyarrow.parquet as pq

    from ingestion_pipeline_spark.operators.search import bm25_topk
    from ingestion_pipeline_spark.operators.similarity import brute_force_topk
    from ingestion_pipeline_spark.sources.parquet_tables import table

    emb_table = pq.read_table(os.path.join(corpus, "embeddings.parquet"))
    ids = emb_table.column("vec_id").to_numpy()
    if not (ids == np.arange(len(ids))).all():
        raise RuntimeError("embeddings.vec_id is not the row position; the numpy reference assumes it is")
    mat = np.stack(emb_table.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
    emb = table(spark, corpus, "embeddings")
    docs = table(spark, corpus, "documents")
    # renamed key on the lookup side: the keyword hits share the documents
    # lineage, and a join on one shared attribute would resolve to a
    # trivially true condition
    lookup = docs.select(F.col("doc_id").alias("d_id"), "source", "lang", "text")

    def hits(req: dict):
        if req["kind"] == "vector":
            with tracer.span("operators.similarity.brute_force_topk"):
                h = brute_force_topk(emb, "embedding", req["probe"], inputs.TOPK, threshold=inputs.THRESHOLD)
            return h.select(F.col("vec_id").alias("hit_id"), F.col("sim").alias("score"))
        with tracer.span("operators.search.bm25_topk"):
            h = bm25_topk(docs, "text", "doc_id", req["terms"], k=inputs.TOPK)
        return h.select(F.col("doc_id").alias("hit_id"), "score")

    def request(req: dict):
        with tracer.span("operators.build"):
            h = hits(req)
            with tracer.span("operators.relational.join"):
                return (
                    h.join(lookup, h.hit_id == lookup.d_id)
                    .select(
                        F.col("d_id").alias("doc_id"),
                        "source",
                        "lang",
                        "score",
                        F.format_string(
                            "- CVE ID: %s | %s", F.col("d_id").cast("string"), F.substring("text", 1, 80)
                        ).alias("context_line"),
                    )
                    .orderBy(F.col("score").desc(), F.col("doc_id"))
                )

    def check(req: dict, rows) -> list[str]:
        if req["kind"] == "vector":
            expected = checks.cosine_topk(mat, req["probe"], inputs.TOPK, inputs.THRESHOLD)
            return checks.check_vector([(r["doc_id"], r["score"]) for r in rows], expected)
        return checks.check_keyword([r["score"] for r in rows], inputs.TOPK)

    reqs = inputs.requests(seed, PROBE_VECTOR + 1, PROBE_KEYWORD + 1)
    warm = [next(r for r in reqs if r["kind"] == k) for k in ("vector", "keyword")]
    problems = []
    for req in warm:
        problems += check(req, request(req).collect())
    build, topk, bm25, join, hit_ratio = [], [], [], [], []
    for j, req in enumerate(r for r in reqs if not any(r is w for w in warm)):
        tracer.op = f"probe.{j}"
        t = time.perf_counter()
        df = request(req)
        build.append(time.perf_counter() - t)
        t = time.perf_counter()
        hits(req).collect()
        hits_s = time.perf_counter() - t
        t = time.perf_counter()
        rows = df.collect()
        full_s = time.perf_counter() - t
        _release(spark, tracer)
        problems += check(req, rows)
        join.append(full_s - hits_s)
        if req["kind"] == "vector":
            topk.append(hits_s)
            hit_ratio.append(len(rows) / inputs.TOPK)
        else:
            bm25.append(hits_s)
    tracer.op = None
    if problems:
        raise RuntimeError(f"retrieval probe outputs wrong: {problems[:3]}")
    return {
        "operators.build_s": _median(build),
        "operators.similarity.topk_s": _median(topk),
        "operators.search.bm25_s": _median(bm25),
        "operators.relational.join_s": _median(join),
        "operators.similarity.hit_ratio": float(np.mean(hit_ratio)),
    }


WORKLOADS = {w.name: w for w in (Ingest, Iterative)}
