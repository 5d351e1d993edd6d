"""Seeded inputs for the benchmark.

Every input the engine sees that depends on the run seed (``--seed``) is
written here, single-threaded, before any timed section runs: the ingest
backlog, the retrieval probe vectors and keyword terms, and the
iterative query order. The same seed gives byte-identical inputs and a
different seed gives different ones (``test_perfbench.py`` pins both).
The engine receives only the generated inputs.

The ``documents``/``embeddings`` corpus that the iterative queries and
the retrieval probes read is not generated. It is a copy of the repo's
deterministic synthetic fixture (``TESTDATA.md``, seed 42), kept under
``corpus/``: sf0.1 (5,000 documents, 2,000 vectors), the scale the
engine's own ``bench.py`` runs at, for the benchmark of record, and
sf0.001 (500 and 500) for the shape test. Its iterative outputs have
one stored digest per scale (``digests.json``).
"""

from __future__ import annotations

import json
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

# Per-scale sizes. "full" is the benchmark of record; "tiny" is the
# shape-test scale. Changing a size changes what every stored digest and
# every recorded number means.
SCALES: dict[str, dict] = {
    "full": {
        "corpus": "sf0.1",
        "backlog_valid": 48000,
        "backlog_malformed": 1440,
        "backlog_redelivered": 1920,
        "backlog_files": 24,
        "files_per_trigger": 8,
    },
    "tiny": {
        "corpus": "sf0.001",
        "backlog_valid": 200,
        "backlog_malformed": 8,
        "backlog_redelivered": 12,
        "backlog_files": 8,
        "files_per_trigger": 4,
    },
}

# The corpus's vocabulary (every document is drawn from these words) and
# its embedding width: keyword terms and probe vectors are drawn to match.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DIM = 64

CVE_WORDS = (
    "buffer overflow remote attacker crafted request allows execute arbitrary "
    "code denial service memory corruption injection sql cross site scripting "
    "privilege escalation authentication bypass kernel driver parser heap use "
    "after free null pointer dereference path traversal improper validation "
    "input certificate token session firmware plugin library"
).split()
SEVERITIES = ["LOW", "MEDIUM", "HIGH", "CRITICAL"]

# Retrieval request shape (the entry() shape: k=8 with a threshold).
TOPK = 8
THRESHOLD = 0.2


def _words(rng: np.random.Generator, vocab: list[str], lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n))


def corpus_dir(scale: str) -> str:
    """The fixture dir holding ``documents.parquet`` and
    ``embeddings.parquet`` (the layout ``sources.parquet_tables`` reads)."""
    return os.path.join(HERE, "corpus", SCALES[scale]["corpus"])


# -------------------------------------------------------------- backlog


def _cve_record(rng: np.random.Generator, cve_id: str, published: str, updated: str) -> dict:
    """One CVE 5.x record carrying exactly the paths the engine reads;
    each optional path is absent from about a fifth of records."""
    cna: dict = {"title": _words(rng, CVE_WORDS, 3, 8)}
    if rng.random() > 0.2:
        cna["descriptions"] = [{"lang": "en", "value": _words(rng, CVE_WORDS, 20, 60)}]
    if rng.random() > 0.2:
        cna["metrics"] = [
            {
                "cvssV3_1": {
                    "baseSeverity": SEVERITIES[int(rng.integers(0, 4))],
                    "baseScore": round(float(rng.uniform(0.1, 10.0)), 1),
                }
            }
        ]
    if rng.random() > 0.2:
        cna["problemTypes"] = [{"descriptions": [{"cweId": f"CWE-{int(rng.integers(20, 1000))}"}]}]
    return {
        "dataType": "CVE_RECORD",
        "dataVersion": "5.1",
        "cveMetadata": {"cveId": cve_id, "datePublished": published, "dateUpdated": updated},
        "containers": {"cna": cna},
    }


def _iso(day: int, sec: int) -> str:
    """ISO-8601 UTC timestamp ``day`` days after 2024-01-01."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1) + dt.timedelta(days=day, seconds=sec)
    return t.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def backlog(seed: int, scale: str) -> dict:
    """The ingest backlog: valid records (distinct ids), malformed
    records, and re-deliveries of some valid ids with a later
    ``dateUpdated``, shuffled together. Returns the JSONL lines per file
    plus the ground truth the correctness check compares against."""
    sz = SCALES[scale]
    rng = np.random.default_rng([seed, 1])
    n_valid, n_bad, n_re = sz["backlog_valid"], sz["backlog_malformed"], sz["backlog_redelivered"]
    nums = rng.choice(10 * n_valid, size=n_valid, replace=False)
    ids = [f"CVE-{2015 + int(n) % 10}-{10000 + int(n):06d}" for n in nums]
    lines: list[str] = []
    latest: dict[str, str] = {}
    for cve_id in ids:
        day = int(rng.integers(0, 300))
        pub, upd = _iso(day, int(rng.integers(0, 86400))), _iso(day + 1, int(rng.integers(0, 86400)))
        latest[cve_id] = upd
        lines.append(json.dumps(_cve_record(rng, cve_id, pub, upd)))
    delta: list[str] = []
    for j in rng.choice(n_valid, size=n_re, replace=False):
        cve_id = ids[int(j)]
        upd = _iso(400 + int(rng.integers(0, 30)), int(rng.integers(0, 86400)))
        latest[cve_id] = upd
        delta.append(json.dumps(_cve_record(rng, cve_id, _iso(0, 0), upd)))
    malformed: list[str] = []
    for i in range(n_bad):
        rec = _cve_record(rng, "", _iso(0, 0), _iso(1, 0))
        if i % 2:  # truncated JSON: unparseable
            text = json.dumps(rec)
            malformed.append(text[: int(rng.integers(10, len(text) - 1))])
        else:  # parseable, but no cveId
            del rec["cveMetadata"]["cveId"]
            malformed.append(json.dumps(rec))
    stream = lines + delta + malformed
    order = rng.permutation(len(stream))
    files: list[list[str]] = [[] for _ in range(sz["backlog_files"])]
    for pos, idx in enumerate(order):
        files[pos % len(files)].append(stream[int(idx)])
    return {
        "files": files,
        "delta": delta,
        "n_valid_rows": n_valid + n_re,
        "n_malformed": n_bad,
        "latest": latest,
    }


def write_backlog(bl: dict, backlog_dir: str, delta_dir: str) -> None:
    """Write the backlog as one JSONL file per stream file, and the
    re-delivered records as the delta the upsert reads."""
    os.makedirs(backlog_dir, exist_ok=True)
    os.makedirs(delta_dir, exist_ok=True)
    for i, recs in enumerate(bl["files"]):
        with open(os.path.join(backlog_dir, f"part-{i:05d}.jsonl"), "w") as f:
            f.write("\n".join(recs) + "\n")
    with open(os.path.join(delta_dir, "delta.jsonl"), "w") as f:
        f.write("\n".join(bl["delta"]) + "\n")


# ------------------------------------------------------------- requests


def requests(seed: int, n_vector: int, n_keyword: int) -> list[dict]:
    """Retrieval requests in seeded order: ``n_vector`` vector requests,
    each with a random unit probe, and ``n_keyword`` keyword requests,
    each with 1-3 vocabulary terms."""
    rng = np.random.default_rng([seed, 2])
    kinds = ["vector"] * n_vector + ["keyword"] * n_keyword
    out = []
    for j in rng.permutation(len(kinds)):
        if kinds[j] == "vector":
            p = rng.standard_normal(DIM)
            p = p / np.linalg.norm(p)
            out.append({"kind": "vector", "probe": [float(x) for x in p]})
        else:
            n_terms = int(rng.integers(1, 4))
            terms = [VOCAB[i] for i in rng.choice(len(VOCAB), n_terms, replace=False)]
            out.append({"kind": "keyword", "terms": terms})
    return out


def query_order(seed: int, names: list[str], passes: int) -> list[list[str]]:
    """One seeded permutation of the iterative query set per pass."""
    rng = np.random.default_rng([seed, 3])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(passes)]
