"""Correctness checks on collected outputs.

Each check is a pure function over plain Python values and returns a
list of problems (empty when the output is right), so the shape test
can feed it a deliberately wrong output and see it fail. A non-empty
list counts the operation as failed in ``error_rate``.
"""

from __future__ import annotations

import hashlib

import numpy as np

SIM_TOL = 1e-6


def cosine_topk(mat: np.ndarray, probe: list[float], k: int, threshold: float) -> list[tuple[int, float]]:
    """Reference top-k: float64 cosine of every corpus row (row id =
    position) against the probe, rounded to 6 dp like the engine, kept at
    or above the threshold, ordered by (sim desc, id asc)."""
    pv = np.asarray(probe, dtype=np.float64)
    num = mat @ pv
    den = np.sqrt(np.einsum("ij,ij->i", mat, mat)) * np.sqrt(pv @ pv)
    sims = np.round(np.where(den > 0, num / np.where(den == 0, 1.0, den), 0.0), 6)
    keep = np.nonzero(sims >= threshold)[0]
    order = sorted(keep.tolist(), key=lambda i: (-sims[i], i))[:k]
    return [(i, float(sims[i])) for i in order]


def check_vector(rows: list[tuple[int, float]], expected: list[tuple[int, float]]) -> list[str]:
    """A vector request returns exactly the reference ids, in order, with
    sims equal to the reference within float rounding."""
    if [r[0] for r in rows] != [e[0] for e in expected]:
        return [f"vector ids {[r[0] for r in rows]} != reference {[e[0] for e in expected]}"]
    bad = [(r, e) for r, e in zip(rows, expected) if abs(r[1] - e[1]) > SIM_TOL]
    return [f"vector sims differ: {bad[:3]}"] if bad else []


def check_keyword(scores: list[float], k: int) -> list[str]:
    """A keyword request returns at most k rows with non-increasing
    scores."""
    out = []
    if len(scores) > k:
        out.append(f"keyword request returned {len(scores)} rows > k={k}")
    if any(b > a for a, b in zip(scores, scores[1:])):
        out.append(f"keyword scores increase: {scores}")
    return out


def check_ingest(landed: dict[str, int], truth: dict) -> list[str]:
    """Drain counts: warehouse = valid records, quarantine = malformed
    records, vectors = warehouse."""
    out = []
    if landed["warehouse"] != truth["n_valid_rows"]:
        out.append(f"warehouse rows {landed['warehouse']} != valid records {truth['n_valid_rows']}")
    if landed["quarantine"] != truth["n_malformed"]:
        out.append(f"quarantine rows {landed['quarantine']} != malformed records {truth['n_malformed']}")
    if landed["vectors"] != landed["warehouse"]:
        out.append(f"vector rows {landed['vectors']} != warehouse rows {landed['warehouse']}")
    return out


def check_upsert(rows: list[tuple[str, str]], latest: dict[str, str]) -> list[str]:
    """After the upsert: one row per cve_id, carrying the latest
    ``dateUpdated`` (rows are ``(cve_id, 'yyyy-MM-ddTHH:mm:ss')``)."""
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)):
        return [f"upsert left {len(ids) - len(set(ids))} duplicate cve_ids"]
    got = dict(rows)
    if set(got) != set(latest):
        return [f"upsert ids differ: {len(set(got) ^ set(latest))} ids"]
    stale = [i for i, ts in latest.items() if got[i] != ts[:19]]
    return [f"{len(stale)} ids not at their latest dateUpdated, e.g. {stale[:3]}"] if stale else []


def result_digest(rows: list[dict]) -> str:
    """Order-insensitive value digest of a result: floats rendered with
    10 significant digits (the differential harness's normalisation),
    columns in name order, rows sorted."""
    cols = sorted(rows[0]) if rows else []
    lines = sorted(
        "|".join(f"{r[c]:.10g}" if isinstance(r[c], float) else str(r[c]) for c in cols) for r in rows
    )
    return hashlib.sha256("\n".join(["|".join(cols)] + lines).encode()).hexdigest()


def check_digest(name: str, digest: str, expected: str | None) -> list[str]:
    if expected is None:
        return [f"{name}: no stored digest"]
    return [] if digest == expected else [f"{name}: digest {digest[:12]} != stored {expected[:12]}"]
