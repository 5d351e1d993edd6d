"""Non-SQL oracles for the five queries DuckDB cannot value-gate
(VERDICT r6 #3).

Their output embeds engine-internal bytes (HLL sketches), an engine
hash (Spark's xxhash64), or a codec DuckDB lacks (zlib), so the
differential cannot hash-compare them against oracle SQL. Each gets a
check here against the answer DuckDB, stdlib or plain Python computes
on the same parquet. Three are bound gates:

- ``g_sketch_aggregates``: exact-count equality, HLL estimate within
  its analytic ±3·rsd band, approx-percentiles within the documented
  rank-error window of the exact sorted values.
- ``g_hll_partitioned_merge``: exact day counts; merged estimate
  within ±3·(1.04/√2^lgK) of the exact distinct count per group.
- ``tx_compression_ratio``: EXACT per-document equality against
  stdlib zlib at the same level (the oracle engine just isn't SQL).

Two are exact Python oracles, built from one recompute
(``near_dup_recompute``) over a pure-Python XXH64 port (``xxh64``)
that matches Spark's ``xxhash64`` bit for bit:

- ``d_minhash_lsh_candidates``: the candidate pair set, exactly.
- ``d_simhash_fingerprints``: every document's simhash, exactly.

Each check returns a list of violation strings (empty = pass); the
checker prints ``PASS``/``FAIL`` accordingly, marked ``bounds`` so a
reader can tell these gates from a value-hash gate.
"""

from __future__ import annotations

import math
import re
import struct
import zlib
from itertools import combinations

__all__ = ["BOUND_CHECKS", "near_dup_recompute", "xxh64"]


def _rows_by(srows, key):
    return {r[key]: r for r in srows}


def _texts(con) -> dict:
    return dict(con.execute("SELECT doc_id, text FROM documents").fetchall())


def check_sketch_aggregates(con, srows) -> list[str]:
    """approx_count_distinct(rsd=0.02) → |est−exact| ≤ 3·rsd·exact;
    percentile_approx(accuracy=10000) → value within the exact sorted
    array at rank p ± (1/accuracy + 1.5/n); n_events exact."""
    viol: list[str] = []
    exact = con.execute(
        "SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS du,"
        " list(value ORDER BY value) AS vals"
        " FROM events GROUP BY event_type"
    ).fetchall()
    exact_by = {r[0]: r for r in exact}
    got = _rows_by(srows, "event_type")
    if set(got) != set(exact_by):
        return [f"event_type domain {sorted(got)} != {sorted(exact_by)}"]
    rsd, eps = 0.02, 1.0 / 10_000
    for et, r in got.items():
        _, n, du, vals = exact_by[et]
        if r["n_events"] != n:
            viol.append(f"{et}: n_events {r['n_events']} != exact {n}")
        band = 3 * rsd * du + 2  # +2 absolute slack for tiny groups
        if abs(r["approx_users"] - du) > band:
            viol.append(
                f"{et}: approx_users {r['approx_users']} outside "
                f"{du}±{band:.1f} (3·rsd)"
            )
        for p, q in zip((0.5, 0.95, 0.99), (r["p50"], r["p95"], r["p99"])):
            slack = eps + 1.5 / n
            lo = vals[max(0, math.floor((p - slack) * n) - 1)]
            hi = vals[min(n - 1, math.ceil((p + slack) * n))]
            if not (lo <= q <= hi):
                viol.append(
                    f"{et}: p{int(p*100)} approx {q} outside exact rank "
                    f"window [{lo}, {hi}]"
                )
    return viol


def check_hll_partitioned_merge(con, srows) -> list[str]:
    """Merged daily HLL estimate within ±3·(1.04/√2^12) ≈ 4.9% of the
    exact period distinct count; per-type day counts exact."""
    viol: list[str] = []
    exact = con.execute(
        "SELECT event_type, COUNT(DISTINCT CAST(ts AS DATE)) AS days,"
        " COUNT(DISTINCT user_id) AS du FROM events GROUP BY event_type"
    ).fetchall()
    exact_by = {r[0]: r for r in exact}
    got = _rows_by(srows, "event_type")
    if set(got) != set(exact_by):
        return [f"event_type domain {sorted(got)} != {sorted(exact_by)}"]
    rel = 3 * 1.04 / math.sqrt(2 ** 12)  # lgK=12 default → ~4.9%
    for et, r in got.items():
        _, days, du = exact_by[et]
        if r["n_days"] != days:
            viol.append(f"{et}: n_days {r['n_days']} != exact {days}")
        band = rel * du + 2
        if abs(r["est_users"] - du) > band:
            viol.append(
                f"{et}: est_users {r['est_users']} outside {du}±{band:.1f}"
            )
    return viol


def check_compression_ratio(con, srows) -> list[str]:
    """Exact per-document parity with stdlib zlib level 6 (same codec
    the pandas UDF calls); flag column must equal the threshold test."""
    viol: list[str] = []
    texts = _texts(con)
    if set(r["doc_id"] for r in srows) != set(texts):
        return ["doc_id set mismatch vs documents"]
    for r in srows:
        t = texts[r["doc_id"]]
        if not t:
            want = None
        else:
            raw = t.encode("utf-8")
            want = len(zlib.compress(raw, _ZLIB_LEVEL)) / len(raw)
        got = r["zlib_ratio"]
        if (want is None) != (got is None) or (
            want is not None and f"{got:.10g}" != f"{want:.10g}"
        ):
            viol.append(f"doc {r['doc_id']}: ratio {got} != zlib {want}")
            if len(viol) >= 3:
                break
        want_flag = None if want is None else (want < 0.35 or want > 0.9)
        if want is None:
            # None-parity both ways: an empty/NULL-text doc must carry a
            # NULL flag too (a spurious non-NULL flag used to pass).
            if r["flag_compressibility"] is not None:
                viol.append(
                    f"doc {r['doc_id']}: flag "
                    f"{r['flag_compressibility']} on NULL-ratio doc"
                )
        elif r["flag_compressibility"] != want_flag:
            viol.append(f"doc {r['doc_id']}: flag != threshold test")
    return viol


# ---- exact recompute of the two xxhash64 near-dup queries ------------
# DuckDB cannot replay Spark's xxhash64, so the recompute is plain
# Python: an XXH64 port, then the same shingles, splitmix64 MinHash,
# band fold, pair rule and SimHash votes as operators/dedup.py. This
# module imports nothing from the engine, so the check stays independent
# of the code it gates.

_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)
_GOLDEN = 0x9E3779B97F4A7C15
# copies of operators/dedup.py's N_HASHES, N_BANDS and HASH_SEED and of
# functions/text.py's ZLIB_LEVEL (this module imports no Spark);
# tests/test_bounds.py pins each copy equal to its original
_N_HASHES, _N_BANDS, _HASH_SEED = 32, 16, 42
_ZLIB_LEVEL = 6
# a copy of functions/text.py's WS class, the whitespace every engine
# splits on; tests/test_bounds.py pins the pattern equal to it
_WS = re.compile(r"[ \t\n\x0B\f\r]+")


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (the public xxHash spec) as an unsigned 64-bit
    int. Spark's ``xxhash64(c1, c2, …)`` chains it: seed 42, then each
    column's bytes (strings as UTF-8, ints as 4 and longs as 8
    little-endian bytes) hashed with the previous result as seed."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(a, x) for a, x in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        lane = (struct.unpack_from("<I", data, i)[0] * _P1) & _M64
        h = (_rotl(h ^ lane, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = (_rotl(h ^ ((b * _P5) & _M64), 11) * _P1) & _M64
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    return h ^ (h >> 32)


def _splitmix(x: int) -> int:
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def _shingle_hashes(s: str) -> tuple[int, int]:
    """(``hashed_shingles``' hash, ``simhash64``'s hash) of one shingle.
    ``F.xxhash64(s, F.lit(_HASH_SEED))`` is the chained form, not a
    seed: it hashes ``s`` with Spark's default seed 42, then the
    IntegerType ``_HASH_SEED``."""
    plain = xxh64(s.encode("utf-8"), 42)
    return xxh64(struct.pack("<i", _HASH_SEED), plain), plain


def near_dup_recompute(texts: dict) -> tuple[dict, set, dict]:
    """Exact outputs of the two xxhash64 queries from ``{doc_id: text}``:
    ``(buckets, pairs, simhashes)``. ``buckets[(doc, band)]`` is
    ``minhash_bands``' bucket (unsigned), ``pairs`` the
    ``d_minhash_lsh_candidates`` set, ``simhashes[doc]`` the
    ``d_simhash_fingerprints`` bit string (bit 0 first)."""
    seeds = [((i + 1) * _GOLDEN) & _M64 for i in range(_N_HASHES)]
    rows = _N_HASHES // _N_BANDS
    hashes: dict[str, tuple[int, int]] = {}
    buckets, sims = {}, {}
    for doc, text in texts.items():
        toks = [w for w in _WS.split((text or "").lower()) if w]
        grams = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        hs = [hashes.get(s) or hashes.setdefault(s, _shingle_hashes(s)) for s in grams]
        # a doc with no shingles gets all-zero mins (all such docs collide)
        mins = [min((_splitmix(h ^ seed) for h, _ in hs), default=0) for seed in seeds]
        for b in range(_N_BANDS):
            acc = _GOLDEN
            for m in mins[b * rows : (b + 1) * rows]:
                acc = _splitmix(acc ^ m)
            buckets[(doc, b)] = acc
        ones = [0] * 64
        for _, h in hs:
            for b in range(64):
                ones[b] += (h >> b) & 1
        # vote +1 per set bit, -1 per clear bit; bit is 1 when votes >= 0
        sims[doc] = "".join("1" if 2 * c >= len(hs) else "0" for c in ones)
    members: dict[tuple[int, int], list] = {}
    for (doc, b), bucket in buckets.items():
        members.setdefault((b, bucket), []).append(doc)
    pairs = {p for docs in members.values() for p in combinations(sorted(docs), 2)}
    return buckets, pairs, sims


def _exact(what: str, got: list, want: set) -> list[str]:
    """Violations of ``got`` (the query's rows as tuples) == ``want``
    with no duplicate rows."""
    seen = set(got)
    viol = []
    if len(seen) != len(got):
        viol.append(f"{len(got) - len(seen)} duplicate {what} rows")
    for label, diff in (("missing", want - seen), ("unexpected", seen - want)):
        if diff:
            viol.append(
                f"{len(diff)} {label} {what} rows, e.g. {sorted(diff, key=str)[:3]}"
            )
    return viol


def check_minhash_candidates(con, srows) -> list[str]:
    """The candidate pairs equal the Python recompute exactly."""
    _, pairs, _ = near_dup_recompute(_texts(con))
    return _exact("pair", [(r["id_a"], r["id_b"]) for r in srows], pairs)


def check_simhash_fingerprints(con, srows) -> list[str]:
    """Every doc's simhash equals the Python recompute exactly."""
    _, _, sims = near_dup_recompute(_texts(con))
    got = [(r["doc_id"], r["simhash"]) for r in srows]
    return _exact("simhash", got, set(sims.items()))


BOUND_CHECKS = {
    "g_sketch_aggregates": check_sketch_aggregates,
    "g_hll_partitioned_merge": check_hll_partitioned_merge,
    "tx_compression_ratio": check_compression_ratio,
    "d_minhash_lsh_candidates": check_minhash_candidates,
    "d_simhash_fingerprints": check_simhash_fingerprints,
}
