"""Bound-based oracles for the rows-only queries (VERDICT r6 #3).

Five registry entries have no DuckDB-expressible value oracle — their
output embeds engine-internal bytes (HLL sketches), engine-specific
hashes (xxhash64 signatures), or a codec DuckDB lacks (zlib).  Hash
gating stays off for them, but "runs and returns rows" is a weak gate:
this module gives each one a MATHEMATICAL bound the differential can
enforce, computed from the exact answer DuckDB (or stdlib Python)
produces on the same parquet:

- ``g_sketch_aggregates``: exact-count equality, HLL estimate within
  its analytic ±3·rsd band, approx-percentiles within the documented
  rank-error window of the exact sorted values.
- ``g_hll_partitioned_merge``: exact day counts; merged estimate
  within ±3·(1.04/√2^lgK) of the exact distinct count per group.
- ``tx_compression_ratio``: EXACT per-document equality against
  stdlib zlib at the same level (the oracle engine just isn't SQL).
- ``d_minhash_lsh_candidates``: key-domain validity (pairs ⊆ doc ids,
  id_a < id_b, no duplicates), guaranteed recall (identical-text
  pairs MUST be candidates: identical text → identical signature →
  every band collides), and the matched-banding precision companion
  (VERDICT r7 #6): a 32-hash/16-band md5 reference set bounds the
  xxhash64 set's size (≤3× + 50 each direction) and both sets must
  agree on every pair with exact 3-gram Jaccard ≥ 0.9.
- ``d_simhash_fingerprints``: doc_id set equality, well-formed 64-bit
  strings, and within-identical-text signature equality (simhash is a
  pure function of the tokenized text).

Each check returns a list of violation strings (empty = pass); the
checker prints ``PASS``/``FAIL`` accordingly, marked ``bounds`` so a
reader can tell a bound gate from a value-hash gate.
"""

from __future__ import annotations

import math
import zlib

__all__ = ["BOUND_CHECKS"]


def _rows_by(srows, key):
    return {r[key]: r for r in srows}


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
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    if set(r["doc_id"] for r in srows) != set(texts):
        return ["doc_id set mismatch vs documents"]
    for r in srows:
        t = texts[r["doc_id"]]
        if not t:
            want = None
        else:
            raw = t.encode("utf-8")
            want = len(zlib.compress(raw, 6)) / len(raw)
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


def check_minhash_candidates(con, srows) -> list[str]:
    """Domain validity + guaranteed recall on identical-text pairs
    (identical text → identical signature → all 16 bands collide),
    plus the matched-banding precision companion (VERDICT r7 #6): a
    32-hash / 16-band×2 candidate set built from the PORTABLE md5
    family — the same (bands, rows) geometry as the xxhash64
    production query — bounds the result two ways:

    - size-ratio band (each set ≤ 3× the other + 50): catches a
      catastrophic precision failure (a banding bug emitting an
      order of magnitude more/fewer pairs than an independent hash
      family at identical geometry produces on the same corpus);
    - high-J core agreement: every pair in EITHER set whose exact
      3-gram Jaccard is ≥ 0.9 must be in BOTH (at J ≥ 0.9 the
      per-band collision probability gives a miss chance of
      ~(1-s²)^16 ≈ 2e-8 per family, s = J/(2-J) — deterministic for
      bound purposes).

    A raw symmetric-difference ceiling over the FULL sets would be
    vacuous: different hash families sample the mid/low-J collision
    tail independently (measured at sf0.1: 268 shared of 2119 xx /
    2515 md5 pairs — the disagreement IS the tail, the agreement is
    the high-J core), so the bound targets the core where theory
    guarantees agreement and the aggregate size where any real
    defect would show."""
    viol: list[str] = []
    ids = {r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()}
    pairs = set()
    for r in srows:
        a, b = r["id_a"], r["id_b"]
        if not (a in ids and b in ids):
            viol.append(f"pair ({a},{b}) outside doc_id domain")
        if not a < b:
            viol.append(f"pair ({a},{b}) violates id_a < id_b")
        if (a, b) in pairs:
            viol.append(f"duplicate pair ({a},{b})")
        pairs.add((a, b))
        if len(viol) >= 3:
            return viol
    must = con.execute(
        "SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b"
        " ON a.text = b.text AND a.doc_id < b.doc_id"
    ).fetchall()
    missing = [p for p in must if tuple(p) not in pairs]
    if missing:
        viol.append(
            f"{len(missing)} identical-text pairs NOT candidates "
            f"(recall bound), e.g. {missing[:3]}"
        )
    if viol:
        # domain/recall already broken — skip the (expensive)
        # precision leg; its pair arithmetic assumes valid ids
        return viol
    # --- matched-banding md5 reference set (precision companion) ---
    from .registry_ext48 import _SQL_SHINGLES

    mh = ", ".join(
        f"list_min(list_transform(sh, s -> md5(CAST({i} AS VARCHAR)"
        f" || '|' || s))) AS mh_{i}"
        for i in range(32)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh_{2 * b} || mh_{2 * b + 1} AS bucket"
        " FROM sig WHERE mh_0 IS NOT NULL"
        for b in range(16)
    )
    ref = set(
        map(
            tuple,
            con.execute(
                f"""
                WITH base AS (SELECT doc_id, {_SQL_SHINGLES} AS sh
                              FROM documents),
                sig AS (SELECT doc_id, {mh} FROM base),
                bands AS ({band_union})
                SELECT DISTINCT a.doc_id, b.doc_id FROM bands a
                JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                            AND a.doc_id < b.doc_id
                """
            ).fetchall(),
        )
    )
    import re

    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    # Java \s parity; RE2 lacks \v — see functions/text.py _WS (ADVICE r9)
    ws = re.compile(r"\s+", re.ASCII)
    gcache: dict[int, frozenset] = {}

    def grams(d):
        g = gcache.get(d)
        if g is None:
            toks = [w for w in ws.split((texts[d] or "").lower()) if w]
            g = (
                frozenset(
                    " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
                )
                if len(toks) >= 3
                else frozenset()
            )
            gcache[d] = g
        return g

    # Domain alignment (ADVICE r8, medium): the production xxhash64
    # path gives signature-less (<3-token) docs an ALL-ZERO signature,
    # so every pair of short docs collides in every band, while the md5
    # reference EXCLUDES those docs (WHERE mh_0 IS NOT NULL). With k
    # short docs the xx set carries C(k,2) pairs the reference can
    # never contain — drop both-short pairs before the size comparison
    # so the two sets cover the same doc domain. One-short pairs can't
    # arise — an all-zero bucket never matches a real digest bucket —
    # but that premise leans on the xxhash path's short-doc criterion
    # staying the \s-ASCII 3-token rule grams() uses, so ASSERT it
    # instead of assuming it (ADVICE r9): any one-short pair means the
    # two criteria drifted and the domain alignment is silently wrong.
    one_short = [
        p for p in pairs if bool(grams(p[0])) != bool(grams(p[1]))
    ]
    if one_short:
        viol.append(
            f"{len(one_short)} one-short candidate pairs (an all-zero "
            f"signature bucket matched a real digest bucket — the "
            f"short-doc criteria of the xxhash path and grams() have "
            f"drifted), e.g. {one_short[:3]}"
        )
    pairs_cmp = {
        p for p in pairs if grams(p[0]) or grams(p[1])
    }
    nx, nm = len(pairs_cmp), len(ref)
    if nx > 3 * nm + 50 or nm > 3 * nx + 50:
        viol.append(
            f"candidate-set size out of band vs matched-banding md5 "
            f"reference: xx={nx} (short-doc pairs excluded) md5={nm} "
            f"(ceiling 3x + 50)"
        )
    # high-J core: exact 3-gram Jaccard over the union of both sets
    core_missing = []
    for p in pairs | ref:
        ga, gb = grams(p[0]), grams(p[1])
        inter = len(ga & gb)
        un = len(ga) + len(gb) - inter
        if un and inter * 10 >= un * 9 and (p not in pairs or p not in ref):
            core_missing.append(p)
    if core_missing:
        viol.append(
            f"{len(core_missing)} J>=0.9 pairs present in only one of "
            f"xx/md5 matched-banding sets, e.g. {core_missing[:3]}"
        )
    return viol


def check_simhash_fingerprints(con, srows) -> list[str]:
    """doc_id set equality, 64-bit-string well-formedness, and equal
    signatures within identical-text groups (simhash is deterministic
    in the text)."""
    viol: list[str] = []
    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    got = {r["doc_id"]: r["simhash"] for r in srows}
    if set(got) != set(texts) or len(srows) != len(texts):
        return ["doc_id set mismatch vs documents"]
    by_text: dict[str, set[str]] = {}
    for did, sh in got.items():
        if len(sh) != 64 or set(sh) - {"0", "1"}:
            viol.append(f"doc {did}: malformed simhash {sh[:16]}…")
            if len(viol) >= 3:
                return viol
        by_text.setdefault(texts[did], set()).add(sh)
    clashes = [t[:40] for t, shs in by_text.items() if len(shs) > 1]
    if clashes:
        viol.append(
            f"{len(clashes)} identical-text groups with differing "
            f"simhashes, e.g. {clashes[:2]}"
        )
    return viol


BOUND_CHECKS = {
    "g_sketch_aggregates": check_sketch_aggregates,
    "g_hll_partitioned_merge": check_hll_partitioned_merge,
    "tx_compression_ratio": check_compression_ratio,
    "d_minhash_lsh_candidates": check_minhash_candidates,
    "d_simhash_fingerprints": check_simhash_fingerprints,
}
