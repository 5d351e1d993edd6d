"""Pure-Python recompute / law tests for the ext65 tranche (round 7):
join-skew profile, minhash-Jaccard calibration, dedup-cascade
attrition — the same independent-recompute discipline as test_ext62-64.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import duckdb
import pytest

from ingestion_pipeline_spark.plans import query_map

_WORD = re.compile(r"\s+", re.ASCII)  # Java/RE2 \s parity (ADVICE r8)


def _tokens(text: str) -> list[str]:
    return [t for t in _WORD.split((text or "").lower()) if t]


def _shingles(text: str) -> set[str]:
    toks = _tokens(text)
    if len(toks) < 3:
        return set()
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _minhash8(sh: set[str]) -> list[str] | None:
    if not sh:
        return None
    return [
        min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)
        for i in range(8)
    ]


@pytest.fixture(scope="module")
def docs(sf_dir):
    con = duckdb.connect()
    return con.execute(
        f"SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()


def test_join_skew_profile_recompute(spark, sf_dir):
    con = duckdb.connect()
    keys = [
        r[0]
        for r in con.execute(
            f"SELECT o_custkey FROM read_parquet('{sf_dir}/orders.parquet')"
        ).fetchall()
    ]
    cnts = Counter(keys)
    total, n_keys, max_cnt = len(keys), len(cnts), max(cnts.values())
    # percentiles by rank over sorted counts (the histogram-cum rule)
    asc = sorted(cnts.values())

    def pct(p: int) -> int:
        return asc[max(1, (n_keys * p) // 100) - 1]

    top10 = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    rows = query_map()["dq_join_skew_profile"](spark, sf_dir).collect()
    assert len(rows) == 10
    by_rank = sorted(rows, key=lambda r: r["rank"])
    for want, got in zip(top10, by_rank):
        assert (got["o_custkey"], got["cnt"]) == want
        assert got["share_bp"] == got["cnt"] * 10000 // total
        assert got["n_keys"] == n_keys
        assert got["p50_cnt"] == pct(50)
        assert got["p99_cnt"] == pct(99)
        assert got["skew_x100"] == max_cnt * 100 * n_keys // total


def test_minhash_calibration_recompute(spark, sf_dir, docs):
    sigs = {d: _minhash8(_shingles(t)) for d, t in docs}
    shs = {d: _shingles(t) for d, t in docs}
    # independent recompute of the hot-bucket doc cap (each bucket
    # contributes pairs among its _BUCKET_CAP lowest doc_ids) and the
    # exact census columns the capped plan must report
    from ingestion_pipeline_spark.plans.registry_ext65 import _BUCKET_CAP

    ids = [d for d, _ in docs if sigs[d] is not None]
    buckets: dict[tuple[int, str], list[int]] = {}
    for d in ids:
        sa = sigs[d]
        for band in range(4):
            buckets.setdefault(
                (band, sa[2 * band] + sa[2 * band + 1]), []
            ).append(d)
    n_bucket_slots = 0
    n_hot = 0
    samp_pairs: set[tuple[int, int]] = set()
    for members in buckets.values():
        k = len(members)
        n_bucket_slots += k * (k - 1) // 2
        if k > _BUCKET_CAP:
            n_hot += 1
        kept = sorted(members)[:_BUCKET_CAP]
        samp_pairs.update(
            (a, b) for i, a in enumerate(kept) for b in kept[i + 1 :]
        )
    rows = query_map()["d_minhash_jaccard_calibration"](spark, sf_dir).collect()
    assert rows, "fixture should produce at least one candidate pair"
    seen = set()
    for r in rows:
        a, b = r["id_a"], r["id_b"]
        assert a < b and (a, b) not in seen
        seen.add((a, b))
        sa, sb = sigs[a], sigs[b]
        assert sa is not None and sb is not None
        slots = sum(x == y for x, y in zip(sa, sb))
        assert r["match_slots"] == slots
        assert r["est_bp"] == slots * 1250
        inter = len(shs[a] & shs[b])
        union = len(shs[a] | shs[b])
        assert r["jac_bp"] == inter * 10000 // union
        # LSH membership: at least one of the 4 (2-row) bands collides
        assert any(
            sa[2 * band] == sb[2 * band] and sa[2 * band + 1] == sb[2 * band + 1]
            for band in range(4)
        )
        # census columns are exact and constant across rows
        assert r["n_bucket_slots"] == n_bucket_slots
        assert r["n_hot_buckets"] == n_hot
        assert r["n_pairs_sampled"] == len(samp_pairs)
    # the reported pair set is EXACTLY the deterministic per-bucket
    # doc-capped sample; nothing outside it, nothing sampled missing
    assert seen == samp_pairs
    assert len(samp_pairs) <= n_bucket_slots


def _cascade_recompute(docs, return_cands=False):
    """Independent pure-Python recompute of the full cascade semantics:
    exact keep-min-id, hot-bucket-GUARDED banded enumeration
    (VERDICT r8 #1), per-doc verify budget, and all three censuses.
    Returns (exact_survivor_ids, drops, n_guarded, over_budget,
    over_budget_undropped); with ``return_cands`` also the raw
    candidate lists (id_b -> [(-nb, id_a)]) and shingle sets, for the
    verify-budget tail audit twin."""
    from ingestion_pipeline_spark.plans.registry_ext65 import (
        _ENUM_CAP,
        _VERIFY_K,
    )

    # stage 1: keep min doc_id per normalized-content hash
    norm = lambda t: re.sub(r"\s+", " ", (t or "").strip().lower())  # noqa: E731
    keep: dict[str, int] = {}
    for d, t in docs:
        h = hashlib.md5(norm(t).encode()).hexdigest()
        keep[h] = min(keep.get(h, d), d)
    survivors = set(keep.values())
    # stage 2: banded buckets over the md5 signatures of the survivors
    shs = {d: _shingles(t) for d, t in docs if d in survivors}
    sigs = {d: _minhash8(shs[d]) for d in shs}
    buckets: dict[tuple[int, str], list[int]] = {}
    for d in sorted(sigs):
        sa = sigs[d]
        if sa is None:
            continue
        for band in range(4):
            buckets.setdefault(
                (band, sa[2 * band] + sa[2 * band + 1]), []
            ).append(d)
    # guarded enumeration: small buckets emit all C(k,2) pairs, hot
    # buckets only (min, other); nb = number of enumerating buckets
    nb_count: dict[tuple[int, int], int] = {}
    n_guarded = 0
    for members in buckets.values():
        ms = sorted(members)
        k = len(ms)
        if k > _ENUM_CAP:
            n_guarded += 1
            pairs = [(ms[0], d) for d in ms[1:]]
        else:
            pairs = [(a, b) for i, a in enumerate(ms) for b in ms[i + 1 :]]
        for p in pairs:
            nb_count[p] = nb_count.get(p, 0) + 1
    cands: dict[int, list[tuple[int, int]]] = {}
    for (a, b), nb in nb_count.items():
        cands.setdefault(b, []).append((-nb, a))
    drops: set[int] = set()
    over_budget = 0
    over_undropped = 0
    for b, lst in cands.items():
        lst.sort()
        for _negnb, a in lst[:_VERIFY_K]:
            inter = len(shs[a] & shs[b])
            union = len(shs[a] | shs[b])
            if union and inter * 10000 // union >= 5000:
                drops.add(b)
                break
        if len(lst) > _VERIFY_K:
            over_budget += 1
            if b not in drops:
                over_undropped += 1
    if return_cands:
        return (
            survivors, drops, n_guarded, over_budget, over_undropped,
            cands, shs,
        )
    return survivors, drops, n_guarded, over_budget, over_undropped


def test_dedup_cascade_recompute(spark, sf_dir, docs):
    rows = {
        r["stage"]: r
        for r in query_map()["pipeline_dedup_cascade"](spark, sf_dir).collect()
    }
    assert set(rows) == {"exact", "near_dup"}
    n0 = len(docs)
    survivors, drops, n_guarded, over_budget, over_undropped = (
        _cascade_recompute(docs)
    )
    ex = rows["exact"]
    assert (ex["docs_in"], ex["docs_out"]) == (n0, len(survivors))
    assert ex["removed"] == n0 - len(survivors)
    assert ex["over_budget_docs"] == 0
    assert ex["guarded_buckets"] == 0
    assert ex["over_budget_undropped"] == 0
    nd = rows["near_dup"]
    assert (nd["docs_in"], nd["removed"]) == (len(survivors), len(drops))
    assert nd["docs_out"] == len(survivors) - len(drops)
    assert nd["over_budget_docs"] == over_budget
    assert nd["guarded_buckets"] == n_guarded
    assert nd["over_budget_undropped"] == over_undropped
    # accounting chain
    assert ex["docs_out"] == nd["docs_in"]


def test_dedup_survivors_recompute(spark, sf_dir, docs):
    """pipeline_dedup_survivors = exact-stage keep set minus the
    near-stage drops, carrying (source, n_chars) from documents."""
    import duckdb

    survivors, drops, *_ = _cascade_recompute(docs)
    want_ids = survivors - drops
    rows = query_map()["pipeline_dedup_survivors"](spark, sf_dir).collect()
    assert {r["doc_id"] for r in rows} == want_ids
    assert len(rows) == len(want_ids)
    meta = dict(
        (r[0], (r[1], r[2]))
        for r in duckdb.connect()
        .execute(
            f"SELECT doc_id, source, n_chars FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        .fetchall()
    )
    for r in rows:
        assert (r["source"], r["n_chars"]) == meta[r["doc_id"]]


def test_cascade_verify_budget_census_binds(spark, tmp_path):
    """Synthetic over-budget fixture: the over_budget_docs /
    over_budget_undropped censuses have only ever been oracle-gated at
    values where they're ZERO (the driver fixtures carry no doc with
    >_VERIFY_K candidates); the 100× replica exercises the nonzero
    path Spark-side only. This corpus makes the budget BIND below the
    enumeration guard: 48 docs share a 95-word header with unique
    52-word bodies, so every pair is a sub-threshold candidate
    (J = 4720 bp < 5000) — each band splits the family into buckets
    under the 24-doc guard, but the UNION of a doc's bucketmates
    across its 4 bands exceeds the round-10 budget of 32 for four
    high-id docs (max candidate list 36), so those docs are
    over-budget AND undropped. Spark vs recompute vs DuckDB oracle,
    all three legs. (Re-engineered for _VERIFY_K = 32: the old 24-doc
    corpus capped candidate lists at 23 and could no longer bind.)"""
    import duckdb

    from ingestion_pipeline_spark.plans import REGISTRY
    from ingestion_pipeline_spark.plans.registry_ext65 import _VERIFY_K

    seed = 9
    header = " ".join(f"c{seed}h{i}" for i in range(95))
    docs = [
        (
            i + 1,
            f"{header} "
            + " ".join(f"c{seed}b{i}y{j}" for j in range(52)),
        )
        for i in range(48)
    ]
    sf_dir = _write_docs_fixture(tmp_path, docs)

    survivors, drops, n_guarded, over_budget, over_undropped = (
        _cascade_recompute(docs)
    )
    # fixture validity: the budget must BIND, the guard must NOT, and
    # no pair may qualify (so over-budget docs are all undropped)
    assert over_budget > 0
    assert n_guarded == 0
    assert not drops
    assert over_undropped == over_budget
    assert survivors == {d for d, _ in docs}

    got = {
        r["stage"]: r.asDict()
        for r in REGISTRY["pipeline_dedup_cascade"].spark(spark, sf_dir).collect()
    }
    nd = got["near_dup"]
    assert nd["over_budget_docs"] == over_budget
    assert nd["over_budget_undropped"] == over_undropped
    assert nd["removed"] == 0 and nd["guarded_buckets"] == 0
    # every over-budget doc really does hold > K candidates (law check
    # against the plan's own ranked frame is implicit: rk == K+1 rows
    # exist iff the python candidate lists exceed K — already asserted
    # by the census equality above)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {r[0]: r for r in con.execute(
        REGISTRY["pipeline_dedup_cascade"].sql
    ).fetchall()}
    for stage, row in got.items():
        assert tuple(row.values()) == want[stage], (stage, row, want[stage])
    assert _VERIFY_K == 32  # the fixture's arithmetic assumes the budget


def test_cascade_hot_bucket_guard_binds(spark, tmp_path):
    """Synthetic hot-bucket fixture (VERDICT r8 #1 'done' condition):
    a >_ENUM_CAP near-dup family that collapses into ONE (band,bucket)
    per band. The guard must (a) actually bind — the unguarded
    enumeration is Sigma C(k,2), the guarded one k-1 per hot bucket —
    (b) census the guarded buckets exactly, and (c) still drop every
    non-canonical family member (each pairs against the family min).
    The Spark result is also differentialed against the DuckDB oracle
    ON THIS corpus, so the guarded SQL/DataFrame parity is proven where
    the guard binds, not just where it's dormant."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ingestion_pipeline_spark.plans import REGISTRY
    from ingestion_pipeline_spark.plans.registry_ext65 import _ENUM_CAP

    base = " ".join(f"w{i}" for i in range(200))
    fam = _ENUM_CAP + 16  # 40-doc family: hot in every band
    texts = [f"{base} uniq{i}" for i in range(fam)]
    # unrelated fillers (no shared 3-grams with the family or each other)
    texts += [
        " ".join(f"f{j}x{i}" for j in range(30)) for i in range(10)
    ]
    # an exact-dup pair to exercise stage 1 on this corpus too
    texts += [texts[0], "  " + texts[0] + "  "]
    docs = [(i + 1, t) for i, t in enumerate(texts)]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(
                [f"s{d % 3}" for d, _ in docs], pa.string()
            ),
            "n_chars": pa.array(
                [len(t) for _, t in docs], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    survivors, drops, n_guarded, over_budget, over_undropped = (
        _cascade_recompute(docs)
    )
    # the fixture is only valid if the guard BINDS: at least one hot
    # bucket, and the family min must carry every family member as a
    # candidate (guarded fan-out k-1), never C(k,2) family pairs
    assert n_guarded >= 1
    # family docs minus the min are all dropped (J≈0.99 vs the min)
    fam_ids = set(range(1, fam + 1))
    assert fam_ids - {1} <= drops
    # fillers survive untouched; exact dups went at stage 1
    assert survivors - drops >= {1, fam + 1}

    got = {
        r["stage"]: r.asDict()
        for r in REGISTRY["pipeline_dedup_cascade"].spark(spark, sf_dir).collect()
    }
    nd = got["near_dup"]
    assert nd["guarded_buckets"] == n_guarded
    assert nd["removed"] == len(drops)
    assert nd["docs_in"] == len(survivors)
    assert nd["over_budget_docs"] == over_budget
    assert nd["over_budget_undropped"] == over_undropped
    # survivors query agrees on the same corpus
    sv = REGISTRY["pipeline_dedup_survivors"].spark(spark, sf_dir).collect()
    assert {r["doc_id"] for r in sv} == survivors - drops
    # DuckDB oracle differential on the synthetic corpus (both queries)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = {r[0]: r for r in con.execute(
        REGISTRY["pipeline_dedup_cascade"].sql
    ).fetchall()}
    for stage, row in got.items():
        assert tuple(row.values()) == want[stage], (stage, row, want[stage])
    want_sv = {r[0] for r in con.execute(
        REGISTRY["pipeline_dedup_survivors"].sql
    ).fetchall()}
    assert {r["doc_id"] for r in sv} == want_sv


def _write_docs_fixture(tmp_path, docs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array(["s0"] * len(docs), pa.string()),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _guard_corpus_docs():
    """The hot-bucket-guard corpus both capped-query recomputes share:
    a 40-doc near-identical family (one hot bucket past _ENUM_CAP, so
    the guard binds AND the verify budget binds), 10 unrelated docs,
    and two exact duplicates of doc 1."""
    from ingestion_pipeline_spark.plans.registry_ext65 import _ENUM_CAP

    base = " ".join(f"w{i}" for i in range(200))
    fam = _ENUM_CAP + 16
    texts = [f"{base} uniq{i}" for i in range(fam)]
    texts += [" ".join(f"f{j}x{i}" for j in range(30)) for i in range(10)]
    texts += [texts[0], "  " + texts[0] + "  "]
    return [(i + 1, t) for i, t in enumerate(texts)], fam


def _verified_edges(cands, shs):
    """The cascade's verified-edge rule in pure Python — in-budget
    candidates (sorted by (-nb, id_a), top _VERIFY_K per target doc)
    whose exact 3-gram Jaccard >= 0.5 — plus the past-budget pair
    census. ONE definition for every capped-query recompute, so a
    _VERIFY_K / threshold / tiebreak change can't silently pin stale
    semantics in one copy."""
    from ingestion_pipeline_spark.plans.registry_ext65 import _VERIFY_K

    edges = []
    n_excluded = 0
    for b, lst in cands.items():
        lst = sorted(lst)
        n_excluded += max(0, len(lst) - _VERIFY_K)
        for _negnb, a in lst[:_VERIFY_K]:
            inter = len(shs[a] & shs[b])
            union = len(shs[a] | shs[b])
            if union and inter * 10000 // union >= 5000:
                edges.append((a, b))
    return edges, n_excluded


def _min_components(survivors, edges):
    """Min-label connected components over the verified edges
    (path-halving union-find): doc_id -> component representative."""
    parent = {d: d for d in survivors}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in survivors}


def test_verify_budget_tail_audit_recompute(spark, tmp_path):
    """Fixture-scale twin of tools/audit_verify_budget.py (VERDICT r9
    #1): a corpus where a QUALIFYING partner genuinely hides past the
    verify budget — 48 docs share a 95-word header (every pair a
    sub-threshold candidate), and doc 49 is a J≈0.56 partial copy of
    doc 48 whose band collisions happen to TIE the header-only pairs,
    so id_a=48 loses the (nb desc, id_a) tie-break and lands at rank
    33 of doc 49's candidate list: the top-32 all fail, doc 49 is
    over-budget-undropped, and the audit must find the rank-33 miss.
    The miss set and first-rank positions are recomputed from first
    principles and compared against the tool's own Spark plan
    (audit_frames — the SAME code path the 100x audit runs)."""
    from pyspark.sql import functions as F

    from ingestion_pipeline_spark.plans import release_caches
    from ingestion_pipeline_spark.plans.registry_ext65 import _VERIFY_K
    from tools.audit_verify_budget import audit_frames

    seed, fam, nchg = 43, 48, 30
    header = " ".join(f"t{seed}h{i}" for i in range(95))
    docs = [
        (
            i + 1,
            f"{header} "
            + " ".join(f"t{seed}b{i}y{j}" for j in range(52)),
        )
        for i in range(fam)
    ]
    toks = docs[-1][1].split()
    docs.append(
        (
            fam + 1,
            " ".join(toks[:-nchg] + [f"t{seed}v{j}" for j in range(nchg)]),
        )
    )
    sf_dir = _write_docs_fixture(tmp_path, docs)

    _sv, drops, _ng, _ob, _obu, cands, shs = _cascade_recompute(
        docs, return_cands=True
    )
    obu_ids = {
        b
        for b, lst in cands.items()
        if len(lst) > _VERIFY_K and b not in drops
    }
    miss: dict[int, int] = {}
    for b in obu_ids:
        for rk_i, (_negnb, a) in enumerate(
            sorted(cands[b])[_VERIFY_K:], start=_VERIFY_K + 1
        ):
            inter = len(shs[a] & shs[b])
            union = len(shs[a] | shs[b])
            if union and inter * 10000 // union >= 5000:
                miss[b] = rk_i
                break
    # fixture validity: audit population nonempty AND a true tail miss
    assert obu_ids, "fixture must produce over-budget-undropped docs"
    assert miss, "fixture must hide a qualifying partner past the budget"

    obu_df, sample_df, tails, n_pop, n_sampled = audit_frames(
        spark, sf_dir, sample=10_000
    )
    assert n_pop == len(obu_ids)
    assert n_sampled == len(obu_ids)  # sample covers the population here
    assert {r["doc_id"] for r in obu_df.collect()} == obu_ids
    got = {
        r["id_b"]: r["first_rank"]
        for r in tails.filter(F.col("qual"))
        .groupBy("id_b")
        .agg(F.min("rk").alias("first_rank"))
        .collect()
    }
    assert got == miss
    release_caches(spark)


def test_dup_clusters_capped_recompute(spark, tmp_path):
    """d_dup_clusters_capped on the hot-bucket-guard corpus (clusters
    actually FORM here: the 40-doc family collapses onto its min-id
    representative through guarded star edges): components recomputed
    from first principles (union-find over the in-budget qualifying
    edges) and the censuses checked against the candidate lists; the
    DuckDB oracle is run on the same corpus, so the recursive-CTE SQL
    and the label-propagation DataFrame agree where the guard binds."""
    import duckdb

    from ingestion_pipeline_spark.plans import REGISTRY

    docs, fam = _guard_corpus_docs()
    sf_dir = _write_docs_fixture(tmp_path, docs)

    survivors, drops, n_guarded, _ob, _obu, cands, shs = (
        _cascade_recompute(docs, return_cands=True)
    )
    edges, n_excluded = _verified_edges(cands, shs)
    assert edges, "fixture must form clusters"
    want = _min_components(survivors, edges)
    rows = REGISTRY["d_dup_clusters_capped"].spark(spark, sf_dir).collect()
    got = {r["doc_id"]: r["component"] for r in rows}
    assert got == want
    # the family collapses onto its min-id representative
    assert {want[d] for d in range(1, fam + 1)} == {1}
    for r in rows:
        assert r["excluded_pairs"] == n_excluded
        assert r["guarded_buckets"] == n_guarded
    # DuckDB oracle differential on the same corpus
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            REGISTRY["d_dup_clusters_capped"].sql
        ).fetchall()
    }
    assert {
        r["doc_id"]: (
            r["component"], r["excluded_pairs"], r["guarded_buckets"]
        )
        for r in rows
    } == oracle


def test_split_leakage_capped_recompute(spark, tmp_path):
    """d_split_leakage_capped on the hot-bucket-guard corpus (the
    40-doc family forms one cluster whose members hash across
    train/val/test, so the leaky flag FIRES where the caps bind):
    clusters recomputed from first principles (union-find over the
    in-budget qualifying edges), splits recomputed from the md5 bucket
    rule, audit + censuses checked row by row, and the DuckDB oracle
    run on the same corpus."""
    import duckdb

    from ingestion_pipeline_spark.plans import REGISTRY

    docs, fam = _guard_corpus_docs()
    sf_dir = _write_docs_fixture(tmp_path, docs)

    survivors, drops, n_guarded, _ob, _obu, cands, shs = (
        _cascade_recompute(docs, return_cands=True)
    )
    edges, n_excluded = _verified_edges(cands, shs)
    assert edges, "fixture must form clusters"
    comp = _min_components(survivors, edges)

    def split_of(doc_id: int) -> str:
        h = int(hashlib.md5(f"split0{doc_id}".encode()).hexdigest()[:4], 16)
        return "train" if h < 52429 else ("val" if h < 58983 else "test")

    clusters: dict[int, list[int]] = {}
    for d in survivors:
        clusters.setdefault(comp[d], []).append(d)
    want = {}
    for cid, members in clusters.items():
        if len(members) < 2:
            continue
        sps = sorted({split_of(d) for d in members})
        want[cid] = (
            len(members), len(sps), ",".join(sps), int(len(sps) > 1),
            n_excluded, n_guarded,
        )
    assert want, "fixture must produce multi-member clusters"
    # the 40-doc family is one cluster spanning >1 split: leaky fires
    assert want[1][3] == 1 and want[1][0] >= fam - 2

    rows = REGISTRY["d_split_leakage_capped"].spark(spark, sf_dir).collect()
    got = {
        r["cluster_id"]: (
            r["n_docs"], r["n_splits"], r["splits"], r["leaky"],
            r["excluded_pairs"], r["guarded_buckets"],
        )
        for r in rows
    }
    assert got == want
    # DuckDB oracle differential on the same corpus
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    oracle = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            REGISTRY["d_split_leakage_capped"].sql
        ).fetchall()
    }
    assert got == oracle


def test_release_caches_releases_clean_corpus_blocks(spark, sf_dir):
    """clean_corpus_frames exposes its persisted handle; the one release
    path drops its cached blocks, and a second call finds nothing.

    The release is checked on the frame and on the context's persistent
    RDDs, not on ``release_caches``' count: ``clearCache`` already drops
    ``cleaned``, so the count covers only RDDs the cache manager does not
    track and depends on what earlier tests left behind."""
    from ingestion_pipeline_spark.plans import release_caches
    from ingestion_pipeline_spark.plans.registry_ext53 import (
        clean_corpus_frames,
    )

    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    fr = clean_corpus_frames(spark, sf_dir)
    n = fr["result"].count()
    assert n > 0
    assert fr["cleaned"].storageLevel.useMemory
    assert not persistent().isEmpty()
    release_caches(spark)
    assert not fr["cleaned"].storageLevel.useMemory
    assert persistent().isEmpty()
    assert release_caches(spark) == 0
