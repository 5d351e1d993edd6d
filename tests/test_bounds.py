"""Unit tests for the oracles in plans/bounds.py (verdict r6 #3): each
check must (a) pass on data consistent with its contract and (b)
actually FIRE on violations — a gate that never fails is no gate.
Pure DuckDB + dict rows; no Spark session needed (the real Spark-side
integration runs in tools/check_correctness.py, green at sf0.01 and
sf0.001)."""

from __future__ import annotations

import zlib

import duckdb
import pytest

from ingestion_pipeline_spark.plans.bounds import (
    BOUND_CHECKS,
    check_compression_ratio,
    check_hll_partitioned_merge,
    check_minhash_candidates,
    check_simhash_fingerprints,
    check_sketch_aggregates,
)


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ", ".join(
            f"('click', {100 + i % 7}, TIMESTAMP '2024-01-0{1 + i % 3} "
            f"10:00:00', {float(i)})"
            for i in range(20)
        )
        + ") t(event_type, user_id, ts, value)"
    )
    c.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1, 'alpha beta gamma delta'), "
        "(2, 'alpha beta gamma delta'), "   # exact dup of doc 1
        "(3, 'something else entirely here'), "
        "(4, '')"
        ") t(doc_id, text)"
    )
    return c


def test_registry_is_complete():
    assert set(BOUND_CHECKS) == {
        "g_sketch_aggregates",
        "g_hll_partitioned_merge",
        "tx_compression_ratio",
        "d_minhash_lsh_candidates",
        "d_simhash_fingerprints",
    }


def test_spark_free_copies_match_the_operators():
    """bounds.py imports no Spark, so it keeps its own copies of the
    MinHash layout, the shingle hash seed, the zlib level and the
    whitespace class; each must equal the constant the Spark side
    computes with."""
    from ingestion_pipeline_spark.functions import text
    from ingestion_pipeline_spark.operators import dedup
    from ingestion_pipeline_spark.plans import bounds

    assert (bounds._N_HASHES, bounds._N_BANDS, bounds._HASH_SEED) == (
        dedup.N_HASHES,
        dedup.N_BANDS,
        dedup.HASH_SEED,
    )
    assert bounds._ZLIB_LEVEL == text.ZLIB_LEVEL
    assert bounds._WS.pattern == text.WS


def test_differential_fails_a_query_without_oracle(capsys):
    """A query with neither oracle SQL nor a BOUND_CHECKS entry fails
    the differential instead of passing on its row count."""
    from tools.check_correctness import check

    class _Frame:
        columns = ["x"]

        def collect(self):
            return [{"x": 1}]

    assert check(None, "", None, {}, "ungated", lambda s, d: _Frame()) is False
    assert "FAIL ungated: no oracle" in capsys.readouterr().out


def test_sketch_aggregates_pass_and_fire(con):
    exact_users = con.execute(
        "SELECT COUNT(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    vals = sorted(float(i) for i in range(20))
    good = [
        {
            "event_type": "click",
            "n_events": 20,
            "approx_users": exact_users,          # within any band
            "p50": vals[10],
            "p95": vals[19],
            "p99": vals[19],
        }
    ]
    assert check_sketch_aggregates(con, good) == []
    # exact count must be EXACT — off-by-one fires
    bad_n = [dict(good[0], n_events=19)]
    assert any("n_events" in v for v in check_sketch_aggregates(con, bad_n))
    # estimate far outside 3·rsd fires
    bad_est = [dict(good[0], approx_users=exact_users * 3 + 10)]
    assert any(
        "approx_users" in v for v in check_sketch_aggregates(con, bad_est)
    )
    # a "percentile" outside the exact rank window fires
    bad_q = [dict(good[0], p50=vals[0])]
    assert any("p50" in v for v in check_sketch_aggregates(con, bad_q))
    # domain mismatch fires
    assert check_sketch_aggregates(con, []) != []


def test_hll_merge_pass_and_fire(con):
    days, du = con.execute(
        "SELECT COUNT(DISTINCT CAST(ts AS DATE)), COUNT(DISTINCT user_id)"
        " FROM events"
    ).fetchone()
    good = [{"event_type": "click", "n_days": days, "est_users": du}]
    assert check_hll_partitioned_merge(con, good) == []
    assert any(
        "n_days" in v
        for v in check_hll_partitioned_merge(
            con, [dict(good[0], n_days=days + 1)]
        )
    )
    assert any(
        "est_users" in v
        for v in check_hll_partitioned_merge(
            con, [dict(good[0], est_users=du * 2 + 10)]
        )
    )


def test_compression_ratio_pass_and_fire(con):
    def ratio(t):
        if not t:
            return None
        raw = t.encode("utf-8")
        return len(zlib.compress(raw, 6)) / len(raw)

    texts = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    good = [
        {
            "doc_id": d,
            "zlib_ratio": ratio(t),
            "flag_compressibility": (
                None if ratio(t) is None else (ratio(t) < 0.35 or ratio(t) > 0.9)
            ),
        }
        for d, t in texts.items()
    ]
    assert check_compression_ratio(con, good) == []
    bad = [dict(r) for r in good]
    bad[0]["zlib_ratio"] = 0.123456789
    assert any("ratio" in v for v in check_compression_ratio(con, bad))
    # a non-None ratio on the empty doc fires the None-parity arm
    bad2 = [dict(r) for r in good]
    for r in bad2:
        if r["zlib_ratio"] is None:
            r["zlib_ratio"] = 0.5
    assert check_compression_ratio(con, bad2) != []


# Spark's output on the tiny documents table (docs 1 and 2 identical,
# doc 4 empty: no shingles, so all votes 0 and every bit 1)
_SIMHASH = {
    1: "1110001111111101111101101011111111111000111010110111111110011111",
    2: "1110001111111101111101101011111111111000111010110111111110011111",
    3: "1111101101110111011111011011111111111110111001111111011011101110",
    4: "1" * 64,
}


def _pairs(*ps):
    return [{"id_a": a, "id_b": b} for a, b in ps]


def test_minhash_candidates_pass_and_fire(con):
    # identical docs 1 and 2 share every band; the empty doc 4 has
    # all-zero mins but no other short doc to collide with
    assert check_minhash_candidates(con, _pairs((1, 2))) == []
    # a dropped pair fires
    assert any("missing" in v for v in check_minhash_candidates(con, []))
    # an added pair fires
    assert any(
        "unexpected" in v
        for v in check_minhash_candidates(con, _pairs((1, 2), (1, 3)))
    )
    # ordering violation fires
    assert any(
        "unexpected" in v
        for v in check_minhash_candidates(con, _pairs((2, 1), (1, 2)))
    )
    # out-of-domain id fires
    assert any(
        "unexpected" in v
        for v in check_minhash_candidates(con, _pairs((1, 99), (1, 2)))
    )
    # duplicate pair fires
    assert any(
        "duplicate" in v
        for v in check_minhash_candidates(con, _pairs((1, 2), (1, 2)))
    )


def test_simhash_pass_and_fire(con):
    good = [{"doc_id": d, "simhash": s} for d, s in _SIMHASH.items()]
    assert check_simhash_fingerprints(con, good) == []
    # one flipped bit fires
    bad = [dict(r) for r in good]
    s = bad[2]["simhash"]
    bad[2]["simhash"] = s[:7] + ("0" if s[7] == "1" else "1") + s[8:]
    viol = check_simhash_fingerprints(con, bad)
    assert any("missing" in v for v in viol) and any("unexpected" in v for v in viol)
    # missing doc fires
    assert any("missing" in v for v in check_simhash_fingerprints(con, good[:3]))
    # out-of-domain doc fires
    extra = good + [{"doc_id": 99, "simhash": "0" * 64}]
    assert any("unexpected" in v for v in check_simhash_fingerprints(con, extra))
    # duplicate row fires
    assert any(
        "duplicate" in v for v in check_simhash_fingerprints(con, good + good[:1])
    )
