"""Dedup family tests on crafted near/exact duplicates."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ingestion_pipeline_spark.operators import dedup as dd

BASE = "the quick brown fox jumps over the lazy dog again and again until done"
NEAR = BASE.replace("lazy", "sleepy")  # one token differs
OTHER = "completely different content about spark query engines and shuffles at scale"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "b1"),
        (2, BASE, "b1"),                  # exact dup of 1
        (3, "  The  quick brown fox jumps over the lazy dog again and again until done ", "b1"),
        (4, NEAR, "b1"),                  # near dup
        (5, OTHER, "b1"),
        (6, OTHER + " extra", "b2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, block string")


def test_exact_dup_groups(docs):
    got = {r["canonical_id"]: r["n_copies"] for r in dd.exact_dup_groups(docs, "text", "doc_id").collect()}
    # 1,2,3 normalize to the same content hash (case/whitespace)
    assert got[1] == 3
    assert got[4] == 1


def test_shingles_and_jaccard(spark, docs):
    import pytest

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, "text", "doc_id", "block", threshold=1e-9).collect()
    }
    assert pairs[(1, 2)] == 1.0                      # identical
    assert 0.5 < pairs[(1, 4)] < 1.0                 # near dup
    assert (1, 5) not in pairs                       # disjoint: J=0 never emitted
    assert (5, 6) not in pairs                       # different block
    with pytest.raises(ValueError):                  # J=0 enumeration is refused
        dd.jaccard_pairs(docs, "text", "doc_id", "block", threshold=0.0)


def test_minhash_lsh_finds_near_dups(docs):
    got = {(r["id_a"], r["id_b"]) for r in dd.minhash_lsh_candidates(docs, "text", "doc_id").collect()}
    assert (1, 2) in got            # identical always collide
    assert (1, 3) in got            # normalization-equal
    assert (1, 4) in got            # near dup shares most shingles
    assert (1, 5) not in got        # unrelated documents must not collide


def test_simhash_properties(docs):
    sigs = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", dd.simhash64(F.col("text")).alias("s")).collect()
    }
    assert len(sigs[1]) == 64 and set(sigs[1]) <= {"0", "1"}
    assert sigs[1] == sigs[2]  # identical text → identical signature
    ham_near = sum(a != b for a, b in zip(sigs[1], sigs[4]))
    ham_far = sum(a != b for a, b in zip(sigs[1], sigs[5]))
    assert ham_near < ham_far, (ham_near, ham_far)


def test_fixture_corpus_has_no_exact_dups(spark, sf_dir):
    from ingestion_pipeline_spark.sources.parquet_tables import table

    docs = table(spark, sf_dir, "documents")
    groups = dd.exact_dup_groups(docs, "text", "doc_id")
    assert groups.filter(F.col("n_copies") > 1).count() == 0


def test_containment_catches_short_inside_long(spark):
    """The measure's reason to exist: a short doc fully quoted inside a
    long one scores containment 1.0 while Jaccard stays small — and the
    contained side is identified."""
    from ingestion_pipeline_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(60))
    long_doc = filler + " " + short
    df = spark.createDataFrame(
        [(1, short, "b"), (2, long_doc, "b"), (3, "totally unrelated words here now", "b")],
        "doc_id long, text string, block string",
    )
    cont = containment_pairs(df, "text", "doc_id", "block", threshold=0.9).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r["id_a"], r["id_b"], r["contained_id"]) == (1, 2, 1)
    assert r["containment"] == 1.0

    jac = jaccard_pairs(df, "text", "doc_id", "block", threshold=0.01).collect()
    j12 = next(x["jaccard"] for x in jac if (x["id_a"], x["id_b"]) == (1, 2))
    assert j12 < 0.1  # jaccard structurally misses it


def test_collated_grouping_matches_lowercase_dedup(spark):
    """Spark 4 collations as a dedup tool: grouping under UTF8_LCASE
    merges case variants natively — same groups as the explicit
    lower() normalization the md5 content-hash path uses, without
    materializing a normalized column."""
    df = spark.createDataFrame(
        [(1, "Fix The Bug"), (2, "fix the bug"), (3, "FIX THE BUG"), (4, "other doc")],
        "doc_id LONG, text STRING",
    )
    df.createOrReplaceTempView("cdocs")
    collated = {
        (r["n"], r["m"])
        for r in spark.sql(
            """SELECT COUNT(*) AS n, MIN(doc_id) AS m FROM cdocs
               GROUP BY COLLATE(text, 'UTF8_LCASE')"""
        ).collect()
    }
    lowered = {
        (r["n"], r["m"])
        for r in df.groupBy(F.lower("text"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("m"))
        .collect()
    }
    assert collated == lowered == {(3, 1), (1, 4)}


# ---- value pins for the two xxhash64 queries ---------------------------
# DuckDB cannot replay Spark's xxhash64, so plans/bounds.py recomputes
# d_minhash_lsh_candidates and d_simhash_fingerprints in plain Python
# from its own XXH64 port; the differential gates both queries with the
# same recompute. The first test pins the port to Spark's xxhash64.


def test_xxh64_port_matches_spark(spark):
    import random
    import struct

    from ingestion_pipeline_spark.plans.bounds import xxh64

    m64 = (1 << 64) - 1
    rng = random.Random(20240601)
    alphabet = "abc xyz0129 \téßñ日本語\U0001F600"
    # up to 80 chars of up to 4 UTF-8 bytes: covers the 32-byte stripes
    strings = ["", "a", "x" * 32] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(81)))
        for _ in range(200)
    ]
    longs = [0, -1, -(1 << 63), (1 << 63) - 1] + [
        rng.randrange(-(1 << 63), 1 << 63) for _ in range(100)
    ]
    rows = [(i, s, longs[i % len(longs)]) for i, s in enumerate(strings)]
    got = (
        spark.createDataFrame(rows, "i int, s string, l long")
        .selectExpr(
            "i",
            "xxhash64(s) AS plain",
            "xxhash64(s, 42) AS chained",  # s with seed 42, then the int 42
            "xxhash64(l) AS long_hash",
        )
        .collect()
    )
    assert len(got) == len(rows)
    for r in got:
        _, s, v = rows[r["i"]]
        plain = xxh64(s.encode("utf-8"), 42)
        assert r["plain"] & m64 == plain, s
        assert r["chained"] & m64 == xxh64(struct.pack("<i", 42), plain), s
        assert r["long_hash"] & m64 == xxh64(struct.pack("<q", v), 42), v


@pytest.fixture(scope="module")
def recomputed(spark, sf_dir):
    from ingestion_pipeline_spark.plans.bounds import near_dup_recompute
    from ingestion_pipeline_spark.sources.parquet_tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    return near_dup_recompute({r["doc_id"]: r["text"] for r in docs})


def test_minhash_lsh_candidates_values(spark, sf_dir, recomputed):
    from ingestion_pipeline_spark.plans import query_map
    from ingestion_pipeline_spark.sources.parquet_tables import table

    buckets, expected, _ = recomputed
    got = query_map()["d_minhash_lsh_candidates"](spark, sf_dir).collect()
    assert expected  # the fixture has near-dup pairs to pin
    assert len(got) == len(expected)
    assert {(r["id_a"], r["id_b"]) for r in got} == expected

    # the pair set only sees which buckets are equal; pin the bucket
    # values too, so a change to the band fold cannot hide behind it
    hashed = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"),
        dd.hashed_shingles(dd.shingles(F.col("text"))).alias("__hs"),
    )
    banded = {
        (r["doc"], r["band"]): r["bucket"] & ((1 << 64) - 1)
        for r in dd.minhash_bands(hashed).collect()
    }
    assert banded == buckets


def test_simhash_fingerprints_values(spark, sf_dir, recomputed):
    from ingestion_pipeline_spark.plans import query_map

    got = {
        r["doc_id"]: r["simhash"]
        for r in query_map()["d_simhash_fingerprints"](spark, sf_dir).collect()
    }
    assert got == recomputed[2]
