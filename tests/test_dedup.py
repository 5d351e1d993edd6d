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


# ---- value pins for the oracle-blind pair ------------------------------
# d_minhash_lsh_candidates and d_simhash_fingerprints hash with xxhash64,
# which DuckDB cannot replay, so the differential checks them by row
# count only. These tests rebuild both outputs on another path: shingles
# from str.split(), hashes from Spark's xxhash64 over a plain frame of
# shingle strings, and the splitmix64 MinHash, band fold, pair
# enumeration and SimHash votes in Python ints.

_M64 = (1 << 64) - 1
_GOLDEN = 0x9E3779B97F4A7C15


def _splitmix(x: int) -> int:
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


@pytest.fixture(scope="module")
def corpus_shingles(spark, sf_dir):
    """doc_id -> distinct word 3-gram set, and shingle -> (xxhash64(s, 42),
    xxhash64(s)) as unsigned 64-bit ints."""
    from ingestion_pipeline_spark.sources.parquet_tables import table

    grams = {}
    for r in table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        toks = r["text"].lower().split()
        grams[r["doc_id"]] = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    vocab = sorted(set().union(*grams.values()))
    hashed = spark.createDataFrame([(s,) for s in vocab], "s string").selectExpr(
        "s", "xxhash64(s, 42) AS seeded", "xxhash64(s) AS plain"
    )
    hashes = {r["s"]: (r["seeded"] & _M64, r["plain"] & _M64) for r in hashed.collect()}
    return grams, hashes


def test_minhash_lsh_candidates_values(spark, sf_dir, corpus_shingles):
    from itertools import combinations

    from ingestion_pipeline_spark.plans import query_map
    from ingestion_pipeline_spark.sources.parquet_tables import table

    grams, hashes = corpus_shingles
    n_hashes, n_bands = 32, 16
    rows_per_band = n_hashes // n_bands
    seeds = [((i + 1) * _GOLDEN) & _M64 for i in range(n_hashes)]
    bucket_of: dict[tuple[int, int], int] = {}
    for doc, sh in grams.items():
        hs = [hashes[s][0] for s in sh]
        # a doc with no shingles gets all-zero mins (all such docs collide)
        mins = [min((_splitmix(h ^ seed) for h in hs), default=0) for seed in seeds]
        for b in range(n_bands):
            acc = _GOLDEN
            for m in mins[b * rows_per_band : (b + 1) * rows_per_band]:
                acc = _splitmix(acc ^ m)
            bucket_of[(doc, b)] = acc
    members: dict[tuple[int, int], list[int]] = {}
    for (doc, b), acc in bucket_of.items():
        members.setdefault((b, acc), []).append(doc)
    expected = {
        pair for docs in members.values() for pair in combinations(sorted(docs), 2)
    }

    got = query_map()["d_minhash_lsh_candidates"](spark, sf_dir).collect()
    assert expected  # the fixture has near-dup pairs to pin
    assert len(got) == len(expected)
    assert {(r["id_a"], r["id_b"]) for r in got} == expected

    # the pair set only sees which buckets are equal; pin the bucket
    # values too, so a change to the band fold cannot hide behind it
    hashed = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"),
        dd.hashed_shingles(dd.shingles(F.col("text"), 3)).alias("__hs"),
    )
    banded = {
        (r["doc"], r["band"]): r["bucket"] & _M64
        for r in dd.minhash_bands(hashed, n_hashes, n_bands).collect()
    }
    assert banded == bucket_of


def test_simhash_fingerprints_values(spark, sf_dir, corpus_shingles):
    from ingestion_pipeline_spark.plans import query_map

    grams, hashes = corpus_shingles
    expected = {}
    for doc, sh in grams.items():
        votes = [0] * 64
        for s in sh:
            h = hashes[s][1]
            for b in range(64):
                votes[b] += 1 if (h >> b) & 1 else -1
        expected[doc] = "".join("1" if v >= 0 else "0" for v in votes)

    got = {
        r["doc_id"]: r["simhash"]
        for r in query_map()["d_simhash_fingerprints"](spark, sf_dir).collect()
    }
    assert got == expected
