"""Property tests for the Arrow dedup kernels (SURVEY §5 item 5).

The kernels' docstrings claim VALUE-identity to interpreted reference
forms (``operators/dedup.py:126,216``): ``minhash_md5_slots`` to the
``array_min(transform(shingles(text), s -> md5('{i}|' || s)))``
expression variant, and ``jaccard3_bp`` to distinct-3-gram set Jaccard
in basis points. The fixture recomputes in test_ext65.py pin those
claims on corpus-shaped text; here hypothesis attacks the tokenization
parity directly — every whitespace character of ``functions.text.WS``
(space, \t, \n, \r, \f and \x0b, which RE2's own \s leaves out and
which the oracles now split on too, since they spell the class out),
repeated texts (the per-batch caches), empty and sub-``n``-token docs —
and the kernel must agree with the independently-evaluated reference
on every row.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ingestion_pipeline_spark.operators.dedup import (
    jaccard3_bp,
    minhash_md5_slots,
    shingles,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# ASCII words + every character of the whitespace class, \x0b included;
# the reference below tokenizes with Python's re.ASCII \s, an
# independent spelling of the same class (tests/test_text_rules.py
# checks the class itself on the JVM, Python and DuckDB).
text_st = st.text(alphabet="ab cd\t\n\r\f\x0b.", max_size=60)


def _toks(t: str) -> list[str]:
    return [w for w in re.split(r"\s+", t.lower(), flags=re.ASCII) if w]


def _grams(t: str, n: int = 3) -> set[str]:
    toks = _toks(t)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(texts=st.lists(text_st, min_size=1, max_size=12))
@SLOW
def test_minhash_md5_kernel_matches_expression_variant(spark, texts):
    """Arrow kernel == interpreted HOF form, row-by-row, slots included.

    Duplicated texts exercise the per-batch digest cache; whitespace-only
    and short texts exercise the [None]*n_hashes parity branch."""
    n_hashes = 4
    kern = minhash_md5_slots(n_hashes=n_hashes)
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts + texts)], "id long, t string")

    # single-arg lambda via factory: a default-arg closure (lambda s, i=i)
    # would be arity-2 and bind the ARRAY INDEX to i (the documented
    # PySpark HOF gotcha the verify skill pins)
    def salted(i: int):
        return lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))

    expr = F.array(
        *[
            F.array_min(F.transform(shingles(F.col("t")), salted(i)))
            for i in range(n_hashes)
        ]
    )
    rows = df.select("id", kern(F.col("t")).alias("k"), expr.alias("e")).collect()
    for r in rows:
        assert list(r["k"]) == list(r["e"]), (texts[r["id"] % len(texts)], r["k"], r["e"])


@given(
    pairs=st.lists(st.tuples(text_st, text_st), min_size=1, max_size=12),
)
@SLOW
def test_jaccard3_kernel_matches_python_set_oracle(spark, pairs):
    """jaccard3_bp == |A∩B|*10000 // |A∪B| over distinct 3-gram sets,
    computed independently in Python; NULL exactly when the union is
    empty (both sides < 3 tokens) — one short side scores 0, not NULL."""
    jac = jaccard3_bp()
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs + pairs)], "id long, a string, b string"
    )
    rows = df.select("id", jac(F.col("a"), F.col("b")).alias("j")).collect()
    for r in rows:
        a, b = pairs[r["id"] % len(pairs)]
        ga, gb = _grams(a), _grams(b)
        if not (ga | gb):
            assert r["j"] is None, (a, b, r["j"])
            continue
        want = len(ga & gb) * 10000 // len(ga | gb)
        assert r["j"] == want, (a, b, r["j"], want)


def test_minhash_md5_kernel_null_and_short_text_contract(spark):
    """NULL / empty / sub-n-token texts → per-slot NULLs, never a NULL
    array (so sig[0] IS NOT NULL filters behave like the HOF form)."""
    kern = minhash_md5_slots(n_hashes=3)
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "one two"), (3, " \t\n ")], "id long, t string"
    )
    for r in df.select("id", kern(F.col("t")).alias("k")).collect():
        assert r["k"] is not None and list(r["k"]) == [None, None, None], r


def test_minhash_md5_kernel_matches_hashlib_directly(spark):
    """One deterministic end-to-end pin independent of Spark expressions:
    kernel slots == min over salted hashlib digests of the 3-gram set."""
    text = "the quick brown fox jumps over the lazy dog the quick brown"
    kern = minhash_md5_slots(n_hashes=4)
    got = (
        spark.createDataFrame([(text,)], "t string")
        .select(kern(F.col("t")).alias("k"))
        .collect()[0]["k"]
    )
    want = [
        min(hashlib.md5(f"{i}|{g}".encode()).hexdigest() for g in _grams(text))
        for i in range(4)
    ]
    assert list(got) == want
