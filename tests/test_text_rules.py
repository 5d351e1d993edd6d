"""The three text rules of ``functions/text.py`` — whitespace word
tokens, alpha words and whitespace collapse — give the same result on
every engine that runs them: the Spark Column function, the ``sql_api``
Spark SQL function, the Python tokenizer of the Arrow kernels and the
DuckDB SQL of the oracles. Each input's expected value is written out
by hand, so a rule that drifts on one engine fails here even when the
others agree with it.

The inputs cover each whitespace character alone (``\\x0B`` is the one
RE2's own ``\\s`` leaves out; NBSP and U+2028 are the ones Python's
``str.split()`` adds), leading, trailing and mixed runs, case, digits
and punctuation, the empty string and NULL.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ingestion_pipeline_spark.functions import text as tx

# (text, word_tokens(text), alpha_words(lower(text)), collapse_ws(text))
CASES = [
    ("a b", ["a", "b"], ["a", "b"], "a b"),
    ("a\tb", ["a", "b"], ["a", "b"], "a b"),
    ("a\nb", ["a", "b"], ["a", "b"], "a b"),
    ("a\rb", ["a", "b"], ["a", "b"], "a b"),
    ("a\fb", ["a", "b"], ["a", "b"], "a b"),
    ("a\x0bb", ["a", "b"], ["a", "b"], "a b"),
    ("a\xa0b", ["a\xa0b"], ["a", "b"], "a\xa0b"),
    ("a\u2028b", ["a\u2028b"], ["a", "b"], "a\u2028b"),
    (" \t lead", ["lead"], ["lead"], " lead"),
    ("trail\r\n", ["trail"], ["trail"], "trail "),
    ("x \t\n\x0b\f\r y", ["x", "y"], ["x", "y"], "x y"),
    (
        "Hello WORLD 42, foo-bar!",
        ["Hello", "WORLD", "42,", "foo-bar!"],
        ["hello", "world", "foo", "bar"],
        "Hello WORLD 42, foo-bar!",
    ),
    ("", [], [], ""),
    (None, None, None, None),
]


def _expected(col: int) -> list:
    return [c[col] for c in CASES]


@pytest.fixture(scope="module")
def spark_rows(spark):
    df = spark.createDataFrame(list(enumerate(c[0] for c in CASES)), "i int, s string")
    s = F.col("s")
    return (
        df.select(
            "i",
            tx.word_tokens(s).alias("w"),
            tx.alpha_words(F.lower(s)).alias("a"),
            tx.collapse_ws(s).alias("c"),
            tx.token_count(s).alias("n"),
            tx.content_md5(s).alias("h"),
            tx.fingerprint(s).alias("fp"),
        )
        .orderBy("i")
        .collect()
    )


@pytest.fixture(scope="module")
def duck_rows():
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", list(enumerate(c[0] for c in CASES)))
    return con.execute(
        f"""SELECT {tx.word_tokens_sql("s")}, {tx.alpha_words_sql("lower(s)")},
                   {tx.collapse_ws_sql("s")},
                   md5({tx.collapse_ws_sql("trim(lower(s))")})
            FROM d ORDER BY i"""
    ).fetchall()


def test_word_tokens_agree_on_every_engine(spark_rows, duck_rows):
    want = _expected(1)
    assert [r["w"] for r in spark_rows] == want
    assert [r[0] for r in duck_rows] == want
    assert [tx.split_words(c[0]) for c in CASES[:-1]] == want[:-1]


def test_alpha_words_agree_on_every_engine(spark_rows, duck_rows):
    want = _expected(2)
    assert [r["a"] for r in spark_rows] == want
    assert [r[1] for r in duck_rows] == want
    assert [tx.split_alpha(c[0].lower()) for c in CASES[:-1]] == want[:-1]


def test_whitespace_collapse_agrees_on_every_engine(spark_rows, duck_rows):
    want = _expected(3)
    assert [r["c"] for r in spark_rows] == want
    assert [r[2] for r in duck_rows] == want
    # the exact-dup key: md5 of the trimmed, lower-cased, collapsed text
    assert [r["h"] for r in spark_rows] == [r[3] for r in duck_rows]


def test_sql_api_functions_match_the_column_functions(spark, spark_rows):
    from ingestion_pipeline_spark.functions.sql_api import register_all

    register_all(spark)
    spark.createDataFrame(
        list(enumerate(c[0] for c in CASES)), "i int, s string"
    ).createOrReplaceTempView("text_rule_cases")
    via_sql = spark.sql(
        "SELECT token_count(s) AS n, content_md5(s) AS h, fingerprint64(s) AS fp "
        "FROM text_rule_cases ORDER BY i"
    ).collect()
    assert [r["n"] for r in via_sql] == [r["n"] for r in spark_rows]
    assert [r["n"] for r in via_sql][:-1] == [len(w) for w in _expected(1)[:-1]]
    assert [r["h"] for r in via_sql] == [r["h"] for r in spark_rows]
    assert [r["fp"] for r in via_sql] == [r["fp"] for r in spark_rows]
