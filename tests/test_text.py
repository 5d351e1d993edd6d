"""Text / regex function tests (SURVEY §2.9 X-ops + text analysis)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ingestion_pipeline_spark.functions import text as tx


def _one(spark, col, value: str):
    df = spark.createDataFrame([(value,)], "t string")
    return df.select(col.alias("out")).first()["out"]


def test_extract_cve_ids_distinct(spark):
    """X1+G3 — set(re.findall(...)) (llama-chatbot/main.py:290-294)."""
    got = _one(
        spark,
        tx.extract_cve_ids(F.col("t")),
        "CVE-2024-1234 then CVE-2024-1234 again, CVE-2023-99999; not CVE-12-1, not CVE-2024-123",
    )
    assert got == ["CVE-2024-1234", "CVE-2023-99999"]


def test_extract_first_cve_empty_when_absent(spark):
    """X2 — re.search → '' when no match (chatbot/main.py:121-128)."""
    assert _one(spark, tx.extract_first_cve(F.col("t")), "see CVE-2020-5 ok") == "CVE-2020-5"
    assert _one(spark, tx.extract_first_cve(F.col("t")), "nothing here") == ""


def test_phrase_set(spark):
    """P10 — lower/split('.')/trim/distinct; the empty phrase from a
    trailing '.' is KEPT (Python split keeps it; eval.py:18-19 builds
    the set from the raw split)."""
    assert _one(spark, tx.phrase_set(F.col("t")), "Hello World. FOO.  hello world. ") == [
        "hello world",
        "foo",
        "",
    ]
    # no trailing period → no empty member
    assert _one(spark, tx.phrase_set(F.col("t")), "Hello World") == ["hello world"]


def test_token_count_matches_python_split(spark):
    for s in ["a b  c", "  leading", "", "one"]:
        assert _one(spark, tx.token_count(F.col("t")), s) == len(s.split())


def test_quality_score_bounds(spark, sf_dir):
    from ingestion_pipeline_spark.sources.parquet_tables import table

    docs = table(spark, sf_dir, "documents")
    stats = docs.select(tx.quality_score(F.col("text")).alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")
    ).first()
    assert 0.0 <= stats["lo"] <= stats["hi"] <= 1.0


def test_langid_markers(spark):
    assert _one(spark, tx.langid(F.col("t")), "the cat and the dog is here") == "en"
    assert _one(spark, tx.langid(F.col("t")), "der hund und die katze ist da") == "de"
    assert _one(spark, tx.langid(F.col("t")), "xyzzy qwerty") == "und"


def test_fingerprint_normalizes_whitespace_and_case(spark):
    a = _one(spark, tx.fingerprint(F.col("t")), "Hello   World")
    b = _one(spark, tx.fingerprint(F.col("t")), "hello world ")
    c = _one(spark, tx.fingerprint(F.col("t")), "hello worlds")
    assert a == b != c


def test_truncate(spark):
    assert _one(spark, tx.truncate(F.col("t"), 5), "abcdefgh") == "abcde"


def test_word_ngrams_tokenizes_like_the_jvm_shingler(spark):
    """``word_ngrams`` is the one Python tokenizer of the Arrow kernels;
    on ASCII text it yields the n-grams ``dedup.shingles`` builds."""
    from ingestion_pipeline_spark.operators.dedup import shingles

    text = "  The quick\tbrown\n\nfox  jumps over the quick brown fox "
    jvm = _one(spark, shingles(F.col("t"), 3), text)
    assert sorted(set(tx.word_ngrams(text, 3))) == sorted(jvm)
    assert tx.word_ngrams("two words", 3) == []


def test_arrow_kernels_unpickle_without_the_package():
    """The kernels call shared module-level helpers (``word_ngrams``,
    ``similarity._null_masked``); they must still ship to a Python
    worker that cannot import this package."""
    import base64
    import os
    import subprocess
    import sys
    from pathlib import Path

    from pyspark import cloudpickle

    from ingestion_pipeline_spark.operators import dedup, similarity

    kernels = [
        dedup.minhash_md5_slots(4),
        dedup.jaccard3_bp(),
        tx.word_shingles_np(3, split=r"\s+"),
        similarity.probe_cosine_np([1.0, 0.0]),
        similarity.cosine_pairs_np(),
    ]
    blob = base64.b64encode(cloudpickle.dumps([k.func for k in kernels])).decode()
    probe = (
        "import base64, importlib.util; from pyspark import cloudpickle; "
        "assert importlib.util.find_spec('ingestion_pipeline_spark') is None; "
        f"cloudpickle.loads(base64.b64decode('{blob}'))"
    )
    repo = str(Path(tx.__file__).resolve().parents[2])
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p and Path(p).resolve() != Path(repo)
    )
    r = subprocess.run(
        [sys.executable, "-c", probe], cwd="/", env=env, capture_output=True, text=True
    )
    assert r.returncode == 0, r.stderr
