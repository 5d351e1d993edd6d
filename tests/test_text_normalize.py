"""Text-normalization semantics on adversarial inputs (the fixture is
all-ASCII, so the oracle gate alone would only prove the identity
case): composed/decomposed unicode collapse, accent stripping, markup
unescape order, C4 segment-filter edge cases.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import functions as F

from ingestion_pipeline_spark.functions.text import (
    c4_sentence_filter,
    strip_markup,
    unicode_normalize_udf,
)
from ingestion_pipeline_spark.plans import query_map


def _apply(spark, col_fn, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id LONG, t STRING")
    return [r["out"] for r in df.select(col_fn(F.col("t")).alias("out")).orderBy("id").collect()]


def test_unicode_normalize_collapses_encodings(spark):
    composed = "école"  # U+00E9
    decomposed = "école"  # e + combining acute
    norm = unicode_normalize_udf(strip_accent_marks=False)
    got = _apply(spark, norm, [composed, decomposed, None])
    # NFC makes the two encodings bit-identical (dedup prerequisite)
    assert got[0] == got[1] == unicodedata.normalize("NFC", composed)
    assert got[2] is None

    stripper = unicode_normalize_udf(strip_accent_marks=True)
    got2 = _apply(spark, stripper, [composed, decomposed, "naïve — café"])
    assert got2[0] == got2[1] == "ecole"
    assert got2[2] == "naive — café".replace("é", "e")  # dash/space survive


def test_strip_markup_semantics(spark):
    got = _apply(
        spark,
        strip_markup,
        [
            "a <b>bold</b>   and <a href='x'>link</a> text",
            "&lt;tag&gt; stays literal &amp;amp; double-escape",
            "  spaced\t\tout\n\nlines  ",
        ],
    )
    assert got[0] == "a bold and link text"
    # entity unescape AFTER tag removal: literal &lt;tag&gt; is not a tag;
    # &amp;amp; unescapes exactly once
    assert got[1] == "<tag> stays literal &amp; double-escape"
    assert got[2] == "spaced out lines"


def test_c4_sentence_filter_semantics(spark):
    got = _apply(
        spark,
        c4_sentence_filter,
        [
            "This is a long sentence. No. This one also has many words. Bye bye",
            "Too short. No",
            "",
        ],
    )
    assert got[0] == "This is a long sentence. This one also has many words"
    assert got[1] == ""
    assert got[2] == ""


def test_registry_entries_cover_fixture(spark, sf_dir):
    qm = query_map()
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    for name in ("tx_unicode_normalize", "tx_strip_markup", "tx_c4_sentence_filter"):
        assert qm[name](spark, sf_dir).count() == n


def test_compression_ratio_matches_zlib_and_flags(spark, sf_dir):
    import zlib

    rows = query_map()["tx_compression_ratio"](spark, sf_dir).collect()
    docs = {r["doc_id"]: r["text"] for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    assert len(rows) == len(docs)
    for r in rows:
        raw = docs[r["doc_id"]].encode("utf-8")
        if not raw:
            assert r["zlib_ratio"] is None
            continue
        expect = len(zlib.compress(raw, 6)) / len(raw)
        assert abs(r["zlib_ratio"] - expect) < 1e-12
        assert r["flag_compressibility"] == (expect < 0.35 or expect > 0.9)
