"""Interchange-format round-trips (sources/formats.py): CSV with
adversarial free text, JSONL with corrupt-record quarantine, ORC with
predicate pushdown — each read back with an EXPLICIT schema (the
no-inferSchema rule) and compared row-exactly against the source.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ingestion_pipeline_spark.plans import plan_text
from ingestion_pipeline_spark.sources import formats as fmt


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _tricky_docs(spark):
    """Document-shaped rows with every CSV hazard: embedded newlines,
    quotes, delimiters, unicode, empty string vs NULL."""
    data = [
        (0, 'line one\nline "two", with comma', "en", "web"),
        (1, "semi;colon\tand tab", "de", "web"),
        (2, "", "en", "api"),  # empty, not NULL
        (3, None, "fr", "api"),  # NULL, not empty
        (4, "ünïcode — em-dash … 中文", "en", "web"),
    ]
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("text", StringType(), True),
            StructField("lang", StringType(), True),
            StructField("source", StringType(), True),
        ]
    )
    return spark.createDataFrame(data, schema), schema


def test_csv_roundtrip_adversarial_text(spark, tmp_path):
    src, schema = _tricky_docs(spark)
    path = str(tmp_path / "docs_csv")
    fmt.write_csv(src, path)
    back = fmt.read_csv(spark, path, schema)
    assert back.schema == schema or [f.name for f in back.schema] == [f.name for f in schema]
    assert _rows(back, src.columns) == _rows(src, src.columns)


def test_csv_roundtrip_orders_fixture(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_csv")
    fmt.write_csv(src, path)
    back = fmt.read_csv(spark, path, src.schema)
    # timestamp columns survive at microsecond precision
    assert _rows(back, src.columns) == _rows(src, src.columns)


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    src, schema = _tricky_docs(spark)
    path = str(tmp_path / "docs_jsonl")
    fmt.write_jsonl(src, path)
    back = fmt.read_jsonl(spark, path, schema)
    good = back.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    assert _rows(good, src.columns) == _rows(src, src.columns)

    # inject one malformed line: it must land in _corrupt_record,
    # not fail the scan (W7 quarantine semantics)
    (tmp_path / "docs_jsonl" / "zz_bad.json").write_text('{"doc_id": not-json\n')
    # Spark requires a materialized plan before querying ONLY the
    # corrupt column — cache first (documented JSON-source restriction)
    back2 = fmt.read_jsonl(spark, path, schema).cache()
    try:
        bad = back2.filter(F.col("_corrupt_record").isNotNull())
        assert bad.count() == 1
        assert back2.count() == src.count() + 1
    finally:
        back2.unpersist()


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_orc")
    fmt.write_orc(src, path)
    back = fmt.read_orc(spark, path)
    assert _rows(back, src.columns) == _rows(src, src.columns)
    # the columnar contract: filters reach the ORC scan node
    plan = plan_text(back.filter(F.col("o_orderkey") == 42).select("o_orderkey"))
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan or "o_orderkey" in plan


def test_schema_evolution_merge_and_union(spark, tmp_path):
    """Files written across schema generations read as one table:
    mergeSchema unions footer schemas, old files read NULL for new
    columns; union_evolving does the same for in-memory frames."""
    gen1 = spark.createDataFrame([(1, "a")], "doc_id LONG, text STRING")
    gen2 = spark.createDataFrame(
        [(2, "b", "en")], "doc_id LONG, text STRING, lang STRING"
    )
    p1, p2 = str(tmp_path / "gen1"), str(tmp_path / "gen2")
    gen1.write.parquet(p1)
    gen2.write.parquet(p2)

    merged = fmt.read_evolving_parquet(spark, p1, p2)
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r["lang"] for r in merged.collect()}
    assert rows == {1: None, 2: "en"}

    unioned = fmt.union_evolving(gen1, gen2)
    assert set(unioned.columns) == {"doc_id", "text", "lang"}
    assert {r["doc_id"]: r["lang"] for r in unioned.collect()} == rows


def test_corrupt_parquet_file_tolerance(spark, tmp_path):
    """Operational resilience on directory scans: with
    spark.sql.files.ignoreCorruptFiles, a truncated/garbage parquet
    file in a 100k-file directory costs its own rows, not the job —
    the batch counterpart of the streaming quarantine (W7). Default
    behavior (fail loudly) is also asserted, because silent data loss
    must be an explicit opt-in."""
    import pytest

    path = tmp_path / "tbl"
    spark.range(0, 10).write.parquet(str(path))
    spark.range(10, 20).write.mode("append").parquet(str(path))
    # clobber one data file with garbage
    victim = next(p for p in path.iterdir() if p.name.endswith(".parquet"))
    victim.write_bytes(b"not a parquet file at all")

    with pytest.raises(Exception):
        spark.read.parquet(str(path)).count()  # loud by default

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        # explicit schema: inference reads ONE arbitrary footer and can
        # nondeterministically pick the clobbered file — the no-
        # inferSchema rule (sources/formats.py) applies to resilience
        # reads too
        got = sorted(
            r["id"]
            for r in spark.read.schema("id LONG").parquet(str(path)).collect()
        )
        assert 0 < len(got) < 20  # lost only the clobbered file's rows
        assert got == sorted(set(got))
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")


def test_variant_column_parquet_roundtrip(spark, tmp_path):
    """The K1 warehouse story with Spark 4's native VariantType: a
    parsed-once VARIANT column survives a parquet write/read and typed
    path extraction works on the read-back side — the Snowflake
    PARSE_JSON storage model, in-engine. Heterogeneous shapes per row
    (the point of VARIANT) included."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, '{"k": 7, "tags": ["a", "b"], "meta": {"x": 1.5}}'),
            (2, '{"k": "not-an-int", "extra": true}'),
            (3, '[1, 2, 3]'),
            (4, 'null'),
        ],
        "id LONG, raw STRING",
    )
    path = str(tmp_path / "variant_tbl")
    df.select("id", F.parse_json("raw").alias("v")).write.parquet(path)

    back = spark.read.parquet(path)
    assert back.schema["v"].dataType.typeName() == "variant"
    got = {
        r["id"]: (r["k"], r["x"], r["arr1"], r["as_text"])
        for r in back.select(
            "id",
            F.try_variant_get("v", "$.k", "long").alias("k"),
            F.try_variant_get("v", "$.meta.x", "double").alias("x"),
            F.try_variant_get("v", "$[1]", "long").alias("arr1"),
            F.to_json("v").alias("as_text"),
        ).collect()
    }
    assert got[1] == (7, 1.5, None, '{"k":7,"meta":{"x":1.5},"tags":["a","b"]}')
    assert got[2][0] is None  # typed get on a string value: NULL, never throw
    assert got[3][2] == 2     # top-level arrays are first-class
    assert got[4][3] == "null"
