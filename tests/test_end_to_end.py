"""The switch-from-the-reference capstone: the WHOLE reference DAG in
one test, engine API only — zip download → extract → directory scan →
core projection → warehouse append (flat parquet) + embed
→ vector table → retrieval (cosine top-k) → context assembly → LLM
answer (deterministic stub) → confidence verdict. Every stage is the
same operator the piecewise tests verify; this asserts they COMPOSE.
"""

from __future__ import annotations

import json
import zipfile

from pyspark.sql import functions as F


def _cve(i: int, title: str, desc: str) -> dict:
    return {
        "cveMetadata": {
            "cveId": f"CVE-2024-{1000 + i}",
            "datePublished": f"2024-0{1 + i % 3}-10T00:00:00",
            "dateUpdated": f"2024-0{1 + i % 3}-15T00:00:00",
        },
        "containers": {
            "cna": {
                "title": title,
                "descriptions": [{"value": desc}],
                "metrics": [
                    {"cvssV3_1": {"baseScore": 5.0 + i, "baseSeverity": "HIGH"}}
                ],
                "problemTypes": [
                    {"descriptions": [{"cweId": f"CWE-{79 + i}"}]}
                ],
            }
        },
    }


def test_reference_dag_end_to_end(spark, tmp_path):
    from ingestion_pipeline_spark.functions.embed import (
        embedding_udf,
        hashing_embedder,
        llm_udf,
    )
    from ingestion_pipeline_spark.functions.scoring import base_confidence
    from ingestion_pipeline_spark.operators.similarity import brute_force_topk
    from ingestion_pipeline_spark.sinks import append_parquet
    from ingestion_pipeline_spark.sources import files
    from ingestion_pipeline_spark.streaming.pipeline import (
        extract_embedding_rows,
        extract_warehouse_rows,
    )

    # --- S1/S2: the delta dump arrives as a zip -----------------------
    srcdir = tmp_path / "cves"
    srcdir.mkdir()
    docs = [
        _cve(0, "SQL injection in login", "improper neutralization of sql in the login form"),
        _cve(1, "Buffer overflow in parser", "stack buffer overflow when parsing long headers"),
        _cve(2, "XSS in search page", "reflected cross site scripting in the search box"),
    ]
    for i, d in enumerate(docs):
        (srcdir / f"c{i}.json").write_text(json.dumps(d))
    zpath = tmp_path / "delta.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for i in range(len(docs)):
            zf.write(srcdir / f"c{i}.json", f"deltaCves/c{i}.json")

    fetched = files.download_zip(f"file://{zpath}", str(tmp_path / "dl" / "delta.zip"))
    extracted = files.extract_zip(fetched, str(tmp_path / "x"))

    # --- S3/P1/P2: scan + never-throw core projection -----------------
    parsed = files.read_cve_json_dir(spark, extracted)
    assert parsed.count() == 3

    # --- K1: flat warehouse, the stream's append ----------------------
    wh = str(tmp_path / "warehouse")
    append_parquet(extract_warehouse_rows(parsed), wh)
    stored = spark.read.parquet(wh)
    assert stored.count() == 3

    # --- K2/V1: embed + vector table ----------------------------------
    embed = lambda df, c: df.withColumn(  # noqa: E731
        "embedding", embedding_udf(hashing_embedder(dim=32), dim=32)(F.col(c))
    )
    vectors = extract_embedding_rows(parsed, embed_fn=embed)
    vpath = str(tmp_path / "vectors")
    vectors.write.parquet(vpath)
    vt = spark.read.parquet(vpath)
    assert vt.count() == 3

    # --- V3/J1/P4: retrieve for a question ----------------------------
    question = "how does the sql injection in the login form work"
    qvec = [float(x) for x in hashing_embedder(dim=32)(
        __import__("pandas").Series([question])
    )[0]]
    hits = brute_force_topk(
        vt.withColumnRenamed("cve_id", "vec_id"), "embedding", qvec, k=2,
        id_col="vec_id",
    )
    top = hits.join(
        vt.select(F.col("cve_id").alias("vec_id"), "text", "severity", "score"),
        "vec_id",
    )
    rows = top.orderBy(F.col("sim").desc()).collect()
    assert rows[0]["vec_id"] == "CVE-2024-1000"  # the SQLi doc wins

    # --- V6/V10: answer + confidence ----------------------------------
    context = "\n".join(f"- {r['vec_id']} | {r['text'][:60]}" for r in rows)
    prompt_df = spark.createDataFrame(
        [(f"{context}\nQ: {question}", rows[0]["vec_id"])], "prompt STRING, cve_id STRING"
    )
    answered = prompt_df.select(
        "cve_id",
        llm_udf()(F.col("prompt")).alias("answer"),
        base_confidence(F.lit(True), F.lit(1.0)).alias("confidence"),
    ).first()
    assert answered["answer"].startswith("ANSWER[")
    assert answered["confidence"] == 1.0
