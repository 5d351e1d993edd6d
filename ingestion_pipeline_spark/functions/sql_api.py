"""SQL front-end function registry: expose the engine's column library
to ``spark.sql`` users.

Two registration classes, chosen per function by what it is:

- **SQL scalar UDFs** (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``,
  Spark 4): pure-expression functions (PII redaction, token counting,
  content hashing, fingerprinting) register as SQL text — they inline
  into the calling query's plan and stay inside whole-stage codegen,
  exactly like the Column originals. No Python boundary is introduced
  by going through SQL.
- **Python UDF registrations** (``spark.udf.register``): the genuinely
  Python-backed functions (unicode normalization, zlib ratio) register
  their Arrow-batched pandas UDFs under SQL names.

With ``register_views`` + ``register_all`` a SQL-only user has the
whole warehouse AND the function library: one optimizer, two complete
front ends (parity spot-checked in ``tests/test_sql_frontend.py``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .text import EMAIL_REGEX, PHONE_REGEX, WS, compression_ratio_udf, unicode_normalize_udf


def _sql_str(regex: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    return regex.replace("\\", "\\\\").replace("'", "''")


def register_all(spark: SparkSession) -> None:
    """Idempotent registration of the engine's SQL-callable functions."""
    # -- SQL scalar UDFs: inline expressions, zero Python ---------------
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION redact_pii(x STRING)
        RETURNS STRING RETURN
        regexp_replace(regexp_replace(x, '{_sql_str(EMAIL_REGEX)}', '<EMAIL>'),
                       '{_sql_str(PHONE_REGEX)}', '<PHONE>')"""
    )
    ws = _sql_str(WS)  # text.token_count, content_md5, fingerprint in SQL
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION token_count(x STRING)
        RETURNS INT RETURN
        size(array_remove(split(x, '{ws}'), ''))"""
    )
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION content_md5(x STRING)
        RETURNS STRING RETURN
        md5(regexp_replace(trim(lower(x)), '{ws}', ' '))"""
    )
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY FUNCTION fingerprint64(x STRING)
        RETURNS BIGINT RETURN
        xxhash64(regexp_replace(trim(lower(x)), '{ws}', ' '))"""
    )
    # -- Python-backed functions: Arrow-batched pandas UDFs -------------
    spark.udf.register("unicode_nfc", unicode_normalize_udf())
    spark.udf.register("zlib_ratio", compression_ratio_udf())
