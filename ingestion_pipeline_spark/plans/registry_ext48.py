"""Forty-eighth registry tranche: value-gated MinHash-LSH banding.

``d_minhash_lsh_md5_pairs`` — the COMPLETE LSH candidate pipeline
(shingle → minhash signature → band → bucket equi-join → distinct
pairs) under a full DuckDB value hash, using the portable md5 hash
family that ``d_minhash_md5_signatures`` already gates. The production
path (``d_minhash_lsh_candidates``) runs the same algebra on xxhash64
(cheaper, engine-native, no DuckDB equivalent), at 16 bands × 2 rows;
``plans/bounds.py`` checks it exactly against a pure-Python XXH64
recompute. This query proves the banding/bucketing machinery
value-exact under DuckDB itself.

Reference provenance: near-dup candidate generation is beyond-reference
surface (the reference dedups by primary key only,
processor.py:55-59); the MinHash/LSH scheme is Broder 1997 /
Leskovec-Rajaraman-Ullman ch.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.relational import spread
from ..sources.parquet_tables import table
from .registry import _mh_sql, register

_N_HASHES = 8
_N_BANDS = 4  # 4 bands x 2 rows

_BANDS_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, mh_{2 * b} || mh_{2 * b + 1} AS bucket "
    "FROM sig WHERE mh_0 IS NOT NULL"
    for b in range(_N_BANDS)
)


@register(
    "d_minhash_lsh_md5_pairs",
    f"""
    WITH sig AS (
        SELECT doc_id, {', '.join(_mh_sql(i) for i in range(_N_HASHES))}
        FROM documents
    ),
    bands AS ({_BANDS_UNION})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
    "MinHash+LSH candidate pairs with the portable md5 hash family, "
    "end-to-end under the value hash: 8 min-hashes over 3-gram "
    "shingles, 4 bands x 2 rows concatenated into bucket keys, "
    "band+bucket self-equi-join, distinct (id_a < id_b) pairs. "
    "Shingle-less docs (< 3 tokens) produce NULL signatures and are "
    "excluded on both sides. No cross product anywhere: the join key "
    "is a hash bucket, so the shuffle is uniform at any corpus size — "
    "the same plan shape as the xxhash64 production variant "
    "(d_minhash_lsh_candidates), whose hash DuckDB cannot replay.",
)
def d_minhash_lsh_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import banded_self_join_pairs, md5_band_rows, md5_signatures

    docs = spread(table(spark, sf_dir, "documents"), min_partitions=8)

    # ONE Arrow kernel pass per batch computes all 8 slots straight
    # from text (value-equal to the interpreted-HOF md5 form the
    # oracle replays — VERDICT r7 #3 killed the
    # 8-interpreted-md5-per-shingle tax).
    sig = (
        md5_signatures(docs, _N_HASHES)
        # both sides of the banded self-join consume sig; without
        # materialization the compiled plan ran the md5-minhash Arrow
        # kernel per side (8 ArrowEvalPython nodes, 4 scans — r12 scan
        # census). ONE kernel pass over the corpus, checkpointed skinny
        # (doc_id + 8 hex slots); released by per-query hygiene.
        .localCheckpoint(eager=False)
    )
    # shared banded self-join; join_hint=None keeps this variant's
    # unhinted plan.
    return banded_self_join_pairs(
        md5_band_rows(sig, _N_BANDS), id_col="doc_id", join_hint=None
    )
