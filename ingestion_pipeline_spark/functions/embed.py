"""Pluggable embedding / LLM UDFs (SURVEY §2.10 V1/V2/V6).

The reference calls OpenAI ada-002 per record (``consumer/
consumer.py:117-120``) and MiniLM via HuggingFace (``chatbot_pg/
main.py:30``). Engine stance: the embedding model is a *pluggable
Arrow-batched pandas UDF*; the vector dimension is a property of the
data, not a constant. Tests and fixtures use the deterministic hashing
embedder (no model deps, stable across runs); production swaps in an
API/model-backed series function with the identical signature.

All UDFs here are Series→Series pandas UDFs: one Arrow batch per call,
never per-row Python.
"""

from __future__ import annotations

import hashlib
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType
from pyspark.sql.functions import pandas_udf


def hashing_embedder(dim: int = 64, normalize: bool = True) -> Callable[[pd.Series], pd.Series]:
    """Deterministic, dependency-free text embedder: token hashing into
    ``dim`` buckets with +/-1 signs (the classic hashing trick), then
    L2 normalization. Stable across runs/machines — the test stand-in
    for ada-002/MiniLM (V1/V2). ``normalize=False`` keeps the raw
    integer bucket counts (used by the oracle-verified gate query —
    integer space compares exactly across engines)."""

    def embed_series(texts: pd.Series) -> pd.Series:
        # Vectorized over the batch: md5 once per DISTINCT token, then
        # one weighted bincount over (row, bucket). Bucket sums are
        # integer-valued, so the norm and the division are exact and the
        # output equals the per-token loop bit for bit.
        rows = [str(t or "").lower().split() for t in texts]
        codes, uniq = pd.factorize(
            pd.Series([tok for toks in rows for tok in toks], dtype=object)
        )
        hashes = [
            int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")  # noqa: S324
            for tok in uniq
        ]
        bucket = np.array([h % dim for h in hashes], dtype=np.int64)
        sign = np.array([1.0 if (h >> 63) & 1 == 0 else -1.0 for h in hashes])
        row = np.repeat(
            np.arange(len(rows)), np.array([len(t) for t in rows], dtype=np.int64)
        )
        mat = (
            np.bincount(
                row * dim + bucket[codes],
                weights=sign[codes],
                minlength=len(rows) * dim,
            )
            .astype(np.float64)
            .reshape(len(rows), dim)
        )
        if normalize:
            norm = np.sqrt((mat * mat).sum(axis=1))
            nz = norm > 0
            mat[nz] /= norm[nz, None]
        return pd.Series(mat.tolist())

    return embed_series


def embedding_udf(series_fn: Callable[[pd.Series], pd.Series] | None = None, dim: int = 64):
    """Wrap a Series→Series embedding function as an Arrow-batched UDF
    returning array<float> (V1/V2)."""
    fn = series_fn or hashing_embedder(dim)
    return pandas_udf(fn, ArrayType(FloatType()))


def with_embedding(df: DataFrame, text_col: str = "text", series_fn=None, dim: int = 64) -> DataFrame:
    """The K2 embed step as a column add — batch or streaming alike."""
    return df.withColumn("embedding", embedding_udf(series_fn, dim)(F.col(text_col)))


def llm_udf(completion_fn: Callable[[pd.Series], pd.Series] | None = None):
    """V6 — LLM completion as a batched pandas UDF. The completion
    function is injectable (tests use a deterministic template; wiring a
    real chat API means swapping this one function). Default fake echoes
    a truncated prompt-derived answer — deterministic, offline."""

    def default_fn(prompts: pd.Series) -> pd.Series:
        return prompts.map(lambda p: f"ANSWER[{str(p)[:40]}]")

    return pandas_udf(completion_fn or default_fn, "string")
