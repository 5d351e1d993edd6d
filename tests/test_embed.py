"""The vectorized hashing embedder equals the per-token loop it replaced,
bit for bit in float32 (the width ``embedding_udf`` ships)."""

from __future__ import annotations

import hashlib
import math
import random

import numpy as np
import pandas as pd
import pytest

from ingestion_pipeline_spark.functions.embed import hashing_embedder


def _loop_embedder(dim, normalize):
    """The reference: one md5 per token occurrence, Python float sums."""

    def embed_series(texts):
        out = []
        for text in texts:
            vec = [0.0] * dim
            for tok in str(text or "").lower().split():
                h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")  # noqa: S324
                vec[h % dim] += 1.0 if (h >> 63) & 1 == 0 else -1.0
            if not normalize:
                out.append(vec)
                continue
            norm = math.sqrt(sum(v * v for v in vec))
            out.append([v / norm for v in vec] if norm > 0 else vec)
        return pd.Series(out)

    return embed_series


def _texts():
    rng = random.Random(11)
    words = ["CVE", "buffer", "overflow", "heap", "sql", "injection",
             "rce", "the", "a", "über", "naïve", "日本語", "x"]
    seeded = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 60)))
        for _ in range(300)
    ]
    # str.split() also splits on \x1c-\x1f, NBSP and the unicode spaces
    edge = [None, "", "   ", "\t\n", "a\x1cb c", "a\u00a0b", "a\u2003b",
            "ÉCLAIR éclair", "one"]
    return seeded + edge


@pytest.mark.parametrize("dim", [16, 64])
@pytest.mark.parametrize("normalize", [True, False])
@pytest.mark.parametrize("empty", [False, True], ids=["texts", "empty"])
def test_hashing_embedder_matches_loop(dim, normalize, empty):
    texts = pd.Series([] if empty else _texts(), dtype=object)
    got = hashing_embedder(dim, normalize)(texts)
    want = _loop_embedder(dim, normalize)(texts)
    assert isinstance(got, pd.Series)
    assert len(got) == len(want) == len(texts)
    for g, w in zip(got, want):
        assert len(g) == dim
        np.testing.assert_array_equal(
            np.asarray(g, dtype=np.float32), np.asarray(w, dtype=np.float32)
        )
