"""Similarity search operators (SURVEY §2.10 V3-V5, §2.7 T1-T3).

The reference's vector search is an external service call (Pinecone
``similarity_search_with_score`` with metadata filter + threshold + k —
``chatbot/main.py:111-117``). Here it is a query plan:

    scan embeddings → [metadata filter] → cosine column → [threshold]
    → top-k (global or per-query)

Strategy selection for scale (SURVEY §4 item 1):
- ``brute_force_topk``: exact. O(N) scan per probe but no shuffle — a
  projection + TakeOrdered. Right answer for one-off probes even at
  100 TB (it reads the corpus once, embarrassingly parallel).
- ``topk_join``: exact, many probes at once. Broadcast the probe set
  (queries are small), compute sims fact-side, per-probe window top-k.
- ``lsh_topk_join``: approximate. Random-hyperplane signatures bucket
  the corpus; candidates only within matching bands → turns the cross
  product into an equi-join. Use when |probes|·|corpus| is too big.
"""

from __future__ import annotations

import sys

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .relational import spread, topk, topk_per_group

# The Arrow cosine kernels call ``_null_masked``: ship this module's
# functions to Python workers by value (as functions/text.py does).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# banded sign-LSH: LSH_PLANES hyperplanes from the LCG stream seeded with
# LSH_SEED, in LSH_BANDS bands of LSH_PLANES // LSH_BANDS signs each; the
# v_lsh_knn_join oracle (plans/registry.py) derives its planes and band
# slices from the same three
LSH_PLANES, LSH_BANDS, LSH_SEED = 16, 4, 42
# assign_nearest_quantized's coordinate quantization: floor(x * _QSCALE)
_QSCALE = 100000.0
# mmr_rerank's relevance weight
_MMR_LAMBDA = 0.7
# maxsim_topk: hashing-embedder width and the sentence-token caps
_MAXSIM_DIM, _MAX_DOC_TOKENS, _MAX_QUERY_TOKENS = 16, 8, 4
# the IVF seed centroids are the vectors with vec_id < _IVF_SEEDS
_IVF_SEEDS = 16
# rows per matmul in cosine_blocks
_SWEEP_BLOCK = 512


def _null_masked(valid, n: int, sims) -> pd.Series:
    """The NULL path shared by the Arrow cosine kernels (ADVICE r12): a
    row with a NULL vector gets a NULL sim (the SQL null propagation of
    the old HOF cosine) instead of crashing ``np.stack``. ``valid`` is
    the batch's non-NULL row mask; ``sims(rows)`` is the kernel's own
    float64 arithmetic over the rows that ``rows`` selects. With no
    NULLs it runs once over the whole batch — the r12 fast path,
    bitwise-identical output."""
    import numpy as np

    if n == 0:
        return pd.Series([], dtype="float64")
    if valid.all():
        return pd.Series(sims(slice(None)))
    res = np.zeros(n, dtype=np.float64)
    if valid.any():
        res[valid] = sims(valid)
    out = pd.Series(res, dtype="Float64")
    out[~valid] = pd.NA
    return out


def probe_cosine_np(probe: list[float]):
    """Arrow-vectorized cosine against ONE fixed probe vector — the
    brute-force scan's hot path (guide §4.2). The pre-r12 HOF form
    compiled to ~7 interpreted 64-element folds PER ROW (the compiled
    plan showed the probe's own norm — a fold over 64 literals — and
    the corpus self-dot each evaluated twice inside the CASE), plus a
    multi-KB expression tree that bloated every consumer's plan. One
    einsum per Arrow batch replaces all of it; float64 math and the
    0.0-on-zero-norm semantics match ``functions.vector.cosine``, and
    the 6-dp HALF_UP rounding stays in the JVM (same `F.round` as
    before), so consumers' oracle values are unchanged (same
    einsum-vs-fold precedent as ``cosine_pairs_np``, value-verified at
    all three fixture SFs). Marked non-deterministic so a threshold
    filter on the output column is never pushed below the projection
    into a SECOND Arrow pass (guide §4.4)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    pv = np.asarray(probe, dtype=np.float64)
    pn = float(np.sqrt(np.einsum("i,i->", pv, pv)))

    @pandas_udf(DoubleType())
    def cos(vecs: pd.Series) -> pd.Series:
        def sims(rows):
            mat = np.stack(vecs.to_numpy()[rows]).astype(np.float64)
            num = mat @ pv
            den = np.sqrt(np.einsum("ij,ij->i", mat, mat)) * pn
            return np.where(den > 0, num / np.where(den == 0, 1.0, den), 0.0)

        return _null_masked(vecs.notna().to_numpy(), len(vecs), sims)

    return cos.asNondeterministic()


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    probe: list[float],
    k: int,
    threshold: float | None = None,
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k against one probe vector (V3/V4 with T1-T3 k and
    V5 threshold semantics). Sim rounded to 6dp for cross-engine
    determinism; ties broken by ``vec_id``."""
    # id exclusion BEFORE the sim column: the Arrow kernel is marked
    # non-deterministic (see probe_cosine_np), which blocks filter
    # pushdown THROUGH it — filtering first keeps the predicate at the
    # parquet scan (PushedFilters) where it belongs.
    if exclude_id is not None:
        df = df.filter(F.col("vec_id") != exclude_id)
    out = df.withColumn("sim", F.round(probe_cosine_np(probe)(F.col(vec_col)), 6))
    if threshold is not None:
        out = out.filter(F.col("sim") >= threshold)   # F3 — chatbot/main.py:69
    return topk(out, [F.col("sim").desc(), F.col("vec_id").asc()], k)


def topk_join(corpus: DataFrame, probes: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k per probe: broadcast-cross-join the (small) probe set
    ``(probe_id, embedding)`` against the corpus ``(vec_id, embedding)``,
    window top-k per probe. The corpus never shuffles; the only shuffle
    is the per-probe window, keyed by probe_id (cardinality = |probes|,
    so salting is unnecessary)."""
    p = probes.select(
        F.col("probe_id"), F.col("embedding").alias("__probe_vec")
    )
    # r12 (guide §4.2): Arrow einsum kernel instead of the interpreted
    # zip_with/aggregate folds — per pair the HOF form evaluated ~5
    # 64-element interpreted folds; same float64 math + JVM rounding.
    joined = corpus.crossJoin(F.broadcast(p)).withColumn(
        "sim",
        F.round(cosine_pairs_np()(F.col("embedding"), F.col("__probe_vec")), 6),
    )
    return topk_per_group(
        joined.drop("__probe_vec"), ["probe_id"], [F.col("sim").desc(), F.col("vec_id").asc()], k
    ).drop("rank")


def random_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH (driver-side,
    tiny). Uses a simple LCG seeded with ``LSH_SEED`` so no numpy/random
    state is involved."""
    state = LSH_SEED & 0x7FFFFFFF
    planes: list[list[float]] = []
    for _ in range(n_planes):
        plane = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            plane.append((state / 0x7FFFFFFF) * 2.0 - 1.0)
        planes.append(plane)
    return planes


def signature_bits_np(planes: list[list[float]]):
    """Arrow-vectorized sign-LSH signature: one BLAS matmul per batch
    (rows × dim @ dim × planes) instead of n_planes interpreted
    higher-order-function folds per row. At 100 TB this is the hot path
    — dense float math belongs in numpy, not per-element Catalyst
    lambdas (HOFs are CodegenFallback: interpreted per element)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    plane_mat = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)

    @pandas_udf(ArrayType(IntegerType()))
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        bits = (mat @ plane_mat >= 0).astype(np.int32)
        return pd.Series(list(bits))

    return sig


def cosine_pairs_np():
    """Arrow-vectorized cosine over two array columns — one batched
    einsum instead of a per-row zip_with/aggregate HOF chain (HOFs are
    CodegenFallback: interpreted per element, ~100× slower on the
    coarse-scoring hot path where every corpus×probe pair is scored).
    float64 math, same 0.0-on-zero-norm semantics as
    ``functions.vector.cosine``."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        def sims(rows):
            A = np.stack(a.to_numpy()[rows]).astype(np.float64)
            B = np.stack(b.to_numpy()[rows]).astype(np.float64)
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                np.einsum("ij,ij->i", B, B)
            )
            return np.where(den > 0, num / np.where(den == 0, 1.0, den), 0.0)

        # NULL on either side yields a NULL sim
        return _null_masked((a.notna() & b.notna()).to_numpy(), len(a), sims)

    return cos


def assign_nearest_np(centroids: list[list[float]]):
    """Arrow-vectorized IVF cluster assignment: argmax of (rows × dim @
    dim × n_centroids) per batch. Centroids should be pre-normalized so
    dot ≡ cosine up to positive scale. Same rationale as
    ``signature_bits_np``: one BLAS call replaces n_centroids
    interpreted fold expressions per row. Non-deterministic to the
    optimizer, like ``probe_cosine_np``: a filter on the cluster column
    is never pushed below the projection into a second Arrow pass."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    cent_mat = np.asarray(centroids, dtype=np.float64).T  # (dim, n)

    @pandas_udf(IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        return pd.Series(np.argmax(mat @ cent_mat, axis=1).astype("int32"))

    return nearest.asNondeterministic()


def l2norm(v: list[float]) -> list[float]:
    """``v`` scaled to unit length; a zero vector is returned as is."""
    import math

    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v] if n > 0 else v


def seed_centroids(emb: DataFrame) -> tuple[list[float], list[list[float]]]:
    """``(probe, centroids)`` for the IVF queries: the embeddings of
    ``vec_id < _IVF_SEEDS`` in id order, fetched by ONE bounded collect
    and L2-normalized driver-side, so an argmax over plain dot products
    (``assign_nearest_np``) is an argmax over cosine. ``probe`` is the
    raw vector of vec_id 0, a member of the seed set, so it needs no
    job of its own."""
    rows = (
        emb.filter(F.col("vec_id") < _IVF_SEEDS)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    if not rows or rows[0]["vec_id"] != 0:
        raise ValueError("seed_centroids: no vector with vec_id 0")
    vecs = [[float(x) for x in r["embedding"]] for r in rows]
    return vecs[0], [l2norm(v) for v in vecs]


def cosine_blocks(X):
    """The blocked cosine sweep of a vector group sorted by id: yields
    ``(a0, S)`` for consecutive row blocks starting at row 1, ``S``
    being the cosines of rows ``a0 .. a0 + len(S)`` against every row,
    rounded HALF_UP to 6 dp. Row 0 has no lower-id neighbour, so no
    block starts there. The num/den form and the rounding are those of
    ``cosine_pairs_np`` and the SQL ``ROUND(list_cosine_similarity)``,
    so a threshold on ``S`` picks the oracle's pairs; the |group|²
    cosines stay inside one BLAS matmul per block."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n = len(X)
    norms = np.sqrt(np.einsum("ij,ij->i", X, X))
    for a0 in range(1, n, _SWEEP_BLOCK):
        b0 = min(a0 + _SWEEP_BLOCK, n)
        D = X[a0:b0] @ X.T  # (b0-a0, n) raw dots
        den = np.outer(norms[a0:b0], norms)
        S = np.where(den > 0, D / np.where(den == 0, 1.0, den), 0.0)
        yield a0, np.floor(np.abs(S) * 1e6 + 0.5) / 1e6 * np.sign(S)  # HALF_UP 6dp


def assign_nearest_quantized(centroids_q, pre_quantized: bool = False):
    """Exact-integer IVF cluster assignment (the ``dq_label_outliers``
    quantization discipline applied to argmax-dot).

    ``centroids_q`` is an (n_centroids × dim) integer-valued matrix —
    each component already ``floor(x * _QSCALE)``.  Incoming vectors are
    quantized the same way per batch, so every dot product is a sum of
    integer products; with |q| ≤ _QSCALE and dim ≤ 64 every partial sum
    stays far below 2^53, making the float64 matmul EXACT regardless of
    BLAS accumulation order / FMA.  The score ``dot / sqrt(Σc²)``
    (cosine up to the constant vector-norm factor) is then one IEEE
    division by one correctly-rounded sqrt of an exact integer —
    bit-identical on any engine that derives the same integers, so a
    DuckDB ``ORDER BY dot/sqrt(s) DESC, cid`` fold reproduces the argmax
    deterministically.  Ties → lowest centroid id (np.argmax first-max
    == ``ORDER BY score DESC, cid``).

    ``pre_quantized=True``: the incoming column already holds integer
    arrays (e.g. ``kmeans.quantized``'s ``v``) — skip the
    floor-quantization step."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    cent = np.asarray(centroids_q, dtype=np.float64)  # (n, dim), int-valued
    # exactness preconditions (advice r6): an all-zero centroid would
    # make dot/norm NaN (ill-defined argmax), and |c| > _QSCALE breaks the
    # "every partial sum ≪ 2^53" argument the bit-parity claim rests on
    if np.abs(cent).max(initial=0.0) > _QSCALE:
        raise ValueError("assign_nearest_quantized: |centroid| > scale")
    inv_norm_scores = np.sqrt((cent * cent).sum(axis=1))  # exact ints → sqrt
    if (inv_norm_scores == 0).any():
        raise ValueError("assign_nearest_quantized: all-zero centroid")

    @pandas_udf(IntegerType())
    def nearest(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        if not pre_quantized:
            mat = np.floor(mat * _QSCALE)
        if mat.size and np.abs(mat).max() > _QSCALE:
            raise ValueError("assign_nearest_quantized: |x_q| > scale")
        dots = mat @ cent.T  # exact integer values in float64
        scores = dots / inv_norm_scores[None, :]  # single IEEE div each
        return pd.Series(np.argmax(scores, axis=1).astype("int32"))

    return nearest


def lsh_topk_join(
    corpus: DataFrame,
    probes: DataFrame,
    dim: int,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k per probe via banded sign-LSH: corpus
    ``(vec_id, embedding)`` and probes ``(probe_id, embedding)`` get
    ``LSH_BANDS`` band-keys (each hashing ``LSH_PLANES // LSH_BANDS``
    signs); candidate pairs share at least one band-key; exact cosine
    re-ranks candidates. The cross product becomes an equi-join on
    (band, key) — shuffle-partitioned, scalable to arbitrary corpus
    size."""
    planes = random_hyperplanes(dim, LSH_PLANES)
    per_band = LSH_PLANES // LSH_BANDS

    sig_udf = signature_bits_np(planes)

    def with_bands(df: DataFrame, vec: str, id_alias: str, vec_alias: str) -> DataFrame:
        out = df.withColumn("__sig", sig_udf(F.col(vec)))
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws("", F.slice(F.col("__sig"), b * per_band + 1, per_band)).alias("key"),
                )
                for b in range(LSH_BANDS)
            ]
        )
        return out.withColumn("__band", F.explode(bands)).select(
            F.col(id_alias),
            F.col(vec).alias(vec_alias),
            F.col("__band.band").alias("band"),
            F.col("__band.key").alias("bkey"),
        )

    # min_partitions=8 (not full parallelism): the signature stage is a
    # pandas UDF, and each partition spins up / pins a Python worker —
    # 32 workers for a few hundred rows is pure startup overhead. On a
    # real corpus the input already has >8 partitions and spread() is a
    # no-op, so this caps nothing at scale.
    c = with_bands(spread(corpus, min_partitions=8), "embedding", "vec_id", "__corpus_vec")
    p = with_bands(probes, "embedding", "probe_id", "__probe_vec")
    # r12 (guide §2.3/§2.4/§3.1): the probe band table is tiny by
    # construction (queries are small — the module contract), so
    # BROADCAST it: the corpus bands are never shuffled by (band, bkey)
    # at all. Score the candidates map-side and THEN dedupe multi-band
    # collisions on the skinny (vec_id, probe_id, sim) triple — the old
    # shape shuffled BOTH 64-float vectors per candidate through the
    # dropDuplicates exchange (the §8 anti-pattern: heavy payload
    # moving to make a skinny decision). sim is a pure function of the
    # pair, so every duplicate row carries the identical value and
    # dedup-after-scoring selects the same rows; the ≤n_bands repeated
    # cosines are map-side arithmetic, cheaper than an exchange of the
    # vectors at any scale.
    cand = (
        c.join(F.broadcast(p), ["band", "bkey"])
        .withColumn(
            "sim",
            F.round(
                cosine_pairs_np()(F.col("__corpus_vec"), F.col("__probe_vec")), 6
            ),
        )
        .select("vec_id", "probe_id", "sim")
        .dropDuplicates(["vec_id", "probe_id"])
    )
    return topk_per_group(
        cand, ["probe_id"], [F.col("sim").desc(), F.col("vec_id").asc()], k
    ).drop("rank")


def mmr_rerank(candidates: DataFrame, k: int = 5) -> list[tuple[int, float, float]]:
    """Maximal-marginal-relevance diversification (Carbonell & Goldstein
    1998) over a RETRIEVED ``(vec_id, sim, embedding)`` candidate set:
    greedily pick the item maximizing
    ``lam*relevance - (1-lam)*max_sim_to_already_selected``, lam =
    ``_MMR_LAMBDA``.

    The selection is inherently serial over a candidate set that is
    top-N-bounded by construction (the preceding retrieval stage), so
    this runs driver-side on the collected candidates — the same
    bounded-collect class as the IVF centroids and the BPE vocab table;
    the distributed work is the retrieval that produced the candidates.
    Deterministic AND oracle-replicable: pair cosines in num/den form
    (dot then divide — the float-op order DuckDB's
    list_cosine_similarity uses) with HALF-AWAY-FROM-ZERO 6dp rounding
    (SQL ROUND semantics; numpy's np.round is half-even and CAN differ
    on boundary values), scores half-away 9dp, ties by id — so the
    fixed k selection rounds unroll into oracle CTEs and the registry
    entry carries a full value hash. Returns
    ``[(id, relevance, mmr_score), ...]`` in selection order."""
    import numpy as np

    lam = _MMR_LAMBDA
    rows = candidates.select("vec_id", "sim", "embedding").collect()
    if not rows:
        return []
    ids = [r["vec_id"] for r in rows]
    rel = [float(r["sim"]) for r in rows]
    X = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    norms = np.sqrt(np.einsum("ij,ij->i", X, X))
    den = np.outer(norms, norms)
    S = np.where(den > 0, (X @ X.T) / np.where(den == 0, 1.0, den), 0.0)
    pair = np.floor(np.abs(S) * 1e6 + 0.5) / 1e6 * np.sign(S)  # HALF_AWAY 6dp

    def r9(x: float) -> float:
        import math

        return math.floor(abs(x) * 1e9 + 0.5) / 1e9 * (1 if x >= 0 else -1)

    selected: list[int] = []
    out: list[tuple[int, float, float]] = []
    remaining = list(range(len(ids)))
    while remaining and len(out) < k:
        best = None
        for i in remaining:
            penalty = max((pair[i, j] for j in selected), default=0.0)
            score = r9(lam * rel[i] - (1 - lam) * penalty)
            cand = (-score, ids[i], i)
            if best is None or cand < best:
                best = cand
        _, _, i = best
        selected.append(i)
        remaining.remove(i)
        penalty = max((pair[i, j] for j in selected[:-1]), default=0.0)
        out.append((ids[i], rel[i], r9(lam * rel[i] - (1 - lam) * penalty)))
    return out


def maxsim_topk(docs: DataFrame, query_doc: DataFrame, k: int = 10) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020)
    over ``(doc_id, text)`` frames, integer-exact: score(doc) = sum over
    query token-vectors q of max over doc token-vectors t of <q, t>.

    "Tokens" here are SENTENCES ('.'-split, first ``_MAX_DOC_TOKENS``),
    each embedded by the un-normalized hashing embedder — all bucket
    counts are integers, so every dot product, max and sum is exact
    BIGINT arithmetic and the whole operator is value-hash verifiable.

    Scale shape: sentence explode is linear in corpus bytes; the query
    side is a <= ``_MAX_QUERY_TOKENS``-row broadcast; the interaction is
    a broadcast nested-loop against that tiny frame followed by two
    doc-keyed aggregations (max per (doc, q), sum per doc) and a
    TakeOrdered top-k — no all-pairs, no corpus-sized shuffle wider
    than (doc, sid) integer vectors. Swapping the hashing embedder for
    a real late-interaction model changes one UDF, not the plan.
    """
    from ..functions.embed import embedding_udf, hashing_embedder

    id_col, dim = "doc_id", _MAXSIM_DIM
    udf = embedding_udf(hashing_embedder(dim=dim, normalize=False), dim=dim)

    def sentences(col: Column) -> Column:
        sents = F.filter(
            F.transform(F.split(col, r"\."), lambda s: F.trim(s)),
            lambda s: s != F.lit(""),
        )
        return F.slice(sents, 1, _MAX_DOC_TOKENS)

    def token_vecs(frame: DataFrame, n: int, out_id: str) -> DataFrame:
        exploded = frame.select(
            F.col(id_col),
            F.posexplode(F.slice(sentences(F.col("text")), 1, n)).alias(
                "sid", "__sent"
            ),
        )
        vec_int = F.transform(udf(F.col("__sent")), lambda v: v.cast("long"))
        return exploded.select(
            F.col(id_col).alias(out_id), "sid", vec_int.alias("__vec")
        )

    doc_toks = token_vecs(spread(docs, min_partitions=8), _MAX_DOC_TOKENS, id_col)
    q_toks = token_vecs(query_doc, _MAX_QUERY_TOKENS, "__qdoc").select(
        F.col("sid").alias("qid"), F.col("__vec").alias("__qvec")
    )

    dot = F.aggregate(
        F.zip_with(F.col("__vec"), F.col("__qvec"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    interactions = doc_toks.crossJoin(F.broadcast(q_toks)).select(
        id_col, "sid", "qid", dot.alias("__dot")
    )
    per_q = interactions.groupBy(id_col, "qid").agg(F.max("__dot").alias("__best"))
    scored = per_q.groupBy(id_col).agg(F.sum("__best").alias("maxsim"))
    return topk(
        scored, [F.col("maxsim").desc(), F.col(id_col).asc()], k
    )
