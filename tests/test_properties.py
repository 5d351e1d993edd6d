"""Property-based spot checks (SURVEY §5 item 5): top-k invariants,
provenance symmetry, salted-join equivalence — hypothesis generates the
adversarial inputs, Spark evaluates on small in-memory frames."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    sims=st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False), min_size=1, max_size=30),
    k=st.integers(min_value=1, max_value=8),
    threshold=st.floats(min_value=-1, max_value=1, allow_nan=False),
)
@SLOW
def test_threshold_topk_invariants(spark, sims, k, threshold):
    """Every returned sim >= threshold and |result| <= k, for any data."""
    df = spark.createDataFrame([(i, s) for i, s in enumerate(sims)], "id long, sim double")
    out = (
        df.filter(F.col("sim") >= threshold)
        .orderBy(F.col("sim").desc(), F.col("id"))
        .limit(k)
        .collect()
    )
    assert len(out) <= k
    assert all(r["sim"] >= threshold for r in out)
    # result is the true top slice: nothing excluded is strictly better
    kept = {r["id"] for r in out}
    excluded_best = max(
        (s for i, s in enumerate(sims) if i not in kept and s >= threshold), default=None
    )
    if excluded_best is not None and len(out) < k:
        raise AssertionError("eligible row left out of an unfilled top-k")


def _phrases(text: str) -> set[str]:
    # eval.py:18-19 verbatim semantics: empties are set members
    return {p.strip() for p in text.lower().split(".")}


@given(
    resp=st.text(alphabet="abC .", max_size=30),
    ctx=st.text(alphabet="abC .", max_size=30),
)
@SLOW
def test_rag_verdict_provenance_cases(spark, resp, ctx):
    """E1 (llama-chatbot/eval.py:16-30): FP iff some response phrase is
    absent from the context phrase set; FN iff some context phrase is
    absent from the response; TP otherwise."""
    from ingestion_pipeline_spark.functions.scoring import rag_verdict

    df = spark.createDataFrame([(resp, ctx)], "resp string, ctx string")
    verdict = df.select(rag_verdict(F.col("resp"), F.col("ctx")).alias("v")).first()["v"]
    rp, cp = _phrases(resp), _phrases(ctx)
    expected = "FP" if rp - cp else ("FN" if cp - rp else "TP")
    assert verdict == expected


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=25
    )
)
@SLOW
def test_salted_join_row_multiplicity(spark, rows):
    """Salting never changes join cardinality, for any key distribution
    (including every-row-same-key, the skew case it exists for)."""
    from ingestion_pipeline_spark.operators.skew import salted_join

    left = spark.createDataFrame([(k, v) for k, v in rows], "k long, v long")
    right = spark.createDataFrame([(k, k * 10) for k in range(3)], "k long, r long")
    plain = left.join(right, "k").count()
    salted = salted_join(left, right, "k", salt_from=F.col("v"), n_salts=4).count()
    assert plain == salted


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_connected_components_matches_union_find(spark, edges):
    from ingestion_pipeline_spark.operators.graph import connected_components

    # reference: plain union-find with min-label canonicalization
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    expected = {}
    for node in parent:
        root = find(node)
        expected.setdefault(root, []).append(node)
    want = {
        n: min(members)
        for members in expected.values()
        for n in members
    }

    if not edges:
        return
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r["n"]: r["component"] for r in connected_components(df).collect()}
    assert got == want


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=5),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_fuzzy_join_matches_brute_force(spark, words):
    """Deletion-neighborhood candidates + levenshtein verify ≡ the
    quadratic definition, on arbitrary short strings over a tiny
    alphabet (maximizes adversarial collisions: dups, empties,
    one-char strings, transpositions)."""
    import itertools

    from ingestion_pipeline_spark.operators.fuzzy import fuzzy_self_join

    def lev(s, t):
        m, n = len(s), len(t)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (s[i - 1] != t[j - 1]))
                prev = cur
        return dp[n]

    rows = list(enumerate(words))
    want = {
        (a[0], b[0], lev(a[1], b[1]))
        for a, b in itertools.combinations(rows, 2)
        if lev(a[1], b[1]) <= 1
    }
    df = spark.createDataFrame(rows, "wid long, w string")
    got = {
        (r["a_key"], r["b_key"], r["dist"])
        for r in fuzzy_self_join(df, "wid", "w").collect()
    }
    assert got == want


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=700,
        ),
        min_size=1,
        max_size=6,
    )
)
@SLOW
def test_chunk_overlap_reconstructs_any_text(spark, texts):
    """For arbitrary unicode documents: stitched chunk prefixes
    reconstruct the text exactly and chunk geometry holds (the
    fixture-based test, generalized by hypothesis)."""
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in enumerate(texts)],
        "doc_id LONG, text STRING, n_chars LONG",
    ).filter(F.col("n_chars") > 0)
    offs = F.sequence(F.lit(0), F.col("n_chars") - 1, F.lit(150))
    chunks = docs.select(
        "doc_id", F.posexplode(offs).alias("idx", "off"), "text"
    ).select(
        "doc_id", "idx",
        F.substring(F.col("text"), F.col("off") + 1, F.lit(200)).alias("c"),
    ).collect()
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append((r["idx"], r["c"]))
    for i, t in enumerate(texts):
        if not t:
            assert i not in by_doc
            continue
        got = [c for _, c in sorted(by_doc[i])]
        assert "".join(c[:150] for c in got[:-1]) + got[-1] == t
        assert len(got) == (len(t) + 149) // 150


@given(
    words=st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(min_value=1, max_value=5),
)
@SLOW
def test_bpe_local_matches_reference_on_random_vocab(spark, words, n_merges):
    """The driver-local trainer equals the pure-Python reference for
    arbitrary word-frequency tables (adversarial overlaps like 'aaaa'
    included)."""
    from ingestion_pipeline_spark.operators.bpe import bpe_train_local
    from tests.test_bpe import _python_bpe

    wdf = spark.createDataFrame(list(words.items()), "word STRING, freq LONG")
    got = [tuple(r) for r in bpe_train_local(spark, wdf, n_merges).collect()]
    assert got == _python_bpe(words, n_merges)


@given(
    docs=st.lists(
        st.text(alphabet="ab cd", min_size=10, max_size=60),
        min_size=2,
        max_size=6,
    )
)
@SLOW
def test_containment_matches_bruteforce(spark, docs):
    """containment_pairs equals the brute-force shingle-set definition
    on arbitrary small corpora (including degenerate all-same-word
    texts), and never emits zero-overlap pairs."""
    from ingestion_pipeline_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(i, t, "b") for i, t in enumerate(docs)],
        "doc_id long, text string, block string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["containment"], r["contained_id"])
        for r in containment_pairs(df, "text", "doc_id", "block", threshold=0.3).collect()
    }

    def shingles(t):
        ws = [w for w in t.lower().split() if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sh = {i: shingles(t) for i, t in enumerate(docs)}
    expect = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            if not sh[a] or not sh[b]:
                continue
            inter = len(sh[a] & sh[b])
            if inter == 0:
                continue
            c = round(inter / min(len(sh[a]), len(sh[b])), 6)
            if c >= 0.3:
                expect[(a, b)] = (c, a if len(sh[a]) <= len(sh[b]) else b)
    assert got == expect


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),          # user
            st.integers(min_value=0, max_value=10**7),      # ts offset us
            st.decimals(min_value=0, max_value=99, places=2),  # value
        ),
        min_size=2,
        max_size=20,
        unique_by=lambda e: (e[0], e[1]),
    )
)
@SLOW
def test_time_weighted_avg_matches_reference(spark, events):
    """The LOCF interval-weighted mean equals an exact-Fraction Python
    reference on arbitrary irregular samples (per-user, ties excluded
    by unique timestamps)."""
    from datetime import datetime, timedelta
    from fractions import Fraction

    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(microseconds=us), u, "e", float(v), None)
        for i, (u, us, v) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.createOrReplaceTempView("_twa_events")

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = df.select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    got = {
        r["user_id"]: r["twa"]
        for r in s.groupBy("user_id")
        .agg((F.sum(F.col("v") * F.col("dt")).cast("double") / F.sum("dt")).alias("twa"))
        .collect()
    }

    per_user: dict = {}
    for u, us, v in sorted(events):
        per_user.setdefault(u, []).append((us, Fraction(v)))
    for u, seq in per_user.items():
        ivals = [
            (b_us - a_us, a_v)
            for (a_us, a_v), (b_us, _) in zip(seq, seq[1:])
            if b_us > a_us
        ]
        if not ivals:
            assert u not in got
            continue
        expect = sum(Fraction(dt) * v for dt, v in ivals) / sum(dt for dt, _ in ivals)
        assert abs(got[u] - float(expect)) < 1e-9


@given(
    words=st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=4),
        min_size=1,
        max_size=60,
    ),
)
@SLOW
def test_countmin_overestimate_invariant(spark, words):
    """CMS estimates dominate exact counts for ANY word multiset, and
    merging two half-corpus sketches equals the whole-corpus sketch
    (mergeable-state contract), with a tiny w to force collisions."""
    from collections import Counter

    from ingestion_pipeline_spark.operators.sketch import cms_estimates, cms_sketch

    counts = Counter(words)
    wc = spark.createDataFrame(list(counts.items()), "word string, cnt long")
    got = {r["word"]: (r["cnt"], r["cms_estimate"])
           for r in cms_estimates(wc, d=2, w=4).collect()}
    assert set(got) == set(counts)
    for w_, (cnt, est) in got.items():
        assert cnt == counts[w_]
        assert est >= cnt  # the CMS guarantee, forced collisions included

    # mergeability: sketch(half1) + sketch(half2) == sketch(all)
    items = sorted(counts.items())
    h1 = spark.createDataFrame(items[::2], "word string, cnt long") if items[::2] else None
    h2 = spark.createDataFrame(items[1::2], "word string, cnt long") if items[1::2] else None
    parts = [p for p in (h1, h2) if p is not None]
    merged = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    merged_sketch = {
        (r["r"], r["bucket"]): r["counter"]
        for r in cms_sketch(merged, d=2, w=4).collect()
    }
    whole_sketch = {
        (r["r"], r["bucket"]): r["counter"]
        for r in cms_sketch(wc, d=2, w=4).collect()
    }
    assert merged_sketch == whole_sketch


@given(
    docs=st.lists(
        st.lists(st.text(alphabet="ab", min_size=1, max_size=3), min_size=0, max_size=8)
        .map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=6,
    ),
)
@SLOW
def test_bpe_arrow_apply_matches_python(spark, docs):
    """Arrow BPE apply == pure-Python greedy apply on arbitrary corpora
    and an arbitrary (here: trained-on-the-same-corpus) merge list."""
    import re

    from ingestion_pipeline_spark.operators.bpe import (
        bpe_tokenize_counts_arrow,
        bpe_train_local,
        word_frequencies,
    )

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    learned = bpe_train_local(spark, word_frequencies(df, top_n=20), n_merges=4).collect()
    merges = [(r["pair_a"], r["pair_b"]) for r in learned]

    def apply_word(w):
        sym = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            sym = out
        return sym

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_tokenize_counts_arrow(df, merges).collect()
    }
    for i, text in enumerate(docs):
        ws = [w for w in re.split(r"[^a-z]+", text.lower()) if w]
        assert got[i] == (len(ws), sum(len(apply_word(w)) for w in ws))


def _py_hash_vec(sent: str, dim: int = 16) -> list[int]:
    import hashlib

    vec = [0] * dim
    for tok in sent.lower().split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")  # noqa: S324
        vec[h % dim] += 1 if (h >> 63) & 1 == 0 else -1
    return vec


def _py_maxsim(doc_text: str, query_text: str, max_d=8, max_q=4) -> int | None:
    """Independent plain-Python MaxSim evaluator (no Spark, no pandas)."""
    def sents(t, n):
        ss = [s.strip() for s in t.split(".") if s.strip()]
        return ss[:n]

    dv = [_py_hash_vec(s) for s in sents(doc_text, max_d)]
    qv = [_py_hash_vec(s) for s in sents(query_text, max_q)]
    if not dv or not qv:
        return None
    return sum(max(sum(a * b for a, b in zip(q, d)) for d in dv) for q in qv)


@given(
    texts=st.lists(
        st.text(alphabet="ab c.X", min_size=0, max_size=40), min_size=2, max_size=6
    )
)
@SLOW
def test_maxsim_matches_python_reference(spark, texts):
    """The whole distributed MaxSim pipeline (sentence explode → Arrow
    embed → broadcast interaction → max/sum aggs → top-k) equals the
    sequential definition on arbitrary inputs."""
    from ingestion_pipeline_spark.operators.similarity import maxsim_topk

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = maxsim_topk(
        docs.filter(F.col("doc_id") != 0),
        docs.filter(F.col("doc_id") == 0),
        k=100,
    ).collect()
    got = {r["doc_id"]: r["maxsim"] for r in out}
    want = {
        i: _py_maxsim(t, texts[0])
        for i, t in rows
        if i != 0 and _py_maxsim(t, texts[0]) is not None
    }
    assert got == want
