"""Unrolled BPE training + application as ANSI SQL — DuckDB oracles for
``operators/bpe.py`` (turns the three BPE registry entries from
rows-only gates into full value-hash gates).

The key identity: greedy left-to-right merge of adjacent pair (a, b)
inside a symbol sequence == non-overlapping string REPLACE of
``|a||b|`` with ``|ab|`` over the sequence rendered as individually
wrapped symbols (``|s1||s2||...|``). REPLACE scans left to right and
resumes AFTER each replacement, which is exactly the greedy-apply rule
(verified: ``|a||a||a|`` -> ``|aa||a|``, never ``|a||aa|``), and since
every symbol carries its OWN delimiters, consuming one pair never eats
a neighbour's separator (``|x||a||b||a||b|`` -> ``|x||ab||ab|``).
Symbols are lowercase alpha, so ``|`` can't occur in content.

Each training round is then: split the wrapped strings back to symbol
lists, explode adjacent pairs, argmax by (count DESC, pair ASC) —
identical tie-break to ``bpe_train_local`` — and apply one REPLACE.
Fixed merge count -> fixed CTE unroll, the same discipline as
``pagerank_sql.py``. Rounds whose best pair count is < 2 contribute no
merge and apply a no-op REPLACE (chr(1) sentinel pattern).
"""

from __future__ import annotations

from ..functions.text import NON_ALPHA, alpha_words_sql, word_tokens_sql
from ..operators.bpe import BPE_MERGES, BPE_TOP_N

_SYMS = "string_split(trim(s, '|'), '||')"


def _pair_cte(k: int) -> str:
    """p{k}: this round's best pair over state s{k-1}, empty if best
    count < 2."""
    return f"""p{k} AS MATERIALIZED (
        SELECT a, b, n FROM (
            SELECT z.p[1] AS a, z.p[2] AS b, CAST(SUM(freq) AS BIGINT) AS n
            FROM (SELECT freq, {_SYMS} AS sym FROM s{k - 1}) t,
                 UNNEST(list_zip(sym, sym[2:])) AS z(p)
            WHERE z.p[2] IS NOT NULL
            GROUP BY z.p[1], z.p[2]
        ) WHERE n >= 2
        ORDER BY n DESC, a, b LIMIT 1
    )"""


def _pat(k: int) -> str:
    return (
        f"COALESCE((SELECT '|' || a || '||' || b || '|' FROM p{k}), chr(1))"
    )


def _rep(k: int) -> str:
    return f"COALESCE((SELECT '|' || a || b || '|' FROM p{k}), chr(1))"


def bpe_train_ctes() -> str:
    """CTE chain learning ``BPE_MERGES`` BPE merges from the top-``BPE_TOP_N``
    word-frequency table of ``documents``. Exposes ``p1..p{n}`` (one
    row each: a, b, n — or empty) and ``s0..s{n}`` (word states)."""
    parts = [
        f"""wf AS MATERIALIZED (
        SELECT word, freq FROM (
            SELECT t.word AS word, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT {word_tokens_sql("lower(text)")} AS w FROM documents) d,
                 UNNEST(w) AS t(word)
            WHERE NOT regexp_matches(t.word, '{NON_ALPHA}')
            GROUP BY t.word
        ) ORDER BY freq DESC, word LIMIT {BPE_TOP_N}
    )""",
        "s0 AS MATERIALIZED (SELECT word, freq, '|' || array_to_string("
        "string_split(word, ''), '||') || '|' AS s FROM wf)",
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(_pair_cte(k))
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT word, freq, "
            f"replace(s, {_pat(k)}, {_rep(k)}) AS s FROM s{k - 1})"
        )
    return ",\n    ".join(parts)


def bpe_merges_sql() -> str:
    """Full oracle for ``tx_bpe_merges``: the learned merge table."""
    rows = " UNION ALL ".join(
        f"SELECT CAST({k - 1} AS INTEGER) AS merge_rank, a AS pair_a, "
        f"b AS pair_b, a || b AS merged, n AS pair_count FROM p{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return f"""
    WITH {bpe_train_ctes()}
    SELECT merge_rank, pair_a, pair_b, merged, pair_count
    FROM ({rows})
    """


def bpe_tokenize_sql() -> str:
    """Full oracle for ``tx_bpe_tokenize``(+``_fold``): re-learns the
    merge table, then applies the merges in training order to every
    word of every document via the chained-REPLACE identity and emits
    per-doc (n_words, n_bpe_tokens). Docs with no alpha words emit
    (0, 0) — the LEFT JOIN back to documents keeps them."""
    applied = "'|' || array_to_string(string_split(word, ''), '||') || '|'"
    for k in range(1, BPE_MERGES + 1):
        applied = f"replace({applied}, {_pat(k)}, {_rep(k)})"
    return f"""
    WITH {bpe_train_ctes()},
    doc_words AS MATERIALIZED (
        SELECT doc_id, t.word AS word
        FROM (SELECT doc_id, {alpha_words_sql("lower(text)")} AS w FROM documents) d,
             UNNEST(w) AS t(word)
    ),
    per_word AS MATERIALIZED (
        SELECT doc_id,
               (length(fin) - length(replace(fin, '|', ''))) // 2 AS n_tok
        FROM (SELECT doc_id, {applied} AS fin FROM doc_words)
    ),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_words,
               CAST(SUM(n_tok) AS INTEGER) AS n_bpe_tokens
        FROM per_word GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_words, 0) AS n_words,
           COALESCE(p.n_bpe_tokens, 0) AS n_bpe_tokens
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """


def bpe_fertility_sql() -> str:
    """Oracle for ``tx_tokenizer_fertility``: the ``bpe_tokenize_sql``
    per-doc counts rolled up per language — n_docs / word / BPE-token
    sums are exact BIGINTs, fertility (BPE tokens per word) is ONE
    division of exact operands (0.0 for languages the alpha tokenizer
    can't segment, e.g. zh: zero alpha words)."""
    applied = "'|' || array_to_string(string_split(word, ''), '||') || '|'"
    for k in range(1, BPE_MERGES + 1):
        applied = f"replace({applied}, {_pat(k)}, {_rep(k)})"
    return f"""
    WITH {bpe_train_ctes()},
    doc_words AS MATERIALIZED (
        SELECT doc_id, t.word AS word
        FROM (SELECT doc_id, {alpha_words_sql("lower(text)")} AS w FROM documents) d,
             UNNEST(w) AS t(word)
    ),
    per_word AS MATERIALIZED (
        SELECT doc_id,
               (length(fin) - length(replace(fin, '|', ''))) // 2 AS n_tok
        FROM (SELECT doc_id, {applied} AS fin FROM doc_words)
    ),
    per_doc AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens
        FROM per_word GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(p.n_words, 0)) AS BIGINT) AS sum_words,
           CAST(SUM(COALESCE(p.n_bpe_tokens, 0)) AS BIGINT)
               AS sum_bpe_tokens,
           ROUND(COALESCE(CAST(SUM(COALESCE(p.n_bpe_tokens, 0)) AS DOUBLE)
                          / NULLIF(SUM(COALESCE(p.n_words, 0)), 0),
                          0.0), 6) AS fertility
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    GROUP BY d.lang
    """
