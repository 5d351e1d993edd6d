"""The whitespace and alpha-word tokenizers and the whitespace collapse
are written once, in ``functions/text.py``; every query, kernel and
oracle calls them there. A hand copy elsewhere in the package drifts
apart from them silently — the DuckDB oracles' ``\\s`` once left out
``\\x0B``, and the BM25 kernel's ``str.split()`` split on NBSP — so this
test fails on any new one. The few spellings that are not copies are
listed with the reason each may stay."""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "ingestion_pipeline_spark"
HOME = "functions/text.py"

# what a hand copy of a rule looks like in source text
COPY_PATTERNS = {
    "whitespace class": re.compile(r"\\s\+|\[ \\+t"),
    "alpha class": re.compile(r"\[\^?a-z\]"),
    "SQL split": re.compile(r"string_split_regex\("),
    "str.split()": re.compile(r"\.split\(\)"),
}

ALLOWED = {
    ("plans/bounds.py", "whitespace class"): "the Spark-free copy of text.WS, "
    "pinned equal to it by tests/test_bounds.py",
    ("functions/scoring.py", "str.split()"): "the reference's "
    "len(x.split()) quoted verbatim in a docstring",
    ("plans/registry_ext12.py", "SQL split"): "string_split_regex(text, '\\.') "
    "splits sentences, not words",
    ("functions/embed.py", "str.split()"): "hashing_embedder runs on the ingest "
    "path; moving it to split_words changes landed vectors, so it needs its own "
    "change measured on ingest",
}


def _copies() -> dict[tuple[str, str], list[str]]:
    found: dict[tuple[str, str], list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == HOME:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for name, rx in COPY_PATTERNS.items():
                if rx.search(line):
                    found.setdefault((rel, name), []).append(f"{rel}:{n}: {line.strip()}")
    return found


def test_text_rules_are_written_only_in_functions_text():
    found = _copies()
    unexpected = [hit for key, hits in found.items() if key not in ALLOWED for hit in hits]
    assert not unexpected, "hand copies of a text rule:\n" + "\n".join(unexpected)
    # an exception that no longer matches anything is stale: drop it
    assert set(ALLOWED) <= set(found), set(ALLOWED) - set(found)


def test_the_patterns_catch_the_old_copies():
    """Each pattern matches the hand copies the package used to hold."""
    old = {
        "whitespace class": ["'\\\\s+'", "r\"\\s+\"", "'[ \\t\\n\\x0B\\f\\r]+'"],
        "alpha class": ["'[^a-z]+'", 're.compile("[a-z]+")', "'[^a-z]'"],
        "SQL split": ["string_split_regex(lower(text), x)"],
        "str.split()": ['(t or "").lower().split()'],
    }
    for name, lines in old.items():
        for line in lines:
            assert COPY_PATTERNS[name].search(line), (name, line)
