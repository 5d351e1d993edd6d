"""One way to materialize a shared intermediate: a query builder that
reads a frame more than once cuts it with ``localCheckpoint(eager=False)``
(the rule is stated in ``plans.release_caches``). A ``persist``/``cache``
sits in the CacheManager, where a rebuilt frame matches the first rep's
entry and best-of-N timings replay it; an eager checkpoint runs a job
while the query is still being built. This test fails on any new one.
The few sites that need another form are listed with the reason each
may stay."""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "ingestion_pipeline_spark"

# what each other form looks like in source text (a bare
# ``localCheckpoint()`` is eager too)
FORMS = {
    "persist": re.compile(r"\.(persist|cache)\("),
    "eager checkpoint": re.compile(r"localCheckpoint\(\s*(\)|(eager\s*=\s*)?True)"),
}

ALLOWED = {
    ("streaming/pipeline.py", "persist"): "write_batch writes one micro-batch "
    "twice and unpersists it in its own finally",
    ("operators/graph.py", "eager checkpoint"): "the loop driver and its "
    "Observation read each round's frame before the caller's action",
    ("operators/kmeans.py", "eager checkpoint"): "the initial centroids are "
    "collected from the frame while the query is built",
    ("operators/sketch.py", "eager checkpoint"): "the merged sketch overwrites "
    "the files it was read from",
    ("sinks.py", "eager checkpoint"): "warehouse_upsert overwrites the table it "
    "was read from",
}


def _sites() -> dict[tuple[str, str], list[str]]:
    found: dict[tuple[str, str], list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        text = path.read_text()
        for name, rx in FORMS.items():
            for m in rx.finditer(text):
                n = text.count("\n", 0, m.start()) + 1
                found.setdefault((rel, name), []).append(f"{rel}:{n}: {m.group(0)}")
    return found


def test_shared_intermediates_use_one_materialization():
    found = _sites()
    unexpected = [hit for key, hits in found.items() if key not in ALLOWED for hit in hits]
    assert not unexpected, "materialized another way:\n" + "\n".join(unexpected)
    # an exception that no longer matches anything is stale: drop it
    assert set(ALLOWED) <= set(found), set(ALLOWED) - set(found)


def test_the_patterns_catch_the_other_forms():
    """Each pattern matches the forms the package used to hold, and not
    the rule's own form."""
    old = {
        "persist": [".persist()", ").persist()", "df.cache()"],
        "eager checkpoint": [
            ".localCheckpoint(eager=True)",
            ".localCheckpoint(\n        eager=True\n    )",
            ".localCheckpoint()",
            ".localCheckpoint(True)",
        ],
    }
    for name, lines in old.items():
        for line in lines:
            assert FORMS[name].search(line), (name, line)
    for rx in FORMS.values():
        assert not rx.search(".localCheckpoint(eager=False)")
        assert not rx.search(".localCheckpoint(\n        eager=False\n    )")
