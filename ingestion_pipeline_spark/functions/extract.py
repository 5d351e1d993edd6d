"""Never-throw nested extraction (SURVEY §2.3 P1-P8).

Every extractor in the reference is *total*: a missing path degrades to
``""`` / ``0`` instead of raising (``consumer/consumer.py:80-104`` uses
``.get(..., {})`` chains). That default-on-missing behavior is a semantic
requirement of the engine, reproduced here with ``coalesce`` over nested
getters — pure Column expressions, fully codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def nz_str(col: Column) -> Column:
    """String path with reference default '' (consumer/consumer.py:80-82)."""
    return F.coalesce(col, F.lit(""))


def nz_num(col: Column) -> Column:
    """Numeric path with reference default 0 (consumer/consumer.py:99-100)."""
    return F.coalesce(col.cast("double"), F.lit(0.0))


def jget_str(json_col: Column | str, path: str) -> Column:
    """``get_json_object`` with default-on-missing — P1 over raw JSON; a
    missing path reads as ``"0"`` (the numeric field as text)."""
    c = F.col(json_col) if isinstance(json_col, str) else json_col
    return F.coalesce(F.get_json_object(c, path), F.lit("0"))


def jget_num(json_col: Column | str, path: str) -> Column:
    c = F.col(json_col) if isinstance(json_col, str) else json_col
    return F.coalesce(F.get_json_object(c, path).cast("double"), F.lit(0.0))


def first_elem(arr: Column) -> Column:
    """``arr[0]`` that is null-safe on null/empty arrays (P1/P2/P6/P7).
    try_element_at: ANSI mode (Spark 4 default) makes plain element_at
    THROW on an empty array — the opposite of never-throw semantics."""
    return F.try_element_at(arr, F.lit(1))


# --- CVE-core projections (parsed struct column named `cve`) ------------

def cve_id(cve: Column) -> Column:
    """consumer/consumer.py:80 — cveMetadata.cveId, '' on missing."""
    return nz_str(cve.getField("cveMetadata").getField("cveId"))


def cve_title(cve: Column) -> Column:
    """consumer/consumer.py:82 — containers.cna.title, '' on missing."""
    return nz_str(cve.getField("containers").getField("cna").getField("title"))


def cve_description(cve: Column) -> Column:
    """consumer/consumer.py:81 — containers.cna.descriptions[0].value."""
    cna = cve.getField("containers").getField("cna")
    return nz_str(first_elem(cna.getField("descriptions")).getField("value"))


def cve_severity(cve: Column) -> Column:
    """consumer/consumer.py:98-99 — metrics[0].cvssV3_1.baseSeverity."""
    cna = cve.getField("containers").getField("cna")
    return nz_str(first_elem(cna.getField("metrics")).getField("cvssV3_1").getField("baseSeverity"))


def cve_score(cve: Column) -> Column:
    """consumer/consumer.py:100 — metrics[0].cvssV3_1.baseScore, 0 default."""
    cna = cve.getField("containers").getField("cna")
    return nz_num(first_elem(cna.getField("metrics")).getField("cvssV3_1").getField("baseScore"))


def cve_cwe_id(cve: Column) -> Column:
    """consumer/consumer.py:101-103 — problemTypes[0].descriptions[0].cweId."""
    cna = cve.getField("containers").getField("cna")
    return nz_str(
        first_elem(first_elem(cna.getField("problemTypes")).getField("descriptions")).getField("cweId")
    )


def cve_dates(cve: Column) -> tuple[Column, Column]:
    """processor.py:50-51 — dateUpdated / datePublished as strings."""
    meta = cve.getField("cveMetadata")
    return nz_str(meta.getField("dateUpdated")), nz_str(meta.getField("datePublished"))


# The reference's triple-quoted f-string carries its source indentation:
# a leading newline, 12 spaces before each field line, and a trailing
# newline + 12 spaces (consumer/consumer.py:85-89). That exact string is
# what gets embedded, so the template reproduces it byte-for-byte —
# normalizing the whitespace would change every embedding input
# (round-4 fidelity fix; the V9/V10 lesson applied to P3).
EMBED_TEXT_TEMPLATE = (
    "\n            Title: %s"
    "\n            CVE ID: %s"
    "\n            Description: %s"
    "\n            "
)


def embedding_text(cve: Column) -> Column:
    """P3 — the embedding text template, verbatim whitespace included
    (consumer/consumer.py:85-89)."""
    return F.format_string(
        EMBED_TEXT_TEMPLATE,
        cve_title(cve),
        cve_id(cve),
        cve_description(cve),
    )


# --- NVD-shape projections (llama-chatbot/main.py:107-123,148) ----------

def nvd_cwe(nvd: Column) -> Column:
    """P6 — weaknesses[0].description[0].value, '' default: the
    enrichment path this models (llama-chatbot/main.py:107-110,
    ``get_mitigation_strategies``) defaults every missing field to ''
    — the 'Unknown' strings live only in the Streamlit DISPLAY
    formatter (main.py:314-317), not in the dataflow (round-4
    fidelity fix)."""
    w = first_elem(nvd.getField("cve").getField("weaknesses"))
    return F.coalesce(first_elem(w.getField("description")).getField("value"), F.lit(""))


def nvd_cvss(nvd: Column) -> tuple[Column, Column, Column]:
    """P7 — metrics.cvssMetricV31[0].cvssData.* with the enrichment
    path's '' defaults (llama-chatbot/main.py:113-123; see nvd_cwe on
    why not 'Unknown'). baseScore defaults 0.0 — the reference's
    enrichment path never defaults it (the display path's 'Unknown'
    is a UI string a typed double column cannot hold)."""
    data = first_elem(nvd.getField("cve").getField("metrics").getField("cvssMetricV31")).getField("cvssData")
    return (
        nz_str(data.getField("attackVector")),
        nz_str(data.getField("baseSeverity")),
        nz_num(data.getField("baseScore")),
    )


def nvd_reference_urls(nvd: Column) -> Column:
    """P8 — [ref.url for ref in references] (llama-chatbot/main.py:148)."""
    refs = F.coalesce(nvd.getField("cve").getField("references"), F.array())
    return F.transform(refs, lambda r: r.getField("url"))


# --- query rewrite (P9, chatbot/main.py:105-109) ------------------------

# chatbot/main.py:105-109 verbatim: f"{query} Include technical
# details, severity, and specific mitigation steps if available."
# (round-4 fidelity fix — the previous suffix was a paraphrase).
ENHANCE_SUFFIX = (
    " Include technical details, severity, and specific mitigation steps"
    " if available."
)


def enhance_query(q: Column) -> Column:
    return F.when(q.contains("CVE-"), F.concat(q, F.lit(ENHANCE_SUFFIX))).otherwise(q)
