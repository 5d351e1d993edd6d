"""Deterministic scoring pipelines (SURVEY §2.10 V9/V10, §2.6 G4-G6).

Pure column arithmetic reproducing the reference's exact constants:

- confidence: base 0.5 + 0.25·has_vector + 0.25·completeness; llm score
  clamp(0.6·words(vector_evidence)/100 + 0.4·words(nvd_evidence)/100) —
  two word-count legs, one per evidence source, absent source → 0, no
  per-leg cap (only the outer clamp); final 0.7·base + 0.3·llm, round
  2dp, clamp [0,1]  (llama-chatbot/main.py:168-215).
- RAG eval verdict TP/FP/FN via phrase-set provenance
  (llama-chatbot/eval.py:16-30).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import phrase_set, token_count


def clamp01(col: Column) -> Column:
    """min(1, max(0, x)) — llama-chatbot/main.py:195-215."""
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), col))


def completeness_ratio(*present_flags: Column) -> Column:
    """G4 — fraction of key fields present (llama-chatbot/main.py:203-205)."""
    total = F.lit(0.0)
    for flag in present_flags:
        total = total + F.when(flag, 1.0).otherwise(0.0)
    return total / F.lit(float(len(present_flags)))


def base_confidence(has_vector: Column, completeness: Column) -> Column:
    """llama-chatbot/main.py:195-207: 0.5 + 0.25·has_vector + 0.25·completeness."""
    return clamp01(F.lit(0.5) + F.when(has_vector, 0.25).otherwise(0.0) + F.lit(0.25) * completeness)


def llm_confidence(vector_text: Column, nvd_text: Column) -> Column:
    """llama-chatbot/main.py:209-215 (``assess_verification_with_llm``):

        vector_score = len(str(vector_results).split()) / 100  if truthy else 0
        nvd_score    = len(str(nvd_data).split()) / 100        if truthy else 0
        clamp01(0.6 * vector_score + 0.4 * nvd_score)

    Two word-count legs, one per evidence source; a NULL/empty source
    contributes 0; there is NO per-leg min(1, ·) cap — only the outer
    clamp (a 200-word vector answer alone saturates the score)."""
    vector_score = F.coalesce(token_count(vector_text), F.lit(0)) / F.lit(100.0)
    nvd_score = F.coalesce(token_count(nvd_text), F.lit(0)) / F.lit(100.0)
    return clamp01(F.lit(0.6) * vector_score + F.lit(0.4) * nvd_score)


def final_confidence(base: Column, llm: Column) -> Column:
    """llama-chatbot/main.py:172: round(0.7·base + 0.3·llm, 2)."""
    return F.round(clamp01(F.lit(0.7) * base + F.lit(0.3) * llm), 2)


def verification_status(has_vector: Column, has_remote: Column) -> Column:
    """J2 — 'verified' iff both sources present, else 'partial'
    (llama-chatbot/main.py:183)."""
    return F.when(has_vector & has_remote, F.lit("verified")).otherwise(F.lit("partial"))


def rag_verdict(response: Column, context: Column) -> Column:
    """V9/E1 — phrase-provenance TP/FP/FN (llama-chatbot/eval.py:22-30):
    any response phrase absent from context → FP; any context phrase
    absent from response → FN; else TP. FP wins when both hold (the
    reference checks FP first).

    r12 (guide §2.3 per-task work): the two phrase sets are bound to a
    lambda variable via the 1-element-array transform trick (as
    ``operators.dedup.shingles`` binds its tokens) so each evaluates
    ONCE per row — the naive when/otherwise form inlined BOTH
    interpreted split→transform(trim)→distinct subtrees into BOTH
    branches (4 phrase-set evaluations per row in the compiled plan;
    HOF transforms are CodegenFallback, so no codegen CSE rescues
    them). Same functions, same order — value-identical."""
    pair = F.array(
        F.struct(
            phrase_set(response).alias("r"), phrase_set(context).alias("c")
        )
    )
    return F.element_at(
        F.transform(
            pair,
            lambda p: F.when(
                F.size(F.array_except(p["r"], p["c"])) > 0, F.lit("FP")
            ).otherwise(
                F.when(
                    F.size(F.array_except(p["c"], p["r"])) > 0, F.lit("FN")
                ).otherwise(F.lit("TP"))
            ),
        ),
        1,
    )
