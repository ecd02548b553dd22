"""Text-analysis operators — SURVEY.md §2 B64-B67 + driver mandate
(language-ID, quality scoring, token counting, document fingerprinting).

All pure Catalyst expressions (split/HOF/regexp) — token pipelines stay
inside whole-stage codegen; the only shuffles are the final aggregations.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

#: tiny english-ish stopword list, shared verbatim with oracle SQL
STOPWORDS = ("a", "the", "and", "of", "to")

#: per-language marker words for the heuristic language-ID scorer.
#: The fixture corpus is synthetic word soup, so markers beyond 'en'
#: never fire — the operator is exercised, the prediction degenerate.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of"),
    "fr": ("le", "la", "et", "de"),
    "es": ("el", "la", "y", "de"),
    "de": ("der", "die", "und", "von"),
    "zh": (),  # ideographic — a char-range heuristic would go here
}

FINGERPRINT_P = 2_147_483_647
FINGERPRINT_BASE = 31


def token_count_expr(tokens_col: str = "tokens") -> Column:
    return F.size(F.col(tokens_col))


def distinct_count_expr(tokens_col: str = "tokens") -> Column:
    """Distinct-token count (integer numerator of the type-token ratio —
    kept separate so callers can round the ratio in integer space,
    functions/exact.py)."""
    return F.size(F.array_distinct(F.col(tokens_col)))


def stopword_count_expr(tokens_col: str = "tokens") -> Column:
    """Stopword hit count (integer numerator of the stopword ratio)."""
    arr = ",".join(f"'{w}'" for w in STOPWORDS)
    return F.expr(
        f"size(filter({tokens_col}, t -> array_contains(array({arr}), t)))"
    )


def total_token_len_expr(tokens_col: str = "tokens") -> Column:
    """Total character length of all tokens (integer numerator of the
    mean token length)."""
    return F.expr(
        f"aggregate({tokens_col}, 0L, (s, t) -> s + length(t))"
    )


def regex_token_count_expr(text_col: str = "text", pattern: str = "[a-z]+") -> Column:
    """BPE-ish regex token counting (B64 'token counting' — the whitespace
    variant is token_count_expr)."""
    return F.regexp_count(F.col(text_col), F.lit(pattern))


def lang_marker_hits_expr(lang: str, tokens_col: str = "tokens") -> Column:
    markers = LANG_MARKERS.get(lang, ())
    if not markers:
        return F.lit(0)
    arr = ",".join(f"'{w}'" for w in markers)
    return F.expr(
        f"size(filter({tokens_col}, t -> array_contains(array({arr}), t)))"
    )


def fingerprint_expr(text_col: str = "text") -> Column:
    """Deterministic polynomial rolling hash over characters,
    fp = Σ fp·31 + ascii(c) (mod 2^31-1) — the document-fingerprint
    primitive (content-defined identity cheaper than md5 to compare in
    both engines, and incrementally computable at scale)."""
    return F.expr(
        f"aggregate(split({text_col}, ''), 0L,"
        f" (h, c) -> pmod(h * {FINGERPRINT_BASE} + ascii(c), {FINGERPRINT_P}))"
    )
