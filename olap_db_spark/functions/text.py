"""Text-analysis scalar functions for LLM training-data pipelines
(BASELINE.json north_star): tokenization, quality signals, language-ID,
fingerprinting. All pure column expressions — JVM-side, codegen-friendly,
no Python in the hot path.

Every function here has an exact ANSI-SQL mirror (used by the oracle
queries in operators/text_analysis.py), so the whole text surface is
hash-verifiable against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pretokenizer: letter runs | digit runs | single non-space symbol.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

# Tiny deterministic stopword lists per language for the n-gram heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "a", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
}


def words(text: Column) -> Column:
    """Whitespace tokens (the testdata is single-space separated)."""
    return F.split(F.trim(text), " ")


def token_count_ws(text: Column) -> Column:
    return F.size(words(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count via regexp: letter/digit runs + symbols."""
    return F.regexp_count(text, F.lit(BPE_RE))


def stopword_hits(text: Column, markers: tuple[str, ...]) -> Column:
    """Occurrences of any marker word (multiset count, not distinct)."""
    return F.size(F.filter(words(text), lambda w: _any_eq(w, markers)))


def _any_eq(w: Column, markers: tuple[str, ...]) -> Column:
    out = w == F.lit(markers[0])
    for m in markers[1:]:
        out = out | (w == F.lit(m))
    return out


def lang_id(text: Column) -> Column:
    """Deterministic marker-count language heuristic with alphabetical
    tie-break (ties go to the earlier language code)."""
    scores = {lang: stopword_hits(text, ms) for lang, ms in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # Iterate in reverse-alphabetical order so the final WHEN chain
    # resolves ties to the alphabetically-first language.
    for lang in sorted(scores, reverse=True):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(
            expr
        )
    return expr


def fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercased trimmed text —
    identical hex in every engine (exact-dedup key)."""
    return F.md5(F.lower(F.trim(text)))


def quality_signals(text: Column) -> dict[str, Column]:
    """Deterministic quality-score components. The raw integer counts
    (n_uniq, stop_hits_en) are exposed alongside the ratios so threshold
    FILTERS can compare integer cross-products (uniq·10 ≥ n·3) instead of
    doubles-vs-literals — engine-proof at exact boundaries. The ratio
    columns themselves are single divisions of exact integers (correctly
    rounded under IEEE 754, bit-identical across engines) and stay safe
    to emit."""
    n_tok = token_count_ws(text)
    n_chars = F.length(text)
    uniq = F.size(F.array_distinct(words(text)))
    stop_hits = stopword_hits(text, LANG_MARKERS["en"])
    return {
        "n_tokens": n_tok,
        "n_chars_m": n_chars,
        "n_uniq": uniq,
        "stop_hits_en": stop_hits,
        "avg_word_len": (n_chars - n_tok + 1).cast("double") / n_tok.cast("double"),
        "uniq_token_ratio": uniq.cast("double") / n_tok.cast("double"),
        "stop_ratio_en": stop_hits.cast("double") / n_tok.cast("double"),
    }
