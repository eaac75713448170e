"""Text analysis operators (north-star extension, BASELINE.json): language
ID, quality scoring, token counting, document fingerprinting.

These are first-class operators for the 100 TB training-data pipeline use
case. Everything here is built from JVM-side column expressions (split /
higher-order array functions / regexp / md5) — no Python UDFs — so the whole
stage lives inside WholeStageCodegen and scales linearly with input
partitions, no shuffle until an aggregation asks for one.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Marker stopwords per language for the n-gram/marker heuristic. The
# classifier is deliberately simple and *deterministic*: integer marker
# counts, fixed precedence on ties — so the DuckDB oracle can express the
# identical function.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "et", "les", "est"),
    "es": ("el", "los", "las", "y", "es"),
}

EN_STOPWORDS = ("the", "a", "an", "of", "and", "is", "to", "in")


def tokens(text: Column, sep: str = " ") -> Column:
    """Whitespace tokenizer. ``sep`` is a literal separator so the oracle's
    string_split matches; pass a regex via tokens_re for messy corpora."""
    return F.split(text, sep)


def tokens_re(text: Column) -> Column:
    """BPE-ish regex tokenizer: words, numbers, or single punctuation —
    the token-counting shape LLM-data pipelines use."""
    return F.regexp_extract_all(text, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0)


def token_count(text: Column, sep: str = " ") -> Column:
    return F.size(tokens(text, sep))


def stopword_count(text: Column, words: tuple[str, ...] = EN_STOPWORDS) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*words)))


def stopword_ratio(text: Column, words: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Quality signal: ratio of stopword tokens. Integer/integer division —
    bit-identical across engines."""
    return stopword_count(text, words) / token_count(text)


def quality_score(text: Column) -> Column:
    """Composite quality heuristic (length band + stopword presence), the
    shape of C4/Gopher-style document filters: deterministic integer logic."""
    n = token_count(text)
    sw = stopword_count(text)
    return (
        F.when((n >= 10) & (n <= 1000) & (sw * 10 >= n), F.lit(2))
        .when((n >= 5) & (sw > 0), F.lit(1))
        .otherwise(F.lit(0))
    )


def lang_marker_counts(text: Column) -> dict[str, Column]:
    return {lang: stopword_count(text, markers) for lang, markers in LANG_MARKERS.items()}


def lang_id(text: Column) -> Column:
    """Marker-count language ID with fixed precedence (en > de > fr > es) on
    ties and 'und' (undetermined) when no marker hits. The same CASE ladder
    is expressible in ANSI SQL, making the operator oracle-checkable."""
    c = lang_marker_counts(text)
    best = F.greatest(*c.values())
    out = F.lit("und")
    # reversed precedence: later WHENs must not override earlier langs, so
    # build the ladder from lowest to highest precedence
    for lang in ("es", "fr", "de", "en"):
        out = F.when((c[lang] > 0) & (c[lang] == best), F.lit(lang)).otherwise(out)
    return out


def normalize_text(text: Column) -> Column:
    """Dedup normalization: lowercase, strip non-alphanumerics to spaces,
    collapse runs — the canonical form fingerprints hash over."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def fingerprint_md5(text: Column) -> Column:
    """Document fingerprint: md5 over the normalized text. (A rolling/poly
    hash would be cheaper per byte at equal collision behavior, but md5 is
    available identically in every engine, which makes parity testable.)"""
    return F.md5(normalize_text(text).cast("binary"))
