"""Text analysis for large-scale training-data pipelines.

All hot-path logic is built-in ``pyspark.sql.functions`` column
expressions (JVM-side, whole-stage-codegen'd, zero Python per row):
language-ID (marker-word heuristic), quality scoring, token counting,
and document fingerprinting. At 100 TB these run inside the parquet scan
stage — no shuffle, no UDF serialization.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from flink_playground_spark.sqltext import string

# Tokenization shared by all text ops (and mirrored verbatim in the SQL
# oracles): lowercase alphanumeric runs.
TOKEN_RE = "[a-z0-9]+"

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deterministic and tiny by design.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "a", "in", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "los", "las", "es", "y", "que", "un"),
    "fr": ("le", "la", "les", "et", "est", "que", "une", "des"),
    "zh": ("de5", "shi4", "le5", "zai4", "wo3", "you3", "he2", "ren2"),
}

STOPWORDS = LANG_MARKERS["en"]


def tokens(text_col: str | Column) -> Column:
    """Lowercase alphanumeric tokens (array<string>)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_RE), 0)


def tokens_sql(text_sql: str) -> str:
    """SQL text of ``tokens`` over the SQL expression ``text_sql``."""
    return f"regexp_extract_all(lower({text_sql}), {string(TOKEN_RE)}, 0)"


def token_count(text_col: str | Column) -> Column:
    return F.size(tokens(text_col))


def _marker_count(text_col: str | Column, markers: tuple[str, ...]) -> Column:
    """Occurrences of any marker as a COMPLETE token, counted with one
    codegen'd regex pass over the raw text: the lookarounds forbid token
    characters on either side, so a match is exactly a maximal
    ``[a-z0-9]+`` run equal to a marker — the same count as filtering
    the token array, without materializing it or running an interpreted
    array-lambda (measured ~2× faster end-to-end on the documents scan)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    pat = "(?<![a-z0-9])(" + "|".join(markers) + ")(?![a-z0-9])"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), 0))


def stopword_ratio(text_col: str | Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    n = F.size(tokens(text_col))
    hits = _marker_count(text_col, stopwords)
    return F.when(n > 0, hits / n).otherwise(F.lit(0.0))


def punct_ratio(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, punct / F.length(c)).otherwise(F.lit(0.0))


def mean_token_length(text_col: str | Column) -> Column:
    toks = tokens(text_col)
    # total token chars = length of the tokens joined back together —
    # a codegen'd collection op, vs the interpreted aggregate() lambda
    total = F.length(F.array_join(toks, ""))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text_col: str | Column) -> Column:
    """Heuristic document quality in [0,1]: balanced length, healthy
    stopword share, low punctuation noise. Deterministic double math
    (same expression order as the SQL oracle)."""
    n = token_count(text_col).cast("double")
    length_term = F.least(n / F.lit(64.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text_col) * F.lit(4.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text_col) * F.lit(4.0), F.lit(1.0))
    return F.round((length_term + stop_term + punct_term) / F.lit(3.0), 6)


def lang_scores(text_col: str | Column) -> dict[str, Column]:
    """Marker-hit count per language (one codegen'd regex pass each)."""
    return {
        lang: _marker_count(text_col, markers)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text_col: str | Column) -> Column:
    """Predicted language: argmax marker-hit count, ties broken by the
    fixed key order of LANG_MARKERS; 'und' when nothing matches.

    Implemented as ``array_max`` over (score, -order, lang) structs so
    each language's marker-filter score is evaluated exactly once.
    (The previous nested when/greatest chain embedded every score
    subtree several times over — the interpreted array filters were
    re-run per nesting level, 5× slower end-to-end.) Struct comparison
    is field-ordered: score first, then -order, so on equal scores the
    earlier language in LANG_MARKERS wins — the same tie-break as the
    SQL oracle's first-match CASE."""
    scores = lang_scores(text_col)
    entries = [
        F.struct(s.alias("s"), F.lit(-i).alias("prio"), F.lit(lang).alias("lang"))
        for i, (lang, s) in enumerate(scores.items())
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))


_WS_RE = r"\s+"


def fingerprint(text_col: str | Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    (md5 is identical across engines — the oracle reproduces it.)"""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), _WS_RE, " "))


def fingerprint_sql(text_sql: str) -> str:
    """SQL text of ``fingerprint`` over the SQL expression ``text_sql``."""
    return f"md5(regexp_replace(lower(trim({text_sql})), {string(_WS_RE)}, ' '))"
