"""Gopher document-level quality rules (Rae et al. 2021, "Scaling
Language Models: ... Gopher", §A1.1) — the published non-repetition
half of the Gopher quality filter. The repetition half (duplicate
line / n-gram rules) lives in operators/repetition.py; together the
two modules give full §A1.1 parity.

Published document rules (a document is kept iff ALL hold):

1. word count within [50, 100,000];
2. mean word length within [3, 10] characters;
3. symbol-to-word ratio ("#" or ellipsis) <= 0.1;
4. <= 90% of lines start with a bullet point;
5. <= 30% of lines end with an ellipsis;
6. >= 80% of words contain at least one alphabetic character;
7. at least 2 distinct Gopher stop words present
   (the, be, to, of, and, that, have, with).

Engine discipline (the repetition.py contract): every count is an
exact integer built from literal string operations; every fraction is
a single CAST(x AS DOUBLE)/y of those integers, so Spark and DuckDB
agree bit-for-bit and the keep booleans are hash-stable cross-engine.
Ellipsis occurrences of "..." are counted non-overlapping via
replace-length deltas — both engines scan left-to-right, so the
counts coincide exactly.

100-TB shape: the whole operator is ONE per-row projection — no
shuffle, no UDF, no driver state; everything fuses into whole-stage
codegen on the scan, and it is streaming-safe. Total over the input:
empty / whitespace-only documents still get a row (zero counts, 0.0
fractions, keep=false via the word-count rule — the published
behavior).

Reference parity note: the geospatial reference has no text pipeline;
this module is part of the web-scale training-data mandate
(SURVEY.md §2.E), completing Gopher §A1.1 alongside repetition.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import ws_tokens
from .repetition import doc_lines

# the published stop-word list, §A1.1 rule 7
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# published thresholds
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MAX_SYMBOL_WORD_RATIO = 0.1
MAX_BULLET_LINE_FRAC = 0.9
MAX_ELLIPSIS_LINE_FRAC = 0.3
MIN_ALPHA_WORD_FRAC = 0.8
MIN_STOP_HITS = 2

# bullet-line prefixes / ellipsis-line suffixes (literal matches)
BULLET_PREFIXES = ("•", "-")
ELLIPSIS_SUFFIXES = ("...", "…")


def _count_occurrences(text, needle: str):
    """Non-overlapping occurrence count of a literal substring as an
    exact integer: (len(text) - len(replace(text, needle, ''))) /
    len(needle). Integer division is exact because replace removes
    whole needles."""
    delta = F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit("")))
    return (delta / F.lit(len(needle))).cast("bigint")


def gopher_quality_features(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = MIN_WORDS,
    max_words: int = MAX_WORDS,
    min_mean_word_len: float = MIN_MEAN_WORD_LEN,
    max_mean_word_len: float = MAX_MEAN_WORD_LEN,
    max_symbol_word_ratio: float = MAX_SYMBOL_WORD_RATIO,
    max_bullet_line_frac: float = MAX_BULLET_LINE_FRAC,
    max_ellipsis_line_frac: float = MAX_ELLIPSIS_LINE_FRAC,
    min_alpha_word_frac: float = MIN_ALPHA_WORD_FRAC,
    min_stop_hits: int = MIN_STOP_HITS,
) -> DataFrame:
    """One row per input document (total — pure per-row projection):
    doc_id, n_words, mean_word_len, symbol_word_ratio, n_lines,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac, stop_hits,
    keep. Rules and defaults are the published Gopher §A1.1 values
    (module docstring); keep is the AND of all seven.

    Words are the repetition.py whitespace tokens; lines are the
    non-empty "\\n"-separated lines; stop-word hits count DISTINCT
    list members present among the lowercased tokens. NULL text
    behaves as empty text.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    tk = ws_tokens(text)
    lines = doc_lines(text)

    n_words = F.size(tk).cast("bigint")
    word_chars = F.aggregate(
        tk, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
    )
    mean_word_len = F.when(
        n_words > 0, word_chars.cast("double") / n_words
    ).otherwise(F.lit(0.0))

    n_symbols = (
        _count_occurrences(text, "#")
        + _count_occurrences(text, "...")
        + _count_occurrences(text, "…")
    )
    symbol_word_ratio = F.when(
        n_words > 0, n_symbols.cast("double") / n_words
    ).otherwise(F.lit(0.0))

    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith(BULLET_PREFIXES[0])
            | l.startswith(BULLET_PREFIXES[1]),
        )
    ).cast("bigint")
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda l: l.endswith(ELLIPSIS_SUFFIXES[0])
            | l.endswith(ELLIPSIS_SUFFIXES[1]),
        )
    ).cast("bigint")
    bullet_line_frac = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    ellipsis_line_frac = F.when(
        n_lines > 0, n_ellipsis.cast("double") / n_lines
    ).otherwise(F.lit(0.0))

    n_alpha_words = F.size(
        F.filter(tk, lambda w: w.rlike("[A-Za-z]"))
    ).cast("bigint")
    alpha_word_frac = F.when(
        n_words > 0, n_alpha_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))

    stop_hits = F.size(
        F.array_intersect(
            F.transform(tk, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]),
        )
    ).cast("bigint")

    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (symbol_word_ratio <= max_symbol_word_ratio)
        & (bullet_line_frac <= max_bullet_line_frac)
        & (ellipsis_line_frac <= max_ellipsis_line_frac)
        & (alpha_word_frac >= min_alpha_word_frac)
        & (stop_hits >= min_stop_hits)
    )

    return df.select(
        F.col(doc_id_col).alias("doc_id"),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        n_lines.alias("n_lines"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        alpha_word_frac.alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        keep.alias("keep"),
    )
