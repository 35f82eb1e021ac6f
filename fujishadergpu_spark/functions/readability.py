"""Readability scoring — the education/quality signal family.

FineWeb-Edu-style curation scores documents for instructional value;
the classical zero-model proxies are the Flesch Reading Ease and
Flesch-Kincaid Grade Level (Kincaid et al. 1975), both functions of
three surface counts: words, sentences, and syllables. Corpus teams
run them as cheap complexity filters (drop word-salad and
legalese-extreme tails) and as dataset-card statistics.

Syllables use the standard vowel-group proxy — the count of maximal
``[aeiouy]+`` runs in the lowercased text — the same approximation
every readability library bootstraps from (true syllabification
needs a dictionary; the proxy is monotone with it and, critically
here, exactly computable by RE2 and Java regex alike).

Everything is per-row whole-stage-codegen expression — three regexp
passes and fixed-point arithmetic, no UDF, no shuffle; the formulas
are single IEEE expressions over exact longs, so the scores are
bit-equal on any engine.

Reference parity note: the geospatial reference has no text pipeline;
this module is part of the web-scale training-data mandate
(SURVEY.md §2.E).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sentences import sentences
from .textfn import ws_tokens

VOWEL_RUN_RE = "[aeiouy]+"


def syllable_count(text: Column) -> Column:
    """Vowel-group syllable proxy over the lowercased text."""
    return F.size(
        F.regexp_extract_all(F.lower(F.coalesce(text, F.lit(""))), F.lit(VOWEL_RUN_RE), 0)
    ).cast("bigint")


def word_count(text: Column) -> Column:
    return F.size(ws_tokens(F.coalesce(text, F.lit("")))).cast("bigint")


def readability(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per document: (id, n_words, n_sentences, n_syllables,
    flesch_ease, fk_grade). Documents with zero words score NULL
    (no text — no readability evidence); sentence count is >= 1 for
    any non-empty text (the sentences() contract), so the divisions
    are guarded by the word gate alone.

    flesch_ease = 206.835 - 1.015*(W/S) - 84.6*(Y/W)
    fk_grade    = 0.39*(W/S) + 11.8*(Y/W) - 15.59
    """
    t = F.col(text_col)
    w = word_count(t)
    s = F.size(sentences(t)).cast("bigint")
    y = syllable_count(t)
    wps = w.cast("double") / s.cast("double")
    ypw = y.cast("double") / w.cast("double")
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * ypw
    grade = F.lit(0.39) * wps + F.lit(11.8) * ypw - F.lit(15.59)
    return docs.select(
        F.col(id_col),
        w.alias("n_words"),
        s.alias("n_sentences"),
        y.alias("n_syllables"),
        F.when(w > 0, ease).alias("flesch_ease"),
        F.when(w > 0, grade).alias("fk_grade"),
    )
