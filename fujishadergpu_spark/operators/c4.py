"""C4 heuristic cleaning rules (Raffel et al. 2020, "Exploring the
Limits of Transfer Learning...", §2.2) — the published line/page gate
that produced the C4 corpus, as pure Catalyst column expressions.

Line rules (a line survives iff ALL hold):
- ends in a terminal punctuation mark (``.``, ``!``, ``?``, ``"``);
- contains at least ``min_words`` whitespace words (paper: 5);
- does not contain the word "javascript" (case-insensitive).

Page rules (a document is kept iff ALL hold):
- at least ``min_sentences`` surviving lines (paper: 3 — the paper
  counts sentences; like most reimplementations we use the kept-line
  count, each kept line being terminal-punctuated);
- does not contain "lorem ipsum" (case-insensitive);
- does not contain a curly brace ``{`` (code tell);
- contains no word from ``blocklist`` (the paper uses the public
  "Dirty, Naughty…" list; we take the list as a caller argument and
  default to empty so the repo ships no slur text — the gate
  mechanism, not the lexicon, is the operator).

The paper's remaining rule — three-sentence-span dedup across the
corpus — is corpus-level, not per-page, and is already covered by
ExactSubstr span dedup (operators/spandedup.py); compose them in
plans/clean_corpus.py order.

100-TB shape: everything here is per-row whole-stage-codegen column
arithmetic on the scan — no shuffle, no UDF, no driver state. The
blocklist becomes a literal array (bounded: the published list is
~400 terms), probed with arrays_overlap over the doc's distinct
lowercased words.

Reference parity note: the geospatial reference has no text pipeline;
this module is part of the web-scale training-data mandate
(SURVEY.md §2.E).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import ws_tokens
from .repetition import doc_lines

TERMINAL = (".", "!", "?", '"')
MIN_WORDS = 5
MIN_SENTENCES = 3


def _line_words(line):
    return F.filter(F.split(line, " +"), lambda t: t != "")


def c4_features(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = MIN_WORDS,
    min_sentences: int = MIN_SENTENCES,
    blocklist: list[str] | None = None,
) -> DataFrame:
    """One row per input document (total, the repetition_features
    discipline): the INPUT COLUMNS passed through plus n_lines,
    n_kept (lines passing the C4 line rules), text_clean (kept lines
    re-joined), and keep (page gate verdict). Pure column expressions
    end to end — no aggregation, no UDF — so the operator is
    STREAMING-SAFE (usable before a watermarked sink with no state).

    Documents with no surviving line get text_clean = '' and
    keep = false (n_kept 0 < min_sentences), never a dropped row.
    """
    t = F.col(text_col)
    lines = doc_lines(t)

    def line_ok(l):
        last = F.substring(l, -1, 1)
        return (
            last.isin(*TERMINAL)
            & (F.size(_line_words(l)) >= min_words)
            & ~F.contains(F.lower(l), F.lit("javascript"))
        )

    kept = F.filter(lines, line_ok)
    low = F.lower(t)
    page_ok = (
        (F.size(kept) >= min_sentences)
        & ~F.contains(low, F.lit("lorem ipsum"))
        & ~F.contains(low, F.lit("{"))
    )
    if blocklist:
        words = F.array_distinct(ws_tokens(low))
        bad = F.array(*[F.lit(w.lower()) for w in sorted(set(blocklist))])
        page_ok = page_ok & ~F.arrays_overlap(words, bad)
    return df.withColumns(
        {
            "n_lines": F.size(lines).cast("long"),
            "n_kept": F.size(kept).cast("long"),
            "text_clean": F.array_join(kept, "\n"),
            "keep": page_ok,
        }
    )


def c4_filter(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    **kw,
) -> DataFrame:
    """The cleaning transform: surviving documents rewritten to their
    surviving lines — (doc_id, text) with text = the C4-kept lines."""
    return (
        c4_features(df, doc_id_col, text_col, **kw)
        .where("keep")
        .select(doc_id_col, F.col("text_clean").alias("text"))
    )
