"""Sentence segmentation + sentence-window chunking — the
RAG-indexing counterpart of token-window chunking
(operators/chunking.py): retrieval corpora chunk at sentence
boundaries so no window cuts a sentence in half (the labelled
"semantic chunking" baseline in every RAG evaluation; C4's
three-sentence spans and MassiveText's sentence filters assume the
same segmentation).

Segmentation must be cross-engine exact, and RE2 (DuckDB) has no
lookbehind — so the splitter is the lookbehind-free two-step both
engines support identically: (1) rewrite every terminal-punctuation
run followed by whitespace to keep the punctuation and insert a
U+001E record-separator marker, (2) split on the marker, trim, drop
empties. Only the replacement-group SYNTAX differs per dialect
($1 in Java, \\1 in RE2) — the regex itself is shared.

100-TB shape: segmentation and windowing are per-row array
expressions plus one posexplode — zero shuffle, zero UDF, zero
driver state, streaming-safe; windows stay (doc_id, ints, one
string) rows.

Reference parity note: the geospatial reference has no text pipeline;
this module is part of the web-scale training-data mandate
(SURVEY.md §2.E).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# terminal-punctuation run followed by whitespace; the marker is
# inserted AFTER the punctuation (group 1), so sentences keep their
# terminal marks
SENT_BOUNDARY_RE = r"([.!?]+)\s+"
_MARKER = ""


def sentences(text: Column) -> Column:
    """Array of trimmed, non-empty sentences. Text with no terminal
    punctuation is one sentence; NULL text yields an empty array."""
    marked = F.regexp_replace(
        F.coalesce(text, F.lit("")), SENT_BOUNDARY_RE, "$1" + _MARKER
    )
    return F.filter(
        F.transform(F.split(marked, _MARKER), F.trim), lambda s: s != ""
    )


def sentence_windows(
    df: DataFrame,
    size: int,
    stride: int | None = None,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per sentence window: (doc_id, win_id, start_sent,
    n_win_sentences, n_sentences, text_chunk) — windows of ``size``
    sentences every ``stride`` (default: non-overlapping), joined by
    a single space. Start positions are 0-based; the final window may
    be short, and with stride <= size every sentence is covered (the
    chunking.py coverage law). Documents with zero sentences produce
    no rows.
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    stride = size if stride is None else stride
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    sents = sentences(F.col(text_col))
    n = F.size(sents)
    # number of windows = 1 + ceil(max(0, n - size) / stride), n > 0
    n_win = F.when(
        n > 0,
        F.lit(1)
        + F.ceil(
            F.greatest(n - F.lit(size), F.lit(0)) / F.lit(float(stride))
        ).cast("int"),
    ).otherwise(F.lit(0))
    base = df.select(
        F.col(doc_id_col).alias("doc_id"),
        sents.alias("_s"),
        n.cast("bigint").alias("n_sentences"),
        n_win.alias("_nw"),
    )
    win = base.select(
        "doc_id",
        "n_sentences",
        F.posexplode(
            F.when(
                F.col("_nw") > 0,
                F.transform(
                    F.sequence(F.lit(0), F.col("_nw") - 1),
                    lambda w: F.struct(
                        (w * stride).cast("bigint").alias("start_sent"),
                        F.array_join(
                            F.slice(F.col("_s"), w * stride + 1, size), " "
                        ).alias("text_chunk"),
                        F.least(
                            F.lit(size), F.col("n_sentences") - w * stride
                        )
                        .cast("bigint")
                        .alias("n_win_sentences"),
                    ),
                ),
            ).otherwise(F.array().cast(
                "array<struct<start_sent:bigint,text_chunk:string,n_win_sentences:bigint>>"
            )),
        ).alias("win_id", "w"),
    )
    return win.select(
        "doc_id",
        F.col("win_id").cast("bigint").alias("win_id"),
        F.col("w.start_sent").alias("start_sent"),
        F.col("w.n_win_sentences").alias("n_win_sentences"),
        "n_sentences",
        F.col("w.text_chunk").alias("text_chunk"),
    )
