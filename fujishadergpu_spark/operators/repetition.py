"""Repetition-based quality filtering and corpus-level line dedup for
web-text training pipelines.

Two operators over multi-line documents (``\\n``-separated lines, the
shape of real crawled text):

- :func:`repetition_features` — the repetition signals of Gopher
  (Rae et al. 2021, §A1.1 quality filtering): duplicate-line fraction,
  duplicate-line character fraction, and the fraction of characters
  covered by the most frequent word 2-gram, plus a ``keep`` flag at
  the published thresholds (0.30 / 0.20 / 0.20).
- :func:`line_dedup` — CCNet-style corpus-level line deduplication
  (Wenzek et al. 2020): every occurrence of a line after the first
  across the WHOLE corpus is dropped; the keeper is the minimum
  (doc_id, position) — the same deterministic min-struct keeper
  discipline as operators/dedup.exact_dedup.

Reference parity: the reference repo is the geospatial half of this
graft and has no text pipeline; these extend the LLM-data-pipeline
family (the training-data-pipeline mandate; README capability table) alongside operators/dedup.py.

Scale notes (100 TB):
- Per-doc features explode lines / bigrams and aggregate on
  (doc_id, token): short-string shuffle rows keyed by the document,
  map-side partial aggregation, no all-pairs path, nothing collected
  on the driver.
- Corpus line dedup reduces (line, doc_id, pos) rows with ONE
  hash aggregate ``groupBy(line).agg(min(struct(doc_id, pos)))``
  whose output IS the kept row set — map-side partial aggregation
  collapses every occurrence of a hot boilerplate line ("Home",
  cookie banners) to one row per map task before the Exchange, and
  AQE can skew-split the aggregate shuffle. (A window-min
  ``partitionBy(line)`` keeper — the previous shape — would force
  every occurrence of a hot line into ONE task with no partial agg
  and no AQE split: a guaranteed straggler at 100 TB. Pinned by
  tests/test_plan_shape.py: no Window node on the keeper stage.)
  Then one regroup by doc_id reassembles text. Line text crosses
  the wire at most once per DISTINCT (map task, line); no text
  enters any iteration.
- All fractions are single CAST(x AS DOUBLE)/y divisions of exact
  integer ratios, so the DuckDB twins hash bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, LongType, StructField, StructType

from ..functions.textfn import ws_split, ws_tokens

# Gopher §A1.1 published thresholds
MAX_DUP_LINE_FRAC = 0.30
MAX_DUP_LINE_CHAR_FRAC = 0.20
MAX_TOP_BIGRAM_CHAR_FRAC = 0.20


def _empty_str_array():
    return F.array().cast("array<string>")


def doc_lines(text):
    """Non-empty ``\\n``-separated lines (JVM split + filter)."""
    return F.filter(F.split(text, "\n"), lambda l: l != "")


def repetition_features(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = MAX_DUP_LINE_FRAC,
    max_dup_line_char_frac: float = MAX_DUP_LINE_CHAR_FRAC,
    max_top_bigram_char_frac: float = MAX_TOP_BIGRAM_CHAR_FRAC,
) -> DataFrame:
    """Per-document repetition features + keep flag (Gopher §A1.1).

    Returns one row per input document: n_lines, n_distinct_lines,
    dup_line_frac, dup_line_char_frac, top_bigram, top_bigram_cnt,
    top_bigram_char_frac, keep. Character fractions are measured
    against the total line characters (separators excluded), so both
    engines agree exactly. Total over the input: documents with no
    non-empty lines (empty / whitespace-only text — common in crawled
    corpora) still get a row, with all counts 0, all fractions 0.0
    and ``keep = true`` (no repetition evidence is not a rejection;
    emptiness is the length filter's job, textfn.quality_features).
    """
    did = F.col(doc_id_col)
    base = df.select(
        did.alias("doc_id"),
        doc_lines(F.col(text_col)).alias("lines"),
        ws_tokens(F.col(text_col)).alias("tk"),
    )

    # duplicate-line stats: explode -> per-(doc, line) count -> per-doc
    per_line = (
        base.select("doc_id", F.explode("lines").alias("line"))
        .groupBy("doc_id", "line")
        .agg(F.count("*").alias("cnt"))
    )
    line_stats = per_line.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        F.count("*").alias("n_distinct_lines"),
        F.sum(F.col("cnt") * F.length("line")).alias("line_chars"),
        F.sum((F.col("cnt") - F.lit(1)) * F.length("line")).alias("dup_line_chars"),
    )

    # most frequent word 2-gram: argmax via one struct-max (ties broken
    # by the lexicographically greatest gram — row_number ORDER BY
    # cnt DESC, gram DESC in the DuckDB twin)
    n = F.size("tk")
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at("tk", i), F.element_at("tk", i + 1)),
        ),
    ).otherwise(_empty_str_array())
    per_gram = (
        base.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    top = per_gram.groupBy("doc_id").agg(
        F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("tg")
    )

    # left-join onto the full input id set (the line_dedup totals
    # discipline) so line-less documents survive with zeroed counts
    out = (
        base.select("doc_id")
        .join(line_stats, "doc_id", "left")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce(F.col("n_distinct_lines"), F.lit(0))
            .cast("bigint")
            .alias("n_distinct_lines"),
            F.coalesce(F.col("line_chars"), F.lit(0)).alias("line_chars"),
            F.coalesce(F.col("dup_line_chars"), F.lit(0)).alias("dup_line_chars"),
            F.col("tg"),
        )
    )
    dup_line_frac = F.when(
        F.col("n_lines") > 0,
        (F.col("n_lines") - F.col("n_distinct_lines")).cast("double") / F.col("n_lines"),
    ).otherwise(F.lit(0.0))
    dup_char_frac = F.when(
        F.col("line_chars") > 0,
        F.col("dup_line_chars").cast("double") / F.col("line_chars"),
    ).otherwise(F.lit(0.0))
    top_chars = F.coalesce(F.col("tg.cnt") * F.length("tg.gram"), F.lit(0))
    top_frac = F.when(
        F.col("line_chars") > 0, top_chars.cast("double") / F.col("line_chars")
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        "n_lines",
        "n_distinct_lines",
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_line_char_frac"),
        F.coalesce(F.col("tg.gram"), F.lit("")).alias("top_bigram"),
        F.coalesce(F.col("tg.cnt"), F.lit(0)).cast("bigint").alias("top_bigram_cnt"),
        top_frac.alias("top_bigram_char_frac"),
        (
            (dup_line_frac <= F.lit(max_dup_line_frac))
            & (dup_char_frac <= F.lit(max_dup_line_char_frac))
            & (top_frac <= F.lit(max_top_bigram_char_frac))
        ).alias("keep"),
    )


MAX_DUP_PARA_FRAC = 0.30
MAX_DUP_PARA_CHAR_FRAC = 0.20


def doc_paragraphs(text):
    """Non-empty paragraphs: blocks separated by one-or-more blank
    lines (``\\n{2,}`` — any run of 2+ newlines is one separator, so
    triple-blank gaps don't synthesize empty paragraphs)."""
    return F.filter(F.split(text, "\n{2,}"), lambda p: p != "")


def paragraph_repetition_features(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_para_frac: float = MAX_DUP_PARA_FRAC,
    max_dup_para_char_frac: float = MAX_DUP_PARA_CHAR_FRAC,
) -> DataFrame:
    """Gopher §A1.1 duplicate-PARAGRAPH rules — the paragraph half of
    the published repetition table (repetition_features covers the
    line half; together with the n-gram family the three give the
    full repetition section).

    One row per input document (total — line-less/empty docs get
    zeroed counts and keep=true, the repetition_features policy):
    n_paras, n_distinct_paras, dup_para_frac, dup_para_char_frac,
    keep at the published thresholds (0.30 / 0.20). Character
    fractions are measured against total paragraph characters
    (separators excluded) exactly as the line rules do, so the
    DuckDB twin agrees bit-for-bit.

    100-TB shape: identical to the line rules — explode to
    (doc, paragraph) rows, two map-side-partial hash aggregates
    keyed by doc_id, left-join back onto the id set. No window over
    paragraph-partitions, nothing driver-side.
    """
    did = F.col(doc_id_col)
    base = df.select(did.alias("doc_id"), doc_paragraphs(F.col(text_col)).alias("paras"))
    per_para = (
        base.select("doc_id", F.explode("paras").alias("para"))
        .groupBy("doc_id", "para")
        .agg(F.count("*").alias("cnt"))
    )
    stats = per_para.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_paras"),
        F.count("*").alias("n_distinct_paras"),
        F.sum(F.col("cnt") * F.length("para")).alias("para_chars"),
        F.sum((F.col("cnt") - F.lit(1)) * F.length("para")).alias("dup_para_chars"),
    )
    out = (
        base.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_paras"), F.lit(0)).cast("bigint").alias("n_paras"),
            F.coalesce(F.col("n_distinct_paras"), F.lit(0))
            .cast("bigint")
            .alias("n_distinct_paras"),
            F.coalesce(F.col("para_chars"), F.lit(0)).alias("para_chars"),
            F.coalesce(F.col("dup_para_chars"), F.lit(0)).alias("dup_para_chars"),
        )
    )
    dup_frac = F.when(
        F.col("n_paras") > 0,
        (F.col("n_paras") - F.col("n_distinct_paras")).cast("double") / F.col("n_paras"),
    ).otherwise(F.lit(0.0))
    dup_char_frac = F.when(
        F.col("para_chars") > 0,
        F.col("dup_para_chars").cast("double") / F.col("para_chars"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id",
        "n_paras",
        "n_distinct_paras",
        dup_frac.alias("dup_para_frac"),
        dup_char_frac.alias("dup_para_char_frac"),
        (
            (dup_frac <= F.lit(max_dup_para_frac))
            & (dup_char_frac <= F.lit(max_dup_para_char_frac))
        ).alias("keep"),
    )


def _unit_dedup(
    df: DataFrame,
    doc_id_col: str,
    text_col: str,
    units_fn,
    join_sep: str,
    total_col: str,
) -> DataFrame:
    """Corpus-level first-occurrence dedup over one text unit (line or
    paragraph): keep only the globally-first occurrence of every
    distinct unit (keeper = min (doc_id, position)); rebuild each
    document from its surviving units in original order. Shared core
    of :func:`line_dedup` / :func:`paragraph_dedup`."""
    did = F.col(doc_id_col)
    base = df.select(did.alias("doc_id"), units_fn(F.col(text_col)).alias("units"))
    exploded = base.select(
        "doc_id", F.posexplode("units").alias("pos", "unit")
    )
    # one hash aggregate per distinct unit: min(struct(doc_id, pos))
    # IS the kept occurrence, so its output is directly the survivor
    # row set — map-side partial collapses hot boilerplate units
    # before the Exchange and AQE can skew-split it (a window-min
    # partitionBy(unit) keeper would put every occurrence of a hot
    # unit in one un-splittable task; see the module scale notes)
    kept = (
        exploded.groupBy("unit")
        .agg(F.min(F.struct("doc_id", "pos")).alias("keeper"))
        .select(
            F.col("keeper.doc_id").alias("doc_id"),
            F.col("keeper.pos").alias("pos"),
            "unit",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                    lambda s: s["unit"],
                ),
                join_sep,
            ).alias("text_dedup"),
        )
    )
    totals = base.select("doc_id", F.size("units").cast("bigint").alias(total_col))
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        total_col,
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        (F.col(total_col) - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
    )


def line_dedup(
    df: DataFrame, doc_id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level line dedup: keep only the globally-first occurrence
    of every distinct line (keeper = min (doc_id, position)); rebuild
    each document from its surviving lines in original order.

    Returns (doc_id, n_lines, n_kept, n_removed, text_dedup) for every
    input document — documents whose lines were all removed survive
    with empty text, so the operator is total and idempotent.
    """
    return _unit_dedup(df, doc_id_col, text_col, doc_lines, "\n", "n_lines")


def paragraph_dedup(
    df: DataFrame, doc_id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-level PARAGRAPH dedup — the exact-substring granularity
    RefinedWeb (Penedo et al. 2023) and MassiveText run between line
    dedup and span dedup: keep only the globally-first occurrence of
    every distinct paragraph (blank-line separated block), rebuild
    each document from its surviving paragraphs in original order
    (joined by one blank line).

    Returns (doc_id, n_paras, n_kept, n_removed, text_dedup) for
    every input document — total and idempotent like line_dedup, and
    the same straggler-free plan shape (min-struct keeper, never a
    window over paragraph partitions).
    """
    return _unit_dedup(df, doc_id_col, text_col, doc_paragraphs, "\n\n", "n_paras")


# Gopher §A1.1 published n-gram thresholds (Rae et al. 2021, Table A1):
# a document is dropped when the fraction of characters covered by its
# most frequent word n-gram (n = 2, 3, 4) or by ANY duplicated word
# n-gram (n = 5..10) exceeds the per-n limit.
TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def ngram_repetition_features(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    top_thresholds: dict[int, float] = TOP_NGRAM_THRESHOLDS,
    dup_thresholds: dict[int, float] = DUP_NGRAM_THRESHOLDS,
) -> DataFrame:
    """The full Gopher §A1.1 n-gram repetition family — completes
    :func:`repetition_features` (which carries the line rules and the
    top-bigram signal) with every published n-gram rule.

    Per document: ``top{n}_char_frac`` for n = 2, 3, 4 (characters of
    the most frequent word n-gram × its count, over total stream
    chars) and ``dup{n}_char_frac`` for n = 5..10 (characters covered
    by AT LEAST one occurrence of any n-gram appearing ≥ 2 times in
    the document — the paper's "taking care not to count characters
    multiple times", computed as an exact position-set union, not
    DataTrove's greedy left-to-right approximation), plus ``keep`` at
    the published thresholds. Characters are measured on the
    whitespace-joined token stream: token lengths plus one separator
    between adjacent tokens; a separator counts as covered when some
    single occurrence covers both its neighbours. Total over the
    input: token-less documents get zero fractions and keep = true.
    The doc id keeps its input type.

    Why union semantics are exactly SQL-stateable: each duplicated
    n-gram occurrence at 1-based token position p covers tokens
    [p, p+n-1] and separators [p, p+n-2]; DISTINCT over the exploded
    cover positions is the union, and a max() over the per-position
    separator flag preserves "covered with its right separator by
    some occurrence". ``queries.DOC_NGRAM_REPETITION_SQL``, the DuckDB
    oracle that pins this operator, states that construction; the
    fractions are single int/int IEEE divisions and top-gram ties
    break on the gram string (Python's codepoint order is the
    engines' UTF-8 binary order), so rows hash bit-for-bit.

    Scale shape (100 TB): the whole family is document-LOCAL work, so
    one mapInPandas computes every feature with ZERO exchanges — no
    gram explode, no gram-string shuffle, nothing on the driver.
    """
    top_ns = sorted(top_thresholds)
    dup_ns = sorted(dup_thresholds)

    def run(it):
        for pdf in it:
            cols: dict[str, list] = {c: [] for c in ("doc_id", "total_chars")}
            for n in top_ns:
                cols[f"top{n}_char_frac"] = []
            for n in dup_ns:
                cols[f"dup{n}_char_frac"] = []
            cols["keep"] = []
            for did, text in zip(pdf[doc_id_col], pdf[text_col]):
                tk = ws_split(text)
                sz = len(tk)
                lens = [len(t) for t in tk]
                total = sum(lens) + sz - 1 if sz else 0
                cols["doc_id"].append(did)
                cols["total_chars"].append(total)
                keep = True
                for n in top_ns:
                    chars = 0
                    if sz >= n:
                        cnt: dict[str, int] = {}
                        for i in range(sz - n + 1):
                            g = " ".join(tk[i : i + n])
                            cnt[g] = cnt.get(g, 0) + 1
                        c, g = max((c, g) for g, c in cnt.items())
                        chars = c * len(g)
                    fr = float(chars) / total if total > 0 else 0.0
                    cols[f"top{n}_char_frac"].append(fr)
                    keep = keep and fr <= top_thresholds[n]
                for n in dup_ns:
                    chars = 0
                    if sz >= n:
                        occ: dict[str, list[int]] = {}
                        for i in range(1, sz - n + 2):
                            g = " ".join(tk[i - 1 : i - 1 + n])
                            occ.setdefault(g, []).append(i)
                        cover: dict[int, bool] = {}
                        for ps in occ.values():
                            if len(ps) < 2:
                                continue
                            for p in ps:
                                for c in range(p, p + n):
                                    sep = c <= p + n - 2
                                    if sep or c not in cover:
                                        cover[c] = cover.get(c, False) or sep
                        if cover:
                            chars = sum(lens[c - 1] for c in cover) + sum(
                                1 for s in cover.values() if s
                            )
                    fr = float(chars) / total if total > 0 else 0.0
                    cols[f"dup{n}_char_frac"].append(fr)
                    keep = keep and fr <= dup_thresholds[n]
                cols["keep"].append(keep)
            yield pd.DataFrame(cols)

    schema = StructType(
        [
            StructField("doc_id", df.schema[doc_id_col].dataType),
            StructField("total_chars", LongType()),
        ]
        + [StructField(f"top{n}_char_frac", DoubleType()) for n in top_ns]
        + [StructField(f"dup{n}_char_frac", DoubleType()) for n in dup_ns]
        + [StructField("keep", BooleanType())]
    )
    return df.select(F.col(doc_id_col), F.col(text_col)).mapInPandas(run, schema)


def sentence_dedup(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level SENTENCE dedup — the third granularity of the
    _unit_dedup family (docs -> paragraphs -> lines -> sentences ->
    spans is the full coarse-to-fine ladder; sentence granularity is
    what a RAG index deduplicates before chunking, and what C4-style
    line rules approximate when lines are sentence-ish). Keeper and
    scale shape are the shared straggler-free core: min(doc_id, pos)
    struct aggregate per distinct sentence, never a window over
    sentence partitions. Rebuilt text joins surviving sentences with
    single spaces (terminal punctuation survives inside each
    sentence, so segmentation round-trips)."""
    from ..functions.sentences import sentences

    return _unit_dedup(df, doc_id_col, text_col, sentences, " ", "n_sentences")
