"""Corpus vocabulary building and coverage — the tokenizer-prep step
of a training-data pipeline: the global top-k unigram relation (the
seed vocabulary / frequency table a BPE trainer consumes) and the
per-document in-vocabulary coverage signal (OOV-heavy documents are a
standard quality cull, cf. CCNet's LM-perplexity gate which this
complements with a model-free signal).

100-TB shape:
- ``vocab_topk``: explode -> hash-aggregate with map-side partial
  combine (the only corpus-wide exchange carries (word, partial
  count) pairs, not text), then a rank over the VOCABULARY-sized
  aggregate (bounded: web-corpus distinct-word counts are ~10^8,
  and the window input is the aggregated relation, never the corpus).
  The final ``limit k`` is driver-bounded by construction.
- ``vocab_coverage``: the vocabulary is top-k (bounded), so it ships
  as a broadcast hash join against the exploded token relation; the
  per-doc re-aggregate groups on doc_id with map-side partials. Text
  itself never joins or shuffles — only (doc_id, token) pairs.

Determinism: ties in the top-k cut are broken by word ascending, so
the vocabulary is a pure function of the corpus (no hash ordering).

Reference parity note: the geospatial reference has no text pipeline;
this module is part of the web-scale training-data mandate
(SURVEY.md §2.E).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textfn


def _tokens_lower(df: DataFrame, doc_id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(doc_id_col).alias("_doc"),
        F.explode(textfn.tokens(F.lower(F.col(text_col)))).alias("word"),
    )


def vocab_topk(
    df: DataFrame,
    k: int,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The top-``k`` lowercased whitespace unigrams: (word, n_occ,
    n_docs, rank), rank 1-based by count desc then word asc."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    counts = (
        _tokens_lower(df, doc_id_col, text_col)
        .groupBy("word")
        .agg(
            F.count("*").alias("n_occ"),
            F.count_distinct("_doc").alias("n_docs"),
        )
    )
    # global top-k via orderBy().limit(k): Spark plans this as
    # TakeOrderedAndProject (per-partition partial top-k, merge of k
    # each) — never a single-partition global sort/window over the
    # whole vocabulary. The rank window then runs over k rows only.
    top = counts.orderBy(F.desc("n_occ"), F.asc("word")).limit(k)
    w = Window.orderBy(F.desc("n_occ"), F.asc("word"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "word", "n_occ", "n_docs", "rank"
    )


def vocab_coverage(
    df: DataFrame,
    vocab: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary coverage against a bounded ``vocab``
    relation (a ``word`` column, e.g. vocab_topk output): one row per
    input document (total — zero-token docs get zeroed counts and
    oov_rate 0.0) with n_tokens, n_in_vocab, n_oov, oov_rate."""
    toks = _tokens_lower(df, doc_id_col, text_col)
    hits = (
        toks.join(
            F.broadcast(vocab.select(F.col("word"), F.lit(True).alias("_in"))),
            "word",
            "left",
        )
        .groupBy("_doc")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in"), 1).otherwise(0)).alias("n_in_vocab"),
        )
    )
    base = df.select(F.col(doc_id_col).alias("_doc")).distinct()
    out = base.join(hits, "_doc", "left").select(
        F.col("_doc").alias(doc_id_col),
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("n_in_vocab", F.lit(0)).cast("bigint").alias("n_in_vocab"),
    )
    return out.withColumns(
        {
            "n_oov": (F.col("n_tokens") - F.col("n_in_vocab")).alias("n_oov"),
            "oov_rate": F.when(
                F.col("n_tokens") > 0,
                (F.col("n_tokens") - F.col("n_in_vocab")).cast("double")
                / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
        }
    )


def freq_spectrum(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The token frequency-of-frequencies spectrum — the corpus
    diagnostic behind Zipf/Heaps sanity checks and Good-Turing
    smoothing mass: one row per occurrence count f with the number of
    distinct word types occurring exactly f times, plus each class's
    share of types and of the token mass. A healthy crawl shows the
    hapax class (f = 1) carrying roughly half the types; boilerplate-
    heavy or template-generated corpora collapse the spectrum — a
    one-glance corpus-health probe before spending tokenizer/training
    compute.

    100-TB shape: two chained hash aggregates — (word -> count), then
    (count -> types) — both map-side partial; the second input is the
    VOCABULARY-sized relation, its output spectrum is ~thousands of
    rows. Shares divide by corpus totals computed in the same tiny
    relation (no second scan, no window over the corpus).
    """
    counts = (
        _tokens_lower(df, doc_id_col, text_col).groupBy("word").agg(F.count("*").alias("_f"))
    )
    spec = counts.groupBy(F.col("_f").alias("freq")).agg(
        F.count("*").alias("n_types")
    )
    tot = spec.agg(
        F.sum("n_types").alias("_vt"),
        F.sum(F.col("freq") * F.col("n_types")).alias("_tt"),
    )
    return (
        spec.crossJoin(F.broadcast(tot))
        .select(
            "freq",
            "n_types",
            (F.col("freq") * F.col("n_types")).alias("n_tokens"),
            (F.col("n_types").cast("double") / F.col("_vt")).alias("type_share"),
            ((F.col("freq") * F.col("n_types")).cast("double") / F.col("_tt")).alias(
                "token_share"
            ),
        )
        .orderBy("freq")
    )


def ngram_topk(
    df: DataFrame,
    n: int,
    k: int,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The corpus-wide most-common token ``n``-grams — the WIMBD
    "most common n-grams" analysis (Elazar et al. 2023, "What's In My
    Big Data?", §3.2): one row per gram in the global top-``k`` with
    (gram, n_occ, n_docs, rank), rank 1-based by occurrence count desc
    then gram asc. Corpus curators run this to spot boilerplate
    templates, SEO spam phrases, and dataset-specific artifacts before
    training; the same relation seeds phrase-level blocklists.

    Occurrences are counted over EVERY gram position (not per-doc
    distinct — WIMBD counts mass), n_docs over distinct documents.
    Tokenization is lowercased whitespace splitting (the
    doc_token_counts contract); grams are built by one JVM
    ``transform`` over a ``sequence`` — no Python, no UDF.

    100-TB shape: the gram fan-out is per-row (zero shuffle), the only
    corpus-wide exchange carries (gram, partial count, partial
    doc-count) pairs with map-side partial aggregation, and the global
    top-k plans as TakeOrderedAndProject (per-partition partial top-k,
    merge of k per partition) — never a global sort. At production
    scale you'd pre-hash grams to xxhash64 for the exchange and join
    the top-k back for display strings; the fixture keeps raw grams so
    the DuckDB twin is bit-exact.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    # gram construction in a batch UDF over the JVM-lowered text: the
    # former transform(sequence)/array_join(slice) pair is interpreted
    # per WINDOW (the inlined token split re-ran per element); Python
    # slicing over the whitespace split builds the identical strings
    # once per document. Lowercasing stays F.lower (JVM semantics).
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    from ..functions.textfn import ws_split

    @pandas_udf(ArrayType(StringType()))
    def _grams(texts):
        import pandas as pd

        out = []
        for t in texts:
            tk = ws_split(t)
            out.append(
                [" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)]
            )
        return pd.Series(out)

    ex = df.select(
        F.col(doc_id_col).alias("_doc"),
        F.explode(_grams(F.lower(F.col(text_col)))).alias("gram"),
    )
    counts = ex.groupBy("gram").agg(
        F.count("*").alias("n_occ"),
        F.count_distinct("_doc").alias("n_docs"),
    )
    top = counts.orderBy(F.desc("n_occ"), F.asc("gram")).limit(k)
    w = Window.orderBy(F.desc("n_occ"), F.asc("gram"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "gram", "n_occ", "n_docs", "rank"
    )
