"""Keyword-lexicon topic classification for domain mixing.

Corpus curation pipelines bucket documents into coarse topics before
mixing (WebOrganizer, Wettig et al. 2025, runs a topic classifier and
rebalances topic shares; Dolma and ROOTS tag source/domain buckets) —
the cheapest production-credible form is a curated keyword lexicon:
per topic, a list of indicator words; a document's topic is the
argmax of lexicon-hit counts, with deterministic tie-breaks and an
explicit 'other' bucket when nothing matches. The emitted shares feed
the mixture samplers (operators/sampling.py) directly.

100-TB shape: the lexicon is tiny and BROADCAST; the corpus explodes
to (doc_id, token) pairs that probe the broadcast map-side, the
per-(doc, topic) hit counts aggregate with map-side partials, and the
argmax is one more map-side-combinable min(struct) aggregate — text
never shuffles, no window over the corpus, totality restored by one
left join from the id relation.

Determinism: argmax uses min(struct(-hits, topic)) — most hits first,
lexicographically-first topic on ties — the struct-argmax discipline
of operators/repetition.py.

Reference parity note: the geospatial reference has no text pipeline;
this module is part of the web-scale training-data mandate
(SURVEY.md §2.E).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import ws_tokens

# the fixture-register default lexicon (the corpus is Spark-jargon
# text); callers pass their own curated lexicon in production
DEFAULT_LEXICON: dict[str, tuple[str, ...]] = {
    "joins": ("join", "merge", "hash", "key"),
    "scans": ("scan", "filter", "column", "row"),
    "streaming": ("stream", "window", "batch", "line"),
    "sorting": ("sort", "order", "group", "agg"),
    "storage": ("table", "part", "data", "value"),
}


def topic_assign(
    docs: DataFrame,
    lexicon: dict[str, tuple[str, ...]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    other_label: str = "other",
) -> DataFrame:
    """One row per input document (total): (id, topic, n_hits,
    n_tokens, topic_share) — topic = argmax lexicon-hit count
    (ties: lexicographically first topic), ``other`` with 0 hits when
    no lexicon word occurs. topic_share = n_hits / n_tokens (one IEEE
    division of exact longs; 0.0 for token-less docs).

    A word listed under several topics counts for each (curated
    lexicons keep topics disjoint; the operator doesn't assume it).
    """
    lex = lexicon if lexicon is not None else DEFAULT_LEXICON
    if not lex:
        raise ValueError("lexicon must be non-empty")
    entries = [(t, w) for t, ws in sorted(lex.items()) for w in ws]
    lex_df = F.broadcast(
        docs.sparkSession.createDataFrame(entries, "topic string, word string")
    )
    toks = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("word"),
    )
    hits = (
        toks.join(lex_df, "word")
        .groupBy("_id", "topic")
        .agg(F.count("*").alias("_n"))
    )
    best = hits.groupBy("_id").agg(
        F.min(F.struct((-F.col("_n")).alias("_neg"), F.col("topic"))).alias("_b")
    )
    counts = docs.select(
        F.col(id_col).alias("_id"),
        F.size(
            ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        ).cast("bigint").alias("n_tokens"),
    )
    return counts.join(best, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce(F.col("_b.topic"), F.lit(other_label)).alias("topic"),
        F.coalesce(-F.col("_b._neg"), F.lit(0)).cast("bigint").alias("n_hits"),
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(-F.col("_b._neg"), F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double"),
        ).otherwise(F.lit(0.0)).alias("topic_share"),
    )


def topic_shares(assigned: DataFrame) -> DataFrame:
    """Corpus-level topic distribution from topic_assign output:
    (topic, n_docs, n_tokens, doc_share) — the relation a mixture
    sampler consumes. One vocabulary-bounded aggregate."""
    tot = assigned.agg(F.count("*").alias("_t"))
    per = assigned.groupBy("topic").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "topic",
        "n_docs",
        "n_tokens",
        (F.col("n_docs").cast("double") / F.col("_t").cast("double")).alias("doc_share"),
    )
