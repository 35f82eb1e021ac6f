"""Exact substring (token-span) deduplication for web-text corpora.

The ExactSubstr operator of "Deduplicating Training Data Makes
Language Models Better" (Lee et al., ACL 2022): any token window of
length ``w`` that occurs more than once ANYWHERE in the corpus —
across documents or repeated inside one — is a duplicated span, and
every token it covers is removed from the cleaned text. Unlike
MinHash/SimHash (whole-document near-dup, operators/dedup.py) and
line dedup (operators/repetition.py), this catches partial overlap:
boilerplate sentences, quoted passages, templated fragments embedded
in otherwise-unique pages.

Reference parity: the reference repo is the geospatial half of this
graft and has no text pipeline; this extends the LLM-data-pipeline
family (the training-data-pipeline mandate; README capability table) alongside dedup.py / repetition.py /
decontaminate.py.

Scale shape (100 TB corpus). Lee et al. build a monolithic suffix
array; the distributed re-expression is window-hashing, and the plan
is staged so no token-level row is ever shuffled:

1. one corpus scan emits (id, pos, gram) window occurrences — at
   fixture scale the join key is the gram STRING so the DuckDB oracle
   (queries.SPAN_DEDUP_SQL) is bit-exact; at production scale
   pre-hash to ``xxhash64(gram)`` (8-byte keys, the decontaminate.py
   contract) so every shuffled row is (hash, id, pos) ≈ 24 B
   regardless of w;
2. duplicated grams = one groupBy(gram) count + filter — map-side
   partial, then ONE shuffle join back to occurrences. The dup set
   is corpus-sized (NOT broadcast — unlike the benchmark set in
   decontaminate.py, which is bounded);
3. the covered positions are w small ints per dup window — the
   explode factor applies to dup windows only, never the whole
   corpus — and reach each document as one bounded position list;
   one per-document pass then drops the covered tokens (clean docs
   short-circuit to a whitespace re-join of their own tokens).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.textfn import ws_split


def window_occurrences(
    docs: DataFrame, w: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, pos, gram) for every consecutive w-token window; pos is
    1-based and the gram is the window's tokens joined by ' '. Docs
    with fewer than w tokens emit nothing. Built in a mapInPandas
    (plain Python slicing, no per-window higher-order functions); the
    id keeps its input type."""

    def run(it):
        for pdf in it:
            ids, poss, grams = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                tk = ws_split(text)
                for i in range(len(tk) - w + 1):
                    ids.append(did)
                    poss.append(i + 1)
                    grams.append(" ".join(tk[i : i + w]))
            yield pd.DataFrame({id_col: ids, "pos": poss, "gram": grams})

    schema = StructType([
        StructField(id_col, docs.schema[id_col].dataType),
        StructField("pos", IntegerType()),
        StructField("gram", StringType()),
    ])
    return docs.select(id_col, text_col).mapInPandas(run, schema)


def substring_dedup(
    docs: DataFrame,
    w: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-span report + span-removed text.

    Returns (id, n_tokens, n_windows, n_dup_windows, covered_tokens,
    dup_frac, text_clean): window counts, how many of the doc's
    windows are duplicated corpus-wide (total occurrence count >=
    min_count, same-doc repeats included), how many token positions
    any duplicated window covers, covered/n_tokens, and the text with
    every covered token removed (surviving tokens re-joined with
    single spaces; whitespace is normalized as a side effect, the
    doc_token_counts tokenization contract). A NULL text has NULL
    n_tokens and an empty text_clean. The id keeps its input type.

    Stages: Python window extraction, relational corpus-wide dup
    detection (the only part that NEEDS a shuffle: groupBy(gram)
    count, join back, covered-position union), then one mapInPandas
    over (doc, covered-position list) that rebuilds the cleaned text —
    per-doc work, the list bounded by document length. The statement
    of the same relation is ``queries.SPAN_DEDUP_SQL``, the DuckDB
    oracle that pins this operator.
    """
    # one window-extraction scan total (the ngram_jaccard_pairs
    # localCheckpoint precedent): occ feeds the dup count AND the
    # join-back; without the checkpoint each branch re-runs the
    # extraction UDF over the corpus
    occ = window_occurrences(docs, w, id_col, text_col).localCheckpoint(eager=False)
    dup_grams = (
        occ.groupBy("gram")
        .agg(F.count("*").alias("_cnt"))
        .where(F.col("_cnt") >= min_count)
        .select("gram")
    )
    dup_occ = occ.join(dup_grams, "gram").select(id_col, "pos")
    dup_stats = dup_occ.groupBy(id_col).agg(F.count("*").alias("n_dup_windows"))
    covered = (
        dup_occ.select(
            id_col, F.explode(F.sequence(F.col("pos"), F.col("pos") + w - 1)).alias("_p")
        )
        .distinct()
    )
    cov = covered.groupBy(id_col).agg(
        F.count("*").alias("covered_tokens"), F.collect_list("_p").alias("_ps")
    )
    joined = (
        docs.select(id_col, text_col)
        .join(dup_stats, id_col, "left")
        .join(cov, id_col, "left")
    )

    def finalize(it):
        for pdf in it:
            out = {
                id_col: [], "n_tokens": [], "n_windows": [], "n_dup_windows": [],
                "covered_tokens": [], "dup_frac": [], "text_clean": [],
            }
            for did, text, nd, ct, ps in zip(
                pdf[id_col], pdf[text_col], pdf["n_dup_windows"],
                pdf["covered_tokens"], pdf["_ps"],
            ):
                ndi = 0 if pd.isna(nd) else int(nd)
                cti = 0 if pd.isna(ct) else int(ct)
                tk = ws_split(text)
                n = len(tk)
                if ndi == 0:
                    clean = " ".join(tk)
                else:
                    covset = set(int(p) for p in ps)
                    clean = " ".join(t for i, t in enumerate(tk, 1) if i not in covset)
                out[id_col].append(did)
                # the oracle's len(NULL) is NULL; greatest(NULL, 0) is 0
                out["n_tokens"].append(None if text is None else n)
                out["n_windows"].append(max(n - w + 1, 0))
                out["n_dup_windows"].append(ndi)
                out["covered_tokens"].append(cti)
                out["dup_frac"].append(float(cti) / float(n) if n > 0 else 0.0)
                out["text_clean"].append(clean)
            yield pd.DataFrame(out)

    schema = StructType(
        [StructField(id_col, docs.schema[id_col].dataType)]
        + [StructField(c, LongType()) for c in
           ("n_tokens", "n_windows", "n_dup_windows", "covered_tokens")]
        + [StructField("dup_frac", DoubleType()), StructField("text_clean", StringType())]
    )
    return joined.mapInPandas(finalize, schema)
