"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
scheme): hash every k-gram, slide a window of w consecutive gram
hashes, and keep the minimum hash of each window (rightmost position
on ties). The selected (hash, position) set is the fingerprint: any
shared substring of length >= w + k - 1 between two documents is
GUARANTEED to surface as a shared fingerprint hash — the local-
guarantee complement to the probabilistic MinHash/SimHash family in
operators/dedup.py.

100-TB shape:
- Gram hashing is a sequence() explode (the knn ring_candidates
  discipline) + the poly31 char fold over k-char grams (bounded
  arrays — the np_filters 65k-array rule does not apply).
- The window-minimum runs per document (Window.partitionBy(doc_id)
  ORDER BY position, a w-row frame): partition breadth is bounded by
  document length, and doc_id is a high-cardinality key — the
  opposite of line_dedup's hot-line hazard, no skew surface.
- Selection packs (hash, position) into ONE int64
  (hash * 2^32 + (2^32-1 - pos), min == (min hash, rightmost pos))
  so the frame aggregates a single long; the distinct-select output
  is fingerprint-density-sized (~2/(w+1) of grams), ids+longs only.
- Documents longer than 2^32-1 chars would collide in the packing —
  loud-fail guarded (the zc-cap discipline).

Cross-engine determinism: poly31 gram hashes match DuckDB's
list_reduce fold bit-for-bit (operators/dedup.poly31_hash contract);
packing/unpacking is integer arithmetic; the frame minimum is
order-free. Documents shorter than k chars produce zero grams and
zero fingerprints by design (documented drop; pair the output with a
left join when totality is needed, as tests/test_winnow.py shows).

Reference parity note: the geospatial reference has no text pipeline;
this module is part of the web-scale training-data mandate
(SURVEY.md §2.E).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..session import spread
from .dedup import poly31_hash, poly31_hash_np  # noqa: F401  (poly31_hash: oracle statement ref)

_POS_M = 1 << 32  # position packing modulus (max document length)


@pandas_udf(LongType())
def _poly31_batch_udf(s: pd.Series) -> pd.Series:
    """Vectorized bit-identical poly31 of a string column
    (dedup.poly31_hash_np) — replaces the interpreted per-character
    fold in the expr plan's per-position gram hashing. Same values,
    same plan shape otherwise (explode + frame window)."""
    h, _ = poly31_hash_np(s.tolist())
    return pd.Series(h)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "expr",
) -> DataFrame:
    """The winnowed fingerprint set: one row per selected
    (doc_id, pos, gram_hash), pos = 1-based gram start. Guarantees
    every match of length >= w + k - 1 is covered.

    ``impl``: 'expr' (default) is the column-expression plan whose
    every step has an exact DuckDB twin — gram hashes via the
    interpreted poly31 char fold, selection via a per-doc frame
    window (ONE doc_id exchange). 'arrow' computes each document's
    whole fingerprint set inside a vectorized pandas UDF (NumPy
    rolling hash + sliding-window min) — ZERO exchanges (winnowing
    is per-document-local work; the shuffle in 'expr' exists only to
    feed SQL window semantics) and no interpreted fold, the
    production fast path. Both return identical rows (pinned by
    tests/test_winnow.py) on BMP text; astral-plane characters carry
    the documented poly31 JVM-surrogate caveat in 'expr' while
    'arrow' hashes true codepoints (the DuckDB reading)."""
    if k <= 0 or w <= 0:
        raise ValueError(f"k and w must be positive, got {k}, {w}")
    if impl == "arrow":
        return _winnow_fingerprints_arrow(df, k, w, doc_id_col, text_col)
    if impl != "expr":
        raise ValueError(f"unknown impl {impl!r} (expr/arrow)")
    t = F.col(text_col)
    base = df.select(
        F.col(doc_id_col).alias("doc_id"),
        t.alias("_txt"),
        (F.length(t) - F.lit(k - 1)).cast("long").alias("_n"),
    ).where(F.col("_n") >= 1)
    grams = base.select(
        "doc_id",
        "_n",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("_n"))).alias("i"),
        F.col("_txt"),
    ).select(
        "doc_id",
        "_n",
        "i",
        _poly31_batch_udf(F.substring(F.col("_txt"), F.col("i").cast("int"), k)).alias(
            "_h"
        ),
    )
    # overflow guard: poly31 < 2^31 and pos < 2^32 keep the packed
    # key under 2^63; positions beyond the modulus must fail loudly
    packed = grams.select(
        "doc_id",
        "_n",
        "i",
        (
            F.when(
                F.col("i") < F.lit(_POS_M),
                F.col("_h") * F.lit(_POS_M) + (F.lit(_POS_M - 1) - F.col("i")),
            ).otherwise(
                F.raise_error(
                    F.lit(f"winnow_fingerprints: document exceeds {_POS_M - 1} chars")
                )
            )
        ).alias("_pk"),
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(Window.currentRow, w - 1)
    )
    sel = (
        packed.withColumn("_fp", F.min("_pk").over(frame))
        # only windows with a full w grams select a fingerprint
        .where(F.col("i") <= F.col("_n") - F.lit(w - 1))
        .select("doc_id", "_fp")
        .distinct()
    )
    return sel.select(
        "doc_id",
        (F.lit(_POS_M - 1) - F.col("_fp").bitwiseAND(F.lit(_POS_M - 1))).alias("pos"),
        F.shiftright("_fp", 32).alias("gram_hash"),
    )


def winnow_match_pairs(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = 128,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "expr",
) -> DataFrame:
    """Document pairs sharing winnowed fingerprints — the MOSS match
    step: (id_a, id_b, n_shared) with id_a < id_b and n_shared =
    |shared distinct fingerprint hashes| >= min_shared. Because of
    the winnowing guarantee, any common substring of length
    >= w + k - 1 contributes at least one shared hash, so (unlike the
    MinHash/SimHash gates) a miss means NO such substring exists —
    the exactness-per-match that makes this the plagiarism/quote
    detector of the family.

    100-TB shape: the inverted-index discipline of
    dedup.ngram_jaccard_pairs — the self-join runs on DISTINCT
    (doc, hash) rows (ids+longs only, text never shuffles), and
    hashes occurring in more than ``max_df`` documents are dropped
    first (boilerplate grams — headers, licence lines — would go
    quadratic in the bucket; a true near-dup pair keeps colliding on
    its other fingerprints, so the recall cost is bounded). Pass
    max_df=None to disable the cap (exact mode for bounded corpora).
    """
    fp = (
        winnow_fingerprints(df, k, w, doc_id_col, text_col, impl=impl)
        .select("doc_id", "gram_hash")
        .distinct()
    )
    if max_df is not None:
        fp = fp.join(
            fp.groupBy("gram_hash")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("gram_hash"),
            "gram_hash",
        )
    l, r = fp.alias("l"), fp.alias("r")
    return (
        l.join(
            r,
            (F.col("l.gram_hash") == F.col("r.gram_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def _winnow_packed(codes, k: int, w: int):
    """Packed fingerprint selection over one document's codepoint
    array — NumPy throughout: k vectorized rounds build the poly31
    rolling gram hashes, a stride-tricks window takes the per-window
    packed minimum (rightmost-on-ties via the position complement),
    np.unique dedups. Returns int64 packed keys (hash*2^32 + pos')."""
    p = (1 << 31) - 1
    n = codes.size - (k - 1)
    if n < 1:
        return np.empty(0, dtype=np.int64)
    h = np.zeros(n, dtype=np.int64)
    for j in range(k):
        h = (h * 1000003 + codes[j : j + n]) % p
    i = np.arange(1, n + 1, dtype=np.int64)
    pk = h * _POS_M + (_POS_M - 1 - i)
    if n < w:
        return np.empty(0, dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(pk, w)
    return np.unique(win.min(axis=1))


def _winnow_fingerprints_arrow(
    df: DataFrame, k: int, w: int, doc_id_col: str, text_col: str
) -> DataFrame:
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(ArrayType(LongType()))
    def fps(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None or len(t) < k:
                out.append([])
                continue
            if len(t) >= _POS_M:
                raise ValueError(
                    f"winnow_fingerprints: document exceeds {_POS_M - 1} chars"
                )
            # utf-32-le decode = one uint32 per codepoint, C-speed
            # (identical values to the per-char ord() loop)
            codes = np.frombuffer(t.encode("utf-32-le"), dtype="<u4").astype(np.int64)
            out.append(_winnow_packed(codes, k, w).tolist())
        return pd.Series(out)

    src = spread(df.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("_txt")))
    sel = src.select(
        "doc_id", F.explode(fps(F.col("_txt"))).alias("_fp")
    )
    return sel.select(
        "doc_id",
        (F.lit(_POS_M - 1) - F.col("_fp").bitwiseAND(F.lit(_POS_M - 1))).alias("pos"),
        F.shiftright("_fp", 32).alias("gram_hash"),
    )
