"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
score raw-corpus documents by how target-like they are under hashed
n-gram language models, then resample with the Gumbel-top-k trick.

The published recipe, re-expressed Spark-first:

- features: unigrams + word bigrams of the whitespace token stream,
  hashed into ``buckets`` counting bins (here the 31-bit polynomial
  fold ``dedup.poly31_hash`` mod B, the cross-engine-stateable hash
  the SimHash family established);
- bag-of-hashed-ngrams models for the target and raw corpora:
  p[b] = (cnt_b + k) / (total + k·B) (add-k smoothing);
- importance weight of a document: log p_target(x) − log p_raw(x)
  = Σ_grams (ln p_t[bucket] − ln p_r[bucket]);
- selection: top-k of weight + Gumbel noise — the Gumbel-top-k trick
  samples k documents WITHOUT replacement proportional to
  exp(weight), i.e. the paper's importance resampling. Noise is
  derived deterministically from a universal hash of the document id
  (u = ((a·id + b) mod p + 1)/(p + 1), g = −ln(−ln u)), so the
  sample is reproducible and cluster-size invariant — the
  operators/sampling.py discipline.

Reference parity: the reference repo is the geospatial half of this
graft and has no text pipeline; this extends the LLM-data-pipeline
family's data-mixing axis (stratified_sample selects by metadata
rates; DSIR selects by target-likeness).

Scale shape (100 TB raw corpus, target corpus ≪ raw):
- both bucket models are ONE map-side-partial groupBy each, reduced
  to a ≤ B-row relation (B ~ 10⁴–10⁶): corpus text is scanned once
  per side and never shuffled — only (bucket, count) longs move;
- the per-bucket log-ratio relation (≤ B rows) is BROADCAST to the
  scoring join, so the corpus-sized gram stream joins map-side and
  combines into per-doc sums with partial aggregation — no
  corpus-wide exchange keyed on anything but doc_id;
- Gumbel-top-k is a TakeOrdered (distributed per-partition top-k +
  driver merge of k rows), never a single-partition global window.

Cross-engine determinism (the lmscore.py recipe): the per-bucket
log-ratio is computed with ONE op order, per-doc sums are quantized
to round(sum·10⁶) — float64 libm/accumulation-order noise is
~1e-15/term, ten orders under the quantum — and ranks tie-break on
doc_id, so the DuckDB oracle (queries.DOC_DSIR_SQL) hashes the full
weight relation and the selected set bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..functions.textfn import ws_split
from ..session import spread
from .dedup import poly31_hash_np, poly31_pows

_P31 = (1 << 31) - 1
DEFAULT_BUCKETS = 10007
DEFAULT_SMOOTH_K = 0.5


def gumbel_params(seed: int = 42) -> tuple[int, int]:
    """Deterministic (a, b) of the universal hash behind the Gumbel
    noise — shared with the DuckDB oracle."""
    rng = np.random.RandomState(seed)
    return int(rng.randint(1, _P31)), int(rng.randint(0, _P31))


def _gram_buckets_udf(buckets: int):
    """Vectorized per-document gram→bucket pipeline: one
    array<bigint> of bucket ids per document, one entry per gram
    occurrence (unigrams then bigrams — downstream is aggregation, so
    order is irrelevant but kept anyway).

    The grams and their buckets are those of the oracle
    (``queries._DSIR_GRAMS_CTE`` / ``_DSIR_BUCKET``): tokens are the
    ``textfn.ws_split`` split, unigram hashes come from the vectorized
    poly31 fold (dedup.poly31_hash_np), and each bigram hash is
    DERIVED from its token hashes instead of re-walking the joined
    string — hash(a·" "·b) = (h_a·m^(Lb+1) + 32·m^Lb + h_b) mod p
    with L in code points (products < 2^62, exact in int64). No
    per-character fold and no per-gram string building runs in the
    hot path; guide §4.2's batch-native-compute rule. At 100-TB the
    shape is unchanged — the UDF is a per-row projection, all
    shuffles still carry (bucket|_id, count) longs only."""

    @pandas_udf(ArrayType(LongType()))
    def gb(texts: pd.Series) -> pd.Series:
        toks_per_doc = [ws_split(t) for t in texts]
        counts = np.fromiter(
            (len(x) for x in toks_per_doc), dtype=np.int64, count=len(toks_per_doc)
        )
        flat = [w for toks in toks_per_doc for w in toks]
        h, lens = poly31_hash_np(flat)
        off = np.concatenate(([0], np.cumsum(counts)))
        # bigram pairs: positions (i, i+1) within one document; a pair
        # is invalid when it straddles an interior doc boundary
        valid = np.ones(max(len(flat) - 1, 0), dtype=bool)
        b = off[1:-1] - 1
        valid[b[(b >= 0) & (b < len(valid))]] = False
        idx = np.flatnonzero(valid)
        pw = poly31_pows(int(lens.max()) + 2 if len(lens) else 2)
        lb = lens[idx + 1]
        bh = (h[idx] * pw[lb + 1] + 32 * pw[lb] + h[idx + 1]) % _P31
        ub = h % buckets
        bb = bh % buckets
        uni = np.split(ub, off[1:-1]) if len(counts) else []
        # bigram count per doc = max(n_tok - 1, 0); boundary pairs removed
        bcounts = np.maximum(counts - 1, 0)
        boff = np.cumsum(bcounts)[:-1] if len(counts) else []
        bi = np.split(bb, boff)
        return pd.Series(
            [np.concatenate((u, b)).tolist() for u, b in zip(uni, bi)]
        )

    return gb


def _gram_occurrences(
    df: DataFrame, text_col: str, buckets: int, id_col: str | None = None
) -> DataFrame:
    """One row per gram occurrence: (bucket) or (_id, bucket)."""
    gb = _gram_buckets_udf(buckets)
    sel = spread(df.select(*([id_col] if id_col else []), text_col))
    if id_col is None:
        return sel.select(F.explode(gb(F.col(text_col))).alias("bucket"))
    return sel.select(
        F.col(id_col).alias("_id"), F.explode(gb(F.col(text_col))).alias("bucket")
    )


def _bucket_counts(df: DataFrame, text_col: str, buckets: int) -> DataFrame:
    """(bucket, cnt) model relation — one map-side-partial aggregate,
    ≤ ``buckets`` rows out."""
    return (
        _gram_occurrences(df, text_col, buckets)
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    k: float = DEFAULT_SMOOTH_K,
) -> DataFrame:
    """Per-document importance weights: (doc_id, n_grams, weight_q6)
    for every raw document, weight_q6 = round(1e6 · Σ log-ratio).
    Token-less documents weigh 0 (an empty product of likelihoods on
    both models). Total over the raw input.

    Grams are bucketed in the vectorized UDF (_gram_buckets_udf);
    the statement of the whole relation is ``queries.DOC_DSIR_SQL``,
    the DuckDB oracle that pins it."""
    cnt_t = _bucket_counts(target, text_col, buckets).withColumnRenamed("cnt", "ct")
    cnt_r = _bucket_counts(raw, text_col, buckets).withColumnRenamed("cnt", "cr")
    tot_t = cnt_t.agg(F.sum("ct").alias("tt"))
    tot_r = cnt_r.agg(F.sum("cr").alias("tr"))
    # ONE op order for the log-ratio, mirrored verbatim in the oracle:
    # ln((c + k) / (T + k*B)) per side, subtracted
    lr = (
        cnt_t.join(cnt_r, "bucket", "full_outer")
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(k))
                    / (F.coalesce(F.col("tt"), F.lit(0)) + F.lit(k) * F.lit(buckets))
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(k))
                    / (F.coalesce(F.col("tr"), F.lit(0)) + F.lit(k) * F.lit(buckets))
                )
            ).alias("lr"),
        )
    )
    occ = _gram_occurrences(raw, text_col, buckets, id_col=id_col)
    sums = (
        occ.join(F.broadcast(lr), "bucket")
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.round(F.sum("lr") * F.lit(1000000.0)).cast("bigint").alias("weight_q6"),
        )
    )
    ids = raw.select(F.col(id_col).alias("_id"))
    return ids.join(sums, "_id", "left").select(
        F.col("_id").alias(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("weight_q6", F.lit(0)).cast("bigint").alias("weight_q6"),
    )


def dsir_resample(
    weights: DataFrame,
    n_select: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Gumbel-top-k resampling over a dsir_weights relation: returns
    the ``n_select`` sampled rows (+ ``score_q6``), drawn without
    replacement proportional to exp(weight). Deterministic: the
    Gumbel noise comes from a universal hash of the id, ranks break
    ties by id, and the plan is a TakeOrdered — per-partition top-k,
    k-row driver merge, no global single-partition window."""
    a, b = gumbel_params(seed)
    u = (
        (F.pmod(F.col(id_col).cast("long"), F.lit(_P31)) * F.lit(a) + F.lit(b))
        % F.lit(_P31)
        + F.lit(1)
    ).cast("double") / F.lit(float(_P31 + 1))
    score = F.col("weight_q6").cast("double") / F.lit(1000000.0) - F.log(-F.log(u))
    return (
        weights.withColumn(
            "score_q6", F.round(score * F.lit(1000000.0)).cast("bigint")
        )
        .orderBy(F.desc("score_q6"), F.col(id_col))
        .limit(n_select)
    )
