"""Trainable quality classifier — hashed bag-of-words logistic
regression, the fastText-style linear filter (Joulin et al. 2017)
that GPT-3's pipeline used to score web pages against a high-quality
reference (Brown et al. 2020 Appendix A). Both TRAINING and SCORING
run as Spark plans, and both are bit-exact across engines: every
cross-row aggregation happens in an exact integer domain, so the
DuckDB twin (queries.DOC_CLASSIFIER_SQL — the gradient steps unrolled
as CTEs) reproduces the TRAINED model's scores bit-for-bit. A hash
gate over a distributed training loop, not just a transform.

Model: features are whitespace tokens hashed to ``buckets`` bins
(the cross-engine poly31 fold, dedup.poly31_hash mod B), expressed as
quantized term frequencies ``tf_q = round(1e6·cnt/len)``, then
STANDARDIZED per bucket — full-batch logistic GD on raw counts
oscillates (correlated features, unbounded margins; measured on the
fixture: stuck at the 0.51 base rate), while z-scored features reach
0.94+ in three steps. Standardization is the A9 global-stats
pre-pass applied to training: one aggregate computes per-bucket
moments before the loop.

Bit-exact message passing — the load-bearing trick: z-scored
features are DENSE (a standardized zero cell is −μ/σ ≠ 0), so the
engine never materializes them. Algebra keeps every corpus-sized
relation sparse and every cross-row sum integer:

- margin_q12(d) = Σ_b tf_q·v_q  −  Σ_b round(μ_q·v_q)  +  w0_q·1e6,
  where ``v_q = round(1e6·w_q/σ_q)`` folds the 1/σ into the model —
  the bias term quantizes per BUCKET before its (tiny, exact) sum;
- gradient: Σ_d z·r collapses to (Σ_d tf_q·r_q − μ_q·Σ_d r_q)/σ_q
  with the residual quantized per doc (``r_q = round((y−p)·1e6)``)
  BEFORE aggregation — both Σ are exact integer sums (cast
  decimal(38,0) per row: a 100-TB corpus pushes them past int64,
  the ANSI overflow class);
- the only float chains are one σ(margin/1e12) per doc and one
  update chain per bucket — scalar, identical op order both engines
  (rounding is HALF-AWAY on both; the driver-side twin of F.round is
  _rhalf, never Python's banker's round()).

Scale shape (100 TB corpus, B ≤ 1e6 buckets): corpus text is
scanned once into the persisted (doc, bucket, tf_q) relation,
pre-partitioned by doc id. Per step: broadcast the ≤B-row model into
the margin join (map-side), partial-aggregate to per-doc integer
dots, scalar residual chain, join residuals back on the reused
doc-id partitioning, partial-aggregate to the ≤B-row gradient. The
model (≤B rows + one intercept) is collected per step — the IVF
centroid boundedness class (ann.py).

The reference repo (geospatial) has no trained component; this
extends §2.E's quality-scoring axis (heuristic quality_features,
bigram-LM perplexity) with the supervised member of the family.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfn import ws_tokens
from .dedup import poly31_hash

DEFAULT_BUCKETS = 512
DEFAULT_LR = 2.0
DEFAULT_STEPS = 3
Q = 1_000_000.0  # tf / residual / weight quantization scale
SIGMA_FLOOR_Q2 = 1_000_000.0  # variance floor in q² units (σ ≥ 1e-3 tf)


def _rhalf(x: float) -> int:
    """round-half-away-from-zero — the driver-side twin of Spark
    F.round / DuckDB round (Python's round() is banker's)."""
    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def poly31_py(s: str) -> int:
    """Driver-side twin of dedup.poly31_hash (UTF-16 units, like the
    JVM) — used to pin label/feature bucket ids as literals."""
    acc = 0
    for cp in (ord(c) for c in s):
        acc = (acc * 1000003 + cp) % ((1 << 31) - 1)
    return acc


def hashed_tf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(_id, bucket, tf_q) quantized hashed term frequencies — one
    map-side-partial aggregate over the exploded token stream plus an
    id-bounded window for the per-doc length."""
    cnt = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(ws_tokens(F.col(text_col))).alias("_tok"),
        )
        .select("_id", (poly31_hash(F.col("_tok")) % F.lit(buckets)).alias("bucket"))
        .groupBy("_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    nt = F.sum("cnt").over(Window.partitionBy("_id"))
    return cnt.select(
        "_id",
        "bucket",
        F.round((F.col("cnt") * F.lit(Q)) / nt).cast("long").alias("tf_q"),
    )


def _bucket_stats(occ: DataFrame, n: int) -> dict[int, tuple[float, float]]:
    """bucket -> (μ_q, σ_q) from exact integer moment sums; ≤B rows
    collected (bounded). The float chain per bucket mirrors the twin
    literally: mu = Sq/n; var = SSq/n − mu·mu; σ = √max(var, floor)."""
    rows = (
        occ.groupBy("bucket")
        .agg(
            F.sum(F.col("tf_q").cast("decimal(38,0)")).alias("sq"),
            F.sum((F.col("tf_q") * F.col("tf_q")).cast("decimal(38,0)")).alias("ssq"),
        )
        .collect()
    )
    out = {}
    for r in rows:
        mu = int(r["sq"]) / n
        var = int(r["ssq"]) / n - mu * mu
        out[r["bucket"]] = (mu, math.sqrt(max(var, SIGMA_FLOOR_Q2)))
    return out


def _margins(occ: DataFrame, base: DataFrame, v_rows, bias_q12: int, spark) -> DataFrame:
    """(_id, ..., marg) exact int64 standardized margins under the
    folded model v_q (empty model → constant bias margin)."""
    if v_rows:
        vdf = F.broadcast(spark.createDataFrame(v_rows, schema="bucket long, vq long"))
        dots = (
            occ.join(vdf, "bucket")
            .groupBy("_id")
            .agg(F.sum((F.col("tf_q") * F.col("vq")).cast("decimal(38,0)")).alias("_dot"))
        )
        return base.join(dots, "_id", "left").withColumn(
            "marg",
            (F.coalesce("_dot", F.lit(0)) + F.lit(bias_q12)).cast("long"),
        ).drop("_dot")
    return base.withColumn("marg", F.lit(bias_q12).cast("long"))


def _fold_model(w, w0, stats):
    """(v_rows, bias_q12): fold 1/σ into the weights and pre-sum the
    exact-integer bias; ≤B scalar float chains, mirrored in the twin."""
    v_rows = []
    bias = 0
    for b in sorted(w):
        # a model bucket absent from the stats corpus has tf 0 in every
        # document there, which is exactly what _bucket_stats would
        # report as mu=0, var=0 -> sigma at the floor; default to that
        # instead of a KeyError when scoring a corpus that lacks the
        # bucket
        mu, sig = stats.get(b, (0.0, math.sqrt(SIGMA_FLOOR_Q2)))
        vq = _rhalf((Q * w[b]) / sig)
        bias -= _rhalf(mu * vq)
        v_rows.append((b, vq))
    return v_rows, bias + w0 * int(Q)


def train_lr(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
    lr: float = DEFAULT_LR,
    steps: int = DEFAULT_STEPS,
) -> tuple[list[tuple[int, int]], int]:
    """Full-batch standardized logistic GD for ``steps`` steps.
    Returns (sorted (bucket, w_q) rows, intercept w0_q) — the bounded
    trained model."""
    if steps < 1:
        raise ValueError(f"steps must be >= 1, got {steps}")
    spark = df.sparkSession
    occ = (
        hashed_tf(df, id_col, text_col, buckets)
        .repartition("_id")  # every step's doc-join reuses this layout
        .persist()
    )
    labels = df.select(
        F.col(id_col).alias("_id"), F.col(label_col).cast("int").alias("y")
    )
    n = df.count()
    stats = _bucket_stats(occ, n)
    w: dict[int, int] = {}
    w0 = 0
    try:
        for _ in range(steps):
            v_rows, bias = _fold_model(w, w0, stats)
            m = _margins(occ, labels, v_rows, bias, spark)
            resid = m.select(
                "_id",
                F.round(
                    (
                        F.col("y")
                        - F.lit(1.0)
                        / (
                            F.lit(1.0)
                            + F.exp(-(F.col("marg").cast("double") / F.lit(Q * Q)))
                        )
                    )
                    * F.lit(Q)
                )
                .cast("long")
                .alias("rq"),
            )
            agg = (
                occ.join(resid, "_id")
                .groupBy("bucket")
                .agg(
                    F.sum((F.col("tf_q") * F.col("rq")).cast("decimal(38,0)")).alias(
                        "sxr"
                    )
                )
                .collect()
            )
            big_r = resid.agg(
                F.sum(F.col("rq").cast("decimal(38,0)")).alias("r")
            ).collect()[0]["r"]
            big_r = int(big_r) if big_r is not None else 0
            for r in agg:
                mu, sig = stats[r["bucket"]]
                dw = _rhalf((lr * (int(r["sxr"]) - mu * big_r)) / (sig * n))
                w[r["bucket"]] = w.get(r["bucket"], 0) + dw
            w0 += _rhalf((lr * big_r) / n)
    finally:
        occ.unpersist()
    return sorted(w.items()), w0


def score_lr(
    df: DataFrame,
    model: tuple[list[tuple[int, int]], int],
    stats: dict[int, tuple[float, float]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(id, score_q12, pred) under a trained model: score_q12 is the
    exact int64 standardized margin (scale 1e12), pred its sign.
    Total over the input (token-less docs get the pure bias margin).
    ``stats`` defaults to the scoring corpus's own moments (the
    training configuration passes the training moments). NOTE the
    default is a TWO-PASS plan — the bounded moments pre-pass scans
    the corpus once (the A9 global-stats discipline, as in
    norm_stats), then the margin join scans it again; production
    scoring at scale should pass ``train_stats(...)`` of the training
    corpus, which is both the statistically right standardization and
    a single-pass plan."""
    spark = df.sparkSession
    occ = hashed_tf(df, id_col, text_col, buckets)
    if stats is None:
        stats = _bucket_stats(occ, df.count())
    w, w0 = dict(model[0]), model[1]
    v_rows, bias = _fold_model(w, w0, stats)
    base = df.select(F.col(id_col).alias("_id"))
    m = _margins(occ, base, v_rows, bias, spark)
    return m.select(
        F.col("_id").alias(id_col),
        F.col("marg").alias("score_q12"),
        (F.col("marg") > 0).alias("pred"),
    )


def train_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DEFAULT_BUCKETS,
) -> dict[int, tuple[float, float]]:
    """The standardization moments of a corpus — compute once on the
    TRAINING corpus and reuse for scoring (the A9 pre-pass contract)."""
    occ = hashed_tf(df, id_col, text_col, buckets)
    return _bucket_stats(occ, df.count())
