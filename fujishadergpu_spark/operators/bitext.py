"""Margin-based bitext mining over embedding columns.

The parallel-corpus mining setup of LASER / CCMatrix / CCAligned
(Artetxe & Schwenk 2019, "Margin-based Parallel Corpus Mining with
Multilingual Sentence Embeddings"; Schwenk et al. 2021 CCMatrix):
candidate translation pairs across two languages score NOT by raw
cosine but by the RATIO margin

    margin(x, y) = cos(x, y) / ((avg_{z in NNk(x)} cos(x, z)
                               + avg_{w in NNk(y)} cos(w, y)) / 2)

which cancels hubness (a vector that is close to everything gets a
high denominator), and the mined pair set is the forward-direction
argmax per source with margin above a threshold.

Determinism contract (the E39 order-free integer-sum discipline):
cosines are quantized to integer micro-units (round(cos * 1e12) as
bigint — one IEEE multiply+round of a cosine both engines compute
bit-identically, the ANN oracle precedent), so the kNN-average sums
are EXACT integer arithmetic with no float-order dependence, and the
margin is a single IEEE division of two exact integers — bit-equal
on any engine. Ranking ties break on neighbor id.

100-TB shape: this module scores a CANDIDATE pair relation — at
fixture/oracle scale the candidates are the full cross product
(provably exhaustive, the ann_ivf_probe_exhaustive pattern), at
production scale you feed the banded/IVF candidate generation
(operators/ann.ivf_topk, operators/dedup.embedding near-dup banding)
and the margin algebra is unchanged. The kNN-denominator aggregates
are per-vector bounded (k rows each), the shuffles carry
(id, id, qcos) longs only, and the final per-source argmax is one
AQE-splittable window over ids+longs. Embeddings themselves never
shuffle past the candidate stage.

Reference parity note: the geospatial reference has no text pipeline;
this module is part of the web-scale training-data mandate
(SURVEY.md §2.E).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, LongType, StructField, StructType

from ..session import spread

QUANT = 1e12
# Most tgt rows candidate_scores pulls to the driver. Each src Arrow
# batch (up to spark.sql.execution.arrow.maxRecordsPerBatch = 65,536
# rows in session.py) builds a rows × targets float64 accumulator, so
# 2,048 targets cap it at 65,536 × 2,048 × 8 B = 1 GiB per Python
# worker; the broadcast matrix, CAP × dim float64, is then 1 MiB at 64
# dimensions. Larger sides need ANN candidates (module docstring).
CAP = 2048


def _unit_np(mat: np.ndarray) -> np.ndarray:
    """Row unit-normalization: the norm is the SEQUENTIAL fold Σ v_j²
    in index order (one add per dimension, the IEEE sequence of the
    oracle's ``list_inner_product(e0, e0)``), then one sqrt and one
    divide per element."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return mat / np.sqrt(acc)[:, None]


def _round_half_up(y: np.ndarray) -> np.ndarray:
    """F.round(double) twin: HALF_UP (away from zero). Exact for
    |y| < 2^52. There y ± 0.5 is exact except just inside ±0.5, where
    0.5 - 2^-54 + 0.5 rounds (ties-to-even) up to 1; |y| < 0.5 is
    therefore 0 explicitly. Callers stay far inside the bound
    (|y| <= QUANT)."""
    r = np.where(y >= 0, np.floor(y + 0.5), np.ceil(y - 0.5))
    return np.where(np.abs(y) < 0.5, 0.0, r).astype(np.int64)


def candidate_scores(src: DataFrame, tgt: DataFrame) -> DataFrame:
    """Exhaustive (src_id, tgt_id, qcos) relation — the oracle-scale
    candidate generator. Production swaps this for ANN candidates.
    ``vec_id`` must be an integral column; src_id/tgt_id keep its
    type.

    Embeddings are cast to float64 BEFORE the arithmetic: float32
    products would wobble ~1e-7 against any double engine, while the
    double fold is bitwise-equal to DuckDB's (measured over all
    124,750 fixture pairs), which is what makes the quantization
    deterministic. Each side is unit-normalized once per ROW, so the
    per-pair work is a single dot product, evaluated as a sequential
    loop over dimensions (acc = acc + x_j·y_j, vectorized across pairs
    per step) — NOT np.dot, whose pairwise summation would
    reassociate. That is the IEEE sequence of the oracle's
    ``list_inner_product`` (``queries.BITEXT_SQL``, the statement this
    operator is pinned to).

    The tgt side (at most CAP rows, else ValueError) is pulled to the
    driver and broadcast so the UDF can see the whole matrix; like the
    exhaustive candidate relation itself this is the oracle-scale
    configuration (module docstring: production feeds ANN candidates
    into the same margin algebra and never materializes a full side)."""
    for side in (src, tgt):
        t = side.schema["vec_id"].dataType
        if not isinstance(t, IntegralType):
            raise ValueError(
                f"candidate_scores: vec_id must be an integral column, got {t.simpleString()}"
            )
    schema = StructType([
        StructField("src_id", src.schema["vec_id"].dataType),
        StructField("tgt_id", tgt.schema["vec_id"].dataType),
        StructField("qcos", LongType()),
    ])
    rows = tgt.select("vec_id", "embedding").limit(CAP + 1).collect()
    if len(rows) > CAP:
        raise ValueError(
            f"candidate_scores: the tgt side has more than CAP={CAP} rows; the "
            f"exhaustive scorer broadcasts it whole, so feed ANN candidates instead"
        )
    if not rows:  # no tgt rows, no pairs (and no matrix to normalize)
        return src.sparkSession.createDataFrame([], schema)
    t_ids = np.fromiter((r["vec_id"] for r in rows), np.int64, count=len(rows))
    t_unit = _unit_np(np.array([r["embedding"] for r in rows], dtype=np.float64))
    bc = src.sparkSession.sparkContext.broadcast((t_ids, t_unit))

    def fn(it):
        t_id, t_u = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            s_u = _unit_np(np.array(list(pdf["embedding"]), dtype=np.float64))
            acc = np.zeros((len(s_u), len(t_u)), dtype=np.float64)
            for j in range(s_u.shape[1]):
                acc = acc + np.multiply.outer(s_u[:, j], t_u[:, j])
            q = _round_half_up(acc * QUANT)
            yield pd.DataFrame(
                {
                    "src_id": np.repeat(pdf["vec_id"].to_numpy(np.int64), len(t_id)),
                    "tgt_id": np.tile(t_id, len(pdf)),
                    "qcos": q.ravel(),
                }
            )

    return spread(src.select("vec_id", "embedding")).mapInPandas(fn, schema)


def mine_bitext(
    candidates: DataFrame,
    k: int = 4,
    margin_threshold: float = 1.05,
) -> DataFrame:
    """Forward-direction margin mining over a (src_id, tgt_id, qcos)
    candidate relation: per source, the best target by ratio margin,
    kept when margin >= threshold. Returns (src_id, tgt_id, margin).

    The margin denominator sums each side's top-``k`` quantized
    cosines (exact bigint sums — order-free); the ratio
    2*k*qcos / (sx + sy) is one IEEE division of exact integers.
    Pairs with a non-positive cosine or denominator never mine (a
    translation pair with negative similarity is noise by
    construction).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    ws = Window.partitionBy("src_id").orderBy(F.desc("qcos"), F.asc("tgt_id"))
    wt = Window.partitionBy("tgt_id").orderBy(F.desc("qcos"), F.asc("src_id"))
    ranked = candidates.withColumns(
        {"_rs": F.row_number().over(ws), "_rt": F.row_number().over(wt)}
    )
    sx = (
        ranked.filter(F.col("_rs") <= k)
        .groupBy("src_id")
        .agg(F.sum("qcos").alias("_sx"))
    )
    sy = (
        ranked.filter(F.col("_rt") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("qcos").alias("_sy"))
    )
    scored = (
        candidates.join(sx, "src_id")
        .join(sy, "tgt_id")
        .filter((F.col("qcos") > 0) & (F.col("_sx") + F.col("_sy") > 0))
        .withColumn(
            "margin",
            (F.lit(2.0 * k) * F.col("qcos").cast("double"))
            / (F.col("_sx") + F.col("_sy")).cast("double"),
        )
    )
    best = Window.partitionBy("src_id").orderBy(F.desc("margin"), F.asc("tgt_id"))
    return (
        scored.withColumn("_rb", F.row_number().over(best))
        .filter((F.col("_rb") == 1) & (F.col("margin") >= margin_threshold))
        .select("src_id", "tgt_id", "margin")
    )
