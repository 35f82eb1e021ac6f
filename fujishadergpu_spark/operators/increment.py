"""Incremental (cross-snapshot) deduplication: gate a NEW crawl batch
against an already-cleaned corpus WITHOUT reprocessing the corpus.

At 100 TB the dominant dedup workload is not the one-shot pass — it is
every recrawl arriving after it. Re-running corpus-wide dedup per
batch is O(corpus); the incremental discipline is O(batch): the kept
corpus is distilled ONCE into two compact snapshot tables —

- :func:`exact_snapshot` — distinct ``(hash, length)`` 16-byte keys of
  the normalized text (the exact_dedup key, operators/dedup.py);
- :func:`simhash_snapshot` — distinct 64-bit SimHash signatures
  (8-byte rows; the poly31 mode keeps the whole computation
  SQL-stateable cross-engine) —

and each arriving batch is verdicted against them by equi-joins on
those short keys. The batch's text never shuffles; the corpus is
never re-read.

:func:`incremental_dedup` returns one row per batch document with
three independent verdicts and their conjunction:

- ``batch_dup``   — an earlier (min-id) batch doc has identical
  normalized text (the within-batch min-struct keeper discipline);
- ``exact_seen``  — the normalized text already exists in the corpus;
- ``near_seen``   — some corpus signature is within ``max_hamming``
  of the doc's SimHash (16-bit band probe, then the exact
  ``bit_count(xor)`` test — band match is necessary for hamming <= 3
  by pigeonhole over 4 bands, so the probe is exact, not heuristic);
- ``keep``        — none of the above.

Scale notes (100 TB):
- Snapshot tables are written once per corpus version and reused by
  every batch; both are ids-free distinct relations (16 B / 8 B rows),
  ~10^4x smaller than the corpus text.
- The batch side computes hashes/signatures map-side; everything that
  shuffles is (id, key) longs. The band probe joins the batch's 4
  band keys against the snapshot's banded signatures; with 16-bit
  bands the bucket fan-out grows with distinct corpus signatures
  (65,536 buckets per band), so beyond ~10^9 signatures production
  widens the signature (128-bit, 8 bands) — same plan, wider keys;
  the mechanism here is band-width-agnostic.
- Documents with zero tokens get no SimHash (deliberate — see
  simhash_signatures) and are covered by the exact gate, which is
  total.

Reference parity: the geospatial reference has no text pipeline; this
extends the dedup family (SURVEY.md §2.E) with the recrawl path that
makes the one-shot operators usable as a LIVING corpus's maintenance
loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import norm_text, simhash_signatures


def _exact_keys(df: DataFrame, id_col: str, text_col: str, normalize: bool) -> DataFrame:
    t = F.col(text_col)
    if normalize:
        t = norm_text(t)
    return df.select(
        F.col(id_col).alias("_id"),
        F.xxhash64(t).alias("_h"),
        F.length(t).alias("_len"),
    )


def exact_snapshot(
    df: DataFrame, text_col: str = "text", normalize: bool = True
) -> DataFrame:
    """Distinct (hash, length) keys of a kept corpus — the exact-dup
    snapshot artifact (16-byte rows, one per distinct text)."""
    t = F.col(text_col)
    if normalize:
        t = norm_text(t)
    return df.select(
        F.xxhash64(t).alias("_h"), F.length(t).alias("_len")
    ).distinct()


def simhash_snapshot(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash: str = "xxhash64",
) -> DataFrame:
    """Distinct 64-bit SimHash signatures of a kept corpus — the
    near-dup snapshot artifact (8-byte rows)."""
    return simhash_signatures(df, id_col, text_col, hash=hash).select("_sh").distinct()


def _bands(df: DataFrame, sig_col: str = "_sh") -> DataFrame:
    return df.select(
        "*",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("_band", "_key"),
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_exact: DataFrame,
    seen_sigs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash: str = "xxhash64",
    normalize: bool = True,
) -> DataFrame:
    """Verdict every document of a new batch against the snapshot(s):
    (id, batch_dup, exact_seen, near_seen, keep) — total over the
    batch. ``near_seen`` is constant false when ``seen_sigs`` is None
    (exact-only mode). ``hash`` must match the snapshot's: xxhash64
    (default — whole-stage codegen) or poly31 (a zero-exchange
    per-doc batch UDF whose DuckDB oracle puts the gate under the
    cross-engine hash check)."""
    keys = _exact_keys(new_df, id_col, text_col, normalize)
    keeper = keys.groupBy("_h", "_len").agg(F.min("_id").alias("_keep_id"))
    batch = keys.join(keeper, ["_h", "_len"]).select(
        "_id", "_h", "_len", (F.col("_id") != F.col("_keep_id")).alias("batch_dup")
    )
    seen = seen_exact.select("_h", "_len").distinct().withColumn("_es", F.lit(True))
    out = batch.join(seen, ["_h", "_len"], "left").select(
        "_id", "batch_dup", F.coalesce(F.col("_es"), F.lit(False)).alias("exact_seen")
    )
    if seen_sigs is not None:
        nb = _bands(simhash_signatures(new_df, id_col, text_col, hash=hash))
        sb = _bands(seen_sigs.select(F.col("_sh").alias("_ss")), "_ss")
        hits = (
            nb.join(sb, ["_band", "_key"])
            .where(
                F.bit_count(F.col("_sh").bitwiseXOR(F.col("_ss"))) <= max_hamming
            )
            .select("_id")
            .distinct()
            .withColumn("_ns", F.lit(True))
        )
        out = out.join(hits, "_id", "left")
    else:
        out = out.withColumn("_ns", F.lit(None).cast("boolean"))
    near = F.coalesce(F.col("_ns"), F.lit(False))
    return out.select(
        F.col("_id").alias(id_col),
        "batch_dup",
        "exact_seen",
        near.alias("near_seen"),
        (~F.col("batch_dup") & ~F.col("exact_seen") & ~near).alias("keep"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Version diff between two corpus snapshots: one row per doc_id
    present in EITHER, with status ``added`` (new only), ``removed``
    (old only), ``changed`` (both, different normalized content) or
    ``unchanged`` — the audit primitive behind dataset versioning
    (what moved between crawl releases, what a cleaning-rule change
    touched).

    100-TB shape: both sides reduce to (id, hash, len) 24-byte rows
    map-side; the diff is ONE full-outer equi-join on the id key —
    text never shuffles, output is id+status."""
    ok = _exact_keys(old, id_col, text_col, normalize).withColumnsRenamed(
        {"_h": "_oh", "_len": "_ol"}
    )
    nk = _exact_keys(new, id_col, text_col, normalize).withColumnsRenamed(
        {"_h": "_nh", "_len": "_nl"}
    )
    j = ok.join(nk, "_id", "full_outer")
    status = (
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(
            (F.col("_oh") == F.col("_nh")) & (F.col("_ol") == F.col("_nl")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("_id").alias(id_col), status.alias("status"))
