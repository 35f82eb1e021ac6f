"""Per-partition lineage + metrics with idempotent resume.

The lakehouse re-expression of the reference's checkpoint/resume
machinery: the reference keeps per-tile scratch GeoTIFFs and rebuilds
the final COG from them with --cog-only (reference
core/tile_processor.py:1748-1819, TileResult records
utils/types.py:8-14). Here every stage writes its output partitioned
by a logical key and appends one lineage row per completed key::

    run_id, stage, partition_key, row_count, bytes, status, ts

Resume = collect the stage's completed keys to the driver (at most
MAX_KEYS), drop their rows with one literal NOT-IN filter, process
only the remainder, and overwrite-by-partition (Spark dynamic
partitionOverwriteMode) so replays are idempotent — a crashed run
leaves either a complete partition + lineage row, or neither visible
to the next run's filter. The filter is a plain predicate on the key,
so Catalyst pushes it below the upstream to the scan wherever the key
is a function of scanned columns: a finished bucket is never
recomputed. On an Iceberg catalog the same code writes via
``writeTo(...).overwritePartitions()``; the parquet path keeps the
sandbox dependency-free while preserving the commit semantics this
layer needs.

Metrics are computed by reading back the just-written partitions
(validating the write, the reference's COG-validation gate analog,
reference io/cog_validator.py:16-127).
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_key string, "
    "row_count long, bytes long, status string, ts double"
)

N_BUCKETS = 64  # partition-key buckets of every hash-keyed stage
# completed keys travel as a driver-side list and a literal IN-set in
# the plan; a stage with more keys than this has outgrown per-key resume
MAX_KEYS = 65_536


def bucket(*cols) -> Column:
    """A stage's partition key: a stable hash bucket of ``cols``
    (10^12 rows / N_BUCKETS each resume unit)."""
    return F.pmod(F.xxhash64(*cols), F.lit(N_BUCKETS))


def read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """``path`` read as Parquet, or None when nothing was written there:
    the path is missing, or a write of zero rows left only _SUCCESS, so
    no schema can be inferred. Any other failure (FS fault, corrupt
    footer) propagates rather than masquerading as an empty result."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e) or "PATH_NOT_FOUND" in str(e):
            return None
        raise


def _bounded_collect(df: DataFrame, what: str) -> list:
    rows = df.limit(MAX_KEYS + 1).collect()
    if len(rows) > MAX_KEYS:
        raise ValueError(f"{what}: more than MAX_KEYS={MAX_KEYS} partition keys")
    return rows


def _pending(key: Column, done: list[str]) -> Column:
    """True for a key outside ``done``; a NULL key stays pending."""
    return ~F.coalesce(key.isin(done), F.lit(False))


class LineageLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        # existence pre-check keeps the expected first-run miss quiet
        # (a caught AnalysisException still logs a noisy stack trace)
        if self.path.startswith("/") and not os.path.exists(self.path):
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        try:
            return self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.path)
        except Exception:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)

    def completed_keys(self, stage: str) -> list[str]:
        """The stage's completed keys; ValueError past MAX_KEYS."""
        done = (
            self.read()
            .filter((F.col("stage") == stage) & (F.col("status") == "ok"))
            .select("partition_key")
            .dropna()
            .distinct()
        )
        return [r[0] for r in _bounded_collect(done, f"stage {stage!r} completed keys")]

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self.path)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath.
    This sandbox ships no iceberg-spark-runtime jar and has no network
    to fetch one (full-filesystem search, round 4) — documented in
    PLANS.md §'Iceberg'; on a real cluster add the runtime jar + a
    catalog conf and pass ``catalog_table`` below."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def run_stage_idempotent(
    spark: SparkSession,
    df: DataFrame,
    key_col: str,
    out_path: str,
    lineage: LineageLog,
    stage: str,
    run_id: str | None = None,
    catalog_table: str | None = None,
) -> dict:
    """Write ``df`` partitioned by ``key_col``, skipping keys already
    completed per the lineage log; returns a summary dict.

    Parquet path (default): dynamic partition overwrite, so
    re-processing a key (e.g. after a mid-write crash that never
    logged the key) replaces the partial partition instead of
    duplicating rows.

    ``catalog_table`` (Iceberg/V2 path): the same commit semantics via
    the DataFrameWriterV2 — first run ``create()``, resumed
    runs ``overwritePartitions()`` (BASELINE.json's Iceberg posture:
    the per-partition replace is an ATOMIC snapshot commit, so a
    killed run leaves either the previous snapshot or the complete new
    one — the property the parquet path approximates with
    committer-published directories). Requires an Iceberg-enabled
    session (see ``iceberg_available``).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    skipped = {"run_id": run_id, "stage": stage, "keys_processed": 0, "skipped": True}
    # one bounded list, read before anything is written; the expensive
    # upstream ``df`` executes at most ONCE — inside the write — and
    # only for the rows the pushed-down filter keeps
    done = lineage.completed_keys(stage)
    pending = df.withColumn("_pk", F.col(key_col).cast("string"))
    # rebalanced by key, so each key's rows reach one write task (AQE
    # splits an oversized key) and a stage writes about one file per
    # key, not one per (upstream task, key) pair
    pending = pending.filter(_pending(F.col("_pk"), done)).hint("rebalance", "_pk")
    if catalog_table is not None:
        if not iceberg_available(spark):
            raise RuntimeError(
                "catalog_table requires the Iceberg Spark runtime on the classpath "
                "(iceberg-spark-runtime jar + spark.sql.catalog.<name> confs); "
                "not available in this sandbox — see PLANS.md §Iceberg"
            )
        # existence probe kept SEPARATE from the write: a failure inside
        # overwritePartitions (schema drift, spec conflict) must
        # propagate — falling through to a table replace would
        # atomically destroy every previously committed partition while
        # the lineage log still marks them complete
        try:
            spark.read.table(catalog_table)
            exists = True
        except AnalysisException as e:
            if "TABLE_OR_VIEW_NOT_FOUND" in str(e) or "NOT_FOUND" in str(e):
                exists = False
            else:
                raise
        if exists:
            pending.writeTo(catalog_table).overwritePartitions()
        else:
            # create(), not createOrReplace(): if another writer won the
            # race the create fails loudly instead of clobbering
            pending.writeTo(catalog_table).partitionedBy(F.col("_pk")).create()
        readback = spark.read.table(catalog_table)
    else:
        (
            pending.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_pk")
            .parquet(out_path)
        )
        # an empty first run leaves only _SUCCESS: nothing to log
        readback = read_parquet_or_none(spark, out_path)
        if readback is None:
            return skipped
    # validate-by-readback + metrics. Keys written THIS run = readback
    # keys minus the completed keys (disk = old ∪ new under dynamic
    # overwrite), counted by one aggregate over the pruned readback,
    # never by re-executing the upstream. Partitions on disk are always
    # job-complete (the committer publishes at job end), so a key from
    # an earlier run that crashed between commit and lineage-append is
    # correctly adopted here with its full row count.
    key = F.col("_pk").cast("string")  # partition inference may read _pk as int
    counts = _bounded_collect(
        readback.filter(_pending(key, done)).groupBy(key.alias("partition_key")).count(),
        f"stage {stage!r} written keys",
    )
    if not counts:
        return skipped
    now = time.time()
    out = []
    for r in counts:
        # best-effort per-partition byte sizes (local/posix paths)
        d = os.path.join(out_path, f"_pk={r['partition_key']}")
        b = _dir_bytes(d) if os.path.isdir(d) else -1
        out.append((run_id, stage, r["partition_key"], r["count"], b, "ok", now))
    lineage.append(spark.createDataFrame(out, LINEAGE_SCHEMA))
    return {"run_id": run_id, "stage": stage, "keys_processed": len(out), "skipped": False}


def audit_stage(spark: SparkSession, out_path: str, lineage: LineageLog, stage: str) -> DataFrame:
    """A20 post-write validation: per-key row counts on disk vs the
    lineage log (the reference's written-COG audit,
    reference io/cog_validator.py:16-127). One row per key with
    status 'ok' / 'count_mismatch' / 'missing_on_disk' /
    'unlogged_on_disk' — a corrupted, truncated, or orphaned partition
    surfaces here without re-executing any upstream stage."""
    disk = (
        spark.read.parquet(out_path)
        # partition-column inference may read _pk back as int; lineage
        # keys are strings
        .groupBy(F.col("_pk").cast("string").alias("partition_key"))
        .agg(F.count("*").alias("disk_rows"))
    )
    # latest lineage row per key (keys may be re-logged across runs)
    lw = lineage.read().filter((F.col("stage") == stage) & (F.col("status") == "ok"))
    latest = lw.groupBy("partition_key").agg(
        F.max_by("row_count", "ts").alias("logged_rows")
    )
    j = disk.join(latest, "partition_key", "full_outer")
    return j.select(
        "partition_key",
        "disk_rows",
        "logged_rows",
        F.when(F.col("disk_rows").isNull(), "missing_on_disk")
        .when(F.col("logged_rows").isNull(), "unlogged_on_disk")
        .when(F.col("disk_rows") == F.col("logged_rows"), "ok")
        .otherwise("count_mismatch")
        .alias("audit_status"),
    )
