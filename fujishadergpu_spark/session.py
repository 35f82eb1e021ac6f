"""SparkSession factory with the engine's canonical configuration.

The reference hand-tunes its cluster (VRAM-derived chunk sizes, RMM
pools, spill thresholds — reference config/auto_tune.py:101-134,
core/dask_cluster.py:22-137). On Spark the equivalents are declarative
confs: AQE (runtime coalescing + skew-join splitting), Arrow transfer
for pandas UDFs, and shuffle-partition sizing. Everything else
(partition sizing, broadcast choice, spill) is left to Catalyst/AQE by
design — see SURVEY.md §4.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Tuned for the sandbox (local[32], 128 GiB). On a real cluster these
# are spark-submit --conf overrides; nothing in the engine depends on
# their exact values (partition-invariance is test-enforced).
DEFAULT_CONFS: dict[str, str] = {
    # Arrow everywhere: pandas UDFs / toPandas ride columnar batches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # AQE: runtime partition coalescing + skew-join splitting. The
    # skew-join splitter is one half of the engine's skew story (the
    # other half is explicit salting in operators.pip_join).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # Small-dim broadcast; PIP polygon tables are usually < this.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Deterministic timestamps across JVM/duckdb comparisons.
    "spark.sql.session.timeZone": "UTC",
    # Parquet writer defaults matching the reference's ZSTD choice
    # (reference core/dask_processor.py:201-228 uses ZSTD COGs).
    "spark.sql.parquet.compression.codec": "zstd",
    # keep stdout clean for bench/test harnesses
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # local-mode driver hosts the executors; give it room (ignored
    # when a running JVM already exists, overridden by spark-submit)
    "spark.driver.memory": "24g",
    "spark.driver.maxResultSize": "4g",
}


def _local_dirs() -> str | None:
    """Prefer tmpfs for shuffle scratch in this sandbox (single shared
    disk would serialize shuffle-heavy stages across cores; real
    clusters put spark.local.dir on NVMe). Returns None if /dev/shm is
    unavailable."""
    base = "/dev/shm"
    if os.path.isdir(base) and os.access(base, os.W_OK):
        d = os.path.join(base, "spark-local")
        os.makedirs(d, exist_ok=True)
        return d
    return None


def _phys_mem_bytes() -> int | None:
    """Physical RAM of this host in bytes, or None where sysconf
    cannot tell."""
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return None


def _session_confs(extra_confs: dict[str, str] | None = None) -> dict[str, str]:
    """The confs ``get_spark`` applies: DEFAULT_CONFS, the shuffle
    width and local dirs for this host, the caller's ``extra_confs``
    (which win), then the heap pre-touch options when they apply."""
    confs = dict(DEFAULT_CONFS)
    # scale shuffle width with the configured parallelism (2 waves;
    # AQE coalesces small stages back down) — a fixed 32 starves
    # local[8]-style runs of shuffle parallelism headroom and caps
    # bigger ones at one wave per 32 cores
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus_env.isdigit():
        confs["spark.sql.shuffle.partitions"] = str(max(32, 2 * int(cpus_env)))
    local_dirs = _local_dirs()
    if local_dirs:
        confs["spark.local.dir"] = local_dirs
    extra_confs = extra_confs or {}
    confs.update(extra_confs)
    # Commit + pre-fault the whole heap at JVM start (-Xms=driver mem,
    # AlwaysPreTouch). Root-caused in round 7: with a growable heap,
    # G1's incremental commits landed page-fault storms INSIDE timed
    # queries — a slow rep showed 60%+ kernel time and +3 GB RSS while
    # the same rep re-run at stable RSS took 1.5 s (the round-6
    # "tiles/sec regression" signature). Pre-touching moves that cost
    # to session startup (~40 s for 24 GB on a 32-core host), outside
    # every timed region; on a real cluster Xms=Xmx is standard
    # practice for exactly this reason. SPARK_GRAFT_PRETOUCH=0 opts
    # out (e.g. for short-lived CLI invocations). A caller that sets
    # its own driver memory or JVM options owns the heap, and a host
    # with less RAM than the heap cannot commit it (the JVM would die
    # at start), so neither gets the pre-touch.
    heap = confs["spark.driver.memory"]
    phys = _phys_mem_bytes()
    if (
        os.environ.get("SPARK_GRAFT_PRETOUCH", "1") != "0"
        and not {"spark.driver.memory", "spark.driver.extraJavaOptions"} & set(extra_confs)
        and (phys is None or phys >= int(heap[:-1]) << {"m": 20, "g": 30}[heap[-1]])
    ):
        gc_threads = os.cpu_count() or 8
        confs["spark.driver.extraJavaOptions"] = (
            f"-Xms{heap} -XX:+AlwaysPreTouch -XX:ParallelGCThreads={gc_threads}"
        )
    return confs


def get_spark(
    app_name: str = "fujishadergpu_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the canonical SparkSession with
    ``_session_confs(extra_confs)``.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``) so the same entry point serves tests, bench runs at
    two parallelism levels, and spark-submit (where ``master`` is
    supplied externally and must be passed as None).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    for k, v in _session_confs(extra_confs).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to the session's ``defaultParallelism`` when
    it has fewer partitions, else ``df`` unchanged. A one-split scan
    (the bench corpus parquet) would otherwise run a per-row Arrow UDF
    in one task; a real corpus already scans as many splits."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par) if df.rdd.getNumPartitions() < par else df

