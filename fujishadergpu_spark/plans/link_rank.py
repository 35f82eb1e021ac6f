"""Resumable link-analysis job: the production entry point for the
round-6 link-graph operator family (the clean_corpus.py treatment —
r5 verdict #2's pattern — applied to the graph side).

Five stages, chained through parquet, every stage written with
plans/lineage.run_stage_idempotent (bucketed dynamic partition
overwrite + lineage done-key filter), so a killed run resumes idempotently
at per-bucket granularity and a completed run re-invoked is a no-op:

    edges       normalize: distinct (src, dst), self-loops dropped
    linkstats   in/out degree + reciprocity     (operators/linkstats.py)
    pagerank    exact integer fixed point       (operators/pagerank.py)
    hits        exact integer L1 power iteration (operators/hits.py)
    seed_distance  bounded BFS (only when a seeds table is supplied)

Stage contract: ``edges`` is the ONE pass over the raw link input;
every rank stage reads the edges parquet, never the original input,
so a resumed run recomputes nothing upstream of the crash. Rank
stages bucket their output by id hash (same lineage.N_BUCKETS resume
granularity as the geo and corpus pipelines).

Why bucketed resume is SOUND for iterative ranks: every operator in
the family is EXACT-INTEGER and partition-invariant by construction
(the module docstrings' floor-div/order-free-sum contracts), so a
resumed bucket writes byte-identical rows to the ones the crashed run
would have written — the same determinism argument clean_corpus.py
makes for its stages, load-bearing here because a rank stage that
crashes mid-write re-ITERATES from the edges table, then writes only
the missing buckets.

Reference parity: the resume machinery mirrors the reference's
checkpoint/--cog-only design (reference core/tile_processor.py:
1748-1819) via plans/lineage.py, per SURVEY.md §2.A A18.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.bfs import seed_distance
from ..operators.graphcore import normalize_edges
from ..operators.hits import hits
from ..operators.linkstats import link_stats
from ..operators.pagerank import pagerank
from .lineage import LineageLog, bucket, run_stage_idempotent


STAGES = ("edges", "linkstats", "pagerank", "hits", "seed_distance")


def _bucketed(df: DataFrame, key: str) -> DataFrame:
    return df.withColumn("bucket", bucket(key))


def run_link_rank(
    spark: SparkSession,
    links_path: str,
    out_root: str,
    run_id: str | None = None,
    iters: int = 6,
    hits_iters: int = 6,
    seeds_path: str | None = None,
    max_hops: int = 6,
    damping_num: int = 85,
    damping_den: int = 100,
) -> dict:
    """Run (or resume) the link-analysis job over a (src, dst) link
    parquet; returns the per-stage run_stage_idempotent summaries.

    ``seeds_path``: optional parquet whose first column is the seed id
    set — when given, a ``seed_distance`` stage materializes bounded
    BFS hops from it (and the same seeds are a natural TrustRank
    teleport set for a pagerank re-run; this job keeps the two
    concerns separate). When None the stage is skipped entirely —
    recorded as absent, not as an empty write, so a later seeded run
    is an explicit new stage, never a silent semantic change."""
    lineage = LineageLog(spark, f"{out_root}/_lineage")
    summary: dict = {}

    def stage(name: str, df: DataFrame) -> dict:
        s = run_stage_idempotent(
            spark, df, "bucket", f"{out_root}/{name}", lineage, name, run_id
        )
        summary[name] = s
        return s

    raw = spark.read.parquet(links_path)
    # the ONE family-shared normalization (operators/graphcore.py) —
    # no checkpoint: this stage materializes to parquet itself
    edges = normalize_edges(raw, checkpoint=False)
    stage("edges", _bucketed(edges, "src"))

    e = spark.read.parquet(f"{out_root}/edges").select("src", "dst")
    stage("linkstats", _bucketed(link_stats(e), "id"))
    stage(
        "pagerank",
        _bucketed(
            pagerank(e, iters=iters, damping_num=damping_num, damping_den=damping_den),
            "id",
        ),
    )
    stage("hits", _bucketed(hits(e, iters=hits_iters), "id"))
    if seeds_path is not None:
        seeds = spark.read.parquet(seeds_path)
        stage(
            "seed_distance",
            _bucketed(seed_distance(e, seeds, max_hops=max_hops), "id"),
        )
    return summary
