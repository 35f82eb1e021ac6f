"""spark-submit entry point (BASELINE.json: `spark-submit --py-files`).

Usage (cluster):
    tools/make_pyfiles.sh                       # -> dist/fujishadergpu_spark.zip
    spark-submit --py-files dist/fujishadergpu_spark.zip \
        dist/cli_main.py pipeline --pages s3://.../pages --out s3://.../out

Usage (sandbox):
    python -m fujishadergpu_spark.cli generate --n 1000000 --out /tmp/pages
    python -m fujishadergpu_spark.cli pipeline --pages /tmp/pages --out /tmp/out

The `pipeline` subcommand is the engine's production job: geoparse ->
cell index -> PIP join -> XYZ tile kernels, every stage checkpointed
to the lineage log partition-by-partition so a killed run resumes
idempotently (reference --cog-only resume,
reference core/tile_processor.py:1748-1819).

The `clean-corpus` subcommand is the text family's production job:
pii -> repetition -> line_dedup -> span_dedup -> decontaminate ->
sample -> pack -> shard over the same lineage machinery
(plans/clean_corpus.py).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from .functions import cells, geoparse
from .operators.pip_join import pip_join
from .operators.tile_kernels import tile_kernel_stats
from .plans.lineage import LineageLog, bucket, read_parquet_or_none, run_stage_idempotent
from .session import get_spark
from .sources.pages import pages as gen_pages
from .sources.polygons import polygons as gen_polygons


def validate_fanout(
    algorithms: list[str],
    kernel_params: dict | None = None,
    fill_voids: str | None = None,
    metric_scale: bool = False,
) -> None:
    """Up-front compatibility checks for a multi-algorithm fan-out.

    Raises ValueError BEFORE any algorithm renders (and before the
    shared void-fill pre-pass runs): run_render would otherwise raise
    the same errors mid-fan-out, after earlier algorithms already
    fully rendered. Called by run_render_many itself so every entry
    point — not just the CLI — fails early.
    """
    if metric_scale:
        from .operators.tile_kernels import METRIC_SCALE_KERNELS

        bad = [a for a in algorithms if a not in METRIC_SCALE_KERNELS]
        if bad:
            raise ValueError(
                f"--metric-scale: {bad} do not consume metric pixel scales; "
                f"supported: {sorted(METRIC_SCALE_KERNELS)}"
            )
    if "topousm" in algorithms and (fill_voids or kernel_params):
        raise ValueError(
            "topousm in a multi-algorithm list cannot combine with "
            "--fill-voids/--params (topousm takes --radii/--weights/--agg); "
            "run it as a separate invocation"
        )


def run_pipeline(spark, pages_path: str, out_root: str, zoom: int = 8, run_id: str | None = None) -> dict:
    """The resumable 3-stage pipeline. Each stage's partition key is a
    stable hash bucket so resume granularity is independent of data
    volume (10^12 rows / 64 buckets each resume unit)."""
    lineage = LineageLog(spark, f"{out_root}/_lineage")
    summary = {}

    pg = spark.read.parquet(pages_path)
    pts = geoparse.geoparse(pg).select(
        F.xxhash64("url").alias("id"), F.col("url"), "lat", "lon",
        cells.cell_of(F.col("lat"), F.col("lon"), 7).alias("cell_id"),
    )
    pts_keyed = pts.withColumn("bucket", bucket("url"))
    summary["points"] = run_stage_idempotent(
        spark, pts_keyed, "bucket", f"{out_root}/points", lineage, "points", run_id
    )

    pts_back = spark.read.parquet(f"{out_root}/points")
    pol = gen_polygons(spark)
    joined = pip_join(pts_back, pol).select("id", "polygon_id", "lat", "lon")
    joined_keyed = joined.withColumn("bucket", bucket("id"))
    summary["pip"] = run_stage_idempotent(
        spark, joined_keyed, "bucket", f"{out_root}/pip", lineage, "pip", run_id
    )

    tiles = tile_kernel_stats(pts_back, zoom, kernel="hillshade", log_scale=True)
    tiles_keyed = tiles.withColumn("bucket", bucket("x", "y"))
    summary["tiles"] = run_stage_idempotent(
        spark, tiles_keyed, "bucket", f"{out_root}/tiles", lineage, "tiles", run_id
    )
    return summary


def run_render_many(
    spark,
    pages_path: str,
    out_root: str,
    algorithms: list[str],
    zoom: int = 8,
    run_id: str | None = None,
    agg: str = "mean",
    kernel_params: dict | None = None,
    fill_voids: str | None = None,
    metric_scale: bool = False,
    fill_zc: int | None = None,
) -> dict:
    """Fan-out: N algorithms from ONE scan+geoparse. The reference
    runs one algorithm per invocation (re-reading the COG each time);
    on Spark the shared upstream persists (MEMORY_AND_DISK — the A14
    persist-or-stream decision, safe under spill) and each algorithm
    reuses it. The void-fill surface (if requested) is likewise built
    once and shared — it depends only on (points, zoom)."""
    from pyspark import StorageLevel

    validate_fanout(algorithms, kernel_params, fill_voids, metric_scale)
    pg = spark.read.parquet(pages_path)
    pts = geoparse.geoparse(pg).select(F.xxhash64("url").alias("id"), "lat", "lon")
    pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    surface = None
    if fill_voids:
        from .operators.void_fill import build_void_fill_surface

        surface = build_void_fill_surface(pts, zoom, zc=fill_zc, mode=fill_voids)
    try:
        return {
            a: run_render(spark, pages_path, out_root, a, zoom, agg=agg,
                          run_id=run_id, _pts=pts, kernel_params=kernel_params,
                          fill_voids=fill_voids, _surface=surface,
                          metric_scale=metric_scale, fill_zc=fill_zc)
            for a in algorithms
        }
    finally:
        pts.unpersist()


def run_render(
    spark,
    pages_path: str,
    out_root: str,
    algorithm: str = "hillshade",
    zoom: int = 8,
    radii: list[float] | None = None,
    weights: list[float] | None = None,
    agg: str = "mean",
    run_id: str | None = None,
    _pts=None,
    kernel_params: dict | None = None,
    fill_voids: str | None = None,
    metric_scale: bool = False,
    fill_zc: int | None = None,
    _surface=None,
) -> dict:
    """The reference's primary command (``fujishadergpu in out
    --algorithm X --radii ... --agg ...``) end-to-end: geoparse ->
    rasterize -> kernel (spatial mode when radii are given) -> global
    [p1,p99] stretch (A9/A11 pre-pass) -> uint8 quantize (A13, DN 0 =
    NoData) -> 65,536-byte raw tile payloads written resumably with
    lineage (A16/A18). Output rows: (z, x, y, dn: binary)."""
    import numpy as np
    import pandas as pd

    from .operators.spatial_mode import spatial_kernel
    from .operators.tile_kernels import KERNELS, tile_kernel

    kernel_params = dict(kernel_params or {})
    if algorithm == "topousm":
        # the reference's flagship topousm_fast: multiscale USM with
        # the overview rewrite, ALWAYS normalized to a symmetric
        # (-p99, 2*p99) stretch of |USM| (reference
        # algorithms/_normalization.py:22-41) — no per-block stats
        # anywhere, so no seam warning applies
        if kernel_params:
            raise KeyError("topousm takes --radii/--weights/--agg, not --params")
        if fill_voids or metric_scale:
            raise ValueError("--fill-voids/--metric-scale apply to the stencil tile path")
    else:
        if algorithm not in KERNELS:
            raise KeyError(
                f"unknown algorithm {algorithm!r}; registered: "
                f"{sorted(KERNELS) + ['topousm']}"
            )
        from .operators.tile_kernels import KERNEL_DEFAULTS

        unknown = set(kernel_params) - set(KERNEL_DEFAULTS[algorithm])
        if unknown:
            raise KeyError(
                f"unknown params {sorted(unknown)} for {algorithm!r}; "
                f"declared surface: {sorted(KERNEL_DEFAULTS[algorithm])}"
            )
        # kernels whose normalization wants a GLOBAL stat: running without
        # one falls back to per-block stats, which seam at tile boundaries
        # (reference hoists these to a global pre-pass for exactly this
        # reason, reference algorithms/_norm_stats.py:301-350). The render
        # still applies a global [p1,p99] stretch after the kernel, but the
        # kernel-internal normalization remains per-block — surface that.
        if (
            "global_stats" in KERNEL_DEFAULTS[algorithm]
            and kernel_params.get("global_stats") is None
        ):
            import warnings

            warnings.warn(
                f"render {algorithm!r}: no global_stats injected — the kernel's internal "
                f"normalization uses per-block stats and may seam at tile boundaries; "
                f"pass --params '{{\"global_stats\": [lo, scale]}}' (from a stats pre-pass) "
                f"for seam-free output",
                stacklevel=2,
            )
    if _pts is not None:
        pts = _pts  # shared persisted upstream (run_render_many)
    else:
        pg = spark.read.parquet(pages_path)
        pts = geoparse.geoparse(pg).select(F.xxhash64("url").alias("id"), "lat", "lon")
    surface = _surface
    if metric_scale and radii and algorithm != "topousm":
        raise ValueError("--metric-scale applies to the single-radius tile path")
    if fill_voids:
        if radii:
            raise ValueError("--fill-voids applies to the single-radius tile path")
        if surface is None:
            from .operators.void_fill import build_void_fill_surface

            # one bounded pre-pass -> broadcast membrane (A21; the
            # reference's prepare-stage enclosed-void repair)
            surface = build_void_fill_surface(pts, zoom, zc=fill_zc, mode=fill_voids)
    if algorithm == "topousm":
        from .operators.multiscale import multiscale_usm

        t = multiscale_usm(
            pts, zoom,
            radii=tuple(int(r) for r in radii) if radii else None,
            weights=tuple(weights) if weights else None,
            agg=agg, output="grid",
        ).withColumnRenamed("usm", "result")
    elif radii:
        t = spatial_kernel(pts, zoom, algorithm, radii=tuple(radii),
                           weights=tuple(weights) if weights else None,
                           agg=agg, output="grid", **kernel_params)
    else:
        t = tile_kernel(pts, zoom, kernel=algorithm, log_scale=True,
                        fill_surface=surface, metric_scale=metric_scale,
                        **kernel_params)

    # A9/A10/A11 stats pre-pass (norm_stats.render_stretch): robust
    # [p1, p99], or topousm's symmetric ±|p99|, broadcast into the
    # encode UDF. The kernel output is persisted so the pre-pass action and
    # the encode write run the expensive rasterize+kernel ONCE (the
    # A14 persist decision; without it every render computed the
    # kernel twice — the tile-hash filter sits above the grouped map
    # and cannot prune kernel work)
    from pyspark import StorageLevel

    t = t.persist(StorageLevel.MEMORY_AND_DISK)
    # stats are PERSISTED next to the sink and reused on resume:
    # percentile_approx is a partition-layout-dependent sketch, so
    # recomputing it on a resumed run would quantize the remaining
    # tiles on a (slightly) different scale than the already-committed
    # ones — seams at resume boundaries. First run wins.
    # the stats key must cover EVERYTHING that changes the output value
    # distribution (agg incl. stack, radii/weights, kernel params,
    # fill/metric options) — a rerun with a different config must NOT
    # quantize on another config's persisted (lo, scale)
    import hashlib

    cfg_tuple = (agg, radii, weights, sorted(kernel_params.items()),
                 fill_voids, metric_scale, fill_zc)
    cfg_tag = hashlib.sha256(repr(cfg_tuple).encode()).hexdigest()[:10]
    stats_path = f"{out_root}/_stats_render_{algorithm}_z{zoom}_{cfg_tag}"
    # resumes across stats-key upgrades must keep quantizing on the
    # SAME (lo, scale) or the remaining tiles seam at the resume
    # boundary — every historical key for the SAME config is a legal
    # fallback, newest first:
    #   1. the 6-tuple tag (pre-fill_zc releases) for any config with
    #      fill_zc unset — same config, older key;
    #   2. the untagged path (pre-cfg-tag releases), which only ever
    #      held default-config stats.
    legacy_stats_paths = []
    if fill_zc is None:
        old6 = hashlib.sha256(repr(cfg_tuple[:6]).encode()).hexdigest()[:10]
        legacy_stats_paths.append(f"{out_root}/_stats_render_{algorithm}_z{zoom}_{old6}")
    if cfg_tuple == ("mean", None, None, [], None, False, None):
        legacy_stats_paths.append(f"{out_root}/_stats_render_{algorithm}_z{zoom}")
    # only a genuinely-missing stats file falls through to recompute;
    # any other read failure (FS fault, corrupt footer, permissions)
    # must propagate — silently recomputing percentile_approx would
    # quantize resumed tiles on a different scale than the committed
    # ones (the resume-boundary seams this persisted-stats contract
    # exists to prevent)
    def _read_stats(path):
        stats = read_parquet_or_none(spark, path)
        return None if stats is None else stats.first()

    srow = _read_stats(stats_path)
    for lp in legacy_stats_paths:
        if srow is not None:
            break
        srow = _read_stats(lp)
    if srow is not None:
        lo, scale = float(srow["lo"]), float(srow["scale"])
    else:
        from .operators.norm_stats import render_stretch

        lo, scale = render_stretch(t, symmetric=algorithm == "topousm")
        spark.createDataFrame([(lo, scale)], "lo double, scale double").coalesce(1).write.mode(
            "overwrite"
        ).parquet(stats_path)

    # --agg stack emits one row per (tile, radius); the radius column
    # rides through the encode so per-band tiles stay distinguishable
    has_radius = "radius" in t.columns

    def encode(it):
        for pdf in it:
            out = {"z": pdf["z"], "x": pdf["x"], "y": pdf["y"]}
            if has_radius:
                out["radius"] = pdf["radius"]
            out["dn"] = []
            for g in pdf["result"]:
                v = np.asarray(g, dtype=np.float64)
                stretched = np.maximum((v - lo) / scale, 0.0)
                dn = np.clip(np.round(stretched * 254.0 + 1.0), 1, 255)
                dn = np.where(np.isnan(v), 0, dn).astype(np.uint8)  # DN 0 = NoData
                out["dn"].append(dn.tobytes())
            yield pd.DataFrame(out)

    enc_schema = "z int, x long, y long, " + ("radius double, " if has_radius else "") + "dn binary"
    encoded = t.mapInPandas(encode, enc_schema)
    keyed = encoded.withColumn("bucket", bucket("x", "y"))
    lineage = LineageLog(spark, f"{out_root}/_lineage")
    try:
        return run_stage_idempotent(
            spark, keyed, "bucket", f"{out_root}/tiles_{algorithm}_z{zoom}", lineage,
            f"render_{algorithm}_z{zoom}", run_id,
        )
    finally:
        t.unpersist()


def main(argv=None):
    ap = argparse.ArgumentParser(prog="fujishadergpu_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="write the deterministic synthetic pages table")
    g.add_argument("--n", type=int, default=1_000_000)
    g.add_argument("--out", required=True)
    g.add_argument("--partitions", type=int, default=None)

    p = sub.add_parser("pipeline", help="geoparse -> PIP -> tiles with lineage resume")
    p.add_argument("--pages", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--zoom", type=int, default=8)
    p.add_argument("--run-id", default=None)

    lr = sub.add_parser(
        "link-rank",
        help="resumable link-analysis job: edges -> linkstats -> pagerank "
             "-> hits [-> seed_distance] (lineage resume, same A18 "
             "machinery as `pipeline` / `clean-corpus`)",
    )
    lr.add_argument("--links", required=True, help="parquet with (src, dst)")
    lr.add_argument("--out", required=True)
    lr.add_argument("--iters", type=int, default=6, help="PageRank rounds")
    lr.add_argument("--hits-iters", type=int, default=6, help="HITS rounds")
    lr.add_argument("--seeds", default=None,
                    help="optional parquet whose first column is the seed id "
                         "set: adds the bounded-BFS seed_distance stage")
    lr.add_argument("--max-hops", type=int, default=6)
    lr.add_argument("--run-id", default=None)

    c = sub.add_parser(
        "clean-corpus",
        help="resumable 8-stage text-cleaning job: pii -> repetition -> "
             "line_dedup -> span_dedup -> decontaminate -> sample -> pack "
             "-> shard (lineage resume, same A18 machinery as `pipeline`)",
    )
    c.add_argument("--docs", required=True, help="parquet with (doc_id, text)")
    c.add_argument("--out", required=True)
    c.add_argument("--benchmark", default=None,
                   help="parquet with a text column: eval corpus for n-gram "
                        "decontamination (stage passes everything when absent)")
    c.add_argument("--rates", default=None,
                   help='JSON dict lang -> keep rate for the stratified sampler, '
                        'e.g. \'{"en": 1.0, "de": 0.5}\'')
    c.add_argument("--default-rate", type=float, default=1.0)
    c.add_argument("--span-w", type=int, default=8,
                   help="ExactSubstr window length in tokens")
    c.add_argument("--decontam-n", type=int, default=8)
    c.add_argument("--pack-budget", type=int, default=2048)
    c.add_argument("--pack-groups", type=int, default=None,
                   help="independent packing shards (default: lineage bucket count)")
    c.add_argument("--ngram-rules", action="store_true",
                   help="AND the full Gopher n-gram family (top-2/3/4-gram + "
                        "dup-5..10-gram char fractions) into the repetition gate")
    c.add_argument("--para-dedup", action="store_true",
                   help="insert the RefinedWeb-granularity corpus paragraph "
                        "dedup stage between repetition and line_dedup")
    c.add_argument("--gopher-doc-rules", action="store_true",
                   help="AND the Gopher document-level rules (word-count/"
                        "mean-word-length bounds, symbol ratio, bullet/"
                        "ellipsis line fractions, alpha-word fraction, "
                        "stop words) into the repetition gate")
    c.add_argument("--dsir-target", default=None,
                   help="parquet with (doc_id, text): replace the stratified "
                        "sampler with DSIR Gumbel-top-k importance resampling "
                        "toward this target corpus")
    c.add_argument("--dsir-select", type=int, default=1000,
                   help="sample size for --dsir-target resampling")
    c.add_argument("--domain-min-docs", type=int, default=None,
                   help="enable the site-level keep gate before pii: drop "
                        "documents whose domain has fewer docs than this or "
                        "a mean quality below --domain-min-avg-quality")
    c.add_argument("--domain-min-avg-quality", type=float, default=0.5)
    c.add_argument("--domain-col", default="source",
                   help="corpus column holding the domain/source key")
    c.add_argument("--strip-boilerplate", action="store_true",
                   help="insert the jusText-style chrome strip between the "
                        "domain gate and pii: rewrite each doc to its content "
                        "lines, drop pure-chrome docs")
    c.add_argument("--fix-mojibake", action="store_true",
                   help="insert the ftfy-style encoding-repair transform "
                        "first among the text stages (total — every doc "
                        "survives, text rewritten to intended characters)")
    c.add_argument("--blocked-hosts", default=None,
                   help="parquet with a host column: enable the URL/domain "
                        "filter stage first (corpus must carry --url-col)")
    c.add_argument("--url-strict-words", default=None,
                   help="comma list: any hit in the lowercased url drops it")
    c.add_argument("--url-soft-words", default=None,
                   help='JSON {"word": weight}: weighted-sum URL score')
    c.add_argument("--url-soft-threshold", type=float, default=2.0)
    c.add_argument("--url-col", default="url")
    c.add_argument("--seen-snapshot", default=None,
                   help="parquet exact_snapshot (_h,_len) of a prior release: "
                        "enable the cross-snapshot dedup stage")
    c.add_argument("--ppl-keep", default=None,
                   help="comma list of CCNet perplexity buckets to keep "
                        "(e.g. head,middle): inserts the deterministic "
                        "bigram-LM gate between decontaminate and sample")
    c.add_argument("--ppl-bin-width", type=int, default=1_000_000,
                   help="histogram bin width (nll_q6 units) of the "
                        "deterministic threshold quantile")
    c.add_argument("--chunk-size", type=int, default=None,
                   help="append a context-window fan-out stage after shard: "
                        "token windows of this size (training examples)")
    c.add_argument("--chunk-stride", type=int, default=None,
                   help="window stride (default: --chunk-size, non-overlapping)")
    c.add_argument("--mixture-targets", default=None,
                   help='JSON dict lang -> target token share: replace the '
                        'stratified sampler with budgeted token-mixture '
                        'thresholds, e.g. \'{"en": 0.7, "de": 0.3}\'')
    c.add_argument("--mixture-budget", type=int, default=1_000_000,
                   help="token budget for --mixture-targets selection")
    c.add_argument("--unimax-budget", type=int, default=None,
                   help="fourth selection mode: UniMax budget waterfilling "
                        "over lang_id strata (token budget; no hand-tuned "
                        "shares — tail languages capped at --unimax-max-epochs, "
                        "head languages throttled to the fair share)")
    c.add_argument("--unimax-max-epochs", type=int, default=1)
    c.add_argument("--shard-budget", type=int, default=1_048_576,
                   help="tokens per shard in the final shuffled shard layout")
    c.add_argument("--norm-dedup", action="store_true",
                   help="insert the CCNet normalized-key exact dedup right "
                        "after pii (case/digit/accent/punct-style copies "
                        "collapse to one keeper)")
    c.add_argument("--sent-dedup", action="store_true",
                   help="insert sentence-granularity corpus dedup after "
                        "line dedup (the finer _unit_dedup rung)")
    c.add_argument("--readability-range", default=None,
                   help="LO,HI Flesch-reading-ease band gate after the "
                        "repetition stage, e.g. '10,90'")
    c.add_argument("--topic-keep", default=None,
                   help="comma list of lexicon topics to keep before the "
                        "sampler (list 'other' to keep unmatched docs)")
    c.add_argument("--pack-strategy", default="nextfit",
                   choices=["nextfit", "ffd"],
                   help="packing rule: streaming next-fit (default) or "
                        "first-fit-decreasing (better fill, offline)")
    c.add_argument("--run-id", default=None)

    r = sub.add_parser(
        "render",
        help="run any registered algorithm over the pages table and write quantized tiles "
             "(the reference's `fujishadergpu in out --algorithm X` analog)",
    )
    r.add_argument("--pages", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--algorithm", default="hillshade",
                   help="registered kernel name, or 'topousm' (multiscale USM with the "
                        "overview rewrite and the reference's symmetric ±p99 stretch); "
                        "comma list fans out N algorithms from one scan")
    r.add_argument("--zoom", type=int, default=8)
    r.add_argument("--radii", default=None, help="comma list; enables spatial mode")
    r.add_argument("--weights", default=None, help="comma list matching --radii")
    r.add_argument("--agg", default="mean", choices=["mean", "min", "max", "sum", "stack"])
    r.add_argument("--params", default=None,
                   help="JSON dict of kernel params (validated against the declared surface)")
    r.add_argument("--metric-scale", action="store_true",
                   help="per-tile metric (m/px) pixel scales into gradient/ray kernels "
                        "(hillshade/slope/curvature/aspect/openness)")
    r.add_argument("--fill-voids", default=None, choices=["enclosed", "all"],
                   help="fill zero-density voids from a coarse push-pull membrane before "
                        "the kernel (enclosed: only holes inside the data footprint; "
                        "the reference prepare-stage repair)")
    r.add_argument("--fill-zc", type=int, default=None,
                   help="coarse zoom of the void-fill membrane surface (default: "
                        "max(2, zoom-10), capped so the driver grid stays bounded; "
                        "pass explicitly to opt into a finer/costlier surface)")
    r.add_argument("--run-id", default=None)

    args = ap.parse_args(argv)
    # under spark-submit the master comes from the submitter; local
    # runs fall back to local[$SPARK_GRAFT_CPUS]
    spark = get_spark(app_name=f"fujishadergpu-{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")
    try:
        if args.cmd == "generate":
            gen_pages(spark, args.n, args.partitions).write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.n} pages to {args.out}")
        elif args.cmd == "pipeline":
            summary = run_pipeline(spark, args.pages, args.out, args.zoom, args.run_id)
            for stage, s in summary.items():
                print(f"stage {stage}: {s}")
        elif args.cmd == "link-rank":
            from .plans.link_rank import run_link_rank

            summary = run_link_rank(
                spark, args.links, args.out, args.run_id,
                iters=args.iters, hits_iters=args.hits_iters,
                seeds_path=args.seeds, max_hops=args.max_hops,
            )
            for stage, s in summary.items():
                print(f"stage {stage}: {s}")
        elif args.cmd == "clean-corpus":
            import json as _json

            from .plans.clean_corpus import run_clean_corpus
            from .plans.lineage import N_BUCKETS

            summary = run_clean_corpus(
                spark, args.docs, args.out, args.run_id,
                benchmark_path=args.benchmark,
                rates=_json.loads(args.rates) if args.rates else None,
                default_rate=args.default_rate,
                span_w=args.span_w, decontam_n=args.decontam_n,
                pack_budget=args.pack_budget,
                pack_groups=args.pack_groups or N_BUCKETS,
                ngram_rules=args.ngram_rules,
                gopher_doc_rules=args.gopher_doc_rules,
                norm_dedup=args.norm_dedup,
                para_dedup=args.para_dedup,
                sent_dedup=args.sent_dedup,
                readability_range=tuple(
                    float(x) for x in args.readability_range.split(",")
                )
                if args.readability_range
                else None,
                topic_keep=tuple(args.topic_keep.split(","))
                if args.topic_keep
                else None,
                pack_strategy=args.pack_strategy,
                dsir_target_path=args.dsir_target,
                dsir_select=args.dsir_select,
                mixture_targets=_json.loads(args.mixture_targets)
                if args.mixture_targets
                else None,
                mixture_budget=args.mixture_budget,
                unimax_budget=args.unimax_budget,
                unimax_max_epochs=args.unimax_max_epochs,
                shard_budget=args.shard_budget,
                domain_min_docs=args.domain_min_docs,
                domain_min_avg_quality=args.domain_min_avg_quality,
                domain_col=args.domain_col,
                strip_boilerplate=args.strip_boilerplate,
                fix_mojibake=args.fix_mojibake,
                ppl_keep_buckets=tuple(args.ppl_keep.split(","))
                if args.ppl_keep
                else None,
                ppl_bin_width=args.ppl_bin_width,
                chunk_size=args.chunk_size,
                chunk_stride=args.chunk_stride,
                blocked_hosts_path=args.blocked_hosts,
                url_strict_words=args.url_strict_words.split(",")
                if args.url_strict_words
                else None,
                url_soft_words=_json.loads(args.url_soft_words)
                if args.url_soft_words
                else None,
                url_soft_threshold=args.url_soft_threshold,
                url_col=args.url_col,
                seen_snapshot_path=args.seen_snapshot,
            )
            for stage, s in summary.items():
                print(f"stage {stage}: {s}")
        elif args.cmd == "render":
            radii = [float(x) for x in args.radii.split(",")] if args.radii else None
            weights = [float(x) for x in args.weights.split(",")] if args.weights else None
            import json as _json

            algos = [a.strip() for a in args.algorithm.split(",") if a.strip()]
            if not algos:
                raise SystemExit("--algorithm must name at least one registered kernel")
            kparams = _json.loads(args.params) if args.params else None
            if len(algos) > 1:
                if radii or weights:
                    raise SystemExit("--radii/--weights apply to single-algorithm renders")
                # fail the whole invocation up front rather than
                # mid-fan-out; run_render_many re-checks, but the CLI
                # wants a clean SystemExit, not a traceback
                try:
                    validate_fanout(algos, kparams, args.fill_voids,
                                    args.metric_scale)
                except ValueError as e:
                    raise SystemExit(str(e))
                many = run_render_many(
                    spark, args.pages, args.out, algos, args.zoom, args.run_id,
                    agg=args.agg, kernel_params=kparams, fill_voids=args.fill_voids,
                    metric_scale=args.metric_scale, fill_zc=args.fill_zc,
                )
                for a, s in many.items():
                    print(f"render {a}: {s}")
            else:
                s = run_render(
                    spark, args.pages, args.out, algos[0], args.zoom,
                    radii, weights, args.agg, args.run_id, kernel_params=kparams,
                    fill_voids=args.fill_voids, metric_scale=args.metric_scale,
                    fill_zc=args.fill_zc,
                )
                print(f"render {algos[0]}: {s}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
