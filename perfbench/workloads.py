"""The benchmark's workloads over the engine's main path.

Each workload has a timed ``run_pass`` (calls into the engine's public
functions only), an untimed ``outputs`` that reduces what the pass
produced to order-independent digests, and a ``check`` against
expectations computed by ``inputs`` without any engine code. ``trace``
times the prefixes of the pass, each tagged with a Spark job group so
``eventlog`` can attribute task metrics to it.

Digest = [row count, sum of Spark ``xxhash64`` over integer keys mod
2^64], the same value ``inputs.digest`` computes in NumPy.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

import inputs
from fujishadergpu_spark import cli
from fujishadergpu_spark.functions import cells, geoparse
from fujishadergpu_spark.operators import tile_kernels
from fujishadergpu_spark.operators.pip_join import PipIndex, pip_join, polygon_cover
from fujishadergpu_spark.sources.polygons import polygon_rows, polygons

PASS = "pass"  # job group of full passes


def _digest_aggs(key_sets) -> list:
    aggs = [F.count(F.lit(1))]
    for keys in key_sets:
        h = F.xxhash64(*keys)
        # two 32-bit halves so the sums cannot overflow a bigint
        aggs += [F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.sum(F.shiftrightunsigned(h, 32))]
    return aggs


def _digests(row, n: int, first: int = 0) -> list[list[int]]:
    return [
        [int(row[first]), ((row[first + 1 + 2 * i] or 0) + ((row[first + 2 + 2 * i] or 0) << 32)) % (1 << 64)]
        for i in range(n)
    ]


def spark_digests(df, *key_sets) -> list[list[int]]:
    """One Spark job: a digest of ``df`` per list of key columns."""
    return _digests(df.agg(*_digest_aggs(key_sets)).first(), len(key_sets))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def page_points(pages):
    """pages -> (id, lat, lon); ``id`` is the page id carried in the url."""
    return geoparse.geoparse(pages).select(
        F.regexp_extract("url", r"[?&]id=(\d+)", 1).cast("long").alias("id"), "lat", "lon"
    )


def timed(fn, reps: int = 1) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def _bytes_under(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, names in os.walk(root) for f in names)


def tagged(spark, group: str):
    spark.sparkContext.setJobGroup(group, group)


class Workload:
    name = ""
    pages = 0
    uses_index = False
    # untimed passes before timing starts, until pass times settle
    warmup_passes = 2
    # outputs whose expected value comes from pins.json, or for a seed
    # with no pin, from the untimed warm-up pass
    pinned: tuple[str, ...] = ()
    event_groups: dict[str, tuple[str, int]] = {}

    def references(self, pts: dict) -> dict:
        """Expected outputs from the generated coordinates alone."""
        raise NotImplementedError

    def setup(self, spark, pages_path: str, work: str) -> None:
        self.spark = spark
        self.pages_path = pages_path
        self.work = work
        self.pg = spark.read.parquet(pages_path)
        self.pts = page_points(self.pg)
        self.pol = polygons(spark)

    def build_index(self) -> None:
        self.idx = PipIndex(self.pol)

    def run_pass(self):
        raise NotImplementedError

    def outputs(self, raw) -> dict:
        return raw

    def check(self, out: dict, expected: dict) -> list[str]:
        """Messages for every digest that differs from ``expected``
        (keys absent from ``expected`` are not checked)."""
        return [f"{k}: got {out[k]}, expected {v}" for k, v in expected.items()
                if k in out and out[k] != v]

    def tiles(self, out: dict) -> int | None:
        return None

    def trace(self, m: dict) -> None:
        raise NotImplementedError

    # shared traced prefixes -------------------------------------------

    def _trace_scan_geoparse(self, m: dict, reps: int) -> float:
        """Scan and geoparse prefixes; returns the geoparse prefix time."""
        tagged(self.spark, "scan")
        scan = timed(lambda: noop(self.pg.select("url", "text")), reps)
        tagged(self.spark, "geoparse")
        geo = timed(lambda: noop(self.pts), reps)
        tagged(self.spark, "counts")
        row = self.pts.agg(F.count(F.lit(1)), F.count("lat")).first()
        m["sources.scan_s"] = scan
        m["geoparse.self_s"] = geo - scan
        m["geoparse.coord_ratio"] = row[1] / row[0]
        return geo

    def _trace_explode(self, m: dict, z: int, reps: int, geo_s: float) -> float:
        """Halo explode + shuffle prefix and the census counts at zoom
        ``z``; returns the explode prefix time."""
        halo = tile_kernels.kernel_halo("hillshade")
        tagged(self.spark, "explode_shuffle")
        # the engine's own packed explode + repartition, into the noop sink
        t = timed(lambda: noop(tile_kernels._packed_tiles(self.pts, z, halo, None)), reps)
        tagged(self.spark, "counts")
        census = tile_kernels.tile_halo_census(self.pts, z, halo)
        row = census.agg(F.count(F.lit(1)), F.sum("win_pts"), F.median("win_pts")).first()
        m["tile_kernels.explode_shuffle_self_s"] = t - geo_s
        m["tile_kernels.explode_rows"] = int(row[1])
        m["tile_kernels.halo_dup_ratio"] = row[1] / self.pages
        m["tile_kernels.groups"] = int(row[0])
        m["tile_kernels.points_per_group_p50"] = float(row[2])
        return t


class PipCity(Workload):
    """pages -> geoparse -> cell candidates -> ray-cast refine; the
    output (id, polygon_id) is reduced in one aggregate job."""

    name = "pip_city"
    pages = 200_000
    uses_index = True
    warmup_passes = 5
    pinned = ("pairs",)

    def references(self, pts):
        ids, pids = inputs.pip_pairs(pts, polygon_rows())
        return {"pairs": inputs.digest(ids, pids)}

    def run_pass(self):
        (pairs,) = spark_digests(pip_join(self.pts, self.pol, index=self.idx), ["id", "polygon_id"])
        return {"pairs": pairs}

    def trace(self, m):
        reps = 2
        geo = self._trace_scan_geoparse(m, reps)
        res = self.idx.res
        build = polygon_cover(self.pol, res).drop("ring_lon", "ring_lat")
        cand = self.pts.withColumn("cell_id", cells.cell_of(F.col("lat"), F.col("lon"), res)).join(build, "cell_id")
        tagged(self.spark, "candidates")
        t_cand = timed(lambda: noop(cand), reps)
        tagged(self.spark, "pip_join")
        t_pip = timed(lambda: noop(pip_join(self.pts, self.pol, index=self.idx)), reps)
        tagged(self.spark, "counts")
        n_build, n_cand = build.count(), cand.count()
        n_match = pip_join(self.pts, self.pol, index=self.idx).count()
        m.update({
            "cells.build_rows": n_build,
            "cells.candidates": n_cand,
            "cells.candidate_join_self_s": t_cand - geo,
            "pip_join.matches": n_match,
            "pip_join.refine_hit_ratio": n_match / n_cand if n_cand else 0.0,
            "pip_join.refine_self_s": t_pip - t_cand,
        })
        self.event_groups = {"pip_join": ("pip_join", reps)}
        # the lineage layer, over the first pages at pipeline_write's
        # size: over all of them the traced run would pass 180 s
        lineage = PipelineWrite()
        sub = os.path.join(self.work, "pages-lineage")
        self.pg.limit(lineage.pages).write.mode("overwrite").parquet(sub)
        lineage.setup(self.spark, sub, self.work)
        lineage.trace_lineage(m, lineage.pages)


class TileZ9(Workload):
    """pages -> geoparse -> halo explode -> per-tile hillshade stats at
    zoom 9 (thousands of small tiles: per-group overhead dominates)."""

    name = "tile_z9"
    pages = 30_000
    zoom = 9
    pinned = ("tiles", "stats")

    def references(self, pts):
        x, y = inputs.tile_keys(pts, self.zoom, tile_kernels.kernel_halo("hillshade"))
        return {"tiles": inputs.digest(x, y)}

    def run_pass(self):
        xy, stats = spark_digests(
            tile_kernels.tile_kernel_stats(self.pts, self.zoom, kernel="hillshade"),
            ["x", "y"], ["x", "y", "lit_pixels"],
        )
        return {"tiles": xy, "stats": stats}

    def tiles(self, out):
        return out["tiles"][0]

    def trace(self, m):
        reps = 2
        halo = tile_kernels.kernel_halo("hillshade")
        geo = self._trace_scan_geoparse(m, reps)
        t_explode = self._trace_explode(m, self.zoom, reps, geo)
        # one rep each of the two ~7 s prefixes keeps the traced run
        # within 180 s
        tagged(self.spark, "accumulate")
        t_census = timed(lambda: noop(tile_kernels.tile_halo_census(self.pts, self.zoom, halo)))
        tagged(self.spark, "kernel")
        t_kernel = timed(lambda: noop(tile_kernels.tile_kernel_stats(self.pts, self.zoom, kernel="hillshade")))
        m["tile_kernels.accumulate_self_s"] = t_census - t_explode
        m["tile_kernels.kernel_self_s"] = t_kernel - t_census
        self.event_groups = {"tile_kernels": ("kernel", 1)}


class PipelineWrite(Workload):
    """``cli.run_pipeline`` into an empty output root: points, pip and
    zoom-8 tiles stages, each written through the lineage layer."""

    name = "pipeline_write"
    pages = 20_000
    zoom = 8
    pinned = ("points", "pip", "tiles", "stats")

    def references(self, pts):
        ids, _ = inputs.pip_pairs(pts, polygon_rows())
        x, y = inputs.tile_keys(pts, self.zoom, tile_kernels.kernel_halo("hillshade"))
        return {"points_rows": self.pages, "pip_rows": int(len(ids)), "tiles": inputs.digest(x, y)}

    def _root(self) -> str:
        root = os.path.join(self.work, "out")
        shutil.rmtree(root, ignore_errors=True)
        return root

    def run_pass(self):
        root = self._root()
        cli.run_pipeline(self.spark, self.pages_path, root, zoom=self.zoom)
        return root

    def outputs(self, root):
        rd = self.spark.read.parquet
        # one job for all three stages: each contributes its keys as
        # (a, b, c), padded with 0 where it has fewer
        parts = [
            rd(f"{root}/points").select(F.lit("points").alias("stage"), F.col("id").alias("a"),
                                        F.col("cell_id").alias("b"), F.lit(0).cast("long").alias("c")),
            rd(f"{root}/pip").select(F.lit("pip"), "id", "polygon_id", F.lit(0).cast("long")),
            rd(f"{root}/tiles").select(F.lit("tiles"), "x", "y", "lit_pixels"),
        ]
        union = parts[0].unionAll(parts[1]).unionAll(parts[2])
        rows = {r["stage"]: r for r in
                union.groupBy("stage").agg(*_digest_aggs([["a", "b"], ["a", "b", "c"]])).collect()}
        points, pip, xy = (_digests(rows[s], 1, 1)[0] for s in ("points", "pip", "tiles"))
        stats = _digests(rows["tiles"], 2, 1)[1]
        logged = {r["stage"]: int(r["n"]) for r in
                  rd(f"{root}/_lineage").groupBy("stage").agg(F.sum("row_count").alias("n")).collect()}
        stored = _bytes_under(root)
        return {
            "points": points, "pip": pip, "tiles": xy, "stats": stats,
            "points_rows": points[0], "pip_rows": pip[0],
            "lineage_rows": [logged.get("points"), logged.get("pip"), logged.get("tiles")],
            "readback_rows": [points[0], pip[0], xy[0]],
            "bytes_stored": stored,
        }

    def check(self, out, expected):
        errs = super().check(out, expected)
        if out["lineage_rows"] != out["readback_rows"]:
            errs.append(f"lineage rows {out['lineage_rows']} != readback rows {out['readback_rows']}")
        return errs

    def tiles(self, out):
        return out["tiles"][0]

    def trace(self, m):
        reps = 2
        geo = self._trace_scan_geoparse(m, reps)
        self._trace_explode(m, self.zoom, reps, geo)
        tagged(self.spark, "index")
        m["pip_join.index_build_s"] = timed(self.build_index, 3)
        self.trace_lineage(m, self.pages)
        self.event_groups = {"tile_kernels": ("lineage.tiles", 1)}

    def trace_lineage(self, m, pages: int):
        """Per-stage lineage times (wrapping ``cli.run_stage_idempotent``),
        files and bytes written for ``pages`` input pages, and a no-op
        resume over the finished root."""
        stage_s = {}
        real = cli.run_stage_idempotent

        def wrapped(spark, df, key_col, out_path, lineage, stage, *a, **kw):
            tagged(spark, f"lineage.{stage}")
            t = time.perf_counter()
            try:
                return real(spark, df, key_col, out_path, lineage, stage, *a, **kw)
            finally:
                stage_s[stage] = time.perf_counter() - t
                tagged(spark, "lineage")

        root = self._root()
        tagged(self.spark, "lineage")
        cli.run_stage_idempotent = wrapped
        try:
            cli.run_pipeline(self.spark, self.pages_path, root, zoom=self.zoom)
        finally:
            cli.run_stage_idempotent = real
        for stage in ("points", "pip", "tiles"):
            m[f"lineage.stage_s.{stage}"] = stage_s[stage]
        m["lineage.files_written"] = sum(
            f.endswith(".parquet") for _, _, names in os.walk(root) for f in names)
        m["lineage.bytes_stored_per_page"] = _bytes_under(root) / pages
        tagged(self.spark, "resume")
        m["lineage.resume_noop_s"] = timed(
            lambda: cli.run_pipeline(self.spark, self.pages_path, root, zoom=self.zoom))


WORKLOADS = {w.name: w for w in (PipCity, TileZ9, PipelineWrite)}
