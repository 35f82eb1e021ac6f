"""Distributed push-pull membrane (operators/void_fill_dist.py, r5
verdict #7): bit-identical to the driver-side pyramid, and the
patch-join filled kernel produces the broadcast route's tiles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.functions.tiles import TILE_PX
from fujishadergpu_spark.operators.np_filters import pushpull_fill
from fujishadergpu_spark.operators.tile_kernels import rasterize_tiles, unpack_grid
from fujishadergpu_spark.operators.void_fill import (
    _assemble_world,
    _fillable_mask,
    build_void_fill_surface,
)
from fujishadergpu_spark.operators.void_fill_dist import pushpull_fill_tiles


def _world(spark_rows, zc):
    n = (1 << zc) * TILE_PX
    w = np.zeros((n, n), dtype=np.float64)
    for r in spark_rows:
        g = unpack_grid(r[next(c for c in ("grid", "filled") if c in r.asDict())], TILE_PX)
        w[r["y"] * TILE_PX : (r["y"] + 1) * TILE_PX,
          r["x"] * TILE_PX : (r["x"] + 1) * TILE_PX] = g
    return w


@pytest.mark.parametrize("zc", [1, 2])
def test_distributed_membrane_equals_driver_pushpull(spark, points_df, zc):
    """The LOD join-chain pyramid must reproduce np_filters.
    pushpull_fill on the assembled world BIT-FOR-BIT (the 2x2 block
    means, the apex recursion, the dyadic ring upsample, and the
    preserve-at-valid step all shared or proven tile-local)."""
    world = _world(rasterize_tiles(points_df, zc).collect(), zc)
    expect = pushpull_fill(np.where(world == 0, np.nan, world))
    got = _world(pushpull_fill_tiles(points_df, zc).collect(), zc)
    assert np.array_equal(got, expect), float(np.abs(got - expect).max())


@pytest.mark.parametrize("kernel,kw", [("hillshade", {}), ("slope", {"unit": "degree"})])
def test_join_based_fill_equals_broadcast_fill(spark, points_df, kernel, kw):
    """The fully distributed consumer (patch-request/piece-join,
    tile_kernel_stats_filled) must reproduce the broadcast-surface
    path bit-for-bit: same tile set (incl. synthesized pointless
    fillable tiles), same stats."""
    from fujishadergpu_spark.operators.tile_kernels import tile_kernel_stats
    from fujishadergpu_spark.operators.void_fill_dist import tile_kernel_stats_filled

    surf = build_void_fill_surface(points_df, 5, zc=2, mode="enclosed")
    cols = ["z", "x", "y", "shade_sum", "shade_max", "lit_pixels"]
    a = {tuple(r) for r in tile_kernel_stats(
        points_df, 5, kernel=kernel, fill_surface=surf, **kw).select(*cols).collect()}
    b = {tuple(r) for r in tile_kernel_stats_filled(
        points_df, 5, kernel=kernel, zc=2, mode="enclosed", **kw).select(*cols).collect()}
    assert a == b and len(a) > 1


def test_join_based_fill_zc_equals_z_and_metric(spark, points_df):
    """s=0 (membrane at full kernel zoom) and the metric-scale branch
    both survive the patch path; parity vs the broadcast surface."""
    from fujishadergpu_spark.operators.tile_kernels import tile_kernel_stats
    from fujishadergpu_spark.operators.void_fill_dist import tile_kernel_stats_filled

    surf = build_void_fill_surface(points_df, 3, zc=3, mode="all")
    cols = ["z", "x", "y", "shade_sum", "shade_max", "lit_pixels"]
    a = {tuple(r) for r in tile_kernel_stats(
        points_df, 3, kernel="hillshade", fill_surface=surf,
        metric_scale=True, z_factor=2000.0).select(*cols).collect()}
    b = {tuple(r) for r in tile_kernel_stats_filled(
        points_df, 3, kernel="hillshade", zc=3, mode="all",
        metric_scale=True, z_factor=2000.0).select(*cols).collect()}
    assert a == b and len(a) > 1


def test_join_based_fill_default_zc(spark, points_df):
    """tile_kernel_stats_filled derives zc from z with the broadcast
    route's rule, so z < 4 works without passing zc (a fixed default
    of 4 refused every z < 4) and matches the broadcast fill."""
    from fujishadergpu_spark.operators.tile_kernels import tile_kernel_stats
    from fujishadergpu_spark.operators.void_fill_dist import tile_kernel_stats_filled

    cols = ["z", "x", "y", "shade_sum", "shade_max", "lit_pixels"]
    a = {tuple(r) for r in tile_kernel_stats(
        points_df, 3, fill_surface=build_void_fill_surface(points_df, 3)).select(*cols).collect()}
    b = {tuple(r) for r in tile_kernel_stats_filled(points_df, 3).select(*cols).collect()}
    assert a == b and len(a) > 1


def test_distributed_membrane_all_mode_and_empty(spark):
    """mode='all' gates every cell; an empty input synthesizes a dense
    zero membrane (the pushpull_core no-data contract) without erroring."""
    empty = spark.createDataFrame([], "id long, lat double, lon double")
    rows = pushpull_fill_tiles(empty, 1).collect()
    assert len(rows) == 4
    assert float(np.abs(_world(rows, 1)).max()) == 0.0
    assert _fillable_mask(_assemble_world(empty, 1), "all").all()
