"""Degenerate point inputs on the tile path: an empty input, NULL and
NaN coordinates, out-of-range coordinates, the poles and the
antimeridian. The contract: a point with a NULL or NaN coordinate
produces no tile row; an out-of-range coordinate clamps to the world
edge. Expected rows come from a NumPy reference that rasterizes the
located points on the whole world and cuts each tile's halo window
from it (x wraps, y stops at the edge)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.functions.tiles import TILE_PX, np_tile_pixel, tile_xy
from fujishadergpu_spark.operators.tile_kernels import (
    np_hillshade,
    rasterize_tiles,
    tile_halo_census,
    tile_kernel,
    tile_kernel_stats,
    unpack_grid,
)

Z = 3  # 8 x 8 tiles, a 2048-px world
N_PX = (1 << Z) * TILE_PX
NAN = float("nan")

POINTS = [
    (35.0, 139.0), (35.00002, 139.00002),  # a real pair
    (None, 139.0), (35.0, None), (None, None),  # NULL coordinates
    (NAN, 10.0), (10.0, NAN), (NAN, NAN),  # NaN coordinates
    (95.0, 20.0), (-91.0, -30.0), (0.0, 200.0), (1.0, -190.0),  # out of range
    (90.0, 0.0), (85.05112878, 45.0), (-85.05112878, -45.0),  # poles
    (0.0, 180.0), (0.0, -180.0), (10.0, 179.999), (-10.0, -179.999),  # antimeridian
]


def _points(spark, rows):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "id long, lat double, lon double"
    )


def _world(rows) -> np.ndarray:
    """Point counts on the whole world raster; NULL/NaN points dropped."""
    lat = np.array([np.nan if a is None else a for a, _ in rows], dtype=np.float64)
    lon = np.array([np.nan if b is None else b for _, b in rows], dtype=np.float64)
    ok = ~np.isnan(lat) & ~np.isnan(lon)
    tx, ty, px, py = np_tile_pixel(lat[ok], lon[ok], Z)
    world = np.zeros((N_PX, N_PX))
    np.add.at(world, (ty * TILE_PX + py, tx * TILE_PX + px), 1.0)
    return world


def _reference_grids(rows, halo) -> dict:
    """(x, y) -> halo grid of every tile whose window holds a point."""
    world = _world(rows)
    padded = np.pad(world, ((halo, halo), (0, 0)))  # y stops at the edge
    w = TILE_PX + 2 * halo
    out = {}
    for ty in range(1 << Z):
        for tx in range(1 << Z):
            cols = (tx * TILE_PX - halo + np.arange(w)) % N_PX  # x wraps
            g = padded[ty * TILE_PX : ty * TILE_PX + w][:, cols]
            if g.any():
                out[(tx, ty)] = g
    return out


def _core(g, halo):
    return g[halo : halo + TILE_PX, halo : halo + TILE_PX]


@pytest.mark.parametrize("rows", [POINTS, []], ids=["degenerate", "empty"])
def test_degenerate_points_match_numpy_reference(spark, rows):
    pts = _points(spark, rows)
    # tile_xy: NULL for a NULL or NaN coordinate, a clamped tile otherwise
    tiles = pts.select("lat", "lon", *tile_xy(F.col("lat"), F.col("lon"), Z)).collect()
    for r in tiles:
        located = None not in (r["lat"], r["lon"]) and not np.isnan([r["lat"], r["lon"]]).any()
        assert (r[2] is not None and r[3] is not None) == located, r

    for halo in (0, 2):
        want = _reference_grids(rows, halo)
        got = {(r["x"], r["y"]): unpack_grid(r["grid"], TILE_PX + 2 * halo) for r in rasterize_tiles(pts, Z, halo).collect()}
        assert set(got) == set(want), halo
        for k, g in want.items():
            assert np.array_equal(got[k], g), (halo, k)

    halo = 2
    want = _reference_grids(rows, halo)
    census = {(r["x"], r["y"]): (r["win_pts"], r["core_pts"]) for r in tile_halo_census(pts, Z, halo).collect()}
    assert census == {k: (int(g.sum()), int(_core(g, halo).sum())) for k, g in want.items()}

    h = 1  # hillshade's halo depth
    want = _reference_grids(rows, h)
    cores = {k: _core(np_hillshade(np.log1p(g)), h) for k, g in want.items()}
    got = {(r["x"], r["y"]): np.asarray(r["result"]) for r in tile_kernel(pts, Z, "hillshade").collect()}
    assert set(got) == set(cores)
    for k, core in cores.items():
        assert np.array_equal(got[k], core.ravel()), k
    stats = {(r["x"], r["y"]): r for r in tile_kernel_stats(pts, Z, "hillshade").collect()}
    assert set(stats) == set(want)
    for k, g in want.items():
        core = _core(np_hillshade(np.log1p(g.astype(np.float32))), h)
        s = stats[k]
        assert s["shade_sum"] == float(core.sum(dtype=np.float64)), k
        assert s["shade_max"] == float(core.max()), k
        assert s["lit_pixels"] == int((core > 0.75).sum()), k
    if rows:
        # the antimeridian points spill across the wrap, the poles pin row 0 / 7
        assert {(0, 4), (7, 4)} <= set(stats) and any(y == 0 for _, y in stats) and any(y == 7 for _, y in stats)
