"""Tile pipeline tests: XYZ assignment golden math, rasterization
determinism, the seam-free tiled-vs-whole kernel invariant (the
reference's single most important test pattern,
reference tests/test_visual_saliency_tile_stability.py:6-29), and the
LOD pyramid mass-conservation invariant."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.functions.tiles import TILE_PX, np_tile_pixel, tile_pixel
from fujishadergpu_spark.operators import tile_kernels
from fujishadergpu_spark.operators.tile_kernels import (
    KERNELS,
    LOCAL_STENCIL_KERNELS,
    build_pyramid,
    kernel_halo,
    np_hillshade,
    pyramid_level,
    rasterize_tiles,
    tile_kernel,
    tile_kernel_stats,
    tile_pixel_scales,
)

Z = 3  # 8x8 tiles -> 2048px world; test data spans tiles 3..4 only


def test_tile_pixel_analytic(spark):
    """Known slippy-map anchor points."""
    df = spark.createDataFrame(
        [(0.0, 0.0), (85.05112877, -179.9999), (-85.05112877, 179.9999)],
        "lat double, lon double",
    )
    x, y, px, py = tile_pixel(F.col("lat"), F.col("lon"), 1)
    rows = df.select(x.alias("x"), y.alias("y")).collect()
    assert (rows[0]["x"], rows[0]["y"]) == (1, 1)  # (0,0) falls in SE quadrant
    assert (rows[1]["x"], rows[1]["y"]) == (0, 0)
    assert (rows[2]["x"], rows[2]["y"]) == (1, 1)


def test_tile_pixel_column_matches_numpy(spark, points_df):
    pdf = points_df.toPandas()
    x, y, px, py = tile_pixel(F.col("lat"), F.col("lon"), 8)
    got = points_df.select(x.alias("x"), y.alias("y"), px.alias("px"), py.alias("py")).toPandas()
    ex, ey, epx, epy = np_tile_pixel(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), 8)
    assert (got["x"].to_numpy() == ex).all() and (got["y"].to_numpy() == ey).all()
    assert (got["px"].to_numpy() == epx).all() and (got["py"].to_numpy() == epy).all()


def _global_grid(pdf, z):
    n = (1 << z) * TILE_PX
    gx, gy, px, py = np_tile_pixel(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), z)
    idx = (gy * TILE_PX + py) * n + (gx * TILE_PX + px)
    return np.bincount(idx, minlength=n * n).astype(np.float64).reshape(n, n)


def test_rasterize_deterministic_and_correct(spark, points_df):
    pdf = points_df.toPandas()
    world = _global_grid(pdf, Z)
    tiles = rasterize_tiles(points_df, Z).collect()
    assert sum(np.frombuffer(t["grid"]).sum() for t in tiles) == len(pdf)
    for t in tiles:
        g = np.frombuffer(t["grid"]).reshape(TILE_PX, TILE_PX)
        sl = world[
            t["y"] * TILE_PX : (t["y"] + 1) * TILE_PX, t["x"] * TILE_PX : (t["x"] + 1) * TILE_PX
        ]
        assert (g == sl).all()
    # partition invariance: identical grids from a different layout
    tiles2 = {(t["x"], t["y"]): t["grid"] for t in rasterize_tiles(points_df.repartition(13), Z).collect()}
    for t in tiles:
        assert bytes(t["grid"]) == bytes(tiles2[(t["x"], t["y"])])  # bit-identical payloads


def test_kernel_seam_free(spark, points_df):
    """Tiled hillshade (halo=1) == whole-world hillshade on every core:
    the reference's tile-stability invariant, bit-exact."""
    pdf = points_df.toPandas()
    world = np_hillshade(np.log1p(_global_grid(pdf, Z)))
    tiles = tile_kernel(points_df, Z, kernel="hillshade", log_scale=True).collect()
    assert len(tiles) > 1  # multiple tiles => seams exist to verify
    for t in tiles:
        g = np.asarray(t["result"]).reshape(TILE_PX, TILE_PX)
        sl = world[
            t["y"] * TILE_PX : (t["y"] + 1) * TILE_PX, t["x"] * TILE_PX : (t["x"] + 1) * TILE_PX
        ]
        assert np.array_equal(g, sl), f"seam mismatch in tile {(t['x'], t['y'])}"


def test_new_kernels_seam_free_via_spark(spark, points_df):
    """Three representative ported kernels (ray-march, iterative
    primal-dual, gradient-local) through the real grouped-map tile
    path: tiled == whole-world NumPy, bit-exact — proving the registry
    halo resolution and the halo-exchange shuffle for the extended
    inventory (the per-kernel NumPy seam matrix lives in
    test_np_kernels.py)."""
    from fujishadergpu_spark.operators.np_kernels import (
        np_atmospheric_scattering,
        np_openness,
        np_tv_decomposition,
    )

    pdf = points_df.toPandas()
    logw = np.log1p(_global_grid(pdf, Z))
    cases = [
        ("openness", {"max_distance": 8}, np_openness),
        ("atmospheric_scattering", {}, np_atmospheric_scattering),
        ("tv_decomposition", {"iterations": 12, "tv_scale": 8.0, "global_stats": (0.0, 1.0)}, np_tv_decomposition),
    ]
    for name, params, np_fn in cases:
        world = np_fn(logw, **params)
        tiles = tile_kernel(points_df, Z, kernel=name, log_scale=True, **params).collect()
        assert len(tiles) > 1, name
        for t in tiles:
            g = np.asarray(t["result"]).reshape(TILE_PX, TILE_PX)
            sl = world[
                t["y"] * TILE_PX : (t["y"] + 1) * TILE_PX,
                t["x"] * TILE_PX : (t["x"] + 1) * TILE_PX,
            ]
            assert np.array_equal(g, sl), f"{name}: seam in tile {(t['x'], t['y'])}"


def test_kernel_and_stats_entry_points_agree(spark, points_df):
    """tile_kernel and tile_kernel_stats (float64) run one kernel tail:
    the stats of tile_kernel's metric-scaled cores equal the stats
    path's per tile."""
    full = {
        (t["x"], t["y"]): np.asarray(t["result"])
        for t in tile_kernel(points_df, Z, "hillshade", metric_scale=True).collect()
    }
    stats = tile_kernel_stats(
        points_df, Z, "hillshade", grid_dtype=np.float64, metric_scale=True
    ).collect()
    assert len(stats) > 1 and {(s["x"], s["y"]) for s in stats} == set(full)
    for s in stats:
        core = full[(s["x"], s["y"])]
        assert s["lit_pixels"] == int((core > 0.75).sum())
        assert s["shade_max"] == float(core.max())
        assert math.isclose(s["shade_sum"], float(core.sum()), rel_tol=1e-12, abs_tol=0.0)


def test_skip_empty_core_drops_halo_only_tiles(spark):
    """A17: one point 2px from a tile edge with a large halo spills
    into the neighbor tile; with skip_empty_core the neighbor (which
    owns nothing) is skipped, the owner is kept with identical
    values."""
    lat, lon = 0.01, (1022.5 / 2048.0) * 360.0 - 180.0  # 2px inside tile 3 in x
    owner = tuple(
        int(v[0]) for v in np_tile_pixel(np.array([lat]), np.array([lon]), Z)[:2]
    )
    pts = spark.createDataFrame([(1, lat, lon)], "id long, lat double, lon double")
    both = {
        (t["x"], t["y"]): t["result"]
        for t in tile_kernel(pts, Z, kernel="hillshade", halo=8).collect()
    }
    kept = {
        (t["x"], t["y"]): t["result"]
        for t in tile_kernel(pts, Z, kernel="hillshade", halo=8, skip_empty_core=True).collect()
    }
    assert len(both) > 1  # halo spill created neighbor tiles
    assert set(kept) == {owner}  # only the owning tile survives
    assert list(both[owner]) == list(kept[owner])  # owner output unchanged


def test_pyramid_mass_conservation(spark, points_df):
    base = rasterize_tiles(points_df, Z)
    pyr = build_pyramid(base, Z, 0, agg="sum")
    totals = {}
    for r in pyr.select("z", "grid").collect():
        totals[r["z"]] = totals.get(r["z"], 0.0) + float(np.frombuffer(r["grid"]).sum())
    n = points_df.count()
    for z_, total in totals.items():
        assert abs(total - n) < 1e-6, f"mass lost at z={z_}"


def test_pyramid_level_mean_equals_world_block_mean(spark, points_df):
    """agg='mean': every parent tile is exactly the 2x2 block mean of
    the assembled child world over its footprint (absent children read
    as zeros), and parents exist exactly over present children."""
    base = rasterize_tiles(points_df, Z)
    n = (1 << Z) * TILE_PX
    world = np.zeros((n, n))
    children = set()
    for r in base.collect():
        children.add((r["x"] >> 1, r["y"] >> 1))
        world[r["y"] * TILE_PX : (r["y"] + 1) * TILE_PX,
              r["x"] * TILE_PX : (r["x"] + 1) * TILE_PX] = np.frombuffer(r["grid"]).reshape(TILE_PX, TILE_PX)
    want = world.reshape(n // 2, 2, n // 2, 2).mean(axis=(1, 3))
    parents = pyramid_level(base, agg="mean").collect()
    assert {(r["x"], r["y"]) for r in parents} == children
    for r in parents:
        assert r["z"] == Z - 1
        got = np.frombuffer(r["grid"]).reshape(TILE_PX, TILE_PX)
        assert np.array_equal(
            got, want[r["y"] * TILE_PX : (r["y"] + 1) * TILE_PX, r["x"] * TILE_PX : (r["x"] + 1) * TILE_PX]
        )


def test_pyramid_unknown_agg_raises_at_plan_time(spark, points_df):
    """An unknown agg is refused when the plan is built — it must not
    silently average (only sum and mean exist)."""
    base = rasterize_tiles(points_df, Z)
    with pytest.raises(ValueError, match="sum/mean"):
        pyramid_level(base, agg="max")
    with pytest.raises(ValueError, match="sum/mean"):
        build_pyramid(base, Z, 0, agg="max")


def _window_grids(w: int, dtype) -> dict:
    """Grids for the data-window tail: sparse shapes at every position
    the window clips against, plus a dense, a NaN/negative and an
    all-zero grid."""
    rng = np.random.default_rng(7)
    grids = {}
    g = np.zeros((w, w), dtype)
    g[w // 3, w // 5] = 1
    grids["point"] = g
    last, mid = w - 1, w // 2
    spots = {
        "corner_nw": (0, 0), "corner_ne": (0, last), "corner_sw": (last, 0), "corner_se": (last, last),
        "edge_n": (0, mid), "edge_s": (last, mid), "edge_w": (mid, 0), "edge_e": (mid, last),
    }
    for name, yx in spots.items():
        g = np.zeros((w, w), dtype)
        g[yx] = 3
        grids[name] = g
    g = np.zeros((w, w), dtype)
    g[100:104, 60:63] = rng.integers(1, 9, (4, 3))
    grids["cluster"] = g
    grids["dense"] = rng.integers(0, 4, (w, w)).astype(dtype)
    g = np.zeros((w, w), dtype)
    g[5, 7], g[200, 30], g[w - 2, w - 3], g[40, 41] = np.nan, -0.5, -3.0, -0.0
    grids["nan_negative"] = g
    grids["zero"] = np.zeros((w, w), dtype)
    return grids


@pytest.mark.parametrize("kernel", sorted(LOCAL_STENCIL_KERNELS) + ["blur"])
def test_kernel_tail_data_window_bit_identical(kernel, monkeypatch):
    """_kernel_tail runs a local stencil kernel on the grid's data
    window and gives every other core pixel the kernel's flat value;
    its output is bit-identical, dtype included, to the kernel run on
    the whole halo grid, at both grid dtypes, with and without metric
    pixel scales and log1p, and with a halo wider than the window's
    dilation (data that never reaches the core). A kernel outside
    LOCAL_STENCIL_KERNELS (blur) runs on the whole grid. No JVM."""
    windows = []  # (window, grid side) per tail call
    data_window = tile_kernels._data_window

    def spy(grid, reach):
        windows.append((data_window(grid, reach), grid.shape[0]))
        return windows[-1][0]

    monkeypatch.setattr(tile_kernels, "_data_window", spy)
    fn, _ = KERNELS[kernel]
    z, tile_y = 9, 200
    for halo in (None, 8):
        h = kernel_halo(kernel) if halo is None else halo
        w = TILE_PX + 2 * h
        for dtype in (np.float32, np.float64):
            for metric_scale in (False, True) if kernel in LOCAL_STENCIL_KERNELS else (False,):
                params = {"pixel_scale": tile_pixel_scales(tile_y, z)} if metric_scale else {}
                for log_scale in (True, False):
                    _, tail = tile_kernels._kernel_tail(kernel, z, halo, log_scale, metric_scale, {})
                    for name, grid in _window_grids(w, dtype).items():
                        with np.errstate(invalid="ignore", divide="ignore"):
                            got = tail(grid, tile_y)
                            want = fn(np.log1p(grid) if log_scale else grid, **params)[h : h + TILE_PX, h : h + TILE_PX]
                        case = (halo, np.dtype(dtype).name, metric_scale, log_scale, name)
                        assert got.dtype == want.dtype, case
                        assert np.array_equal(got, want, equal_nan=True), case
    whole = [win == (0, n, 0, n) for win, n in windows]
    if kernel in LOCAL_STENCIL_KERNELS:
        assert ((0, 0, 0, 0), TILE_PX + 2 * kernel_halo(kernel)) in windows  # all-zero grid: no kernel run
        assert sum(whole) < len(whole) // 2  # the sparse grids ran on a window
    else:
        assert all(whole)


def test_kernel_stats_float32_sparse_tiles_exact(spark):
    """tile_kernel_stats at its default float32 dtype, on tiles holding
    1-3 points: shade_sum, shade_max and lit_pixels equal exactly the
    stats of the whole-grid NumPy kernel on rasterize_tiles' halo
    grids, with and without metric_scale."""
    z, h = 7, kernel_halo("hillshade")
    rng = np.random.default_rng(11)
    lat = rng.uniform(-60.0, 60.0, 150)
    lon = rng.uniform(-180.0, 180.0, 150)
    # a few tiles hold 2-3 points: copies nudged a few pixels away
    lat = np.concatenate([lat, lat[:20] + rng.uniform(-0.02, 0.02, 20), lat[:8] + 0.03])
    lon = np.concatenate([lon, lon[:20] + rng.uniform(-0.02, 0.02, 20), lon[:8] - 0.03])
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))], "id long, lat double, lon double"
    )
    w = TILE_PX + 2 * h
    grids = {
        (r["x"], r["y"]): np.frombuffer(r["grid"]).reshape(w, w).astype(np.float32)
        for r in rasterize_tiles(pts, z, halo=h).collect()
    }
    assert np.median([g.sum() for g in grids.values()]) <= 2  # most tiles hold 1-3 points
    for metric_scale in (False, True):
        stats = tile_kernel_stats(pts, z, "hillshade", metric_scale=metric_scale).collect()
        assert {(s["x"], s["y"]) for s in stats} == set(grids)
        for s in stats:
            params = {"pixel_scale": tile_pixel_scales(s["y"], z)} if metric_scale else {}
            core = np_hillshade(np.log1p(grids[(s["x"], s["y"])]), **params)[h : h + TILE_PX, h : h + TILE_PX]
            assert core.dtype == np.float32
            assert s["shade_sum"] == float(core.sum(dtype=np.float64))
            assert s["shade_max"] == float(core.max())
            assert s["lit_pixels"] == int((core > 0.75).sum())
