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


_MZ = 9  # zoom of the JVM-free engine matrix


def _fixture_tiles(w: int, dense: bool) -> list:
    """(name, local pixels (ly, lx)) per tile of the engine matrix, in
    grid coordinates of a (w, w) halo grid: one point, points on every
    grid edge and corner, halo-only points, a cluster, two far-apart
    points, three scattered tiles whose slots overflow one canvas, a
    tile whose rows all fall outside its grid (all zero), and a dense
    tile that takes the whole-grid route."""
    rng = np.random.default_rng(7)
    last, mid = w - 1, w // 2
    h = (w - TILE_PX) // 2
    tiles = [
        ("point", [(w // 3, w // 5)]),
        ("edges", [(0, 0), (0, last), (last, 0), (last, last), (0, mid), (last, mid), (mid, 0), (mid, last)]),
        ("halo_only", [(h - 1, mid), (mid, h + TILE_PX), (0, 3), (h // 2, last - 1)]),
        ("cluster", [(100 + a, 60 + b) for a in range(4) for b in range(3) for _ in range(1 + (a * b) % 3)]),
        ("far_pair", [(h + 3, h + 4), (h + 250, h + 249)]),
        *[(f"scatter{k}", list(zip(*rng.integers(0, w, (2, 160)).tolist()))) for k in range(3)],
        ("outside", [(-5, 3), (w + 9, mid)]),
    ]
    if dense:
        tiles.append(("dense", list(zip(*rng.integers(0, w, (2, 3000)).tolist()))))
    return tiles


def _fixture_rows(h: int, dense: bool, weighted: bool):
    """The matrix fixtures as one Arrow batch's hand-over: tile keys,
    row spans, packed ``_gk`` and weights (NaN, negative, -0.0 and zero
    included), over four tile rows."""
    w = TILE_PX + 2 * h
    rng = np.random.default_rng(8)
    keys, starts, gk, names = [], [], [], []
    for j, (name, pix) in enumerate(_fixture_tiles(w, dense)):
        tx, ty = 100 + j, 200 + j % 4
        ly, lx = np.array(pix).T
        keys.append((tx << 32) + ty)
        starts.append(sum(map(len, gk)))
        gk.append(((tx * TILE_PX - h + lx) << 32) + ty * TILE_PX - h + ly)
        names.append(name)
    gk = np.concatenate(gk)
    weights = None
    if weighted:
        weights = rng.choice([np.nan, -1.5, -0.0, 0.0, 0.5, 2.25, 7.0], gk.size)
        weights[starts[names.index("point")]] = 0.0  # a tile that sums to zero
    return np.array(keys), np.array(starts), gk, weights, names


def _bits(a) -> bytes:
    return np.asarray(a).tobytes()


@pytest.mark.parametrize("kernel", sorted(LOCAL_STENCIL_KERNELS) + ["blur"])
def test_kernel_tail_data_window_bit_identical(kernel):
    """The kernel tail computes only over the 8x8 blocks that hold data
    (one kernel call per canvas of slots) and keeps the whole-grid run
    for dense tiles and for every kernel outside LOCAL_STENCIL_KERNELS
    (blur). Over both grid dtypes, log_scale, metric_scale, counts and
    weights, halos equal to and wider than the kernel's depth, and
    both entry points (one Arrow batch of points; filled grids), every
    stats column and tile_kernel's core equal, bit for bit, those of
    the kernel on the whole halo grid. No JVM."""
    fn, _ = KERNELS[kernel]
    for halo in (None, 8):
        h = kernel_halo(kernel) if halo is None else halo
        for dtype in (np.float32, np.float64):
            for metric_scale in (False, True) if kernel in LOCAL_STENCIL_KERNELS else (False,):
                for log_scale in (True, False):
                    for weighted in (False, True):
                        _check_engine_matrix(
                            fn, kernel, halo, h, dtype, metric_scale, log_scale, weighted,
                            dense=halo is None and not weighted,
                        )


def _check_engine_matrix(fn, kernel, halo, h, dtype, metric_scale, log_scale, weighted, dense):
    keys, starts, gk, weights, names = _fixture_rows(h, dense, weighted)
    _, tail = tile_kernels._kernel_tail(kernel, _MZ, halo, log_scale, metric_scale, {})
    stats = tile_kernels._Stats(0.75)
    ends = np.r_[starts[1:], gk.size]
    want, grids = {}, []
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        for key, a, b in zip(keys.tolist(), starts, ends):
            tx, ty = key >> 32, key & 0xFFFFFFFF
            grid = tile_kernels._accumulate_grid(gk[a:b], None if weights is None else weights[a:b], tx, ty, _MZ, h, dtype)
            params = {"pixel_scale": tile_pixel_scales(ty, _MZ)} if metric_scale else {}
            core = tile_kernels._core(fn(np.log1p(grid) if log_scale else grid, **params), h)
            want[(tx, ty)] = (core, tile_kernels._tile_stats(core, 0.75))
            grids.append((grid, tx, ty))
        # a filled grid may hold -0.0 and NaN pixels: both are data
        grid = np.zeros_like(grids[0][0])
        grid[h + 5, h + 7], grid[h + 40, h + 41], grid[2, h + 100] = np.nan, -0.0, -3.0
        core = tile_kernels._core(fn(np.log1p(grid) if log_scale else grid, **params), h)
        want[(1, ty)] = (core, tile_kernels._tile_stats(core, 0.75))
        grids.append((grid, 1, ty))
        got = {
            "points_stats": list(tail.points(keys, starts, gk, weights, dtype, stats)),
            "points_core": list(tail.points(keys, starts, gk, weights, dtype, tile_kernels._Result())),
            "grids_stats": list(tail.grids(grids, stats)),
            "grids_core": list(tail.grids(grids, tile_kernels._Result())),
        }
    case = (kernel, halo, np.dtype(dtype).name, metric_scale, log_scale, weighted)
    for route, rows in got.items():
        assert len(rows) == len(grids) - route.startswith("points"), (case, route)
        for row in rows:
            core, st = want[(row["x"], row["y"])]
            where = (case, route, row["x"], names[row["x"] - 100] if row["x"] >= 100 else "signed")
            assert row["z"] == _MZ
            if route.endswith("core"):
                assert row["result"].dtype == core.dtype, where
                assert _bits(row["result"]) == _bits(core.ravel()), where
            else:
                for col in ("shade_sum", "shade_max", "lit_pixels"):
                    assert _bits(row[col]) == _bits(st[col]), (where, col, row[col], st[col])


def test_block_sum_folds_numpy_chunk_sums():
    """shade_sum over blocks is the in-order fold of the 8,192-pixel
    chunk sums, which is how NumPy buffers ``core.sum(dtype=float64)``
    (np.getbufsize()): on random sparse float32 and float64 cores it
    equals that sum bit for bit, NaN sign included, so a NumPy release
    that buffers or adds differently fails here."""
    rng = np.random.default_rng(3)
    stats = tile_kernels._Stats(0.75)
    nb = TILE_PX // 8
    for trial in range(300):
        dtype = (np.float32, np.float64)[trial % 2]
        n = int(rng.integers(1, 6))
        flat = dtype(rng.choice([0.0, 0.7071, rng.standard_normal()]))
        counts = rng.integers(0, 40, n) if trial % 3 else rng.integers(0, nb * nb, n)
        tile = np.repeat(np.arange(n), counts)
        by, bx = [], []
        for c in counts:
            picked = rng.choice(nb * nb, c, replace=False)
            picked.sort()
            by.append(picked // nb)
            bx.append(picked % nb)
        by, bx = np.concatenate(by).astype(np.int64), np.concatenate(bx).astype(np.int64)
        blocks = (rng.standard_normal((tile.size, 8, 8)) * 10.0 ** rng.uniform(-3, 3, (tile.size, 1, 1))).astype(dtype)
        if trial % 5 == 0 and blocks.size:
            # NaNs of both signs (a kernel makes -NaN, a NaN weight +NaN) and -0.0
            blocks.flat[rng.integers(0, blocks.size, 6)] = [np.nan, -np.nan, np.nan, -np.nan, -0.0, -0.0]
        sums = stats._sums(flat, tile, by, bx, blocks, n)
        for j in range(n):
            core = np.full((TILE_PX, TILE_PX), flat)
            m = tile == j
            core.reshape(nb, 8, nb, 8)[by[m], :, bx[m], :] = blocks[m]
            assert _bits(sums[j]) == _bits(core.sum(dtype=np.float64)), (trial, j)


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
