"""Multiscale USM: tiled + overview-rewrite output must match a
whole-world single-array NumPy oracle (the reference's seam/parity
law applied to its signature optimization)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.functions.tiles import TILE_PX, np_tile_pixel
from fujishadergpu_spark.operators.multiscale import multiscale_usm, np_box_mean
from fujishadergpu_spark.operators.norm_stats import render_stretch
from fujishadergpu_spark.operators.np_filters import bilinear_sample

Z = 3
RADII = (2, 8, 64)  # 64 > threshold 16 -> overview path with s=3


def test_np_box_mean_analytic():
    g = np.zeros((21, 21))
    g[10, 10] = 9.0
    m = np_box_mean(g, 1)
    assert m[10, 10] == pytest.approx(1.0)
    assert m[9, 9] == pytest.approx(1.0)
    assert m[8, 10] == pytest.approx(0.0)


def _world_oracle(pdf, z, radii, threshold=16):
    n = (1 << z) * TILE_PX
    gx, gy, px, py = np_tile_pixel(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), z)
    idx = (gy * TILE_PX + py) * n + (gx * TILE_PX + px)
    world = np.bincount(idx, minlength=n * n).astype(np.float64).reshape(n, n)
    usm = np.zeros_like(world)
    w = 1.0 / len(radii)
    for r in radii:
        if r <= threshold:
            usm += w * (world - np_box_mean(world, r))
        else:
            s = 0
            while (r >> (s + 1)) > threshold // 2 and (1 << (s + 1)) <= TILE_PX:
                s += 1
            nc = n >> s
            coarse = world.reshape(nc, 1 << s, nc, 1 << s).mean(axis=(1, 3))
            smooth = np_box_mean(coarse, r >> s)
            p = np.arange(n)
            c = (p + 0.5) / (1 << s) - 0.5
            up = bilinear_sample(smooth, c[:, None], c[None, :])
            usm += w * (world - up)
    return usm


def test_multiscale_usm_matches_world_oracle(spark, points_df):
    pdf = points_df.toPandas()
    world_usm = _world_oracle(pdf, Z, RADII)
    tiles = multiscale_usm(points_df, Z, radii=RADII, output="grid").collect()
    assert len(tiles) > 1
    checked_interior = 0
    n = (1 << Z) * TILE_PX
    for t in tiles:
        got = np.asarray(t["usm"]).reshape(TILE_PX, TILE_PX)
        sl = world_usm[
            t["y"] * TILE_PX : (t["y"] + 1) * TILE_PX, t["x"] * TILE_PX : (t["x"] + 1) * TILE_PX
        ]
        # interior tiles (small-radius windows fully inside the world)
        if (
            t["x"] * TILE_PX >= 64 and t["y"] * TILE_PX >= 64
            and (t["x"] + 1) * TILE_PX <= n - 64 and (t["y"] + 1) * TILE_PX <= n - 64
        ):
            np.testing.assert_allclose(got, sl, rtol=1e-9, atol=1e-12)
            checked_interior += 1
    assert checked_interior >= 1


def test_multiscale_partition_invariance(spark, points_df):
    a = {(r["x"], r["y"]): (r["usm_sum"], r["usm_min"], r["usm_max"])
         for r in multiscale_usm(points_df, Z, radii=RADII).collect()}
    b = {(r["x"], r["y"]): (r["usm_sum"], r["usm_min"], r["usm_max"])
         for r in multiscale_usm(points_df.repartition(17), Z, radii=RADII).collect()}
    assert a == b


def test_low_zoom_large_radius_clamps_decimation(spark, points_df):
    """radius 128 at z=2 used to pick decimation s=3 and call
    rasterize_tiles at zoom −1 (1 << negative raises). _plan_scales is
    now capped at max_s=z, so the coarse level bottoms out at z=0."""
    from fujishadergpu_spark.operators.multiscale import _plan_scales

    _, large = _plan_scales([128], 16, max_s=2)
    assert large == {128: 2}
    rows = multiscale_usm(points_df, 2, radii=(2, 128)).collect()
    assert len(rows) >= 1


def test_stack_mode_matches_single_radius_runs(spark, points_df):
    """agg='stack' must emit exactly the per-radius responses a
    single-radius run produces (reference stack semantics: raw bands,
    no combine) — bit-exact, covering both the small-radius and
    overview paths."""
    stacked = multiscale_usm(points_df, Z, radii=RADII, agg="stack", output="grid").collect()
    got = {(r["x"], r["y"], r["radius"]): np.asarray(r["usm"]) for r in stacked}
    assert {k[2] for k in got} == {float(r) for r in RADII}
    for r in RADII:
        single = multiscale_usm(
            points_df, Z, radii=(r,), weights=(1.0,), agg="mean", output="grid"
        ).collect()
        assert len(single) >= 1
        for row in single:
            np.testing.assert_array_equal(
                got[(row["x"], row["y"], float(r))], np.asarray(row["usm"])
            )


def test_global_p99_runs(spark, points_df):
    g = multiscale_usm(points_df, Z, radii=(2, 8), output="grid").withColumnRenamed("usm", "result")
    lo, scale = render_stretch(g, symmetric=True)
    p = scale / 2.0
    assert p is not None and p >= 0.0


def test_overview_box_total_matches_world_oracle_exactly(spark, points_df):
    """The exact-integer companion of the overview rewrite (r3 verdict
    #2): per-tile Σ of bilinearly-upsampled coarse box TOTALS ×4^(s+1)
    must equal a whole-world NumPy oracle EXACTLY (==, not approx) —
    every step is dyadic-rational in float64, so tiled-with-crop-ring
    and whole-world computations cannot differ by even one ulp unless
    the transport/alignment contract drifts."""
    from fujishadergpu_spark.operators.multiscale import (
        np_box_total,
        overview_box_total,
    )

    z, r = 3, 64
    s, r_c = 2, 16
    pdf = points_df.toPandas()
    n = (1 << z) * TILE_PX
    gx, gy, px, py = np_tile_pixel(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), z)
    idx = (gy * TILE_PX + py) * n + (gx * TILE_PX + px)
    world = np.bincount(idx, minlength=n * n).astype(np.float64).reshape(n, n)
    nc = n >> s
    coarse = world.reshape(nc, 1 << s, nc, 1 << s).sum(axis=(1, 3))
    # world box totals with the UDF's boundary semantics: x wraps at
    # the antimeridian, y windows reach into zero rows beyond the world
    pad = r_c + 1
    P = np.zeros((nc + 2 * pad, nc + 2 * pad))
    P[pad:-pad, pad:-pad] = coarse
    P[pad:-pad, :pad] = coarse[:, -pad:]
    P[pad:-pad, -pad:] = coarse[:, :pad]
    btp = np_box_total(P, r_c)
    btring = btp[pad - 1 : pad + nc + 1, pad - 1 : pad + nc + 1]  # world coords -1..nc
    p = np.arange(n)
    c = (p + 0.5) / (1 << s) - 0.5 + 1.0  # +1 for the ring offset
    up = bilinear_sample(btring, c[:, None], c[None, :])
    got = {(t["x"], t["y"]): (t["up_total_q"], t["core_pts"])
           for t in overview_box_total(points_df, z, r).collect()}
    assert got
    qscale = 1 << (2 * s + 2)
    for (tx, ty), (q, cp) in got.items():
        sl = up[ty * TILE_PX : (ty + 1) * TILE_PX, tx * TILE_PX : (tx + 1) * TILE_PX]
        want = int(round(float(sl.sum()) * qscale))
        assert q == want, (tx, ty, q, want)
        assert cp == int(world[ty * TILE_PX : (ty + 1) * TILE_PX,
                               tx * TILE_PX : (tx + 1) * TILE_PX].sum())


def test_overview_box_total_rejects_small_radius(spark, points_df):
    from fujishadergpu_spark.operators.multiscale import overview_box_total

    with pytest.raises(ValueError, match="small-radius"):
        overview_box_total(points_df, 3, 8)
