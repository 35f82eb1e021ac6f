"""Generic spatial mode: tiled multi-radius responses (incl. the
large-radius overview path) must match a whole-world NumPy oracle on
interior tiles — the multiscale parity law applied to arbitrary
kernels (reference multiscale_response_fields semantics)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.functions.tiles import TILE_PX, np_tile_pixel
from fujishadergpu_spark.operators.np_filters import bilinear_sample
from fujishadergpu_spark.operators.spatial_mode import (
    _plan_radii,
    np_spatial_response,
    spatial_kernel,
    spatial_response_halo,
)

Z = 3
RADII = (2.0, 8.0, 64.0)  # 64 > threshold 24 -> overview path


def _world_field(pdf, z):
    n = (1 << z) * TILE_PX
    gx, gy, px, py = np_tile_pixel(pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), z)
    idx = (gy * TILE_PX + py) * n + (gx * TILE_PX + px)
    return np.bincount(idx, minlength=n * n).astype(np.float64).reshape(n, n)


def _world_oracle(pdf, z, kernel, radii, agg="mean", threshold=24.0, **params):
    counts = _world_field(pdf, z)
    n = counts.shape[0]
    small, large = _plan_radii(list(radii), threshold)
    responses = []
    w = 1.0 / len(radii)
    field = np.log1p(counts)
    for r in small:
        responses.append((w, np_spatial_response(field, kernel, r, **params)))
    for r, s in sorted(large.items()):
        nc = n >> s
        coarse = counts.reshape(nc, 1 << s, nc, 1 << s).mean(axis=(1, 3))
        cfield = np.log1p(coarse)
        resp = np_spatial_response(cfield, kernel, r / (1 << s), **params)
        p = np.arange(n)
        c = (p + 0.5) / (1 << s) - 0.5
        responses.append((w, bilinear_sample(resp, c[:, None], c[None, :])))
    if agg == "mean":
        tot = sum(w_ for w_, _ in responses)
        out = sum((w_ / tot) * r_ for w_, r_ in responses)
    elif agg == "max":
        out = responses[0][1]
        for _, r_ in responses[1:]:
            out = np.maximum(out, r_)
    else:
        raise ValueError(agg)
    return out


@pytest.mark.parametrize("kernel,params", [
    ("hillshade", {}),                 # pre-smooth convention
    ("openness", {"num_directions": 8}),  # own radius param (max_distance)
    # bespoke per-radius roughness window incl. the coarse 2^s rescale
    # (reference _impl_specular.py:146-191)
    ("specular", {"roughness_norm_scale": 1.0}),
])
def test_spatial_kernel_matches_world_oracle(spark, points_df, kernel, params):
    pdf = points_df.toPandas()
    world = _world_oracle(pdf, Z, kernel, RADII, **params)
    tiles = spatial_kernel(points_df, Z, kernel, radii=RADII, output="grid", **params).collect()
    assert len(tiles) > 1
    n = (1 << Z) * TILE_PX
    margin = max(spatial_response_halo(kernel, r, params) for r in (2.0, 8.0))
    checked = 0
    for t in tiles:
        x0, y0 = t["x"] * TILE_PX, t["y"] * TILE_PX
        if x0 < margin or y0 < margin or x0 + TILE_PX > n - margin or y0 + TILE_PX > n - margin:
            continue  # boundary tiles see world-edge padding differences
        got = np.asarray(t["result"]).reshape(TILE_PX, TILE_PX)
        np.testing.assert_allclose(
            got, world[y0 : y0 + TILE_PX, x0 : x0 + TILE_PX], rtol=1e-9, atol=1e-12
        )
        checked += 1
    assert checked >= 1


def test_spatial_kernel_agg_max_and_partition_invariance(spark, points_df):
    a = {(r["x"], r["y"]): (r["resp_sum"], r["resp_max"])
         for r in spatial_kernel(points_df, Z, "hillshade", radii=(2.0, 8.0), agg="max").collect()}
    b = {(r["x"], r["y"]): (r["resp_sum"], r["resp_max"])
         for r in spatial_kernel(points_df.repartition(11), Z, "hillshade", radii=(2.0, 8.0), agg="max").collect()}
    assert a == b and len(a) > 1


def test_spatial_kernel_auto_radii(spark, points_df):
    # radii=None -> size-aware auto profile; just runs and is bounded
    rows = spatial_kernel(points_df, Z, "atmospheric_scattering").limit(3).collect()
    assert len(rows) == 3
    assert all(np.isfinite(r["resp_sum"]) for r in rows)


def test_spatial_kernel_rejects_oversized_fine_halo(spark, points_df):
    """A small radius whose response support exceeds the tile budget
    must raise, not silently truncate into per-tile seams (review
    finding r2-2)."""
    import pytest

    with pytest.raises(ValueError, match="tile budget"):
        # radius 60 forced down the fine path: smoothing support (~121)
        # + TV's iteration halo (142) overflows the 255-px budget
        spatial_kernel(points_df, 3, "tv_decomposition", radii=(60.0,),
                       overview_threshold=100.0, iterations=140)


def test_spatial_kernel_rejects_intrinsically_multiscale(spark, points_df):
    """Radius-driven spatial mode does not apply to kernels carrying
    their own scale banks (reference MULTISCALE_REQUIRED_ALGOS)."""
    import pytest

    with pytest.raises(ValueError, match="intrinsically multi-scale"):
        spatial_kernel(points_df, 3, "fractal_anomaly", radii=(20.0,))


def test_spatial_kernel_rejects_mismatched_weights(spark, points_df):
    """Both callers of the multi-radius executor refuse a weights/radii
    count mismatch and an unknown output when the plan is built."""
    import pytest

    from fujishadergpu_spark.operators.multiscale import multiscale_usm

    with pytest.raises(ValueError, match="counts must match"):
        spatial_kernel(points_df, 3, "hillshade", radii=(2.0, 8.0), weights=(1.0,))
    with pytest.raises(ValueError, match="counts must match"):
        multiscale_usm(points_df, 3, radii=(2, 8), weights=(1.0,))
    with pytest.raises(ValueError, match="stats/grid"):
        spatial_kernel(points_df, 3, "hillshade", radii=(2.0, 8.0), output="foo")
    with pytest.raises(ValueError, match="stats/grid"):
        multiscale_usm(points_df, 3, radii=(2, 8), output="foo")


def test_spatial_stack_matches_single_radius_runs(spark, points_df):
    """agg='stack' emits the raw per-radius responses bit-exactly
    (parity with single-radius weight-1 runs, both paths)."""
    import numpy as np

    stacked = spatial_kernel(
        points_df, Z, "hillshade", radii=RADII, agg="stack", output="grid"
    ).collect()
    got = {(r["x"], r["y"], r["radius"]): np.asarray(r["result"]) for r in stacked}
    assert {k[2] for k in got} == set(RADII)
    for r in RADII:
        single = spatial_kernel(
            points_df, Z, "hillshade", radii=(r,), weights=(1.0,), output="grid"
        ).collect()
        assert len(single) >= 1
        for row in single:
            np.testing.assert_array_equal(
                got[(row["x"], row["y"], float(r))], np.asarray(row["result"])
            )
