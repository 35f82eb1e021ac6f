"""A9/A10/A11 stats pre-pass contracts (reference algorithms/
_norm_stats.py, _global_stats.py):

- the generic stats path is restricted to stretch-domain kernels
  (injecting pooled output percentiles into a kernel that interprets
  global_stats in another domain would silently mis-normalize);
- injection exactness: tile_kernel_normalized == stretch(raw kernel
  output) with the pre-pass stats, bit-for-bit per pixel;
- the sampled percentile tracks an exact NumPy percentile oracle;
- the A10 central-window fallback fires on an empty sample and
  provably recovers the central-crop stats.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fujishadergpu_spark.functions.tiles import tile_xy
from fujishadergpu_spark.operators import norm_stats as ns
from fujishadergpu_spark.operators.tile_kernels import tile_kernel

Z = 4


def test_generic_stats_rejects_non_stretch_kernels(points_df):
    for kernel, params in [
        ("hillshade", {}),               # no global_stats param at all
        ("phase_congruency", {}),        # noise-median domain
        ("tv_decomposition", {}),        # texture tanh-scale domain
        ("multiscale_terrain", {}),      # pre-gamma detail band
        ("structure_tensor", {"st_output": "orientation"}),  # mode-gated
        ("scale_drift", {"drift_output": "divergence"}),
    ]:
        with pytest.raises(ValueError, match="stretch-domain"):
            ns.tile_kernel_normalized(points_df, Z, kernel, **params)
        with pytest.raises(ValueError, match="stretch-domain"):
            ns.kernel_global_stats(points_df, Z, kernel, **params)
    # frangi/specular/npr_edges/fractal_anomaly route via their RAW
    # pre-passes in tile_kernel_normalized, but the OUTPUT-percentile
    # pooler still rejects them (their global stat is not
    # output-domain)
    for kernel in ("frangi", "specular", "npr_edges", "fractal_anomaly"):
        with pytest.raises(ValueError, match="stretch-domain"):
            ns.kernel_global_stats(points_df, Z, kernel)


def test_raw_stats_match_numpy_oracle(spark, points_df):
    """kernel_raw_stats(frangi) pools the structure-energy field's p95
    over sampled tiles — compare against an exact NumPy pool over the
    identical tile set (sample_mod=1)."""
    from fujishadergpu_spark.operators.np_kernels import frangi_energy_field
    from fujishadergpu_spark.operators.tile_kernels import (
        kernel_halo,
        rasterize_tiles,
    )
    from fujishadergpu_spark.functions.tiles import TILE_PX

    radii = (2.0, 4.0)
    h = kernel_halo("frangi", {"radii": radii})
    pool = []
    for r in rasterize_tiles(points_df, Z, halo=h, log_scale=True).collect():
        g = np.frombuffer(r["grid"]).reshape(TILE_PX + 2 * h, TILE_PX + 2 * h)
        f = frangi_energy_field(g, radii)
        core = f[h : h + TILE_PX, h : h + TILE_PX]
        pool.append(core[np.isfinite(core)].ravel())
    pool = np.concatenate(pool)
    want = float(np.percentile(pool, 95.0))
    got = ns.kernel_raw_stats(points_df, Z, "frangi", sample_mod=1, radii=radii)
    span = float(pool.max() - pool.min())
    assert abs(got - want) <= 0.02 * max(span, 1e-12)


def test_raw_stat_injection_is_exact(spark, points_df):
    """tile_kernel_normalized(frangi/specular) must equal a manual run
    with the pre-pass value injected in that kernel's own domain —
    bit-for-bit (same kernel call, same params)."""
    from fujishadergpu_spark.operators.tile_kernels import tile_kernel

    radii = (2.0, 4.0)
    c_stat = ns.kernel_raw_stats(points_df, Z, "frangi", sample_mod=1, radii=radii)
    manual = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in tile_kernel(
            points_df, Z, kernel="frangi", radii=radii,
            global_stats=(0.0, max(0.5 * c_stat, 1e-12)),
        ).collect()
    }
    routed = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in ns.tile_kernel_normalized(
            points_df, Z, "frangi", sample_mod=1, radii=radii
        ).collect()
    }
    assert manual.keys() == routed.keys() and manual
    for k in manual:
        np.testing.assert_array_equal(routed[k], manual[k])

    gstats = ns.kernel_raw_stats(points_df, Z, "npr_edges", sample_mod=1)
    assert len(gstats) == 3 and gstats[1] >= 0 and gstats[2] > 0
    manual_n = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in tile_kernel(
            points_df, Z, kernel="npr_edges", grad_stats=tuple(gstats)
        ).collect()
    }
    routed_n = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in ns.tile_kernel_normalized(
            points_df, Z, "npr_edges", sample_mod=1
        ).collect()
    }
    assert manual_n.keys() == routed_n.keys() and manual_n
    for k in manual_n:
        np.testing.assert_array_equal(routed_n[k], manual_n[k])

    p95 = ns.kernel_raw_stats(points_df, Z, "specular", sample_mod=1)
    manual_s = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in tile_kernel(
            points_df, Z, kernel="specular", roughness_norm_scale=max(p95, 1e-9)
        ).collect()
    }
    routed_s = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in ns.tile_kernel_normalized(
            points_df, Z, "specular", sample_mod=1
        ).collect()
    }
    assert manual_s.keys() == routed_s.keys() and manual_s
    for k in manual_s:
        np.testing.assert_array_equal(routed_s[k], manual_s[k])


def test_injection_is_exact_stretch_of_raw_output(spark, points_df):
    """The whole point of the pre-pass: every tile normalizes with the
    SAME (lo, scale), i.e. the normalized output is exactly
    max((raw - lo)/scale, 0) pixel-for-pixel."""
    stats = ns.kernel_global_stats(points_df, Z, "openness", sample_mod=1)
    lo, scale = stats
    assert scale > 0.0
    raw = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in tile_kernel(points_df, Z, kernel="openness").collect()
    }
    norm = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in ns.tile_kernel_normalized(points_df, Z, "openness", sample_mod=1).collect()
    }
    assert raw.keys() == norm.keys() and raw
    for k, rv in raw.items():
        want = np.maximum((rv - lo) / scale, 0.0)
        np.testing.assert_array_equal(norm[k], want)


def test_stats_track_exact_percentile_oracle(spark, points_df):
    """percentile_approx(accuracy=10000) over the pooled pixels vs
    np.percentile over the identical pool (sample_mod=1 -> every
    tile)."""
    lo, scale = ns.kernel_global_stats(points_df, Z, "openness", sample_mod=1)
    pool = np.concatenate(
        [np.asarray(r["result"]) for r in tile_kernel(points_df, Z, kernel="openness").collect()]
    )
    pool = pool[~np.isnan(pool)]
    p1, p99 = np.percentile(pool, [1.0, 99.0])
    span = float(pool.max() - pool.min())
    assert abs(lo - p1) <= 0.02 * span
    assert abs((lo + scale) - p99) <= 0.02 * span


def test_a10_central_window_fallback_recovers(spark, points_df):
    """Force an empty stratified sample (sample_mod so large no tile
    hash hits 0) -> the A10 bounded central-crop fallback must produce
    exactly the stats of the ±2-tile window around the data centroid
    (reference _global_stats.py:65-120)."""
    huge_mod = 1_000_003
    pts = points_df.withColumns(dict(zip(("_otx", "_oty"), tile_xy(F.col("lat"), F.col("lon"), Z))))
    n_sampled = pts.filter(
        F.pmod(F.xxhash64("_otx", "_oty"), F.lit(huge_mod)) == 0
    ).count()
    assert n_sampled == 0, "fixture drifted: pick another prime for huge_mod"

    got = ns.kernel_global_stats(points_df, Z, "openness", sample_mod=huge_mod)

    center = pts.agg(F.avg("_otx").alias("cx"), F.avg("_oty").alias("cy")).first()
    cx, cy = int(center["cx"]), int(center["cy"])
    central = pts.filter(
        (F.abs(F.col("_otx") - cx) <= 2) & (F.abs(F.col("_oty") - cy) <= 2)
    ).drop("_otx", "_oty")
    want = ns._kernel_output_stats(central, Z, "openness", 1.0, 99.0, True, {})
    assert want is not None and want[1] > 0.0, "central window must recover real stats"
    assert got == want


def test_degenerate_everywhere_returns_zero_stats(spark):
    """Zero points -> empty sample AND an empty central fallback (the
    centroid aggregate returns NULL) -> the documented (0.0, 0.0)
    sentinel, not a crash (callers treat scale 0 as no-op)."""
    spark_pts = spark.range(0).select(
        F.lit(10.0).alias("lat"), F.lit(10.0).alias("lon")
    )
    got = ns.kernel_global_stats(spark_pts, Z, "openness", sample_mod=1)
    assert got == (0.0, 0.0)


def test_fractal_two_stage_pre_pass_is_exact(spark, points_df):
    """fractal_anomaly's ordered pre-pass: stage-1 relief (p10, p75)
    feeds the stage-2 feature pool, and the routed run equals a manual
    run with the returned params injected — bit-for-bit."""
    from fujishadergpu_spark.operators.tile_kernels import tile_kernel

    # small zoom + short radius bank: the exactness contract under test
    # is routing/injection, not large-sigma numerics (the 5-radius bank
    # at Z=4 cost ~227 s of pure gaussian passes)
    zf = 3
    radii = (4.0, 8.0, 16.0)
    inj = ns.fractal_global_stats(points_df, zf, sample_mod=1, radii=radii)
    assert inj["relief_p75"] > inj["relief_p10"]
    assert inj["global_stats"][1] > 0
    manual = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in tile_kernel(
            points_df, zf, kernel="fractal_anomaly", radii=radii, **inj
        ).collect()
    }
    routed = {
        (r["x"], r["y"]): np.asarray(r["result"])
        for r in ns.tile_kernel_normalized(
            points_df, zf, "fractal_anomaly", sample_mod=1, radii=radii
        ).collect()
    }
    assert manual.keys() == routed.keys() and manual
    for k in manual:
        np.testing.assert_array_equal(routed[k], manual[k])
