"""Stencil-kernel correctness for the full ported inventory.

Two invariants, mirroring the reference's test strategy:

1. seam-free: kernel(halo-expanded window).core == kernel(world).core
   bit-exactly, for every registered kernel at its declared halo (the
   reference's tile-stability pattern,
   reference tests/test_visual_saliency_tile_stability.py:6-29). All
   data-dependent normalization constants are injected (the
   global-stats pre-pass convention) so the only remaining
   block-dependence is the halo itself.
2. analytic fixtures: closed-form expectations on synthetic terrain
   (flat / peak / pit / ridge), mirroring the reference's
   test_openness_yokoyama.py and test_atmospheric_scattering_angles.py.

phase_congruency is excluded from (1): it is FFT-global, and the
reference runs it through map_overlap as an explicit approximation
(reference algorithms/_impl_phase_congruency.py:22-28) — its tests are
analytic-only here too.
"""

import numpy as np
import pytest

from fujishadergpu_spark.operators import np_kernels as K
from fujishadergpu_spark.operators.np_filters import gaussian_filter
from fujishadergpu_spark.operators.tile_kernels import KERNELS, kernel_halo


def _world(n=640, seed=7):
    """Deterministic smooth-ish synthetic terrain (sum of sinusoids +
    hash noise) — rough enough to exercise every code path."""
    y, x = np.mgrid[0:n, 0:n].astype(np.float64)
    base = (
        40.0 * np.sin(x / 37.0) * np.cos(y / 53.0)
        + 15.0 * np.sin((x + 2 * y) / 17.0)
        + 5.0 * np.sin(x * 0.9 + y * 1.7)
    )
    rng = np.random.RandomState(seed)
    return base + rng.rand(n, n)


# small-support params (+ injected stats) per kernel so the whole-world
# reference run stays fast; halo rules are exercised at these params.
SEAM_PARAMS = {
    "hillshade": {},
    "slope": {},
    "curvature": {},
    "curvature_display": {},
    "aspect": {},
    "blur": {"scale": 2.0},
    "multiscale_terrain": {"scales": (1.0, 2.0, 4.0), "global_stats": (0.0, 3.0)},
    "openness": {"max_distance": 8},
    "ambient_occlusion": {"radius": 5.0},
    "specular": {"roughness_scale": 6.0, "roughness_norm_scale": 2.0},
    "atmospheric_scattering": {},
    "npr_edges": {"grad_stats": (0.5, 1.0, 0.4)},
    "structure_tensor": {"radii": (2.0, 4.0), "global_stats": (0.0, 0.5)},
    "frangi": {"radii": (2.0, 4.0), "global_stats": (0.0, 5.0)},
    "lic": {"length": 5, "flow_sigma": 1.0},
    "tv_decomposition": {"iterations": 12, "tv_scale": 8.0, "global_stats": (0.0, 1.0)},
    "scale_drift": {"scales": (1.0, 2.0, 3.0), "global_stats": (0.0, 0.2)},
    "scale_space_surprise": {"scales": (1.0, 2.0, 4.0), "global_stats": (0.0, 2.0)},
    "multi_light_uncertainty": {},
    "visual_saliency": {"scales": (1.0, 2.0, 3.0, 4.0), "global_stats": (0.0, 1.0)},
    "fractal_anomaly": {
        "radii": (2.0, 4.0, 8.0, 12.0, 16.0),
        "global_stats": (0.0, 0.5),
        "relief_p10": 0.2,
        "relief_p75": 1.5,
    },
}

SEAM_EXCLUDED = {"phase_congruency"}  # FFT-global, approximate by design

# lic advects absolute pixel coordinates (semi-Lagrangian), so window
# vs world coordinates round differently at the last ulp — seam-free to
# fp noise, like the reference's map_coordinates path. Everything else
# must be bit-exact.
SEAM_ATOL = {"lic": 1e-9}


@pytest.mark.parametrize("name", sorted(set(KERNELS) - SEAM_EXCLUDED))
def test_kernel_seam_free_numpy(name):
    """Core of kernel(halo window) == same core of kernel(world),
    bit-exact, at the registry's declared halo for these params."""
    params = SEAM_PARAMS[name]
    fn, _ = KERNELS[name]
    h = kernel_halo(name, params)
    world = _world(256 + 2 * 192)  # 640² world, center 256² core
    c0 = 192
    assert h <= c0, f"halo {h} exceeds test margin"
    whole = fn(world, **params)[c0 : c0 + 256, c0 : c0 + 256]
    window = world[c0 - h : c0 + 256 + h, c0 - h : c0 + 256 + h]
    tiled = fn(window, **params)[h : h + 256, h : h + 256]
    atol = SEAM_ATOL.get(name)
    if atol is None:
        assert np.array_equal(tiled, whole), f"{name}: seam at halo {h}"
    else:
        assert np.allclose(tiled, whole, atol=atol, equal_nan=True), f"{name}: seam at halo {h}"


def test_kernel_halo_capped():
    # oversized params must clamp below the tile size
    assert kernel_halo("blur", {"scale": 1000.0}) == 255
    assert kernel_halo("openness", {"max_distance": 5}) == 6


def test_kernel_halo_at_defaults_pinned():
    """The halo rules read their defaults off the kernel signatures;
    at the defaults every kernel keeps the halo its rule had when the
    defaults were restated as literals next to each rule."""
    assert {k: kernel_halo(k) for k in KERNELS} == {
        "hillshade": 1, "slope": 1, "curvature": 2, "curvature_display": 2,
        "aspect": 1, "blur": 33, "multiscale_terrain": 129, "openness": 33,
        "ambient_occlusion": 16, "specular": 18, "atmospheric_scattering": 2,
        "npr_edges": 12, "structure_tensor": 72, "frangi": 38, "lic": 30,
        "phase_congruency": 80, "tv_decomposition": 62, "scale_drift": 132,
        "scale_space_surprise": 65, "multi_light_uncertainty": 2,
        "visual_saliency": 80, "fractal_anomaly": 255,
    }


# ------------------------- analytic fixtures --------------------------


def _radial(n=101):
    y, x = np.mgrid[0:n, 0:n]
    return np.sqrt((x - n // 2) ** 2 + (y - n // 2) ** 2)


def test_gaussian_derivative_is_slope():
    ramp = np.outer(np.ones(64), np.arange(64, dtype=np.float64)) * 3.0
    d = gaussian_filter(ramp, 2.0, order=(0, 1))
    # sampled-derivative truncation error ~1e-3 (same as scipy radius=4σ)
    assert np.allclose(d[20:44, 20:44], 3.0, atol=5e-3)


def test_openness_yokoyama_fixtures():
    """Mirror of reference tests/test_openness_yokoyama.py:7-47."""
    r = _radial()
    peak, pit = 50.0 - r, r - 50.0
    c = 50
    pos = lambda d: K.np_openness(d, openness_type="positive", max_distance=40)[c, c]  # noqa: E731
    neg = lambda d: K.np_openness(d, openness_type="negative", max_distance=40)[c, c]  # noqa: E731
    assert pos(peak) > pos(pit)
    assert neg(pit) > neg(peak)
    flat = np.zeros((101, 101))
    assert pos(flat) == pytest.approx(1.0, abs=1e-3)
    assert neg(flat) == pytest.approx(1.0, abs=1e-3)


def test_ambient_occlusion_pit_darker_than_peak():
    r = _radial()
    c = 50
    ao_pit = K.np_ambient_occlusion(r - 50.0, radius=10.0)[c, c]
    ao_peak = K.np_ambient_occlusion(50.0 - r, radius=10.0)[c, c]
    assert ao_pit < ao_peak  # pit center is occluded, peak is open
    flat = K.np_ambient_occlusion(np.zeros((64, 64)))
    assert np.allclose(flat, 1.0)  # nothing occludes flat ground


def test_atmospheric_scattering_flat_value():
    """Flat terrain: hillshade = sin(alt), air_mass = 1/(1+.001) —
    closed form (reference _impl_atmospheric_scattering.py:30-54)."""
    out = K.np_atmospheric_scattering(np.zeros((32, 32)), scattering_strength=0.5)
    air = 1.0 / (1.0 + 0.001)
    amb = 0.4 + 0.6 * (1.0 - np.exp(-0.5 * air))
    expect = (amb * 0.3 + np.sin(np.radians(45.0)) * 0.7) ** K.DEFAULT_GAMMA
    assert np.allclose(out, expect, atol=1e-12)


def test_multi_light_flat_is_sin_altitude():
    out = K.np_multi_light_uncertainty(np.zeros((32, 32)))
    assert np.allclose(out, np.sin(np.radians(45.0)), atol=1e-12)


def test_frangi_ridge_vs_flat():
    y, x = np.mgrid[0:96, 0:96].astype(np.float64)
    ridge = 10.0 * np.exp(-((x - 48.0) ** 2) / (2 * 3.0**2))  # vertical ridge
    out = K.np_frangi(ridge, radii=(2.0, 4.0, 8.0), feature_type="ridge")
    crest = out[40:56, 46:51].mean()
    off = out[40:56, 5:20].mean()
    assert crest > 0.5 and crest > 10 * max(off, 1e-9)
    both = K.np_frangi(ridge, radii=(2.0, 4.0, 8.0), feature_type="both")
    assert both[48, 48] > 0.6  # ridge pushes 'both' above the 0.5 midline


def test_structure_tensor_orientation_of_linear_fabric():
    y, x = np.mgrid[0:128, 0:128].astype(np.float64)
    fabric = np.sin(x / 3.0)  # lineaments run along y (north-south)
    out = K.np_structure_tensor(fabric, radii=(4.0, 8.0), st_output="orientation")
    # strike = vertical = 90° in the [0,180)→[0,1) mapping = 0.5
    assert abs(out[64, 64] - 0.5) < 0.02
    coh = K.np_structure_tensor(fabric, radii=(4.0, 8.0), st_output="coherence")
    rng = np.random.RandomState(0)
    iso = K.np_structure_tensor(rng.rand(128, 128), radii=(4.0, 8.0), st_output="coherence")
    assert coh[64, 64] > 5 * iso[64, 64]  # fabric is coherent, noise is not


def test_npr_edges_step_edge_detected():
    g = np.zeros((96, 96))
    g[:, 48:] = 10.0
    out = K.np_npr_edges(g, grad_stats=(0.5, 1.0, 0.4))
    edge_band = out[40:56, 46:51].min()
    far = out[40:56, 5:30]
    assert edge_band < 0.6  # outline drawn dark at the scarp
    assert np.allclose(far, 1.0)  # flat field stays white


def test_tv_structure_preserves_edges_texture_centered():
    g = np.zeros((64, 64))
    g[:, 32:] = 100.0
    u = K.np_tv_decomposition(g, component="structure", iterations=40, tv_scale=8.0)
    assert abs(u[32, 10] - 0.0) < 1.0 and abs(u[32, 54] - 100.0) < 1.0  # cliff survives
    tex = K.np_tv_decomposition(np.full((32, 32), 5.0), component="texture", global_stats=(0.0, 1.0))
    assert np.allclose(tex, 0.5)  # no texture on a constant


def test_surprise_and_saliency_zero_on_constant():
    flat = np.full((64, 64), 3.0)
    # fp residual of (const - blur(const)) passes through the sqrt-like
    # enhancement power — zero to ~1e-6, not bit-zero
    assert np.allclose(K.np_scale_space_surprise(flat, global_stats=(0.0, 1.0)), 0.0, atol=1e-6)
    assert np.allclose(K.np_visual_saliency(flat, global_stats=(0.0, 1.0)), 0.0, atol=1e-6)
    bump = flat + 20.0 * np.exp(-_radial(64)[:64, :64] ** 2 / 50.0)
    assert K.np_scale_space_surprise(bump, global_stats=(0.0, 1.0)).max() > 0.05
    assert K.np_visual_saliency(bump, global_stats=(0.0, 1.0)).max() > 0.05


def test_phase_congruency_edge_and_flat():
    g = np.zeros((128, 128))
    g[:, 64:] = 10.0
    out = K.np_phase_congruency(g, feature_type="edge", global_stats=(0.0, 1e-6))
    assert out[:, 62:67].mean() > 4 * out[:, 10:40].mean()  # PC peaks at the step
    flat = K.np_phase_congruency(np.zeros((64, 64)), feature_type="edge", global_stats=(0.0, 1e-6))
    assert np.allclose(flat, 0.0, atol=1e-6)


def test_scale_drift_direction_bounded_and_symmetric_low():
    w = _world(128)
    mag = K.np_scale_drift(w, scales=(2.0, 4.0, 8.0))
    assert np.isfinite(mag).all() and (mag >= 0).all()
    direction = K.np_scale_drift(w, scales=(2.0, 4.0, 8.0), drift_output="direction")
    assert (direction >= 0).all() and (direction < 1).all()


def test_lic_flat_and_range():
    out = K.np_lic(_world(128), length=8)
    assert np.isfinite(out).all() and (out >= 0).all() and (out <= 1).all()
    # contour-mode field rotates 90°, still bounded
    out2 = K.np_lic(_world(128), length=8, lic_field="contour", composite="none")
    assert (out2 >= 0).all() and (out2 <= 1).all()


def test_blur_constant_and_nan_discipline():
    c = K.np_blur(np.full((48, 48), 7.5), scale=3.0)
    assert np.allclose(c, 7.5)
    g = _world(64)
    g[10, 10] = np.nan
    out = K.np_blur(g, scale=2.0)
    assert np.isnan(out[10, 10]) and np.isfinite(out[40, 40])  # NoData restored


def test_fractal_anomaly_rough_vs_smooth():
    rng = np.random.RandomState(3)
    smooth = gaussian_filter(rng.rand(128, 128) * 50, 8.0)
    rough = smooth + rng.rand(128, 128) * 10
    kw = dict(radii=(2.0, 4.0, 8.0, 12.0, 16.0), global_stats=(0.0, 1.0),
              relief_p10=0.1, relief_p75=2.0)
    fr = K.np_fractal_anomaly(rough, **kw)
    fs = K.np_fractal_anomaly(smooth, **kw)
    assert np.isfinite(fr).all() and np.isfinite(fs).all()
    assert fr[32:96, 32:96].mean() != pytest.approx(fs[32:96, 32:96].mean())


def test_specular_range_and_flat():
    out = K.np_specular(_world(96), roughness_scale=8.0, roughness_norm_scale=2.0)
    assert (out >= 0).all() and (out <= 1).all()
    flat = K.np_specular(np.zeros((48, 48)), roughness_norm_scale=1.0)
    assert np.allclose(flat, flat[24, 24])  # flat -> uniform shade


def test_pushpull_fill_membrane():
    """Void fill (reference _pyramid_fill.py): known cells exact, voids
    finite and within the surrounding range, a hole in a ramp fills
    near the ramp (no invented relief)."""
    from fujishadergpu_spark.operators.np_filters import pushpull_fill

    y, x = np.mgrid[0:64, 0:64].astype(np.float64)
    ramp = 2.0 * x + y
    holed = ramp.copy()
    holed[20:30, 20:30] = np.nan  # small void
    holed[5:8, 50:60] = np.nan
    filled = pushpull_fill(holed)
    assert np.isfinite(filled).all()
    known = ~np.isnan(holed)
    assert np.array_equal(filled[known], ramp[known])  # exact preservation
    hole_err = np.abs(filled[20:30, 20:30] - ramp[20:30, 20:30]).max()
    assert hole_err < 12.0  # membrane-ish, no wild relief (ramp range is 192)
    # degenerate cases
    assert np.array_equal(pushpull_fill(ramp), ramp)
    assert (pushpull_fill(np.full((8, 8), np.nan)) == 0).all()


def test_meters_per_degree_wgs84():
    from fujishadergpu_spark.functions.spatial import meters_per_degree

    m_lon0, m_lat0 = meters_per_degree(0.0)
    assert abs(m_lat0 - 110574) < 5 and abs(m_lon0 - 111320) < 5  # textbook equator values
    m_lon60, m_lat60 = meters_per_degree(60.0)
    assert abs(m_lon60 - 55800) < 100  # ~cos(60) with flattening correction
    assert meters_per_degree(90.0)[0] > 0  # pole: positive floor


def test_auto_spatial_profile_rule():
    from fujishadergpu_spark.functions.spatial import auto_spatial_profile

    radii, weights = auto_spatial_profile(10240.0)  # short side 10240 px
    assert radii == [2, 8, 32, 128, 512]  # capped at short_side/10 = 1024
    assert abs(sum(weights) - 1.0) < 1e-12 and weights[0] == max(weights)
    assert auto_spatial_profile(10.0)[0] == [2]  # tiny DEM keeps one radius


def test_degenerate_scale_lists_halo_covers_substitution():
    """Kernels substitute default scale lists for degenerate inputs;
    the halo rules must follow the SAME substitution or the allocated
    halo under-covers the real support (review finding r2)."""
    # visual_saliency: 3 scales -> substituted (2,4,8,16), support 5*16
    params = {"scales": (2.0, 4.0, 8.0), "global_stats": (0.0, 1.0)}
    fn, _ = KERNELS["visual_saliency"]
    h = kernel_halo("visual_saliency", params)
    assert h >= 80
    world = _world(640)
    c0 = 192
    whole = fn(world, **params)[c0 : c0 + 256, c0 : c0 + 256]
    win = world[c0 - h : c0 + 256 + h, c0 - h : c0 + 256 + h]
    assert np.array_equal(fn(win, **params)[h : h + 256, h : h + 256], whole)
    # scale_drift: single scale -> substituted 5-scale default
    params = {"scales": (3.0,), "global_stats": (0.0, 0.2)}
    fn, _ = KERNELS["scale_drift"]
    h = kernel_halo("scale_drift", params)
    assert h >= 4 * 32  # default max scale 32
    world = _world(256 + 2 * 240)
    c0 = 240
    assert h <= c0
    whole = fn(world, **params)[c0 : c0 + 256, c0 : c0 + 256]
    win = world[c0 - h : c0 + 256 + h, c0 - h : c0 + 256 + h]
    assert np.array_equal(fn(win, **params)[h : h + 256, h : h + 256], whole)
