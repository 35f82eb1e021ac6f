"""The full reference stencil-algorithm inventory as NumPy tile
kernels (reference algorithms/dask_registry.py:27-49 registers 21;
hillshade/slope/curvature/aspect and the topousm_fast rewrite live in
tile_kernels.py / multiscale.py — this module carries the other 16).

Each function takes one 2-D float grid (a halo-expanded rasterized
density tile, or any DEM-like field) plus keyword params and returns a
same-shape float array; ``HALO_RULES`` gives each kernel's required
halo depth as a function of its params — mirroring the reference's
per-algorithm ``map_overlap(depth=...)`` rules
(reference core/tile_processor.py:207-383). The Spark execution is
the halo exchange + per-tile executor in tile_kernels.tile_kernel; these
functions are engine-free NumPy so the tiled==whole seam tests can
evaluate them directly.

Seam-free discipline: every data-dependent normalization constant
(percentile stretches, Frangi's c, npr's gradient thresholds,
specular's roughness p95) is injectable via an explicit param, exactly
the reference's global-stats-pre-pass convention (reference
algorithms/_norm_stats.py) — per-block fallbacks exist but seam, so
production paths inject stats from operators.norm_stats.

Grids here are point-density rasters (pixel_size == 1); the
reference's pixel_scale_x/y geotransform plumbing collapses to unit
spacing and is deliberately omitted.
"""

from __future__ import annotations

import math

import numpy as np

from .np_filters import (
    bilinear_sample,
    convolve2d,
    gaussian_filter,
    median3x3,
    nan_filled,
    nan_gaussian,
    nan_gradient,
    nan_uniform,
    restore_nan,
)

DEFAULT_GAMMA = 1 / 2.2  # reference algorithms/_base.py:13-16
DEFAULT_AZIMUTH = 315.0
DEFAULT_ALTITUDE = 45.0


# ------------------------------ blur ---------------------------------

def np_blur(grid: np.ndarray, scale: float = 8.0, **_ignored) -> np.ndarray:
    """NaN-aware gaussian smooth, raw units (reference
    algorithms/_impl_blur.py:33-43: the §2.C NaN-aware-gaussian
    primitive exposed as its own algorithm)."""
    smoothed, nan_mask = nan_gaussian(grid, max(float(scale), 0.5))
    return restore_nan(smoothed, nan_mask)


# ----------------------- multiscale_terrain ---------------------------

def np_multiscale_terrain(
    grid: np.ndarray,
    scales=(2.0, 8.0, 32.0),
    weights=None,
    global_stats=None,
    **_ignored,
) -> np.ndarray:
    """Weighted multi-scale detail Σ wᵢ (z − G_{σᵢ}(z)), normalized by
    the global (p1, p99−p1) band and gamma-corrected (reference
    algorithms/_impl_multiscale_terrain.py:37-96,199-210). Inverse-
    scale weights when none given; per-block stats fallback seams, so
    inject global_stats=(norm_min, norm_scale)."""
    scales = [float(s) for s in scales]
    if weights is None or len(weights) != len(scales):
        weights = [1.0 / s for s in scales]
    w = np.asarray(weights, dtype=np.float64)
    w = w / w.sum()
    nan_mask = np.isnan(grid)
    combined = np.zeros_like(grid, dtype=np.float64)
    for i, s in enumerate(scales):
        smoothed, _ = nan_gaussian(grid, max(s, 0.5))
        detail = grid - smoothed
        combined += np.where(np.isnan(detail), 0.0, detail) * w[i]
    if global_stats is not None and float(global_stats[1]) > 1e-9:
        norm_min, norm_scale = float(global_stats[0]), float(global_stats[1])
    else:
        valid = combined[~nan_mask]
        norm_min = float(np.percentile(valid, 1)) if valid.size else 0.0
        shifted = np.maximum(valid - norm_min, 0.0)
        norm_scale = float(np.percentile(shifted, 99)) if valid.size else 1.0
        if norm_scale <= 1e-9:
            norm_scale = 1.0
    out = np.maximum((combined - norm_min) / norm_scale, 0.0)
    out = np.power(out, DEFAULT_GAMMA)
    return restore_nan(out, nan_mask)


# ----------------------------- openness ------------------------------

def np_openness(
    grid: np.ndarray,
    openness_type: str = "positive",
    num_directions: int = 16,
    max_distance: int = 32,
    global_stats=None,
    pixel_scale=(1.0, 1.0),
    z_factor: float = 1.0,
    **_ignored,
) -> np.ndarray:
    """Topographic openness (Yokoyama et al. 2002): per-azimuth horizon
    extreme over ray samples, directional mean of the zenith (positive)
    or nadir (negative) angle, /90°, gamma (reference
    algorithms/_impl_openness.py:31-132). Pads once with the max
    offset and slices shifted views — same vectorization shape.
    pixel_scale makes the per-ray distances anisotropic physical
    metres (reference _impl_openness.py:107-110); z_factor scales the
    elevation difference into the same units."""
    h, w = grid.shape
    nan_mask = np.isnan(grid)
    angles = np.linspace(0, 2 * np.pi, num_directions, endpoint=False)
    directions = np.stack([np.cos(angles), np.sin(angles)], axis=1)
    positive = openness_type == "positive"
    init_val = -np.pi / 2 if positive else np.pi / 2

    distances = np.unique((np.linspace(0.1, 1.0, 10) * max_distance).astype(int))
    distances = distances[distances > 0]
    D = int(distances.max()) if distances.size else 0
    if D > 0:
        padded_all = np.pad(np.where(nan_mask, 0.0, grid), D, mode="edge")
        padded_valid = np.pad(~nan_mask, D, mode="constant", constant_values=False)

    angle_sum = np.zeros((h, w), dtype=np.float64)
    dir_count = np.zeros((h, w), dtype=np.float64)
    for d in range(num_directions):
        direction = directions[d]
        dir_ext = np.full((h, w), init_val, dtype=np.float64)
        dir_valid = np.zeros((h, w), dtype=bool)
        for r in distances:
            ox = int(round(float(r) * float(direction[0])))
            oy = int(round(float(r) * float(direction[1])))
            if ox == 0 and oy == 0:
                continue
            shifted = padded_all[D + oy : D + oy + h, D + ox : D + ox + w]
            shifted_valid = padded_valid[D + oy : D + oy + h, D + ox : D + ox + w]
            sx, sy = float(pixel_scale[0]), float(pixel_scale[1])
            if (sx, sy, float(z_factor)) == (1.0, 1.0, 1.0):
                dist = max(math.hypot(ox, oy), 1e-9)
                angle = np.arctan((shifted - grid) / dist)
            else:
                dist = max(math.hypot(ox * sx, oy * sy), 1e-9)
                angle = np.arctan((shifted - grid) * (float(z_factor) / dist))
            valid = shifted_valid & ~nan_mask
            if positive:
                dir_ext = np.where(valid, np.maximum(dir_ext, angle), dir_ext)
            else:
                dir_ext = np.where(valid, np.minimum(dir_ext, angle), dir_ext)
            dir_valid |= valid
        dir_angle = (np.pi / 2 - dir_ext) if positive else (np.pi / 2 + dir_ext)
        angle_sum += np.where(dir_valid, dir_angle, 0.0)
        dir_count += dir_valid.astype(np.float64)

    openness = angle_sum / np.maximum(dir_count, 1.0)
    openness = np.clip(openness / (np.pi / 2), 0.0, 1.0)
    out = np.power(openness, DEFAULT_GAMMA)
    # [p1, p99] -> [0, 1] display stretch (openness concentrates in a
    # narrow high band; reference applies apply_display_stretch_dask,
    # _impl_openness.py:214-216). No-op without injected stats.
    if global_stats is not None and float(global_stats[1]) > 1e-12:
        out = np.maximum((out - float(global_stats[0])) / float(global_stats[1]), 0.0)
    return restore_nan(out, nan_mask)


# ------------------------ ambient occlusion ---------------------------

def np_ambient_occlusion(
    grid: np.ndarray,
    num_samples: int = 16,
    radius: float = 10.0,
    intensity: float = 1.0,
    global_stats=None,
    **_ignored,
) -> np.ndarray:
    """Stylized SSAO: clamped elevation angles over num_samples
    azimuths x 4 radius rings, distance falloff, gamma + final σ=1
    smooth (reference algorithms/_impl_ambient_occlusion.py:32-121)."""
    h, w = grid.shape
    nan_mask = np.isnan(grid)
    angles = np.linspace(0, 2 * np.pi, num_samples, endpoint=False)
    directions = np.stack([np.cos(angles), np.sin(angles)], axis=1)
    D = max(1, int(round(float(radius))))
    padded = np.pad(grid, D, mode="edge")

    occ_total = np.zeros((h, w), dtype=np.float64)
    n_samp = np.zeros((h, w), dtype=np.float64)
    for r_factor in (0.25, 0.5, 0.75, 1.0):
        r = radius * r_factor
        dx_all = np.round(r * directions[:, 0]).astype(int)
        dy_all = np.round(r * directions[:, 1]).astype(int)
        for i in range(num_samples):
            dx, dy = int(dx_all[i]), int(dy_all[i])
            if dx == 0 and dy == 0:
                continue
            shifted = padded[D + dy : D + dy + h, D + dx : D + dx + w]
            dist = max(math.hypot(dx, dy), 1e-9)
            occ = np.clip(np.maximum(0.0, np.arctan((shifted - grid) / dist)) / (np.pi / 4), 0.0, 1.0)
            valid = ~(np.isnan(shifted) | nan_mask)
            occ_total += np.where(valid, occ * (1.0 - r_factor * 0.3), 0.0)
            n_samp += valid.astype(np.float64)

    ao = np.clip(1.0 - (occ_total / np.maximum(n_samp, 1.0)) * intensity, 0.0, 1.0)
    ao = gaussian_filter(np.where(nan_mask, 1.0, ao), 1.0)
    out = np.power(np.clip(ao, 0.0, 1.0), DEFAULT_GAMMA)
    # [p1, p99] display stretch (reference _impl_ambient_occlusion.py:200-203)
    if global_stats is not None and float(global_stats[1]) > 1e-12:
        out = np.maximum((out - float(global_stats[0])) / float(global_stats[1]), 0.0)
    return restore_nan(out, nan_mask)


# ----------------------------- specular -------------------------------

def specular_roughness_field(
    grid: np.ndarray, roughness_scale: float = 20.0, nan_mask: np.ndarray | None = None
) -> np.ndarray:
    """RAW windowed-std roughness (pre-normalization) — the field whose
    global p95 is specular's roughness_norm_scale stat (reference
    _impl_specular.py:228-308's pre-pass field). Shared by np_specular
    and the norm_stats raw-stat pre-pass so the two can never drift."""
    if nan_mask is None:
        nan_mask = np.isnan(grid)
    kernel_size = max(3, int(roughness_scale))
    from .np_filters import uniform_filter as _uf

    if nan_mask.any():
        filled = np.where(nan_mask, 0.0, grid)
        valid = (~nan_mask).astype(np.float64)
        mw = _uf(valid, kernel_size, mode="constant")
        mean_f = np.where(mw > 0, _uf(filled * valid, kernel_size, mode="constant") / np.maximum(mw, 1e-300), 0.0)
        mean_sq = np.where(mw > 0, _uf((filled ** 2) * valid, kernel_size, mode="constant") / np.maximum(mw, 1e-300), 0.0)
    else:
        mean_f = _uf(grid, kernel_size, mode="constant")
        mean_sq = _uf(grid ** 2, kernel_size, mode="constant")
    return np.sqrt(np.maximum(mean_sq - mean_f ** 2, 0.0))


def np_specular(
    grid: np.ndarray,
    roughness_scale: float = 20.0,
    shininess: float = 10.0,
    roughness_norm_scale: float | None = None,
    light_azimuth: float = DEFAULT_AZIMUTH,
    light_altitude: float = DEFAULT_ALTITUDE,
    **_ignored,
) -> np.ndarray:
    """Simplified Cook-Torrance specular shading (reference
    algorithms/_impl_specular.py:27-113): component-form unit normal,
    windowed-std roughness normalized by the global p95
    (roughness_norm_scale — per-block fallback seams), Blinn half-
    vector specular with fresnel/gloss shaping."""
    dy, dx, nan_mask = nan_gradient(grid)
    inv_norm = 1.0 / np.sqrt(dx * dx + dy * dy + 1.0)
    n_x = -dx * inv_norm
    n_y = -dy * inv_norm
    n_z = inv_norm

    roughness = specular_roughness_field(grid, roughness_scale, nan_mask)
    rv = roughness[~nan_mask] if nan_mask.any() else roughness
    if rv.size:
        if roughness_norm_scale is not None and float(roughness_norm_scale) > 1e-9:
            denom = float(roughness_norm_scale)
        else:
            p95 = float(np.percentile(rv, 95))
            denom = p95 if p95 > 1e-9 else float(rv.max())
        if denom > 1e-9:
            roughness = np.clip(roughness / (roughness + denom), 0.05, 1.0)
        else:
            roughness = np.full_like(grid, 0.5)
    else:
        roughness = np.full_like(grid, 0.5)

    az, alt = math.radians(float(light_azimuth)), math.radians(float(light_altitude))
    light = np.array([math.sin(az) * math.cos(alt), math.cos(az) * math.cos(alt), math.sin(alt)])
    half = light + np.array([0.0, 0.0, 1.0])
    half = half / np.linalg.norm(half)
    n_dot_h = np.clip(n_x * half[0] + n_y * half[1] + n_z * half[2], 0.0, 1.0)
    specular = np.power(n_dot_h, shininess * (1.0 - roughness * 0.8))
    specular = np.clip(specular * (0.95 + 0.70 * (1.0 - roughness)), 0.0, 1.0)
    n_dot_v = np.clip(n_z, 0.0, 1.0)
    fresnel = 0.06 + 0.94 * np.power(1.0 - n_dot_v, 5.0)
    specular = np.clip(specular * (0.80 + 0.45 * fresnel), 0.0, 1.0)
    specular = specular / (1.0 + 0.35 * specular)
    n_dot_l = np.clip(n_x * light[0] + n_y * light[1] + n_z * light[2], 0.0, 1.0)
    result = np.clip(n_dot_l * 0.28 * 0.36 + specular * 0.64, 0.0, 1.0)
    result = np.power(result, 0.88)
    micro = specular - gaussian_filter(specular, 1.1)
    result = np.clip(result + 0.10 * micro * (1.0 - 0.6 * roughness), 0.0, 1.0)
    result = 0.5 + 0.5 * np.tanh((result - 0.5) / 0.82)
    result = np.clip(0.04 + 0.92 * result, 0.0, 1.0)
    return restore_nan(result, nan_mask)


# --------------------- atmospheric scattering --------------------------

def np_atmospheric_scattering(grid: np.ndarray, scattering_strength: float = 0.5,
                              **_ignored) -> np.ndarray:
    """Simplified Rayleigh-scattering shade: air-mass ambient blended
    with a Lambertian hillshade term (reference
    algorithms/_impl_atmospheric_scattering.py:19-56)."""
    dy, dx, nan_mask = nan_gradient(grid)
    slope_mag = np.sqrt(dx * dx + dy * dy)
    air_mass = 1.0 / (np.cos(np.arctan(slope_mag)) + 0.001)
    ambient = 0.4 + 0.6 * (1.0 - np.exp(-scattering_strength * air_mass))
    inv_norm = 1.0 / np.sqrt(dx * dx + dy * dy + 1.0)
    az, alt = math.radians(DEFAULT_AZIMUTH), math.radians(DEFAULT_ALTITUDE)
    lx, ly, lz = math.sin(az) * math.cos(alt), math.cos(az) * math.cos(alt), math.sin(alt)
    hillshade = np.clip((-dx * lx - dy * ly + lz) * inv_norm, 0.0, 1.0)
    result = np.clip(ambient * 0.3 + hillshade * 0.7, 0.0, 1.0)
    return restore_nan(np.power(result, DEFAULT_GAMMA), nan_mask)


# ---------------------------- npr edges --------------------------------

def npr_gradient_field(grid: np.ndarray, edge_sigma: float = 1.0):
    """(gmag, dx, dy, nan_mask): the smoothed Sobel gradient — the raw
    field whose (p50, p90−p50, mean) are npr_edges' grad_stats
    (reference _impl_npr_edges.py:276-379's pre-pass field). Shared by
    the kernel and the norm_stats raw-stat pre-pass."""
    nan_mask = np.isnan(grid)
    sigma = float(edge_sigma)
    if nan_mask.any():
        work = np.where(nan_mask, np.nanmean(grid), grid)
    else:
        work = np.asarray(grid, dtype=np.float64)
    smoothed = gaussian_filter(work, sigma) if sigma > 0.1 else work

    sobel_x = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]], dtype=np.float64) / 8.0
    sobel_y = sobel_x.T
    dx = convolve2d(smoothed, sobel_x)
    dy = convolve2d(smoothed, sobel_y)
    gmag = np.sqrt(dx * dx + dy * dy)
    return gmag, dx, dy, nan_mask


def np_npr_edges(
    grid: np.ndarray,
    edge_sigma: float = 1.0,
    threshold_low: float = 0.2,
    threshold_high: float = 0.5,
    grad_stats=None,
    **_ignored,
) -> np.ndarray:
    """NPR outlines: gaussian denoise -> Sobel -> non-maximum
    suppression over 4 angle buckets -> double threshold -> 3-pass
    8-neighbour hysteresis -> inverted display (reference
    algorithms/_impl_npr_edges.py:26-195, y-down diagonal pairing).
    grad_stats=(base, range, mean) injects the global threshold
    (per-block percentile fallback seams)."""
    gmag, dx, dy, nan_mask = npr_gradient_field(grid, edge_sigma)

    if grad_stats is not None:
        base, rng, gmean = (float(v) for v in grad_stats[:3])
    else:
        valid = gmag[~nan_mask] if nan_mask.any() else gmag.ravel()
        if valid.size:
            gmean = float(valid.mean())
            base = float(np.percentile(valid, 50))
            rng = float(np.percentile(valid, 90)) - base
        else:
            base, rng, gmean = 0.1, 0.2, 0.1
    tlo = max(base + rng * threshold_low * 0.5, gmean * 0.1)
    thi = max(base + rng * threshold_high, gmean * 0.2)

    angle = np.degrees(np.arctan2(dy, dx))
    angle[angle < 0] += 180.0
    nms = gmag.copy()
    for mask, (pa, pb) in (
        ((angle < 22.5) | (angle >= 157.5), ((0, 1), (0, -1))),
        ((angle >= 22.5) & (angle < 67.5), ((-1, -1), (1, 1))),
        ((angle >= 67.5) & (angle < 112.5), ((1, 0), (-1, 0))),
        ((angle >= 112.5) & (angle < 157.5), ((1, -1), (-1, 1))),
    ):
        sp = np.roll(np.roll(gmag, pa[0], axis=0), pa[1], axis=1)
        sn = np.roll(np.roll(gmag, pb[0], axis=0), pb[1], axis=1)
        nms = np.where(mask & ((gmag < sp) | (gmag < sn)), 0.0, nms)

    strong = nms > thi
    weak = (nms > tlo) & ~strong
    edges = np.zeros_like(nms)
    edges[strong] = 1.0
    edges[weak] = 0.5
    for _ in range(3):
        dil = edges
        for sy, sx in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (-1, -1), (1, -1), (-1, 1)):
            dil = np.maximum(dil, np.roll(np.roll(edges, sy, axis=0), sx, axis=1))
        edges = np.where(weak & (dil > 0.5), 1.0, edges)

    result = np.clip(1.0 - edges * 0.8, 0.2, 1.0)
    return restore_nan(np.power(result, DEFAULT_GAMMA), nan_mask)


# ------------------------- structure tensor ----------------------------

def _gaussian_gradients(filled: np.ndarray, sigma_d: float):
    """Gaussian-derivative gradient (gx east/cols, gy south/rows) — the
    shared §2.C primitive (reference _impl_structure_tensor.py:54-64)."""
    s = max(0.5, float(sigma_d))
    gy = gaussian_filter(filled, s, order=(1, 0))
    gx = gaussian_filter(filled, s, order=(0, 1))
    return gx, gy


def _strike_uv(filled: np.ndarray, radius: float, sigma_d: float):
    """Double-angle strike vector (u,v) = C(cos2θ, sin2θ) at one radius
    (reference _impl_structure_tensor.py:67-91; Weickert coherence)."""
    gx, gy = _gaussian_gradients(filled, sigma_d)
    sigma_i = max(1.0, float(radius) / 2.0)
    jxx = gaussian_filter(gx * gx, sigma_i)
    jyy = gaussian_filter(gy * gy, sigma_i)
    jxy = gaussian_filter(gx * gy, sigma_i)
    diff = jxx - jyy
    spread = np.sqrt(diff * diff + 4.0 * jxy * jxy)
    trace = jxx + jyy
    eps = 1e-12
    coh = (spread / (trace + eps)) ** 2
    inv = np.where(spread > eps, 1.0 / (spread + eps), 0.0)
    return -coh * diff * inv, -coh * 2.0 * jxy * inv


def np_structure_tensor(
    grid: np.ndarray,
    radii=(2.0, 8.0, 32.0),
    weights=None,
    st_output: str = "coherence",
    azimuth: float = DEFAULT_AZIMUTH,
    derivative_sigma: float = 1.0,
    global_stats=None,
    **_ignored,
) -> np.ndarray:
    """Structure-tensor fabric (Bigun & Granlund 1987; Weickert 1999
    coherence): multiscale tensor mean in the double-angle domain,
    output coherence / orientation / fabric (reference
    algorithms/_impl_structure_tensor.py:104-170)."""
    filled, nan_mask = nan_filled(grid)
    rs = [float(r) for r in radii]
    ws = list(weights) if (weights is not None and len(weights) == len(rs)) else [1.0] * len(rs)
    acc_u = np.zeros(grid.shape, dtype=np.float64)
    acc_v = np.zeros(grid.shape, dtype=np.float64)
    for r, w in zip(rs, ws):
        u, v = _strike_uv(filled, r, derivative_sigma)
        acc_u += w * u
        acc_v += w * v
    wsum = sum(ws)
    if wsum > 1e-12:
        acc_u /= wsum
        acc_v /= wsum
    mode = str(st_output).lower()
    if mode == "orientation":
        theta = 0.5 * np.arctan2(acc_v, acc_u)
        out = (theta / np.pi) % 1.0
    elif mode == "fabric":
        az = math.radians(float(azimuth))
        a_img = math.atan2(-math.cos(az), math.sin(az))
        out = 0.5 + 0.5 * (acc_u * math.cos(2 * a_img) + acc_v * math.sin(2 * a_img))
    else:
        out = np.sqrt(acc_u * acc_u + acc_v * acc_v)
        if global_stats is not None and float(global_stats[1]) > 1e-12:
            out = np.maximum((out - float(global_stats[0])) / float(global_stats[1]), 0.0)
    return restore_nan(out, nan_mask)


# ------------------------------ frangi ---------------------------------

def _hessian_eigen(filled: np.ndarray, sigma: float):
    """Scale-normalized Hessian eigenvalues |l1| <= |l2| (Lindeberg
    gamma=1; reference _impl_frangi.py:42-56)."""
    s = max(0.8, float(sigma))
    norm = s * s
    hxx = gaussian_filter(filled, s, order=(0, 2)) * norm
    hyy = gaussian_filter(filled, s, order=(2, 0)) * norm
    hxy = gaussian_filter(filled, s, order=(1, 1)) * norm
    mean = 0.5 * (hxx + hyy)
    spread = np.sqrt(0.25 * (hxx - hyy) ** 2 + hxy * hxy)
    e1, e2 = mean + spread, mean - spread
    swap = np.abs(e1) > np.abs(e2)
    return np.where(swap, e2, e1), np.where(swap, e1, e2)


def frangi_energy_field(grid: np.ndarray, radii=(2.0, 4.0, 8.0, 16.0), **_ignored) -> np.ndarray:
    """RAW structure energy S = max over scales of the Hessian
    Frobenius norm — the field whose global p95/2 is frangi's c stat
    (reference _impl_frangi.py:154-162). Shared by np_frangi's
    fallback and the norm_stats raw-stat pre-pass."""
    filled, nan_mask = nan_filled(grid)
    rs = sorted({max(1, int(round(float(r)))) for r in radii})
    s_max = np.zeros(grid.shape, dtype=np.float64)
    for r in rs:
        l1, l2 = _hessian_eigen(filled, max(0.8, r / 2.0))
        s_max = np.maximum(s_max, np.sqrt(l1 * l1 + l2 * l2))
    return restore_nan(s_max, nan_mask)


def np_frangi(
    grid: np.ndarray,
    radii=(2.0, 4.0, 8.0, 16.0),
    beta: float = 0.5,
    feature_type: str = "both",
    global_stats=None,
    agg: str = "mean",
    weights=None,
    **_ignored,
) -> np.ndarray:
    """Frangi vesselness for terrain (Frangi et al. 1998): per-scale
    Hessian-eigenvalue line filter, ridges (l2<0) vs valleys (l2>0),
    combined across scales (reference _impl_frangi.py:59-144).
    global_stats=(0, c) injects the global structure-energy scale."""
    filled, nan_mask = nan_filled(grid)
    rs = sorted({max(1, int(round(float(r)))) for r in radii})
    if global_stats is not None and float(global_stats[1]) > 1e-12:
        c = float(global_stats[1])
    else:
        s_all = frangi_energy_field(grid, radii)
        valid = s_all[~np.isnan(s_all)]
        c = 0.5 * float(np.percentile(valid, 95.0)) if valid.size else 1.0
        if c <= 1e-12:
            c = 1.0
    ws = list(weights) if (weights is not None and len(weights) == len(rs)) else None
    acc = None
    wsum = 0.0
    ft = str(feature_type).lower()
    for i, r in enumerate(rs):
        l1, l2 = _hessian_eigen(filled, max(0.8, r / 2.0))
        eps = 1e-12
        rb2 = (l1 / (l2 + np.where(l2 >= 0, eps, -eps))) ** 2
        s2 = l1 * l1 + l2 * l2
        resp = np.exp(-rb2 / (2.0 * beta * beta)) * (1.0 - np.exp(-s2 / max(2.0 * c * c, 1e-20)))
        if ft == "ridge":
            v = np.where(l2 < 0, resp, 0.0)
        elif ft == "valley":
            v = np.where(l2 > 0, resp, 0.0)
        else:
            v = np.where(l2 < 0, resp, 0.0) - np.where(l2 > 0, resp, 0.0)
        if str(agg).lower() == "max":
            acc = v if acc is None else np.maximum(acc, v)
        else:
            w = ws[i] if ws is not None else 1.0
            acc = w * v if acc is None else acc + w * v
            wsum += w
    if str(agg).lower() != "max" and wsum > 1e-12:
        acc /= wsum
    if ft == "both":
        out = 0.5 + 0.5 * np.clip(acc, -1.0, 1.0)
    else:
        out = np.clip(acc, 0.0, 1.0)
    return restore_nan(out, nan_mask)


# -------------------------------- lic ----------------------------------

def np_lic(
    grid: np.ndarray,
    length: int = 20,
    lic_field: str = "flow",
    composite: str = "hillshade",
    flow_sigma: float = 1.5,
    azimuth: float = DEFAULT_AZIMUTH,
    altitude: float = DEFAULT_ALTITUDE,
    **_ignored,
) -> np.ndarray:
    """Line Integral Convolution flow texture (Cabral & Leedom 1993):
    elevation-hash noise convolved along gradient / contour
    streamlines, optionally multiplied with a hillshade (reference
    algorithms/_impl_lic.py:38-125). The noise is a position-
    independent hash of the value, so the texture is seam-free by
    construction."""
    filled, nan_mask = nan_filled(grid)
    h, w = grid.shape
    if h < 4 or w < 4:
        return restore_nan(np.full(grid.shape, 0.5), nan_mask)
    L = int(max(1, min(int(length), 120)))
    smooth = gaussian_filter(filled, max(0.5, float(flow_sigma)))
    gy, gx = np.gradient(smooth)
    if str(lic_field).lower() == "contour":
        vx, vy = -gy, gx
    else:
        vx, vy = gx, gy
    mag = np.sqrt(vx * vx + vy * vy)
    inv = np.where(mag > 1e-12, 1.0 / (mag + 1e-12), 0.0)
    vx, vy = vx * inv, vy * inv

    z = filled.astype(np.float64)
    n = np.sin(z * 127.1 + 311.7) * 43758.5453123
    noise = n - np.floor(n)

    yy, xx = np.meshgrid(np.arange(h, dtype=np.float64), np.arange(w, dtype=np.float64), indexing="ij")
    acc = noise.copy()
    total = np.ones(grid.shape, dtype=np.float64)
    for direction in (1.0, -1.0):
        px = xx.copy()
        py = yy.copy()
        dvx, dvy = direction * vx, direction * vy
        for _ in range(L):
            sx = bilinear_sample(dvx, py, px)
            sy = bilinear_sample(dvy, py, px)
            px += sx
            py += sy
            acc += bilinear_sample(noise, py, px)
            total += 1.0
    lic = acc / total
    gain = math.sqrt(2.0 * L + 1.0)
    lic = np.clip(0.5 + (lic - 0.5) * gain, 0.0, 1.0)

    if str(composite).lower() == "hillshade":
        az, alt = math.radians(float(azimuth)), math.radians(float(altitude))
        dy, dx = np.gradient(filled)
        denom = np.sqrt(dx * dx + dy * dy + 1.0)
        hs = np.maximum(
            0.0,
            (math.sin(az) * math.cos(alt)) * (-dx / denom)
            + (math.cos(az) * math.cos(alt)) * (-dy / denom)
            + math.sin(alt) / denom,
        )
        lic = lic * hs
    return restore_nan(lic, nan_mask)


# ------------------------- phase congruency -----------------------------

def np_phase_congruency(
    grid: np.ndarray,
    wavelengths=(4.0, 8.0, 16.0, 32.0),
    sigma_onf: float = 0.55,
    noise_k: float = 2.0,
    feature_type: str = "both",
    global_stats=None,
    **_ignored,
) -> np.ndarray:
    """Monogenic phase congruency (Morrone & Owens 1987; Kovesi 1999;
    Felsberg & Sommer 2001): log-Gabor bandpass + Riesz quadrature,
    PC = W·max(E−T,0)/ΣA (reference _impl_phase_congruency.py:65-162).
    FFT-based, so tiled output is approximate near block edges — same
    caveat as the reference's map_overlap execution. global_stats=(0,
    median) injects the global noise median."""
    filled, nan_mask = nan_filled(grid)
    h, w = grid.shape
    if h < 8 or w < 8:
        return restore_nan(np.zeros(grid.shape), nan_mask)
    scales = _eff_pc_wavelengths(wavelengths)

    work = filled - filled.mean()
    Fw = np.fft.fft2(work)
    fy = np.fft.fftfreq(h)
    fx = np.fft.fftfreq(w)
    u = fx[None, :]
    v = fy[:, None]
    rho = np.sqrt(u * u + v * v)
    rho_safe = rho.copy()
    rho_safe[0, 0] = 1.0
    r1 = 1j * (u / rho_safe)
    r2 = 1j * (v / rho_safe)
    lowpass = 1.0 / (1.0 + (rho / 0.45) ** 20)
    log_sigma = math.log(max(0.1, min(float(sigma_onf), 0.999)))
    denom_lg = 2.0 * log_sigma * log_sigma

    sum_e = np.zeros(grid.shape)
    sum_o1 = np.zeros(grid.shape)
    sum_o2 = np.zeros(grid.shape)
    sum_a = np.zeros(grid.shape)
    a_max = np.zeros(grid.shape)
    a_min_scale = None
    for lam in scales:
        g = np.exp(-(np.log(rho_safe * lam) ** 2) / denom_lg)
        g = g * lowpass
        g[0, 0] = 0.0
        fg = Fw * g
        even = np.real(np.fft.ifft2(fg))
        odd1 = np.real(np.fft.ifft2(fg * r1))
        odd2 = np.real(np.fft.ifft2(fg * r2))
        a_i = np.sqrt(even * even + odd1 * odd1 + odd2 * odd2)
        if a_min_scale is None:
            a_min_scale = a_i
        sum_e += even
        sum_o1 += odd1
        sum_o2 += odd2
        sum_a += a_i
        a_max = np.maximum(a_max, a_i)

    if global_stats is not None and float(global_stats[1]) > 1e-12:
        med = float(global_stats[1])
    else:
        vals = a_min_scale[~nan_mask]
        med = float(np.median(vals)) if vals.size else 0.0
    tau = med / math.sqrt(math.log(4.0)) if med > 0 else 0.0
    amp_factor = sum(math.sqrt(scales[0] / s) for s in scales)
    T = tau * amp_factor * math.sqrt(math.pi / 2.0) + float(noise_k) * tau * amp_factor * math.sqrt((4.0 - math.pi) / 2.0)

    energy = np.sqrt(sum_e * sum_e + sum_o1 * sum_o1 + sum_o2 * sum_o2)
    eps = 1e-6
    width = (sum_a / (a_max + eps)) / float(len(scales))
    weight = 1.0 / (1.0 + np.exp(10.0 * (0.5 - width)))
    pc = weight * np.maximum(energy - T, 0.0) / (sum_a + eps)

    ft = str(feature_type).lower()
    if ft == "edge":
        out = pc
    elif ft == "ridge":
        out = np.where(sum_e > 0, pc, 0.0)
    elif ft == "valley":
        out = np.where(sum_e < 0, pc, 0.0)
    else:
        out = 0.5 + 0.5 * np.sign(sum_e) * pc
    return restore_nan(out, nan_mask)


# ------------------------- tv decomposition -----------------------------

def np_tv_decomposition(
    grid: np.ndarray,
    tv_scale: float = 32.0,
    iterations: int = 60,
    fidelity: str = "l1",
    component: str = "texture",
    global_stats=None,
    **_ignored,
) -> np.ndarray:
    """TV-L1 / ROF structure-texture split via Chambolle-Pock
    primal-dual (reference _impl_tv_decomposition.py:39-129): λ = 4 /
    feature-diameter; texture displayed 0.5-centred tanh with the
    global p90(|v|) scale (global_stats), structure returned raw."""
    filled, nan_mask = nan_filled(grid)
    s = max(2.0, float(tv_scale))
    lam = 4.0 / s
    iters = int(max(10, min(int(iterations), 140)))
    tau, sigma = 0.25, 0.5
    f = filled
    u_ = f.copy()
    ubar = f.copy()
    px = np.zeros_like(f)
    py = np.zeros_like(f)
    is_l1 = str(fidelity).lower() != "l2"
    for _ in range(iters):
        gx = np.zeros_like(ubar)
        gy = np.zeros_like(ubar)
        gx[:, :-1] = ubar[:, 1:] - ubar[:, :-1]
        gy[:-1, :] = ubar[1:, :] - ubar[:-1, :]
        px = px + sigma * gx
        py = py + sigma * gy
        norm = np.maximum(1.0, np.sqrt(px * px + py * py))
        px /= norm
        py /= norm
        div = np.zeros_like(px)
        div[:, 0] += px[:, 0]
        div[:, 1:] += px[:, 1:] - px[:, :-1]
        div[:, -1] -= px[:, -1]
        div[0, :] += py[0, :]
        div[1:, :] += py[1:, :] - py[:-1, :]
        div[-1, :] -= py[-1, :]
        u_old = u_
        vv = u_ + tau * div
        if is_l1:
            d = vv - f
            t = tau * lam
            u_ = f + np.sign(d) * np.maximum(np.abs(d) - t, 0.0)
        else:
            u_ = (vv + tau * lam * f) / (1.0 + tau * lam)
        ubar = 2.0 * u_ - u_old

    if str(component).lower() == "structure":
        return restore_nan(u_, nan_mask)
    v = f - u_
    if global_stats is not None and float(global_stats[1]) > 1e-12:
        scale = float(global_stats[1])
    else:
        vals = np.abs(v[~nan_mask])
        scale = float(np.percentile(vals, 90.0)) if vals.size else 0.0
    if scale <= 1e-12:
        out = np.full(grid.shape, 0.5)
    else:
        out = 0.5 + 0.5 * np.tanh(v / scale)
    return restore_nan(out, nan_mask)


# ---------------------------- scale drift -------------------------------

def np_scale_drift(
    grid: np.ndarray,
    scales=(2.0, 4.0, 8.0, 16.0),
    weights=None,
    drift_output: str = "magnitude",
    global_stats=None,
    **_ignored,
) -> np.ndarray:
    """Scale-Drift field (FujiShaderGPU-original): one Lucas-Kanade
    step per adjacent gaussian scale pair, Tikhonov-damped, pair-
    weighted mean drift vector; magnitude / direction / divergence
    output (reference _impl_scale_drift.py:85-193)."""
    filled, nan_mask = nan_filled(grid)
    ss = _eff_drift_scales(scales)
    pair_w = None
    if weights is not None and len(weights) == len(ss):
        pw = [0.5 * (float(weights[i]) + float(weights[i + 1])) for i in range(len(ss) - 1)]
        tot = sum(pw)
        if tot > 1e-12:
            pair_w = [p / tot for p in pw]
    smooths = [gaussian_filter(filled, max(0.5, s)) for s in ss]
    dx_acc = np.zeros(grid.shape)
    dy_acc = np.zeros(grid.shape)
    n_pairs = len(ss) - 1
    for i in range(n_pairs):
        lo, hi = smooths[i], smooths[i + 1]
        it = hi - lo
        gy, gx = np.gradient(lo + hi)
        gx *= 0.5
        gy *= 0.5
        w_sig = min(max(1.5, ss[i]), 24.0)
        jxx = gaussian_filter(gx * gx, w_sig)
        jyy = gaussian_filter(gy * gy, w_sig)
        jxy = gaussian_filter(gx * gy, w_sig)
        bx = gaussian_filter(gx * it, w_sig)
        by = gaussian_filter(gy * it, w_sig)
        delta = 1e-3 * (jxx + jyy) + 1e-12
        a11, a22 = jxx + delta, jyy + delta
        inv_det = 1.0 / (a11 * a22 - jxy * jxy)
        gap = max(1e-6, ss[i + 1] - ss[i])
        w = pair_w[i] if pair_w is not None else 1.0 / n_pairs
        wg = w / gap
        dx_acc += wg * (-(a22 * bx - jxy * by) * inv_det)
        dy_acc += wg * (-(a11 * by - jxy * bx) * inv_det)

    mode = str(drift_output).lower()
    if mode == "direction":
        out = (np.arctan2(dy_acc, dx_acc) / (2.0 * np.pi)) % 1.0
    elif mode == "divergence":
        ddy, _ = np.gradient(dy_acc)
        _, ddx = np.gradient(dx_acc)
        div = ddx + ddy
        if global_stats is not None and float(global_stats[1]) > 1e-12:
            out = 0.5 + 0.5 * np.tanh(div / float(global_stats[1]))
        else:
            out = div
    else:
        mag = np.sqrt(dx_acc * dx_acc + dy_acc * dy_acc)
        if global_stats is not None and float(global_stats[1]) > 1e-12:
            mag = np.maximum((mag - float(global_stats[0])) / float(global_stats[1]), 0.0)
        out = mag
    return restore_nan(out, nan_mask)


# ------------------------ scale space surprise --------------------------

def np_scale_space_surprise(
    grid: np.ndarray,
    scales=(2.0, 4.0, 8.0, 16.0),
    enhancement: float = 2.0,
    weights=None,
    global_stats=None,
    **_ignored,
) -> np.ndarray:
    """Scale-Space Surprise: mean |DoG_{i+1} − DoG_i| over adjacent
    scale pairs, percentile-stretched + enhancement power (reference
    algorithms/common/kernels.py:21-86). global_stats=(p5, p95−p5)
    makes the stretch seam-free."""
    nan_mask = np.isnan(grid)
    if nan_mask.any():
        fill, _ = nan_gaussian(grid, 1.0)
        work = np.where(nan_mask, fill, grid)
    else:
        work = np.asarray(grid, dtype=np.float64)
    ss = _eff_surprise_scales(scales)
    pair_w = None
    if weights is not None and len(weights) == len(ss):
        pw = [0.5 * (float(weights[i]) + float(weights[i + 1])) for i in range(len(ss) - 1)]
        tot = sum(pw)
        if tot > 1e-12:
            pair_w = [p / tot for p in pw]
    responses = [work - gaussian_filter(work, s, mode="reflect") for s in ss]
    surprise = np.zeros(grid.shape)
    for i in range(len(responses) - 1):
        term = np.abs(responses[i + 1] - responses[i])
        surprise += term * (pair_w[i] if pair_w is not None else 1.0)
    if pair_w is None:
        surprise /= max(1, len(responses) - 1)
    if global_stats is not None and float(global_stats[1]) > 1e-12:
        lo, scale = float(global_stats[0]), float(global_stats[1])
        surprise = np.clip((surprise - lo) / scale, 0.0, 1.0)
    else:
        valid = surprise[~nan_mask] if nan_mask.any() else surprise.ravel()
        if valid.size:
            lo, hi = np.percentile(valid, 5), np.percentile(valid, 95)
            if hi > lo:
                surprise = np.clip((surprise - lo) / (hi - lo), 0.0, 1.0)
    surprise = np.power(surprise, 1.0 / max(1e-3, float(enhancement)))
    return restore_nan(surprise, nan_mask)


# ----------------------- multi light uncertainty ------------------------

def np_multi_light_uncertainty(
    grid: np.ndarray,
    azimuths=(0.0, 90.0, 180.0, 270.0),
    altitude: float = 45.0,
    z_factor: float = 1.0,
    uncertainty_weight: float = 0.7,
    **_ignored,
) -> np.ndarray:
    """Multi-light uncertainty shading: mean hillshade over azimuths
    plus the coefficient-of-variation uncertainty boost (reference
    algorithms/common/kernels.py:89-140)."""
    nan_mask = np.isnan(grid)
    if nan_mask.any():
        fill, _ = nan_gaussian(grid, 1.0)
        work = np.where(nan_mask, fill, grid)
    else:
        work = np.asarray(grid, dtype=np.float64)
    dy, dx = np.gradient(work * float(z_factor), edge_order=2)
    denom = np.sqrt(dx * dx + dy * dy + 1.0)
    nx, ny, nz = -dx / denom, -dy / denom, 1.0 / denom
    alt = math.radians(float(altitude))
    stack = np.empty((len(list(azimuths)), *grid.shape), dtype=np.float64)
    for i, az_deg in enumerate(azimuths):
        az = math.radians(float(az_deg))
        hs = np.maximum(
            0.0,
            math.sin(az) * math.cos(alt) * nx + math.cos(az) * math.cos(alt) * ny + math.sin(alt) * nz,
        )
        stack[i] = hs
    mean_light = stack.mean(axis=0)
    std_light = stack.std(axis=0)
    uncertainty = np.clip(std_light / (mean_light + 1e-6), 0.0, 1.0)
    shaded = np.clip(mean_light + float(uncertainty_weight) * uncertainty, 0.0, 1.0)
    return restore_nan(shaded, nan_mask)


# --------------------------- visual saliency ----------------------------

def np_visual_saliency(
    grid: np.ndarray,
    scales=(2.0, 4.0, 8.0, 16.0),
    weights=None,
    global_stats=None,
    **_ignored,
) -> np.ndarray:
    """Itti-style saliency adapted to single-band terrain: DoG
    center-surround intensity + gradient-orientation conspicuity at 4
    orientations, log1p-compressed, combined and stretched by the
    global p99 (reference _impl_visual_saliency.py:80-177).
    global_stats=(norm_min, norm_scale) makes the stretch seam-free."""
    nan_mask = np.isnan(grid)
    if nan_mask.any():
        fill = np.nanmean(grid)
        work = np.where(nan_mask, fill if np.isfinite(fill) else 0.0, grid).astype(np.float64)
    else:
        work = np.asarray(grid, dtype=np.float64)
    use_scales = _eff_vs_scales(scales)
    wl = list(weights) if (weights is not None and len(weights) == len(use_scales)) else None
    smooths = [gaussian_filter(work, s) for s in use_scales]

    def compress(f):
        return np.log1p(np.clip(f, 0.0, None))

    imaps, iw = [], []
    for ci in (0, 1):
        for d in (2, 3):
            si = ci + d
            if si >= len(use_scales):
                continue
            imaps.append(compress(np.abs(smooths[ci] - smooths[si])))
            if wl is not None:
                iw.append(wl[ci])
    if imaps:
        if wl is not None and sum(iw) > 1e-12:
            intensity = sum(m * w_ for m, w_ in zip(imaps, iw)) / sum(iw)
        else:
            intensity = sum(imaps) / len(imaps)
    else:
        intensity = np.zeros_like(work)

    omaps, ow = [], []
    for j in range(min(3, len(use_scales))):
        gy, gx = np.gradient(smooths[j])
        mag = np.sqrt(gx * gx + gy * gy) + 1e-8
        theta = np.arctan2(gy, gx)
        for o in (0.0, np.pi / 4, np.pi / 2, 3 * np.pi / 4):
            omaps.append(compress(mag * np.maximum(np.cos(2.0 * (theta - o)), 0.0)))
            if wl is not None:
                ow.append(wl[j])
    if wl is not None and sum(ow) > 1e-12:
        orientation = sum(m * w_ for m, w_ in zip(omaps, ow)) / sum(ow)
    else:
        orientation = sum(omaps) / len(omaps)

    sal = 0.5 * (intensity + orientation)
    if global_stats is not None and float(global_stats[1]) > 1e-9:
        norm_min, norm_scale = float(global_stats[0]), float(global_stats[1])
    else:
        valid = sal[~nan_mask] if nan_mask.any() else sal.ravel()
        norm_min = 0.0
        norm_scale = float(np.percentile(np.maximum(valid, 0.0), 99.0)) if valid.size else 1.0
        if norm_scale <= 1e-9:
            norm_scale = 1.0
    out = np.maximum((sal - norm_min) / norm_scale, 0.0)
    return restore_nan(out, nan_mask)


# --------------------------- fractal anomaly ----------------------------

def _fractal_sigmas(grid: np.ndarray, rs: list, nan_mask: np.ndarray) -> list:
    """Per-scale detrended roughness sigmas (shared by the kernel, the
    relief field, and the feature field)."""
    sigmas = []
    for r in rs:
        sigma = max(0.8, (r * 3.0) / 6.0)
        if nan_mask.any():
            trend, _ = nan_gaussian(grid, sigma)
            residual = grid - trend
            energy, _ = nan_gaussian(np.where(nan_mask, 0.0, residual) ** 2, sigma)
        else:
            trend = gaussian_filter(grid, sigma)
            residual = grid - trend
            energy = gaussian_filter(residual ** 2, sigma)
        sigmas.append(np.sqrt(np.maximum(energy, 1e-8)))
    return sigmas


def fractal_roughness_field(
    grid: np.ndarray, radii=(4.0, 8.0, 16.0, 32.0, 64.0), **_ignored
) -> np.ndarray:
    """Mean per-scale roughness — the RELIEF field whose global
    (p10, p75) are fractal_anomaly's relief_conf stats (reference
    _impl_fractal_anomaly.py:359-445's relief pre-pass field)."""
    nan_mask = np.isnan(grid)
    sigmas = _fractal_sigmas(grid, [float(r) for r in radii], nan_mask)
    return restore_nan(sum(sigmas) / len(sigmas), nan_mask)


def fractal_feature_field(
    grid: np.ndarray,
    radii=(4.0, 8.0, 16.0, 32.0, 64.0),
    weights=None,
    relief_p10: float | None = None,
    relief_p75: float | None = None,
    smoothing_sigma: float = 1.2,
    detail_boost: float = 0.35,
    **_ignored,
) -> np.ndarray:
    """The pre-normalization FEATURE field — global (median, p99|dev|)
    over this field are fractal_anomaly's global_stats (the second,
    relief-dependent stage of the reference's ordered pre-pass)."""
    feature, _, _, nan_mask = _fractal_core(
        grid, radii, weights, relief_p10, relief_p75, smoothing_sigma, detail_boost
    )
    return restore_nan(feature, nan_mask)


def np_fractal_anomaly(
    grid: np.ndarray,
    radii=(4.0, 8.0, 16.0, 32.0, 64.0),
    weights=None,
    global_stats=None,
    relief_p10: float | None = None,
    relief_p75: float | None = None,
    smoothing_sigma: float = 1.2,
    despeckle_threshold: float = 0.35,
    despeckle_alpha_max: float = 0.30,
    detail_boost: float = 0.35,
    **_ignored,
) -> np.ndarray:
    """Fractal anomaly (FujiShaderGPU-original composite over the
    standard fractal-surface log-log roughness regression): detrended
    multi-scale roughness -> weighted regression slope beta (Hurst
    proxy) + RMSE + relief-weighted scale ratios -> despeckled,
    robustly normalized feature (reference
    _impl_fractal_anomaly.py:32-222). Seam-free with injected
    global_stats=(median, p99|dev|) + relief_p10/p75."""
    feature, alpha, relief_conf, nan_mask = _fractal_core(
        grid, radii, weights, relief_p10, relief_p75, smoothing_sigma, detail_boost
    )
    if global_stats is not None and float(global_stats[1]) > 1e-6:
        mean_g, std_g = float(global_stats[0]), float(global_stats[1])
        result = (feature - mean_g) / std_g
        thr = max(0.05, float(despeckle_threshold))
        med = median3x3(result)
        thr_map = thr * (0.7 + 1.1 * alpha)
        mask = (np.abs(result - med) > thr_map) & (alpha < float(despeckle_alpha_max)) & (relief_conf < 0.45)
        result = np.where(mask, med, result)
    else:
        result = feature
    return restore_nan(result, nan_mask)


def _fractal_core(
    grid: np.ndarray,
    radii,
    weights,
    relief_p10,
    relief_p75,
    smoothing_sigma,
    detail_boost,
):
    nan_mask = np.isnan(grid)
    rs = [float(r) for r in radii]
    sigmas = _fractal_sigmas(grid, rs, nan_mask)
    n_sc = len(sigmas)

    lsig = [np.log(np.maximum(s, 1e-5)) for s in sigmas]
    ls = [math.log(max(r, 1e-9)) for r in rs]
    if weights is not None and len(weights) == n_sc and sum(weights) > 1e-12:
        sw = [float(w_) / sum(weights) for w_ in weights]
    else:
        swa = np.sqrt(np.asarray(rs))
        sw = (swa / swa.sum()).tolist()
    mean_ls = sum(ls[i] * sw[i] for i in range(n_sc))
    var_ls = sum(((ls[i] - mean_ls) ** 2) * sw[i] for i in range(n_sc))
    mean_lsig = np.zeros(grid.shape)
    for i in range(n_sc):
        mean_lsig += lsig[i] * sw[i]
    cov = np.zeros(grid.shape)
    ss_tot = np.zeros(grid.shape)
    for i in range(n_sc):
        d = lsig[i] - mean_lsig
        cov += (ls[i] - mean_ls) * d * sw[i]
        ss_tot += d * d * sw[i]
    beta = cov / (var_ls + 1e-10)
    ss_res = np.zeros(grid.shape)
    for i in range(n_sc):
        diff = lsig[i] - (mean_lsig + beta * (ls[i] - mean_ls))
        ss_res += diff * diff * sw[i]
    r2 = np.clip(1.0 - ss_res / (ss_tot + 1e-10), 0.0, 1.0)
    rmse = np.sqrt(np.maximum(ss_res, 0.0))
    beta_dev = np.clip(beta - 1.2, -4.0, 4.0)
    roughness = sum(sigmas) / n_sc
    vr = roughness[~nan_mask]
    if relief_p10 is not None and relief_p75 is not None and relief_p75 > relief_p10:
        r_p10, r_p75 = float(relief_p10), float(relief_p75)
    elif vr.size:
        r_p10, r_p75 = float(np.percentile(vr, 10)), float(np.percentile(vr, 75))
    else:
        r_p10, r_p75 = 0.0, 1.0
    relief_conf = np.clip((roughness - r_p10) / max(r_p75 - r_p10, 1e-6), 0.0, 1.0)
    raw = 0.75 * beta_dev + 0.45 * np.log1p(np.maximum(rmse, 0.0))
    coarse_i = min(2, n_sc - 1)
    macro_i = max(n_sc - 3, 0)
    raw = raw + 0.35 * (lsig[n_sc - 1] - lsig[macro_i]) * relief_conf
    raw = raw + float(detail_boost) * 0.18 * (lsig[0] - lsig[coarse_i]) * relief_conf
    smooth = max(0.0, float(smoothing_sigma))
    feat_smooth = raw
    if smooth > 0:
        if nan_mask.any():
            feat_smooth, _ = nan_gaussian(raw, smooth)
        else:
            feat_smooth = gaussian_filter(raw, smooth)
    alpha = 0.50 + 0.50 * (np.clip((r2 - 0.35) / 0.6, 0.0, 1.0) * relief_conf)
    feature = alpha * raw + (1.0 - alpha) * feat_smooth
    return feature, alpha, relief_conf, nan_mask




# ---- effective-scale resolution (shared by kernels AND halo rules) ----
# Kernels substitute defaults for degenerate scale lists (mirroring the
# reference); halo rules MUST apply the same substitution or the
# allocated halo under-covers the actual support (seams).

def _eff_vs_scales(scales):
    use = [max(0.5, float(s)) for s in scales]
    return use if len(use) >= 4 else [2.0, 4.0, 8.0, 16.0]


def _eff_drift_scales(scales):
    ss = sorted({float(s) for s in scales if float(s) > 0})
    return ss if len(ss) >= 2 else [2.0, 4.0, 8.0, 16.0, 32.0]


def _eff_surprise_scales(scales):
    ss = sorted({float(s) for s in scales if float(s) > 0})
    return ss if len(ss) >= 2 else [1.0, 2.0, 4.0]


def _eff_pc_wavelengths(wavelengths):
    ws = sorted({min(max(float(w), 3.0), 64.0) for w in wavelengths})
    return ws if len(ws) >= 2 else [4.0, 8.0, 16.0, 32.0, 64.0]


# ------------------------------ registry --------------------------------

def _halo_gauss(sigma: float) -> int:
    return int(4.0 * max(float(sigma), 0.5) + 0.5) + 1


# name -> (kernel fn, halo(params)->int). Halo rules mirror the
# reference's per-algorithm map_overlap depths
# (reference core/tile_processor.py:207-383, each _impl process()).
# ``p`` is the kernel's signature defaults with the caller's params
# merged over them (tile_kernels.kernel_halo).
EXT_KERNELS = {
    "blur": (np_blur, lambda p: _halo_gauss(p["scale"])),
    "multiscale_terrain": (np_multiscale_terrain, lambda p: _halo_gauss(max(p["scales"]))),
    "openness": (np_openness, lambda p: int(p["max_distance"]) + 1),
    "ambient_occlusion": (
        np_ambient_occlusion, lambda p: int(round(p["radius"])) + _halo_gauss(1.0) + 1,
    ),
    "specular": (
        np_specular, lambda p: max(3, int(p["roughness_scale"])) // 2 + _halo_gauss(1.1) + 3,
    ),
    "atmospheric_scattering": (np_atmospheric_scattering, lambda p: 2),
    "npr_edges": (np_npr_edges, lambda p: _halo_gauss(p["edge_sigma"]) + 7),
    "structure_tensor": (
        np_structure_tensor, lambda p: int(2 * max(p["radii"]) + 4 * p["derivative_sigma"] + 4),
    ),
    "frangi": (np_frangi, lambda p: int(2 * max(p["radii"]) + 6)),
    "lic": (np_lic, lambda p: int(min(int(p["length"]), 120) + 4 * p["flow_sigma"] + 4)),
    "phase_congruency": (
        np_phase_congruency, lambda p: int(2 * max(_eff_pc_wavelengths(p["wavelengths"])) + 16),
    ),
    "tv_decomposition": (np_tv_decomposition, lambda p: int(min(int(p["iterations"]), 140)) + 2),
    "scale_drift": (
        np_scale_drift,
        lambda p: int(
            4 * max(_eff_drift_scales(p["scales"]))
            + 4 * min(max(_eff_drift_scales(p["scales"])), 24.0)
            + 4
        ),
    ),
    "scale_space_surprise": (
        np_scale_space_surprise, lambda p: _halo_gauss(max(_eff_surprise_scales(p["scales"]))),
    ),
    "multi_light_uncertainty": (np_multi_light_uncertainty, lambda p: 2),
    "visual_saliency": (np_visual_saliency, lambda p: int(5 * max(_eff_vs_scales(p["scales"])))),
    # two chained gaussians at sigma=r/2 (trend, then residual energy)
    # -> support 2 * halo(r/2); the reference's 2r+16 rule under-covers
    # and is documented as approximate at MAX_DEPTH
    # (reference _impl_fractal_anomaly.py:317-324) — here the rule is
    # exact so the seam test can be bit-exact.
    "fractal_anomaly": (
        np_fractal_anomaly,
        lambda p: 2 * _halo_gauss(max(p["radii"]) / 2.0)
        + _halo_gauss(p["smoothing_sigma"])
        + 2,
    ),
}
