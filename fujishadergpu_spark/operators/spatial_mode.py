"""Generic spatial mode: multi-radius integration for ANY registered
kernel, with the reference's large-radius-from-overview rewrite.

The reference gives every spatial-capable algorithm the same
machinery (reference algorithms/_nan_utils.py: multiscale_response_
fields + coarse_large_radius_response; per-radius response via the
algorithm's own radius param, or a sigma = radius/2 pre-smooth for
radius-less kernels, _nan_utils.py:527-547):

- small radii: response computed at full resolution with a bounded
  halo;
- large radii (halo would blow the tile budget): response computed on
  a 2^s-decimated overview — where the radius is r >> s, so the halo
  is bounded again — then bilinearly upsampled;
- the per-radius responses combine with the shared weights/agg rule.

Spark shape: ``spatial_kernel`` is a thin caller of the one
multi-radius executor, ``multiscale._multi_radius`` (its contract is
in that module's docstring: fine rasterization with halo = max
small-radius support, one coarse LOD level per decimation exponent
broadcast-joined back on the ancestor key, per-tile upsample, stack or
combine, grid/stats rows). What spatial mode passes:

- the response: ``np_spatial_response`` at radius r on the fine grid
  and at r/2^s on the coarse level, with ``spatial_response_halo`` as
  its support (a fine-path halo over the tile budget is refused);
- the field transform: ``log1p`` of the density when ``log_scale``;
- the response itself (not a residual), cropped to the core or
  upsampled from the coarse level;
- a mean that renormalizes by the weights of the responses present in
  a tile, because a large radius whose coarse ancestor row is missing
  is skipped;
- the ``result`` / ``resp_*`` output columns.

No halo ever exceeds the tile size and no shuffle grows with the
radius — the same scaling law as the reference's rewrite (its
fractal_anomaly went "~hours -> minutes" on this split,
reference ARCHITECTURE.md:556-560).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..functions.spatial import auto_spatial_profile
from ..functions.tiles import TILE_PX
from .multiscale import _multi_radius
from .np_filters import nan_gaussian, restore_nan
from .np_kernels import _halo_gauss
from .tile_kernels import KERNELS, kernel_halo

# kernels whose response takes the radius as a named param; everything
# else uses the pre-smooth convention (sigma = radius/2). specular's
# radius drives its roughness WINDOW — the reference keeps specular's
# per-radius loop bespoke for exactly this (the coarse path then runs
# with the 2^s-rescaled window, reference _impl_specular.py:146-191)
# instead of the generic pre-smooth.
SPATIAL_RADIUS_KW: dict[str, str] = {
    "openness": "max_distance",
    "ambient_occlusion": "radius",
    "blur": "scale",
    "specular": "roughness_scale",
}

# intrinsically multi-scale kernels: their result is undefined at a
# single external radius (they carry their own scales/radii banks), so
# radius-driven spatial mode does not apply — the reference's same
# classification (reference algorithms/common/spatial_mode.py:35-53,
# MULTISCALE_REQUIRED_ALGOS)
MULTISCALE_INTRINSIC = frozenset({
    "multiscale_terrain", "visual_saliency", "scale_space_surprise",
    "scale_drift", "phase_congruency", "fractal_anomaly",
})


def np_spatial_response(field: np.ndarray, kernel: str, radius: float, **params) -> np.ndarray:
    """One radius' response on a plain 2-D field (NumPy; used by both
    the Spark UDFs and the world-oracle tests)."""
    fn, _ = KERNELS[kernel]
    kw = SPATIAL_RADIUS_KW.get(kernel)
    if kw is not None:
        p = dict(params)
        p[kw] = int(round(radius)) if kw == "max_distance" else float(radius)
        return fn(field, **p)
    if radius <= 1.0:
        return fn(field, **params)
    sm, nan_mask = nan_gaussian(field, max(0.5, float(radius) / 2.0))
    return fn(restore_nan(sm, nan_mask), **params)


def spatial_response_halo(kernel: str, radius: float, params: dict) -> int:
    """Halo support of one radius' response (smoothing support + the
    kernel's own halo rule)."""
    kw = SPATIAL_RADIUS_KW.get(kernel)
    if kw is not None:
        p = dict(params)
        p[kw] = int(round(radius)) if kw == "max_distance" else float(radius)
        return kernel_halo(kernel, p)
    base = kernel_halo(kernel, params)
    if radius <= 1.0:
        return base
    return _halo_gauss(float(radius) / 2.0) + base


def _plan_radii(
    radii: list[float], threshold: float, max_s: int | None = None
) -> tuple[list[float], dict[float, int]]:
    """(small, {radius: decimation exponent}) — same rule as
    multiscale._plan_scales (reference radius->factor heuristic).
    ``max_s`` caps the decimation so the coarse zoom z-s never goes
    negative at low zooms (a capped level just runs with a larger,
    still halo-bounded coarse radius)."""
    small, large = [], {}
    for r in sorted(radii):
        if r <= threshold:
            small.append(r)
        else:
            s = 0
            while (r / (1 << (s + 1))) > threshold / 2 and (1 << (s + 1)) <= TILE_PX:
                s += 1
            if max_s is not None:
                s = min(s, max_s)
            large[r] = s
    return small, large


def spatial_kernel(
    points: DataFrame,
    z: int,
    kernel: str,
    radii: tuple[float, ...] | None = None,
    weights: tuple[float, ...] | None = None,
    agg: str = "mean",
    overview_threshold: float = 24.0,
    log_scale: bool = True,
    output: str = "stats",
    **kernel_params,
) -> DataFrame:
    """Multi-radius spatial-mode run of any registered kernel at zoom
    z: per-tile combined response (output='grid': (z,x,y,result 256²);
    'stats': (z,x,y,resp_sum,resp_min,resp_max)). agg='stack' emits the
    raw per-radius responses as one row per (tile, radius) with a
    ``radius`` column instead of combining — the reference's multi-band
    stack output as rows (reference _nan_utils.py:182-213,
    core/dask_processor.py:1594-1599). agg='mean' renormalizes by the
    weights of the responses present in each tile."""
    if kernel not in KERNELS:
        raise KeyError(kernel)
    if kernel in MULTISCALE_INTRINSIC:
        raise ValueError(
            f"{kernel!r} is intrinsically multi-scale (it carries its own "
            f"scales/radii params) — run it via tile_kernel with those params "
            f"instead of radius-driven spatial mode"
        )
    if radii is None:
        auto_r, auto_w = auto_spatial_profile(float((1 << z) * TILE_PX))
        radii = tuple(float(r) for r in auto_r)
        if weights is None:
            weights = tuple(auto_w)
    radii = [float(r) for r in radii]
    small, large = _plan_radii(radii, overview_threshold, max_s=max(0, z))
    return _multi_radius(
        points, z, radii, weights, small, {r: (s, r / (1 << s)) for r, s in large.items()},
        agg, output, "result", "resp",
        respond=lambda field, r: np_spatial_response(field, kernel, r, **kernel_params),
        support=lambda r: spatial_response_halo(kernel, r, kernel_params),
        log_scale=log_scale, renormalize=True,
    )
