"""Global normalization statistics: the reference's per-algorithm
stats pre-pass (one global (lo, scale) per algorithm, pooled from
stratified windows and injected into every block so normalization is
seam-free; reference algorithms/_norm_stats.py:29-61,301-350,
_global_stats.py:65-178) re-expressed as Spark aggregations.

Every pre-pass — stretch-domain kernels (``kernel_global_stats``),
raw-field kernels (``kernel_raw_stats``), fractal's two ordered stages
and the render stretch — is one ``pool`` callable run by two pieces:

- ``sample_pool``, the one sample-and-fallback contract: ``pool`` the
  rows whose tile hashes into the sample, ``pmod(xxhash64(x, y),
  sample_mod) == 0`` (A9: deterministic, a bounded fraction at any
  scale); when that is None, ``pool`` the ±2-tile window around the
  rows' tile centroid (A10, the reference's bounded central crop);
  when that is None too, the caller applies its own default.
- ``percentile_pool``, the one percentile aggregate (approx sketch, or
  exact for oracle parity).

``stretch`` (A11) maps [lo, lo+scale] -> [0, 1], dark tail clamped,
bright tail unclipped (reference _global_stats.py:156-178). At 100 TB
the pre-pass reads 1/sample_mod of the tiles once and broadcasts a few
doubles, with no second full scan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.tiles import TILE_PX, tile_xy
from .tile_kernels import tile_kernel


def sample_pool(frame: DataFrame, tile: tuple[Column, Column], pool: Callable, sample_mod: int = 4):
    """``pool`` over the A9 tile-hash sample of ``frame``; when that is
    None, ``pool`` over the A10 ±2-tile window around the centroid of
    ``tile`` (the (x, y) tile columns of ``frame``'s rows); None when
    both pool to nothing."""
    tx, ty = tile
    v = pool(frame.filter(F.pmod(F.xxhash64(tx, ty), F.lit(sample_mod)) == 0))
    if v is not None:
        return v
    center = frame.agg(F.avg(tx).alias("cx"), F.avg(ty).alias("cy")).first()
    if center is None or center["cx"] is None:
        return None  # no rows at all: nothing to recover from
    cx, cy = int(center["cx"]), int(center["cy"])
    return pool(frame.filter((F.abs(tx - cx) <= 2) & (F.abs(ty - cy) <= 2)))


def percentile_pool(values: DataFrame, ps: list[float], exact: bool = False) -> list[float] | None:
    """The percentiles ``ps`` (fractions) of column ``v`` in one
    aggregate; None when there is no value to pool.

    ``exact=True`` is the ORACLE-ONLY plan choice (the normalize_
    acctbal pattern, queries.normalize_acctbal): exact ``percentile``
    (a full sort of the pooled values) solely for bit-parity with
    DuckDB ``quantile_cont``. Production always uses the default
    ``percentile_approx`` sketch — the plan to run at 10^12 rows."""
    if exact:
        pctl = F.expr(f"percentile(v, array({', '.join(repr(float(p)) for p in ps)}))")
    else:
        pctl = F.percentile_approx("v", list(ps), 10000)
    row = values.agg(pctl.alias("p")).first()
    if row is None or row["p"] is None:
        return None
    return [float(p) for p in row["p"]]


def _values(tiles: DataFrame) -> DataFrame:
    """Every pixel of the tiles' ``result`` grids as rows of ``v``."""
    return tiles.select(F.explode("result").alias("v"))


# Kernels whose ``global_stats`` kwarg is a pure POST-OUTPUT stretch of
# the same quantity the no-stats run emits raw — the only kernels for
# which pooling the no-stats output's percentiles and injecting them
# back is domain-correct. Everything else interprets global_stats in a
# different domain (frangi: structure-energy c, phase_congruency: noise
# median, tv_decomposition: texture tanh scale, fractal_anomaly:
# (mean, std), multiscale_terrain: pre-gamma detail band), mirroring the
# reference's per-algorithm _norm_stats dispatch (reference
# algorithms/_norm_stats.py:29-61) — those need bespoke raw-stat
# extractors, not this generic path; base kernels (hillshade/slope/...)
# have no global_stats param at all and would TypeError in executors.
# Value: predicate over kernel_params gating mode-dependent outputs.
STATS_STRETCH_KERNELS: dict = {
    "openness": lambda p: True,
    "ambient_occlusion": lambda p: True,
    "structure_tensor": lambda p: str(p.get("st_output", "coherence")).lower() == "coherence",
    "scale_drift": lambda p: str(p.get("drift_output", "magnitude")).lower() == "magnitude",
}


def _check_stretch_domain(kernel: str, kernel_params: dict) -> None:
    ok = STATS_STRETCH_KERNELS.get(kernel)
    if ok is None or not ok(kernel_params):
        raise ValueError(
            f"kernel {kernel!r} (params {kernel_params!r}) is not a stretch-domain kernel: "
            f"its global_stats parameter is not a post-output [lo, lo+scale] stretch, so "
            f"injecting pooled output percentiles would mis-normalize. Supported: "
            f"{sorted(STATS_STRETCH_KERNELS)} (structure_tensor only for st_output="
            f"'coherence', scale_drift only for drift_output='magnitude'); kernels with a "
            f"bespoke raw-stat pre-pass (kernel_raw_stats) route automatically via "
            f"tile_kernel_normalized."
        )


# Per-kernel RAW-field pre-passes — the reference's per-algorithm
# _norm_stats dispatch (reference algorithms/_norm_stats.py:29-61) for
# kernels whose global_stats lives in a DIFFERENT domain than their
# output: each spec names the raw field whose global percentile IS the
# kernel's stat, and how the pooled value injects into kernel params.
# The field functions are the same ones the kernels' per-block
# fallbacks use, so pre-pass and fallback can never drift.
def _p95_agg(vdf):
    p = percentile_pool(vdf, [0.95])
    return p[0] if p is not None and p[0] > 1e-12 else None


def _grad_stats_agg(vdf):
    """(base=p50, range=p90−p50, mean) of the gradient field — npr's
    threshold triple (reference _impl_npr_edges.py:276-379)."""
    row = vdf.agg(
        F.percentile_approx("v", [0.5, 0.9], 10000).alias("p"),
        F.avg("v").alias("m"),
    ).first()
    if row is None or row["p"] is None or row["m"] is None or float(row["m"]) <= 1e-12:
        return None
    base, p90 = float(row["p"][0]), float(row["p"][1])
    return (base, p90 - base, float(row["m"]))


def _raw_stats_specs() -> dict:
    from .np_kernels import (
        frangi_energy_field,
        npr_gradient_field,
        specular_roughness_field,
    )

    return {
        # c = p95(S)/2 over the structure-energy field
        # (reference _impl_frangi.py:154-162)
        # injection floors sit strictly ABOVE the kernels' `>` gates
        # (np_frangi checks > 1e-12, np_specular > 1e-9): a boundary or
        # degenerate-default injection must still be CONSUMED — falling
        # through to the per-block fallback would seam exactly the
        # tiles the pre-pass exists to protect
        "frangi": {
            "field": lambda g, p: frangi_energy_field(g, p.get("radii", (2.0, 4.0, 8.0, 16.0))),
            "agg": _p95_agg,
            "inject": lambda v: {"global_stats": (0.0, max(0.5 * v, 2e-12))},
            "default": 0.0,
        },
        # roughness_norm_scale = p95 of the raw windowed-std roughness
        # (reference _impl_specular.py:228-308); NaN-masked so the pool
        # matches the kernel's own roughness[~nan_mask] percentile
        "specular": {
            "field": lambda g, p: _mask_like(
                specular_roughness_field(g, p.get("roughness_scale", 20.0)), g
            ),
            "agg": _p95_agg,
            "inject": lambda v: {"roughness_norm_scale": max(v, 2e-9)},
            "default": 0.0,
        },
        # grad_stats = (p50, p90−p50, mean) of the smoothed Sobel
        # magnitude (reference _impl_npr_edges.py:276-379); the default
        # triple matches the kernel's own degenerate fallback
        "npr_edges": {
            "field": lambda g, p: _npr_gmag(npr_gradient_field, g, p),
            "agg": _grad_stats_agg,
            "inject": lambda v: {"grad_stats": tuple(v)},
            "default": (0.1, 0.2, 0.1),
        },
    }


def _npr_gmag(field_fn, g, p):
    gmag, _, _, nan_mask = field_fn(g, p.get("edge_sigma", 1.0))
    return _mask_like(gmag, g, nan_mask)


def _mask_like(field, grid, nan_mask=None):
    """NaN out the field wherever the source grid is NaN, so pooled
    stats match the kernels' own valid-only percentiles."""
    import numpy as np

    if nan_mask is None:
        nan_mask = np.isnan(grid)
    if nan_mask.any():
        field = field.copy()
        field[nan_mask] = np.nan
    return field


def kernel_raw_stats(
    points: DataFrame,
    z: int,
    kernel: str,
    sample_mod: int = 4,
    log_scale: bool = True,
    **kernel_params,
):
    """Pooled raw-field stat(s) over the shared tile sample and
    fallback — the per-algorithm analog of kernel_global_stats for
    non-stretch-domain kernels. Returns a float (frangi/specular) or
    the kernel's stat tuple (npr_edges); the spec default when both
    pool to nothing."""
    from .tile_kernels import kernel_halo, rasterize_tiles

    spec = _raw_stats_specs().get(kernel)
    if spec is None:
        raise ValueError(
            f"no raw-stat extractor for kernel {kernel!r}; "
            f"available: {sorted(_raw_stats_specs())}"
        )
    h = kernel_halo(kernel, kernel_params)

    def pool(pts):
        tiles = rasterize_tiles(pts, z, halo=h, log_scale=log_scale)
        return _pool_tiles(tiles, h, spec, kernel_params)

    v = sample_pool(points, tile_xy(F.col("lat"), F.col("lon"), z), pool, sample_mod)
    return v if v is not None else spec["default"]


def _relief_agg(vdf):
    p = percentile_pool(vdf, [0.10, 0.75])
    return (p[0], p[1]) if p is not None and p[1] > p[0] else None


def _median_dev_agg(vdf):
    """(median, p99|v − median|) — fractal's global_stats pair; the
    pooled field is checkpointed so the two aggregates scan it once."""
    v = vdf.localCheckpoint(eager=False)
    m = percentile_pool(v, [0.5])
    if m is None:
        return None
    med = m[0]
    d = percentile_pool(v.select(F.abs(F.col("v") - med).alias("v")), [0.99])
    return (med, d[0]) if d is not None and d[0] > 1e-6 else None


def fractal_global_stats(
    points: DataFrame,
    z: int,
    sample_mod: int = 4,
    log_scale: bool = True,
    **kernel_params,
) -> dict:
    """Fractal anomaly's ORDERED two-stage pre-pass (the reference runs
    its stats in dependency order — fractal relief BEFORE norm stats,
    reference core/dask_processor.py:1327, _impl_fractal_anomaly.py:
    359-445): stage 1 pools the relief field's (p10, p75) through the
    shared sample and fallback; stage 2 pools the FEATURE field —
    computed WITH those relief stats — for (median, p99|dev|) over the
    same tiles. Returns the kernel-param dict to inject."""
    from .np_kernels import fractal_feature_field, fractal_roughness_field

    from .tile_kernels import kernel_halo, rasterize_tiles

    relief_spec = {
        "field": lambda g, p: fractal_roughness_field(g, **p),
        "agg": _relief_agg,
    }
    feat_spec = {
        "field": lambda g, p: fractal_feature_field(g, **p),
        "agg": _median_dev_agg,
    }
    h = kernel_halo("fractal_anomaly", kernel_params)
    last = {}  # the tiles stage 1 pooled last (sample or central window)

    def relief_pool(pts):
        # ONE rasterization serves both stages (checkpointed): the two
        # pools read the same windows, like the reference computing
        # all fractal stats from one set of stratified reads
        last["tiles"] = rasterize_tiles(pts, z, halo=h, log_scale=log_scale).localCheckpoint(eager=False)
        return _pool_tiles(last["tiles"], h, relief_spec, kernel_params)

    relief = sample_pool(points, tile_xy(F.col("lat"), F.col("lon"), z), relief_pool, sample_mod)
    p10, p75 = relief if relief is not None else (0.0, 1.0)
    feat = _pool_tiles(
        last["tiles"], h, feat_spec, dict(kernel_params, relief_p10=p10, relief_p75=p75)
    )
    med, dev = feat if feat is not None else (0.0, 1.0)
    return {
        "relief_p10": p10,
        "relief_p75": p75,
        # floor strictly above np_fractal_anomaly's > 1e-6 gate so the
        # injection is always consumed (seam-free even when degenerate)
        "global_stats": (med, max(dev, 2e-6)),
    }


def _pool_tiles(tiles, h, spec, kernel_params):
    """spec agg of spec's field over the core pixels of halo-expanded
    rasterized tiles."""
    import numpy as np
    import pandas as pd

    from .tile_kernels import unpack_grid

    field_fn, params = spec["field"], dict(kernel_params)
    w = TILE_PX + 2 * h

    def ffn(it):
        for pdf in it:
            out = []
            for g in pdf["grid"]:
                gg = unpack_grid(g, w)
                f = field_fn(gg, params)
                core = f[h : h + TILE_PX, h : h + TILE_PX] if h else f
                out.append(core[np.isfinite(core)].ravel())
            yield pd.DataFrame({"v": np.concatenate(out) if out else np.empty(0)})

    return spec["agg"](tiles.mapInPandas(ffn, "v double"))


def stretch(col: Column, lo: float, scale: float) -> Column:
    """A11 display stretch: max((v - lo) / scale, 0) — p99 maps to 1,
    the bright tail passes through unclipped (reference
    _global_stats.py:173-174)."""
    if not scale > 1e-12:
        return col
    return F.greatest((col - F.lit(float(lo))) / F.lit(float(scale)), F.lit(0.0))


def kernel_global_stats(
    points: DataFrame,
    z: int,
    kernel: str,
    lo_p: float = 1.0,
    hi_p: float = 99.0,
    sample_mod: int = 4,
    log_scale: bool = True,
    exact: bool = False,
    **kernel_params,
) -> tuple[float, float]:
    """(lo, scale) of the kernel's raw output pooled over the shared
    tile sample and fallback; (0.0, 0.0) when both are empty or flat.
    Restricted to stretch-domain kernels (STATS_STRETCH_KERNELS) — see
    _check_stretch_domain. ``exact`` is percentile_pool's oracle-only
    exact percentile."""
    _check_stretch_domain(kernel, kernel_params)

    def pool(pts):
        return _kernel_output_stats(pts, z, kernel, lo_p, hi_p, log_scale, kernel_params, exact)

    stats = sample_pool(points, tile_xy(F.col("lat"), F.col("lon"), z), pool, sample_mod)
    return stats if stats is not None else (0.0, 0.0)


def _kernel_output_stats(points, z, kernel, lo_p, hi_p, log_scale, kernel_params, exact=False):
    tiles = tile_kernel(points, z, kernel=kernel, log_scale=log_scale, **kernel_params)
    p = percentile_pool(_values(tiles).filter(~F.isnan("v")), [lo_p / 100.0, hi_p / 100.0], exact)
    if p is None or not p[1] - p[0] > 1e-12:
        return None
    return (p[0], p[1] - p[0])


def render_stretch(tiles: DataFrame, symmetric: bool = False) -> tuple[float, float]:
    """(lo, scale) the render quantizes on, pooled from the (x, y)
    output tiles' ``result`` grids: the robust [p1, p99] of the non-NaN
    values (a flat pool keeps lo with scale 1; nothing pooled gives
    (0, 1)), or with ``symmetric`` topousm's ±|p99| stretch (reference
    algorithms/_normalization.py:22-41: zero relief maps to mid-gray;
    a p99 not > 1e-12 becomes 1)."""
    tile = (F.col("x"), F.col("y"))
    if symmetric:
        p = sample_pool(
            tiles, tile, lambda t: percentile_pool(_values(t).select(F.abs("v").alias("v")), [0.99])
        )
        p99 = p[0] if p is not None and p[0] > 1e-12 else 1.0
        return -p99, 2.0 * p99
    p = sample_pool(
        tiles, tile, lambda t: percentile_pool(_values(t).filter(~F.isnan("v")), [0.01, 0.99])
    )
    lo, hi = p if p is not None else (0.0, 1.0)
    return lo, hi - lo if hi - lo > 1e-12 else 1.0


def tile_kernel_normalized(
    points: DataFrame,
    z: int,
    kernel: str,
    lo_p: float = 1.0,
    hi_p: float = 99.0,
    sample_mod: int = 4,
    log_scale: bool = True,
    **kernel_params,
) -> DataFrame:
    """Stats pre-pass + stats-injected kernel run: the reference's
    seam-free normalization pipeline (pre-pass -> broadcast -> every
    tile normalizes identically). The stats land in the kernel's
    declared stat parameter, so the per-tile UDF does no
    data-dependent normalization of its own.

    Two routes, mirroring the reference's per-algorithm dispatch:
    stretch-domain kernels (STATS_STRETCH_KERNELS) pool the output's
    own percentiles into ``global_stats``; raw-stat kernels (frangi,
    specular) pool their RAW field's percentile and inject it in that
    kernel's domain (structure-energy c, roughness p95). Anything
    else raises."""
    if kernel == "fractal_anomaly":
        inj = fractal_global_stats(
            points, z, sample_mod=sample_mod, log_scale=log_scale, **kernel_params
        )
        return tile_kernel(points, z, kernel=kernel, log_scale=log_scale,
                           **dict(kernel_params, **inj))
    if kernel in _raw_stats_specs():
        spec = _raw_stats_specs()[kernel]
        v = kernel_raw_stats(
            points, z, kernel, sample_mod=sample_mod, log_scale=log_scale,
            **kernel_params,
        )
        inj = spec["inject"](v)
        return tile_kernel(points, z, kernel=kernel, log_scale=log_scale,
                           **dict(kernel_params, **inj))
    _check_stretch_domain(kernel, kernel_params)
    stats = kernel_global_stats(
        points, z, kernel, lo_p=lo_p, hi_p=hi_p, sample_mod=sample_mod,
        log_scale=log_scale, **kernel_params,
    )
    return tile_kernel(points, z, kernel=kernel, log_scale=log_scale,
                       global_stats=stats, **kernel_params)
