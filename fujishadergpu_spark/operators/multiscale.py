"""Multiscale unsharp mask with the large-radius-from-overview
rewrite — the reference's signature optimization re-expressed in
Spark (SURVEY.md §4.1 row 1).

The reference computes ``Σᵢ wᵢ·(z − mean_rᵢ(z))`` over box means
(reference algorithms/_impl_topousm_fast.py:49-100) and rewrites any
radius whose halo would exceed the tile budget to run on one global
decimated overview, bilinearly sampled back per block — seam-free and
halo-free (reference _impl_topousm_fast.py:103-186,
algorithms/_nan_utils.py:328-524).

Here the same split, run by one multi-radius executor
(``_multi_radius``) that ``multiscale_usm`` and
``spatial_mode.spatial_kernel`` both call:

- **small radii** (r <= overview_threshold): the fine level is
  rasterized once at zoom z with halo = the largest small-radius
  support, so every core pixel sees its full window — no seams by
  construction; each small radius' response is computed on that grid
  and cropped to the 256² core;
- **large radii**: one coarse LOD level per decimation exponent s
  (``_join_coarse_level``): independent rasterization at z−s — exact
  2^s-block sums of the fine density, so no cross-level drift — runs
  the response per coarse tile at radius r/2^s, keeps the 1-px crop
  ring, and is **broadcast-joined** back to the fine tiles on the
  ancestor key (x >> s, y >> s). Catalyst broadcasts the coarse level
  because it is 4^s× smaller — exactly the pre-aggregate +
  broadcast-join shape SURVEY.md maps the reference rewrite onto. The
  finish UDF bilinearly upsamples each ring at the fine pixel centres
  (``_upsample``, ``coarse_sample_coords``);
- **finish**: the per-radius responses are stacked (one row per
  (tile, radius)) or combined (weighted mean / sum / min / max) and
  emitted as ``grid`` or ``stats`` rows.

The executor's callers pass only what differs: the radius plan, the
per-radius response and its halo support, the field transform
(``log_scale``), whether the response is the residual ``core −
response`` (USM) and whether the mean renormalizes by the weights of
the responses present in a tile (spatial mode), plus the output
column names. Here the response is the box mean and the field is the
raw per-pixel point count (linear), so the coarse level is bit-exactly
the block mean of the fine level; display transforms happen after the
USM. ``overview_box_total`` runs the same coarse join and upsample in
the exact integer domain with its own finish.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tiles import TILE_PX
from .np_filters import bilinear_sample
from .tile_kernels import _core, pack_grid, rasterize_tiles, unpack_grid


def np_box_total(g: np.ndarray, r: int) -> np.ndarray:
    """(2r+1)² window SUM via summed-area table. Over integer-valued
    counts this is exact in float64 (cumsums and differences of
    integers < 2^53) — the hash-oracle queries rely on that.

    Valid for pixels whose window lies inside g — callers guarantee a
    halo >= r around every pixel they keep; edge windows clip.
    """
    h, w = g.shape
    s = np.zeros((h + 1, w + 1), dtype=np.float64)
    np.cumsum(g, axis=0, out=s[1:, 1:])
    np.cumsum(s[1:, 1:], axis=1, out=s[1:, 1:])
    y0 = np.clip(np.arange(h) - r, 0, h)
    y1 = np.clip(np.arange(h) + r + 1, 0, h)
    x0 = np.clip(np.arange(w) - r, 0, w)
    x1 = np.clip(np.arange(w) + r + 1, 0, w)
    return s[y1[:, None], x1[None, :]] - s[y0[:, None], x1[None, :]] \
        - s[y1[:, None], x0[None, :]] + s[y0[:, None], x0[None, :]]


def np_box_mean(g: np.ndarray, r: int) -> np.ndarray:
    """(2r+1)² box mean, constant-area (interior) normalization."""
    return np_box_total(g, r) / float((2 * r + 1) ** 2)


def coarse_sample_coords(tile_x: int, tile_y: int, s: int) -> tuple[np.ndarray, np.ndarray]:
    """Fine-pixel-center coordinates of tile (tile_x, tile_y) in its
    2^s-coarse ancestor's local grid (+1 for the 1-px crop ring the
    coarse response carries). THE alignment contract between the
    overview path's build and sample sides — shared by _upsample and
    the world-oracle tests so it cannot drift."""
    p = np.arange(TILE_PX)
    gx = tile_x * TILE_PX + p
    gy = tile_y * TILE_PX + p
    cx = (gx + 0.5) / (1 << s) - 0.5 - (tile_x >> s) * TILE_PX + 1.0
    cy = (gy + 0.5) / (1 << s) - 0.5 - (tile_y >> s) * TILE_PX + 1.0
    return cy, cx


def _plan_scales(
    radii: list[int], threshold: int, max_s: int | None = None
) -> tuple[list[int], dict[int, int]]:
    """Split radii into (small, {radius: s}) where s is the overview
    decimation exponent chosen so the effective coarse radius lands in
    (threshold/2, threshold] — the reference's radius→factor heuristic
    (reference algorithms/_nan_utils.py:555-601), deterministic and
    shape-independent. max_s caps s (callers pass the zoom, so the
    coarse level z−s never goes negative at low zooms)."""
    small, large = [], {}
    for r in sorted(radii):
        if r <= threshold:
            small.append(r)
        else:
            s = 0
            while (
                (r >> (s + 1)) > threshold // 2
                and (1 << (s + 1)) <= TILE_PX
                and (max_s is None or s + 1 <= max_s)
            ):
                s += 1
            large[r] = s
    return small, large


def _join_coarse_level(
    fine: DataFrame,
    points: DataFrame,
    z: int,
    s: int,
    h_c: int,
    responses: dict[str, Callable[[np.ndarray], np.ndarray]],
) -> DataFrame:
    """Attach one 2^s-decimated level to ``fine``: rasterize ``points``
    at z−s with halo h_c, run each ``responses[col]`` on every coarse
    tile's (256+2h_c)² grid of block SUMS, keep its 1-px crop ring
    (258² around the core) as binary column ``col``, and broadcast
    left-join the level on the ancestor key (x >> s, y >> s). A fine
    tile whose ancestor has no points gets None. rasterize_tiles already
    yields one row per coarse tile, so the responses map its rows where
    they stand (no regrouping)."""
    ring = slice(h_c - 1, h_c + TILE_PX + 1)

    def fn(frames):
        for pdf in frames:
            out = {"_cx": pdf["x"], "_cy": pdf["y"], **{c: [] for c in responses}}
            for g in pdf["grid"]:
                gg = unpack_grid(g, TILE_PX + 2 * h_c)
                for c, respond in responses.items():
                    out[c].append(pack_grid(respond(gg)[ring, ring]))
            yield pd.DataFrame(out)

    level = (
        rasterize_tiles(points, z - s, halo=h_c)
        .select("x", "y", "grid")
        .mapInPandas(fn, "_cx long, _cy long, " + ", ".join(f"{c} binary" for c in responses))
    )
    return fine.join(
        F.broadcast(level),
        (F.shiftright(fine["x"], s) == level["_cx"]) & (F.shiftright(fine["y"], s) == level["_cy"]),
        "left",
    ).drop("_cx", "_cy")


def _upsample(ring: bytes, tile_x: int, tile_y: int, s: int) -> np.ndarray:
    """Bilinear sample of a coarse ancestor's 258² crop ring at fine
    tile (tile_x, tile_y)'s 256² pixel centres."""
    cy, cx = coarse_sample_coords(tile_x, tile_y, s)
    return bilinear_sample(unpack_grid(ring, TILE_PX + 2), cy[:, None], cx[None, :])


def _combine(
    responses: list[tuple[float, np.ndarray]], w_by_r: dict, agg: str, renormalize: bool
) -> np.ndarray:
    """Per-pixel combine across radii (reference _nan_utils.py:182-213):
    weighted mean (raw weights, or renormalized by the weights of the
    responses present), elementwise sum, min or max."""
    if agg in ("min", "max"):
        op = np.minimum if agg == "min" else np.maximum
        out = responses[0][1]
        for _, resp in responses[1:]:
            out = op(out, resp)
        return out
    tot = sum(w_by_r[r] for r, _ in responses) if renormalize else 1.0  # w / 1.0 == w exactly
    out = np.zeros_like(responses[0][1])
    for r, resp in responses:
        out += resp if agg == "sum" else (w_by_r[r] / tot) * resp
    return out


def _multi_radius(
    points: DataFrame,
    z: int,
    radii: Sequence[float],
    weights: Sequence[float] | None,
    small: list[float],
    large: dict[float, tuple[int, float]],
    agg: str,
    output: str,
    grid_col: str,
    stats_prefix: str,
    respond: Callable[[np.ndarray, float], np.ndarray],
    support: Callable[[float], int],
    log_scale: bool = False,
    residual: bool = False,
    renormalize: bool = False,
) -> DataFrame:
    """The multi-radius executor behind multiscale_usm and
    spatial_kernel (module docstring). ``small`` lists the fine-path
    radii; ``large`` maps each overview radius to (s, coarse radius).
    ``respond(field, radius)`` is one radius' response on a grid and
    ``support(radius)`` its halo. Output: (z, x, y[, radius],
    <grid_col> array<double>) or (z, x, y[, radius], <stats_prefix>_sum,
    _min, _max)."""
    if agg not in ("mean", "min", "max", "sum", "stack"):
        raise ValueError(f"unknown agg {agg!r} (mean/min/max/sum/stack)")  # at plan time, not in the workers
    if output not in ("stats", "grid"):
        raise ValueError(f"unknown output {output!r} (stats/grid)")
    if weights is not None and len(weights) != len(radii):
        raise ValueError(
            f"{len(weights)} weights for {len(radii)} radii — counts must match"
        )  # silent uniform fallback would render something the user did not ask for
    if weights is None:
        weights = [1.0 / len(radii)] * len(radii)
    w_by_r = dict(zip(radii, weights))
    halo = max((support(r) for r in small), default=0)
    if halo > TILE_PX - 1:
        # clamping would silently truncate the response's support and
        # seam every tile edge; the caller must lower the overview
        # threshold (routing the radius via the coarse path) or shrink
        # the kernel's own support params
        raise ValueError(
            f"fine-path halo {halo} exceeds the tile budget {TILE_PX - 1} at radii "
            f"{small}; lower overview_threshold or the kernel's support"
        )

    def field(g: np.ndarray) -> np.ndarray:
        return np.log1p(g) if log_scale else g

    joined = rasterize_tiles(points, z, halo=halo)  # (z,x,y,grid (256+2h)²)
    large_items = sorted(large.items())
    ring_col = {r: f"_ring{i}" for i, (r, _) in enumerate(large_items)}
    for s in sorted({s for s, _ in large.values()}):
        level = {r: r_c for r, (rs, r_c) in large_items if rs == s}
        # the max_s=z cap can leave a coarse support > 255 at extreme
        # (low-zoom, huge-radius) configs; the clamp keeps the plan
        # valid — the SAT and filters clip edge windows, so the run is
        # approximate only in that degenerate regime instead of raising
        h_c = min(max(support(r_c) for r_c in level.values()) + 1, TILE_PX - 1)
        # coarse counts are block SUMS of the fine grid; the field is
        # the block MEAN
        joined = _join_coarse_level(joined, points, z, s, h_c, {
            ring_col[r]: (lambda gg, r_c=r_c, s=s: respond(field(gg * 0.25 ** s), r_c))
            for r, r_c in level.items()
        })

    def finish(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {"z": [], "x": [], "y": [], **({"radius": []} if agg == "stack" else {})}
        payload = []
        rings = [pdf[ring_col[r]] for r, _ in large_items]
        for x, y, g, *anc in zip(pdf["x"], pdf["y"], pdf["grid"], *rings):
            x, y = int(x), int(y)
            g = field(unpack_grid(g, TILE_PX + 2 * halo))
            responses = [(r, _core(respond(g, r), halo)) for r in small]
            # a large radius is skipped when its coarse ancestor is missing
            responses += [
                (r, _upsample(ring, x, y, s))
                for (r, (s, _)), ring in zip(large_items, anc) if ring is not None
            ]
            if residual:
                core = _core(g, halo)
                responses = [(r, core - resp) for r, resp in responses]
            # stack = one output row per (tile, radius), raw response
            if agg != "stack":
                responses = [(None, _combine(responses, w_by_r, agg, renormalize))]
            for r, resp in responses:
                keys["z"].append(z)
                keys["x"].append(x)
                keys["y"].append(y)
                if agg == "stack":
                    keys["radius"].append(float(r))
                payload.append(resp)
        if output == "grid":
            return pd.DataFrame({**keys, grid_col: [p.ravel() for p in payload]})
        return pd.DataFrame({
            **keys,
            f"{stats_prefix}_sum": [float(p.sum()) for p in payload],
            f"{stats_prefix}_min": [float(p.min()) for p in payload],
            f"{stats_prefix}_max": [float(p.max()) for p in payload],
        })

    rad_col = "radius double, " if agg == "stack" else ""
    values = (
        f"{grid_col} array<double>" if output == "grid"
        else ", ".join(f"{stats_prefix}_{k} double" for k in ("sum", "min", "max"))
    )
    return joined.mapInPandas(
        lambda it: (finish(pdf) for pdf in it), f"z int, x long, y long, {rad_col}{values}"
    )


def multiscale_usm(
    points: DataFrame,
    z: int,
    radii: tuple[int, ...] | None = (2, 8, 32, 128),
    weights: tuple[float, ...] | None = None,
    overview_threshold: int = 16,
    output: str = "stats",
    agg: str = "mean",
) -> DataFrame:
    """Per-tile multi-scale response combine at zoom z.

    agg='mean' (default): Σ wᵢ (density − box_meanᵢ(density)) — the
    reference's weighted mean; 'min'/'max'/'sum' combine the
    per-radius responses elementwise instead; 'stack' emits the RAW
    (unweighted) per-radius responses as one row per (tile, radius)
    with a ``radius`` column — the row-wise re-expression of the
    reference's multi-band (C,H,W) stack output (reference
    algorithms/_nan_utils.py:182-213 combine modes,
    core/dask_processor.py:1594-1599; SURVEY.md §1.2 maps the stack to
    per-scale rows).

    output='stats' → (z, x, y[, radius], usm_sum, usm_min, usm_max);
    output='grid'  → (z, x, y[, radius], usm: array<double> 256²).
    """
    if radii is None:
        # the shared size-aware auto rule (reference
        # algorithms/common/spatial_mode.py:21-101): the world raster
        # at zoom z is the DEM, short side 2^z * 256 px
        from ..functions.spatial import auto_spatial_profile

        radii_l, weights_l = auto_spatial_profile(float((1 << z) * TILE_PX))
        radii = tuple(radii_l)
        if weights is None:
            weights = tuple(weights_l)
    small, large = _plan_scales(list(radii), overview_threshold, max_s=z)
    return _multi_radius(
        points, z, radii, weights, small, {r: (s, r >> s) for r, s in large.items()},
        agg, output, "usm", "usm", respond=np_box_mean, support=lambda r: r, residual=True,
    )


def overview_box_total(
    points: DataFrame,
    z: int,
    r: int,
    overview_threshold: int = 16,
) -> DataFrame:
    """The large-radius overview rewrite in the EXACT integer domain —
    the hash-oracle companion of multiscale_usm's coarse path (r3
    verdict #2; reference analog algorithms/_nan_utils.py:328-524).

    Runs the REAL s>=1 machinery end-to-end — _plan_scales radius→
    factor, and the executor's own _join_coarse_level (independent
    coarse rasterization at z−s with halo, per-coarse-tile SAT
    windowing, the 1-px crop ring, broadcast join on the ancestor key)
    and _upsample — but in the box-TOTAL domain instead of box-mean:
    coarse window totals are integers, bilinear weights at dyadic
    pixel-center offsets are exact in IEEE-754 (multiples of
    2^-(2s+2)), so the per-tile sum of upsampled totals ×4^(s+1) is an
    exact BIGINT on any engine and any summation order. Output:
    (z, x, y, up_total_q, core_pts).
    """
    small, large = _plan_scales([int(r)], overview_threshold, max_s=z)
    if not large:
        raise ValueError(
            f"r={r} <= overview_threshold={overview_threshold} takes the small-radius "
            f"path; this oracle exercises the s>=1 coarse rewrite"
        )
    s = large[int(r)]
    r_c = int(r) >> s
    joined = _join_coarse_level(
        rasterize_tiles(points, z, halo=0), points, z, s, min(r_c + 1, TILE_PX - 1),
        {"bt": lambda gg: np_box_total(gg, r_c)},
    )
    qscale = float(1 << (2 * s + 2))

    def finish(it):
        for pdf in it:
            rows = {"z": [], "x": [], "y": [], "up_total_q": [], "core_pts": []}
            for x, y, g, bt in zip(pdf["x"], pdf["y"], pdf["grid"], pdf["bt"]):
                # the ancestor always exists: the fine tile's own points
                # sit inside the ancestor's core
                up = _upsample(bt, int(x), int(y), s)
                rows["z"].append(z)
                rows["x"].append(int(x))
                rows["y"].append(int(y))
                rows["up_total_q"].append(int(round(float(up.sum()) * qscale)))
                rows["core_pts"].append(int(unpack_grid(g, TILE_PX).sum()))
            yield pd.DataFrame(rows)

    return joined.mapInPandas(finish, "z int, x long, y long, up_total_q long, core_pts long")

