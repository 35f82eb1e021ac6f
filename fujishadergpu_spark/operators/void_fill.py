"""A21 void fill: the reference's prepare-stage enclosed-void repair
re-expressed for sparse density rasters.

The reference fills DEM voids before any kernel runs: it reads a
BOUNDED coarse overview, splits voids into edge-connected exterior
(ocean outside the data footprint — preserved) vs enclosed holes
(filled), builds a push-pull membrane surface at coarse resolution,
and streams the full-res fill from that surface (reference
io/dem_preprocess.py:527-640, fill core algorithms/_pyramid_fill.py:
24-85). The same three-step shape here:

1. ``build_void_fill_surface`` — one Spark aggregation rasterizes the
   world at a bounded coarse zoom (zc <= 2 -> at most a 1024² grid, a
   few MB on the driver REGARDLESS of data scale — the analog of the
   reference's fixed-size overview read); the driver classifies void
   coarse pixels by edge connectivity (vectorized frontier BFS) and
   push-pulls the membrane. The result is broadcast (two small world
   arrays), exactly like the A9 stats pre-pass.
2. ``VoidFillSurface.apply`` — inside any per-tile UDF, zero-count
   pixels whose containing coarse cell is fillable get the bilinear
   membrane value scaled to per-fine-pixel density (coarse count /
   4^s). The surface is global and deterministic, so the fill is
   seam-free by construction (two tiles sampling the same membrane
   agree bit-for-bit — the same argument as the overview rewrite).
3. ``tile_kernel(..., fill_surface=...)`` / render ``--fill-voids``
   consume it before log1p + kernel.

The patch-join route (void_fill_dist) imports this module's steps —
world assembly, fillable mask, tile enumeration, pixel coordinates,
membrane axis and fill step — so the two routes agree bit-for-bit by
shared code; tests/test_void_fill_dist.py still pins it.

Scale note: the only driver-side state is the zc-resolution world grid
(bounded by construction); the per-tile work is two vectorized gathers.
The antimeridian is treated as a map edge for connectivity (a void
strip crossing ±180 classifies as exterior from either side).
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import DataFrame

from ..functions.tiles import TILE_PX
from .np_filters import bilinear_axis, bilinear_taps, pushpull_fill
from .tile_kernels import rasterize_tiles, unpack_grid


def _exterior_voids(void: np.ndarray) -> np.ndarray:
    """Edge-connected void cells (4-connectivity), vectorized frontier
    BFS — the reference's exterior/enclosed split (reference
    io/dem_preprocess.py:588-598) without scipy.ndimage.label."""
    h, w = void.shape
    ext = np.zeros_like(void)
    ext[0, :] = void[0, :]
    ext[-1, :] = void[-1, :]
    ext[:, 0] = void[:, 0]
    ext[:, -1] = void[:, -1]
    frontier = np.argwhere(ext)
    while frontier.size:
        nxt = []
        for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            ny = frontier[:, 0] + dy
            nx = frontier[:, 1] + dx
            ok = (ny >= 0) & (ny < h) & (nx >= 0) & (nx < w)
            ny, nx = ny[ok], nx[ok]
            fresh = void[ny, nx] & ~ext[ny, nx]
            ny, nx = ny[fresh], nx[fresh]
            ext[ny, nx] = True
            if ny.size:
                nxt.append(np.stack([ny, nx], axis=1))
        frontier = np.concatenate(nxt) if nxt else np.empty((0, 2), dtype=np.int64)
    return ext


def _resolve_zc(z: int, zc: int | None, mode: str) -> int:
    """The argument check both void-fill routes share: a known mode,
    and a membrane zoom zc <= z, derived from z when not given. The
    derived zc = max(2, z-10) keeps the z <= zc+10 tile-enumeration
    guard satisfiable at any zoom; min(z, ...) keeps z < 2 working."""
    if mode not in ("enclosed", "all"):
        raise ValueError(f"unknown void-fill mode {mode!r} (enclosed/all)")
    if zc is None:
        zc = min(z, max(2, z - 10))
    if zc > z:
        raise ValueError(f"zc={zc} must be <= z={z}")
    return zc


def _assemble_world(points: DataFrame, zoom: int) -> np.ndarray:
    """The (2^zoom·256)² count world on the driver, from one
    rasterize_tiles collect (4^zoom tiles at most: bounded by the
    caller's zoom cap, not by the data)."""
    n_px = (1 << zoom) * TILE_PX
    world = np.zeros((n_px, n_px), dtype=np.float64)
    for r in rasterize_tiles(points, zoom).collect():
        world[r["y"] * TILE_PX : (r["y"] + 1) * TILE_PX,
              r["x"] * TILE_PX : (r["x"] + 1) * TILE_PX] = unpack_grid(r["grid"], TILE_PX)
    return world


def _fillable_mask(world: np.ndarray, mode: str) -> np.ndarray:
    """Fillable cells of a count world: voids that are not
    edge-connected ('enclosed'), or every cell ('all')."""
    if mode == "enclosed":
        return ~_exterior_voids(world == 0)
    return np.ones(world.shape, dtype=bool)


def _check_tile_enumeration(z: int, mask_zoom: int) -> None:
    """The z <= mask_zoom+10 bound of ``_fillable_tile_keys``, callable
    before the mask is built so a route can refuse at plan time."""
    if z - mask_zoom > 10:
        raise ValueError(f"fillable-tile synthesis bounded at z <= zc+10 (z={z}, mask zoom={mask_zoom})")


def _fillable_tile_keys(mask: np.ndarray, mask_zoom: int, z: int) -> np.ndarray:
    """Packed (tx<<32)+ty keys of EVERY z-level tile intersecting a
    fillable cell of ``mask`` (a zoom-``mask_zoom`` pixel mask) — the
    fill's output domain. A tile with no points produces no shuffle
    rows and hence no group, so the consumer must synthesize these
    tiles or whole-tile voids stay unrepaired. Driver memory is the
    (2^z)² tile mask — bounded by the z <= mask_zoom+10 guard (16M
    bools at the limit)."""
    _check_tile_enumeration(z, mask_zoom)
    s = z - mask_zoom
    if s <= 8:
        k = TILE_PX >> s  # mask pixels per fine tile (>= 1)
        nt = mask.shape[0] // k  # == 2^z
        pooled = mask.reshape(nt, k, nt, k).any(axis=(1, 3))
    else:
        rep = 1 << (s - 8)  # fine tiles per mask pixel
        pooled = np.repeat(np.repeat(mask, rep, axis=0), rep, axis=1)
    ys, xs = np.nonzero(pooled)
    return (xs.astype(np.int64) << 32) + ys.astype(np.int64)


def _halo_pixel_coords(tx: int, ty: int, z: int, h: int) -> tuple[np.ndarray, np.ndarray]:
    """Global (gy, gx) of a tile's halo-expanded grid axes: x wraps at
    the antimeridian, y clips at the world edge."""
    w = TILE_PX + 2 * h
    n_fine = (1 << z) * TILE_PX
    gx = (np.arange(w) + tx * TILE_PX - h) % n_fine
    gy = np.clip(np.arange(w) + ty * TILE_PX - h, 0, n_fine - 1)
    return gy, gx


def _membrane_axis(g: np.ndarray, s: int, n_coarse: int) -> tuple[np.ndarray, np.ndarray]:
    """(i0, frac) of the membrane bilinear sample along one axis: fine
    pixel centers g at zoom gap s, on a coarse axis of n_coarse pixels
    (clamped at the world bounds)."""
    return bilinear_axis((g + 0.5) / (1 << s) - 0.5, n_coarse)


def _grid_taps(img: np.ndarray, ys, xs) -> np.ndarray:
    """bilinear_taps on the separable grid of per-axis (i0, frac)
    pairs: ys along rows, xs along columns."""
    (y0, fy), (x0, fx) = ys, xs
    return bilinear_taps(img, y0[:, None], fy[:, None], x0[None, :], fx[None, :])


def _tile_gate(mask: np.ndarray, mask_zoom: int, z: int, gy, gx) -> np.ndarray:
    """The fillable gate of a tile's halo pixels (gy, gx): the mask
    value of each pixel's containing zoom-``mask_zoom`` cell (exact)."""
    sh = z - mask_zoom
    return mask[(gy >> sh)[:, None], (gx >> sh)[None, :]]


def _fill_tile(grid: np.ndarray, tx: int, ty: int, z: int, h: int, mask, mask_zoom: int, zc: int, taps):
    """The fill step of both routes, on tile (tx, ty)'s halo grid:
    zero-count pixels under the fillable gate take the bilinear sample
    of the zoom-zc membrane at their fine pixel centers (``taps(ys,
    xs)`` on per-axis (i0, frac) pairs), scaled from coarse counts to
    per-fine-pixel density (4^-s). Returns ``grid`` itself when no void
    is fillable."""
    gy, gx = _halo_pixel_coords(tx, ty, z, h)
    where = (grid == 0) & _tile_gate(mask, mask_zoom, z, gy, gx)
    if not where.any():
        return grid
    s, n_coarse = z - zc, (1 << zc) * TILE_PX
    memb = taps(_membrane_axis(gy, s, n_coarse), _membrane_axis(gx, s, n_coarse)) * (0.25 ** s)
    out = grid.copy()
    np.copyto(out, memb, where=where)
    return out


class VoidFillSurface:
    """Broadcast coarse membrane: (zc, fill counts grid, fillable mask).

    ``apply`` fills zero-count pixels of a halo-expanded fine tile grid
    in place of their membrane density — pure function of (surface,
    tile id), independent of partitioning.
    """

    def __init__(self, zc: int, bc_fill, bc_fillable):
        self.zc = zc
        self._bc_fill = bc_fill
        self._bc_fillable = bc_fillable

    def fillable_tile_keys(self, z: int) -> np.ndarray:
        """Packed keys of every z-level tile intersecting a fillable
        coarse cell (``_fillable_tile_keys`` on the broadcast mask)."""
        if z < self.zc:
            raise ValueError(f"fill surface built at zc={self.zc} cannot serve z={z} < zc")
        return _fillable_tile_keys(self._bc_fillable.value, self.zc, z)

    def apply(self, grid: np.ndarray, tile_x: int, tile_y: int, z: int, halo: int) -> np.ndarray:
        if z < self.zc:
            raise ValueError(f"fill surface built at zc={self.zc} cannot serve z={z} < zc")
        taps = partial(_grid_taps, self._bc_fill.value)
        return _fill_tile(grid, tile_x, tile_y, z, halo, self._bc_fillable.value, self.zc, self.zc, taps)


def build_void_fill_surface(
    points: DataFrame,
    z: int,
    zc: int | None = None,
    mode: str = "enclosed",
) -> VoidFillSurface:
    """One bounded pre-pass -> broadcast membrane surface.

    mode='enclosed' (default): only voids NOT edge-connected at coarse
    resolution are fillable (the reference's default repair);
    'all': every void is fillable (the reference's --fill-voids all).
    """
    derived = zc is None
    zc = _resolve_zc(z, zc, mode)
    if derived and zc > 4:
        # The grid is (2^zc * 256)^2 float64 — zc=4 is ~134 MB; beyond
        # that the caller must opt in explicitly (pass zc / --fill-zc)
        # to confirm the driver cost.
        raise ValueError(
            f"auto zc={zc} for z={z} implies a {(1 << zc) * TILE_PX}^2 driver grid "
            f"(> 134 MB); pass zc explicitly (CLI: --fill-zc) to confirm"
        )
    # 4^zc tiles at most (zc<=2 -> 16 tiles, ~8 MB) — bounded at any SF
    world = _assemble_world(points, zc)
    filled = pushpull_fill(np.where(world == 0, np.nan, world))
    sc = points.sparkSession.sparkContext
    return VoidFillSurface(zc, sc.broadcast(filled), sc.broadcast(_fillable_mask(world, mode)))
