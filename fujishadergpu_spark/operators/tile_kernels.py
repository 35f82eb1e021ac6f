"""Raster<->vector tile pipeline: rasterize points onto the XYZ grid,
run per-tile window kernels in one batched pandas UDF pass, build LOD
pyramids.

This is the direct re-expression of the reference's tile engine:

- tile enumeration + core/halo windows
  (reference core/tile_processor.py:1609-1627) becomes *halo
  duplication*: each point is exploded into every tile whose
  halo-expanded window contains it, then shuffled on the tile key — the
  shuffle IS the halo exchange (SURVEY.md §2.A A3/A5).
- ``map_overlap(kernel, depth)`` stencils (reference
  algorithms/_impl_hillshade.py:133-139) become a kernel run over
  (256+2*halo)^2 NumPy grids that crops the core exactly like the
  reference's GPU-side core crop (reference
  core/tile_processor.py:944-971).
- the COG overview pyramid (reference algorithms/_nan_utils.py:836-871)
  becomes LOD tables built by ``groupBy(parent_tile)`` aggregation.

Every point-to-tile operator here (rasterize_tiles, tile_kernel,
tile_kernel_stats and the census operators) is a thin caller of ONE
per-tile executor, ``_per_tile``. Its contract:

- one shuffle: points explode to packed 16-byte (``_tk``, ``_gk``)
  rows (+ optional weight) and repartition on ``_tk``, so every row of
  a tile lands in one partition;
- each partition is sorted on ``_tk`` and streamed through one
  ``mapInPandas``: each Arrow batch is split at ``_tk`` changes with
  NumPy, many tiles per batch, and a tile that straddles batches is
  carried into the next one (``_tile_batches``), so no pandas frame
  is built per tile;
- per tile, the key is decoded to (x, y) once and the halo grid
  accumulated once, in the operator's dtype (float64 everywhere
  except tile_kernel_stats, whose default is float32);
- the operator's emit turns (grid, x, y) into the columns after
  (z, x, y): one output row per tile, or none when
  ``skip_empty_core`` drops a tile that owns no points. Output frames
  hold at most ``_FLUSH_ROWS`` rows.

The kernel operators share one kernel tail (``_kernel_tail``: log1p,
per-tile metric pixel scale, kernel, core crop) and one stats reducer
(``_tile_stats``) with void_fill_dist.tile_kernel_stats_filled. The
tail runs a kernel only on the grid's data window: for the local
stencil kernels (``LOCAL_STENCIL_KERNELS``, halo depth r) the bounding
box of the nonzero pixels dilated by 2r+1, for every other kernel and
for a dense tile the whole grid. Core pixels outside the window take
the kernel's value on all-zero input; the core is bit-identical to the
whole-grid run (the sub-tile analog of the A17 skip below).

Determinism (SURVEY.md §7.3 hard part 3): rasterization accumulates
integer counts (order-free) or sorts rows by (pixel, value) before
accumulating weights, so tile grids are bit-identical for any
partitioning/parallelism — the engine's analog of the reference's
seam-free/backend-parity guarantees.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tiles import TILE_PX, global_pixel


def _kernel_parallelism(df: DataFrame) -> int:
    """Partition count for CPU-bound per-tile stages.

    AQE's byte-based coalescing would pack a small-but-CPU-heavy
    kernel stage into one partition (bytes are tiny, work is not); an
    explicit user repartition is exempt from coalescing, so kernel
    stages pin partitions to a multiple of the cluster parallelism —
    the analog of the reference's worker-throttling-by-compute (not
    by bytes) sizing (reference config/auto_tune.py:159-192).

    1 wave: each partition pays a fixed cost (Arrow stream + Python
    eval setup) that made 4 waves ~1.5x slower than 1 at bench scale.
    Once the kernel tail ran only on each tile's data window, per-tile
    cost fell ~5x for sparse tiles and that fixed cost outweighed the
    balance a second wave bought for heavy-tailed tiles: on tile_z9
    (4 cores) 1 wave beat 2 in 3 of 3 alternating pairs, median
    12.7k -> 15.5k pages/s.
    """
    return df.sparkSession.sparkContext.defaultParallelism


# ------------------------- halo explosion ---------------------------

def explode_to_tiles(
    points: DataFrame,
    z: int,
    halo: int = 0,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Adds (tile_x, tile_y, gx, gy): one row per (point, owning or
    halo-adjacent tile). halo is in pixels (kernel support depth, the
    analog of the reference's per-algorithm padding,
    reference core/tile_processor.py:207-383).

    A point duplicates into a neighbor tile iff it falls inside that
    tile's halo window — at halo<=255 that is at most the 8-neighbors,
    expressed as a static array of candidate offsets + filter (JVM-
    side; the ``_tk`` shuffle then routes duplicates to their tiles).
    Tile x wraps (antimeridian); tile y clamps at the mercator edge.
    """
    if not 0 <= halo < TILE_PX:
        raise ValueError("halo must be in [0, 256)")
    n_tiles = 1 << z
    gx, gy = global_pixel(F.col(lat_col), F.col(lon_col), z)
    df = points.withColumns({"gx": gx, "gy": gy})

    if halo == 0:
        return df.withColumns(
            {"tile_x": F.shiftright(F.col("gx"), 8), "tile_y": F.shiftright(F.col("gy"), 8)}
        )

    tx = F.shiftright(F.col("gx"), 8)
    ty = F.shiftright(F.col("gy"), 8)
    pxl = F.col("gx").bitwiseAND(F.lit(255))
    pyl = F.col("gy").bitwiseAND(F.lit(255))
    cands = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            cond = F.lit(True)
            if dx == -1:
                cond = cond & (pxl < halo)
            elif dx == 1:
                cond = cond & (pxl >= TILE_PX - halo)
            if dy == -1:
                cond = cond & (pyl < halo)
            elif dy == 1:
                cond = cond & (pyl >= TILE_PX - halo)
            ntx = F.pmod(tx + dx, F.lit(n_tiles))
            nty = ty + dy
            cand = F.when(cond & (nty >= 0) & (nty < n_tiles), F.struct(ntx.alias("tx"), nty.alias("ty")))
            cands.append(cand)
    df = df.withColumn("_t", F.explode(F.filter(F.array(*cands), lambda c: c.isNotNull())))
    return df.withColumns(
        {"tile_x": F.col("_t.tx"), "tile_y": F.col("_t.ty")}
    ).drop("_t")


# ------------------------- rasterization ----------------------------

_MASK32 = (1 << 32) - 1


def _packed_tiles(points: DataFrame, z: int, halo: int, weight_col: str | None) -> DataFrame:
    """Explode to tiles, then pack (tile_x, tile_y) and (gx, gy) into
    one long each: the halo-exchange shuffle row shrinks to 16 bytes
    (+ optional weight) — shuffle volume is the scaling bottleneck of
    the tile path at high core counts."""
    pts = explode_to_tiles(points, z, halo)
    cols = {
        "_tk": F.shiftleft(F.col("tile_x"), 32) + F.col("tile_y"),
        "_gk": F.shiftleft(F.col("gx"), 32) + F.col("gy"),
    }
    sel = pts.withColumns(cols).select(*["_tk", "_gk"] + ([weight_col] if weight_col else []))
    return sel.repartition(_kernel_parallelism(points), "_tk")


# A17 skip-filter note: the reference skips all-NoData tile windows
# before running the kernel (reference core/tile_processor.py:864-874).
# Here that case is structurally free — a tile with zero points in
# core+halo has no shuffle rows, so the executor never sees it and the
# kernel never runs. ``skip_empty_core`` extends the skip to tiles
# whose CORE is empty (only halo spill-ins): their output is pure
# boundary bleed of neighbors, the analog of the reference's nodata-tile
# shortcut.
_CORE_FLAG = "_core"


def _with_core_flag(packed: DataFrame) -> DataFrame:
    own = F.shiftleft(F.shiftright(F.col("_gk"), 32 + 8), 32) + F.shiftright(
        F.col("_gk").bitwiseAND(F.lit(_MASK32)), 8
    )
    return packed.withColumn(_CORE_FLAG, own == F.col("_tk"))


def _accumulate_grid(
    gk, weights, tx: int, ty: int, z: int, halo: int, dtype=np.float64,
) -> np.ndarray:
    """Deterministic (W=256+2h)^2 accumulation grid for tile (tx, ty)
    from the tile's packed ``_gk`` column and its weights (None: counts).

    gx/gy are global pixel coords; the tile origin is shifted by -halo.
    For wrapped halos (antimeridian) the offset is fixed up mod world
    width. Counts are order-free; weights are accumulated in sorted
    (pixel, value) order for bit-reproducibility.
    """
    w = TILE_PX + 2 * halo
    n_px = (1 << z) * TILE_PX
    gk = np.asarray(gk, dtype=np.int64)
    lx = ((gk >> 32) - (tx * TILE_PX - halo)) % n_px
    ly = (gk & _MASK32) - (ty * TILE_PX - halo)
    keep = (lx >= 0) & (lx < w) & (ly >= 0) & (ly < w)
    lx, ly = lx[keep], ly[keep]
    idx = ly * w + lx
    if weights is None:
        # counts over the span of the tile's pixel indices, not all w²:
        # a sparse tile bins and casts a handful of counts
        lo = idx.min(initial=w * w)
        counts = np.bincount(idx - lo)
        grid = np.zeros(w * w, dtype=dtype)
        grid[lo : lo + counts.size] = counts
    else:
        # float64 accumulation in sorted order regardless of output
        # dtype (bit-reproducible), downcast after
        vals = np.asarray(weights, dtype=np.float64)[keep]
        order = np.lexsort((vals, idx))
        grid = np.zeros(w * w, dtype=np.float64)
        np.add.at(grid, idx[order], vals[order])
        grid = grid.astype(dtype, copy=False)
    return grid.reshape(w, w)


def pack_grid(a: np.ndarray) -> bytes:
    """Grid transport encoding: raw little-endian float64 bytes. One
    binary cell per row instead of a 65k-element array<double> — the
    repo's measured allocator lesson (list-columns through Arrow
    materialize ~65k tiny objects per batch; see README design rules)
    applied to every internal grid column."""
    return np.ascontiguousarray(a, dtype=np.float64).tobytes()


def unpack_grid(buf: bytes, w: int) -> np.ndarray:
    """Inverse of pack_grid. Returns a READ-ONLY (w, w) view over the
    Arrow buffer — zero-copy; consumers that mutate must copy()."""
    return np.frombuffer(buf, dtype=np.float64).reshape(w, w)


_TILE_KEY = "z int, x long, y long"


def _core(a: np.ndarray, halo: int) -> np.ndarray:
    """The 256² core of a halo-expanded grid (a view)."""
    return a[halo : halo + TILE_PX, halo : halo + TILE_PX]


def _tile_row(z: int, tx: int, ty: int, cols: dict) -> pd.DataFrame:
    """One output row: (z, x, y) + an emit's column values."""
    return pd.DataFrame({"z": [z], "x": [tx], "y": [ty], **{k: [v] for k, v in cols.items()}})


# Output rows per yielded frame, at most: rasterize_tiles and
# tile_kernel rows carry a 0.5 MB grid or result each, so a batch of
# many small tiles must not become one huge frame.
_FLUSH_ROWS = 64


def _tile_batches(frames, z, halo, weight_col, emit, dtype=np.float64, skip_empty_core=False):
    """The per-tile body over a ``_tk``-sorted partition, as a pure
    generator: Arrow batches (pandas frames of ``_tk``, ``_gk`` [+
    weight] [+ core flag]) in, output frames of (z, x, y) + emit
    columns out.

    Each batch is split at ``_tk`` changes; every run is one tile, or
    a piece of one when a tile straddles batches. The last run of a
    batch stays open and its chunks are concatenated once, when the
    tile closes. One frame is yielded per batch that closed a tile,
    and early once ``_FLUSH_ROWS`` rows are pending."""
    cols = ["_gk"] + ([weight_col] if weight_col else []) + ([_CORE_FLAG] if skip_empty_core else [])
    rows: list[dict] = []
    open_tk, chunks = None, []

    def close():
        tile = {c: np.concatenate([ch[c] for ch in chunks]) for c in cols}
        if skip_empty_core and not tile[_CORE_FLAG].any():
            return
        tx, ty = open_tk >> 32, open_tk & _MASK32
        grid = _accumulate_grid(tile["_gk"], tile.get(weight_col), tx, ty, z, halo, dtype)
        rows.append({"z": z, "x": tx, "y": ty, **emit(grid, tx, ty)})

    def frame():
        out = pd.DataFrame({k: [r[k] for r in rows] for k in rows[0]})
        rows.clear()
        return out

    for pdf in frames:
        tk = pdf["_tk"].to_numpy(dtype=np.int64)
        if not tk.size:
            continue
        arrs = {c: pdf[c].to_numpy() for c in cols}
        bounds = [0, *(np.flatnonzero(tk[1:] != tk[:-1]) + 1).tolist(), tk.size]
        for a, b in zip(bounds[:-1], bounds[1:]):
            key = int(tk[a])
            if key != open_tk:
                if chunks:
                    close()
                    if len(rows) >= _FLUSH_ROWS:
                        yield frame()
                open_tk, chunks = key, []
            chunks.append({c: v[a:b] for c, v in arrs.items()})
        if rows:
            yield frame()
    if chunks:
        close()
        if rows:
            yield frame()


def _per_tile(
    points: DataFrame,
    z: int,
    halo: int,
    weight_col: str | None,
    cols: str,
    emit,
    dtype=np.float64,
    skip_empty_core: bool = False,
) -> DataFrame:
    """The tile engine's one per-tile step: points -> one row per
    tile, schema (z, x, y) + ``cols``.

    One halo-exchange shuffle (``_packed_tiles``); each partition is
    sorted on ``_tk`` and streamed through ``mapInPandas``, many tiles
    per Arrow batch (``_tile_batches``). Per tile the key is decoded to
    (tx, ty) once, the halo grid is accumulated once in ``dtype``, and
    ``emit(grid, tx, ty)`` returns the ``cols`` values as a dict.
    skip_empty_core (A17) emits no row for a tile owning no points
    (only halo spill-ins)."""
    packed = _packed_tiles(points, z, halo, weight_col)
    if skip_empty_core:
        packed = _with_core_flag(packed)

    def fn(frames):
        return _tile_batches(frames, z, halo, weight_col, emit, dtype, skip_empty_core)

    return packed.sortWithinPartitions("_tk").mapInPandas(fn, f"{_TILE_KEY}, {cols}")


def rasterize_tiles(
    points: DataFrame,
    z: int,
    halo: int = 0,
    weight_col: str | None = None,
    log_scale: bool = False,
) -> DataFrame:
    """points -> one row per tile: (z, x, y, grid: binary).

    grid is the packed (256+2*halo)^2 float64 accumulation raster
    (counts, or summed weight_col) — decode with ``unpack_grid``.
    log_scale applies log1p — the density->elevation transform used
    before terrain-style kernels.
    """
    return _per_tile(
        points, z, halo, weight_col, "grid binary",
        lambda grid, tx, ty: {"grid": pack_grid(np.log1p(grid) if log_scale else grid)},
    )


# --------------------------- window kernels --------------------------

def np_metric_gradient(
    grid: np.ndarray,
    pixel_scale: tuple[float, float] = (1.0, 1.0),
    z_factor: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """(gy, gx) per METRIC spacing: gradient / (m per pixel), scaled by
    z_factor (vertical exaggeration) — the reference's sign-aware
    metric derivative (reference algorithms/_nan_utils.py:50-74,
    io/raster_info.py pixel scales). Unit spacing (1, 1) is the exact
    pre-metric behavior."""
    gy, gx = np.gradient(grid)
    sx, sy = float(pixel_scale[0]), float(pixel_scale[1])
    zf = float(z_factor)
    if (sx, sy, zf) != (1.0, 1.0, 1.0):
        gx = gx * (zf / sx)
        gy = gy * (zf / sy)
    return gy, gx


def np_hillshade(
    grid: np.ndarray,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    pixel_scale: tuple[float, float] = (1.0, 1.0),
    z_factor: float = 1.0,
) -> np.ndarray:
    """Lambertian hillshade of a 2-D field (classic Horn formula).

    Same semantics as the reference's local hillshade (reference
    algorithms/_impl_hillshade.py:20-54: gradient -> surface normal ->
    clamped dot product with the light vector), implemented fresh on
    np.gradient. Output in [0, 1]. pixel_scale carries per-tile metric
    m/px spacings into the gradient (reference
    core/tile_processor.py:910-932).
    """
    gy, gx = np_metric_gradient(grid, pixel_scale, z_factor)
    az = math.radians(azimuth_deg)
    alt = math.radians(altitude_deg)
    slope = np.arctan(np.hypot(gx, gy))
    aspect = np.arctan2(-gx, gy)
    shade = math.sin(alt) * np.cos(slope) + math.cos(alt) * np.sin(slope) * np.cos(az - aspect)
    return np.clip(shade, 0.0, 1.0)


def np_slope(
    grid: np.ndarray,
    unit: str = "degree",
    pixel_scale: tuple[float, float] = (1.0, 1.0),
    z_factor: float = 1.0,
) -> np.ndarray:
    """Slope magnitude in degree / percent / radian (reference
    algorithms/_impl_slope.py:19-35's unit switch), metric when
    pixel_scale is given."""
    gy, gx = np_metric_gradient(grid, pixel_scale, z_factor)
    rad = np.arctan(np.hypot(gx, gy))
    if unit == "degree":
        return np.degrees(rad)
    if unit == "percent":
        return np.tan(rad) * 100.0
    if unit == "radian":
        return rad
    raise ValueError(f"unknown slope unit {unit!r} (degree/percent/radian)")


def np_curvature(
    grid: np.ndarray,
    mode: str = "planform",
    pixel_scale: tuple[float, float] = (1.0, 1.0),
    z_factor: float = 1.0,
) -> np.ndarray:
    """Second-order surface curvature (reference
    algorithms/_impl_curvature.py:19-57 semantics: mean / gaussian /
    planform / profile from the Hessian + gradient, fresh NumPy
    implementation). pixel_scale puts the Hessian in metric units
    (1/m curvatures).

    planform curvature is zero along straight contours (a parabolic
    cylinder has zero planform curvature — the reference's analytic
    fixture, tests/test_curvature_analytic.py).
    """
    gy, gx = np_metric_gradient(grid, pixel_scale, z_factor)
    sx, sy = float(pixel_scale[0]), float(pixel_scale[1])
    gyy, gyx = np.gradient(gy)
    gxy, gxx = np.gradient(gx)
    if (sx, sy) != (1.0, 1.0):
        gyy = gyy / sy
        gyx = gyx / sx
        gxy = gxy / sy
        gxx = gxx / sx
    p = gx * gx + gy * gy
    eps = 1e-12
    if mode == "mean":
        num = (1 + gy * gy) * gxx - 2 * gx * gy * gxy + (1 + gx * gx) * gyy
        den = 2.0 * np.power(1 + p, 1.5)
        return num / np.maximum(den, eps)
    if mode == "gaussian":
        # K = (z_xx z_yy - z_xy^2) / (1 + |∇z|^2)^2 — positive on
        # domes/bowls, negative on saddles, zero on developable
        # surfaces (reference _impl_curvature.py:41-42)
        return (gxx * gyy - gxy * gxy) / np.power(1 + p, 2)
    if mode == "planform":
        num = gy * gy * gxx - 2 * gx * gy * gxy + gx * gx * gyy
        return np.where(p > eps, num / np.maximum(np.power(p, 1.5), eps), 0.0)
    if mode == "profile":
        num = gx * gx * gxx + 2 * gx * gy * gxy + gy * gy * gyy
        return np.where(p > eps, num / np.maximum(p * np.power(1 + p, 1.5), eps), 0.0)
    raise ValueError(f"unknown curvature mode {mode}")


def np_curvature_display(
    grid: np.ndarray,
    mode: str = "mean",
    pixel_scale: tuple[float, float] = (1.0, 1.0),
    z_factor: float = 1.0,
) -> np.ndarray:
    """Display-ready curvature: tanh(100c) -> [0,1] + gamma (the
    reference's visualization transform, _impl_curvature.py:55-58);
    np_curvature returns the raw quantitative field."""
    c = np_curvature(grid, mode, pixel_scale, z_factor)
    return np.power((np.tanh(c * 100.0) + 1.0) / 2.0, 1 / 2.2)


def np_aspect(
    grid: np.ndarray, pixel_scale: tuple[float, float] = (1.0, 1.0)
) -> np.ndarray:
    """Downslope direction in degrees [0, 360) (0 = north)."""
    gy, gx = np_metric_gradient(grid, pixel_scale)
    return np.degrees(np.arctan2(-gx, gy)) % 360.0


from .np_kernels import EXT_KERNEL_DEFAULTS, EXT_KERNELS  # noqa: E402  (registry merge below)

# §2.D declared per-kernel parameter defaults (reference
# get_default_params contract); the local kernels' surfaces first
KERNEL_DEFAULTS: dict[str, dict] = {
    "hillshade": {"azimuth_deg": 315.0, "altitude_deg": 45.0,
                  "pixel_scale": (1.0, 1.0), "z_factor": 1.0},
    "slope": {"unit": "degree", "pixel_scale": (1.0, 1.0), "z_factor": 1.0},
    "curvature": {"mode": "planform", "pixel_scale": (1.0, 1.0), "z_factor": 1.0},
    "curvature_display": {"mode": "mean", "pixel_scale": (1.0, 1.0), "z_factor": 1.0},
    "aspect": {"pixel_scale": (1.0, 1.0)},
    **EXT_KERNEL_DEFAULTS,
}

# kernels that consume per-tile METRIC pixel scales (gradient spacing /
# ray distances); tile_kernel(metric_scale=True) injects pixel_scale
# per tile for exactly these (reference core/tile_processor.py:910-932)
METRIC_SCALE_KERNELS = frozenset(
    {"hillshade", "slope", "curvature", "curvature_display", "aspect", "openness"}
)

# kernels whose output pixel reads only inputs within its halo depth r
# (np.gradient stencils): _kernel_tail runs these on the grid's data
# window, every other kernel on the whole grid
LOCAL_STENCIL_KERNELS = frozenset(
    {"hillshade", "slope", "aspect", "curvature", "curvature_display"}
)

KERNELS = {
    "hillshade": (np_hillshade, 1),  # name -> (fn, halo depth | halo(params))
    "slope": (np_slope, 1),
    "curvature": (np_curvature, 2),  # 2nd-order stencil -> depth 2
    "curvature_display": (np_curvature_display, 2),
    "aspect": (np_aspect, 1),
    # the full reference algorithm inventory (np_kernels.py): blur,
    # multiscale_terrain, openness, ambient_occlusion, specular,
    # atmospheric_scattering, npr_edges, structure_tensor, frangi, lic,
    # phase_congruency, tv_decomposition, scale_drift,
    # scale_space_surprise, multi_light_uncertainty, visual_saliency,
    # fractal_anomaly (reference algorithms/dask_registry.py:27-49)
    **EXT_KERNELS,
}


def tile_pixel_scales(tile_y: int, z: int) -> tuple[float, float]:
    """(m/px x, m/px y) at a tile's center latitude — the per-tile
    geographic pixel scales the reference injects into every kernel
    (reference io/raster_info.py:38-99, core/tile_processor.py:910-932),
    from the shared WGS84 metres-per-degree series.

    On the WebMercator grid: deg-lon per pixel is constant 360/n_px;
    deg-lat per pixel is (360/n_px)·cos(lat) (the exact inverse-mercator
    derivative), so the two scales come out near-isotropic — mercator
    is conformal — but not identical, exactly like the reference's
    per-axis series approach."""
    from ..functions.spatial import meters_per_degree

    n_px = (1 << z) * TILE_PX
    yn = (tile_y + 0.5) * TILE_PX / n_px  # tile-center in normalized y
    lat = math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * yn))))
    m_lon, m_lat = meters_per_degree(lat)
    deg_per_px = 360.0 / n_px
    sx = m_lon * deg_per_px
    sy = m_lat * deg_per_px * math.cos(math.radians(lat))
    return sx, sy


def kernel_halo(kernel: str, params: dict | None = None) -> int:
    """Resolve a kernel's required halo depth for the given params —
    the analog of the reference's per-algorithm map_overlap depth rules
    (reference core/tile_processor.py:207-383). Halos are capped just
    under TILE_PX (the explode_to_tiles 8-neighbour bound); kernels
    whose support exceeds that run coarsened via the multiscale
    overview path instead (reference Constants.MAX_DEPTH analogue)."""
    _, spec = KERNELS[kernel]
    h = spec(params or {}) if callable(spec) else int(spec)
    return min(int(h), TILE_PX - 1)


def _data_window(grid: np.ndarray, reach: int | None) -> tuple[int, int, int, int]:
    """Grid rows [r0, r1) x columns [c0, c1): the bounding box of the
    grid's data pixels dilated by ``reach`` and clipped to the grid;
    the whole grid when reach is None, an empty box when no pixel holds
    data. A data pixel is one whose bits are not +0.0, so NaN and -0.0
    count. Row and column ``any`` reductions find the box: np.nonzero
    on a 258² float32 grid costs more than the kernel time it saves."""
    n0, n1 = grid.shape
    if reach is None:
        return 0, n0, 0, n1
    data = grid.view(f"u{grid.itemsize}") != 0
    rows = np.flatnonzero(data.any(axis=1))
    if not rows.size:
        return 0, 0, 0, 0
    cols = np.flatnonzero(data[rows[0] : rows[-1] + 1].any(axis=0))
    return (
        max(rows[0] - reach, 0), min(rows[-1] + 1 + reach, n0),
        max(cols[0] - reach, 0), min(cols[-1] + 1 + reach, n1),
    )


def _kernel_tail(
    kernel: str, z: int, halo: int | None, log_scale: bool, metric_scale: bool, kernel_params: dict
):
    """Resolve one kernel run for an operator: check the metric-scale
    arguments, resolve the halo, and return ``(h, tail)``.

    ``tail(grid, tile_y)`` is the per-tile kernel tail, run on the
    halo grid after any void fill: log1p (log_scale), the tile row's
    metric pixel scale (metric_scale), the kernel, the core crop. It
    is the one tail of tile_kernel, tile_kernel_stats, filled-tile
    synthesis and void_fill_dist.tile_kernel_stats_filled.

    The tail runs on the grid's data window (``_data_window``), not on
    the whole grid. For a LOCAL_STENCIL_KERNELS kernel of halo depth r
    the window is the data's bounding box dilated by 2r+1; every other
    kernel's window is the whole grid, and so is a dense tile's. A
    core pixel outside the window reads only zeros within r, so it
    takes the kernel's flat value: the same log1p, pixel scale and
    kernel run on a tiny all-zero grid of the grid's dtype. Inside, a
    pixel reads the same inputs through the same elementwise NumPy ops
    as on the whole grid, so the core is bit-identical to the
    whole-grid run."""
    fn_kernel, spec = KERNELS[kernel]
    if metric_scale:
        if kernel not in METRIC_SCALE_KERNELS:
            raise ValueError(
                f"kernel {kernel!r} does not consume metric pixel scales; "
                f"supported: {sorted(METRIC_SCALE_KERNELS)}"
            )
        if "pixel_scale" in kernel_params:
            raise ValueError("pass either metric_scale=True or an explicit pixel_scale, not both")
    h = kernel_halo(kernel, kernel_params) if halo is None else halo
    reach = 2 * spec + 1 if kernel in LOCAL_STENCIL_KERNELS else None
    flats: dict = {}  # (dtype, tile row | None) -> flat value

    def run(grid: np.ndarray, params: dict) -> np.ndarray:
        if log_scale:
            grid = np.log1p(grid)
        return fn_kernel(grid, **params)

    def tail(grid: np.ndarray, tile_y: int) -> np.ndarray:
        params = kernel_params
        if metric_scale:
            params = dict(kernel_params, pixel_scale=tile_pixel_scales(tile_y, z))
        r0, r1, c0, c1 = _data_window(grid, reach)
        # the window's cut of the core, in grid pixels
        a0, a1 = max(r0, h), min(r1, h + TILE_PX)
        b0, b1 = max(c0, h), min(c1, h + TILE_PX)
        core = None
        if a0 < a1 and b0 < b1:
            win = run(grid[r0:r1, c0:c1], params)
            core = win[a0 - r0 : a1 - r0, b0 - c0 : b1 - c0]
            if core.shape == (TILE_PX, TILE_PX):
                return core
        key = (grid.dtype, tile_y if metric_scale else None)
        if key not in flats:
            flats[key] = run(np.zeros((reach, reach), grid.dtype), params)[reach // 2, reach // 2]
        out = np.full((TILE_PX, TILE_PX), flats[key])
        if core is not None:
            out[a0 - h : a1 - h, b0 - h : b1 - h] = core
        return out

    return h, tail


_STATS_COLS = "shade_sum double, shade_max double, lit_pixels long"


def _tile_stats(core: np.ndarray, lit_threshold: float) -> dict:
    """The stats reduction of one kernel core (``_STATS_COLS``): float64
    sum, max, and the count of pixels above lit_threshold."""
    return {
        "shade_sum": float(core.sum(dtype=np.float64)),
        "shade_max": float(core.max()),
        "lit_pixels": int(np.count_nonzero(core > lit_threshold)),
    }


def _kernel_tiles(
    points, z, h, weight_col, tail, fill_surface, reduce, cols, dtype=np.float64,
    skip_empty_core=False,
) -> DataFrame:
    """tile_kernel / tile_kernel_stats body: per tile, fill (if any)
    -> kernel tail -> ``reduce(core)``, plus the synthesized rows of
    fillable tiles that own no points."""

    def emit(grid, tx, ty):
        if fill_surface is not None:
            grid = fill_surface.apply(grid, tx, ty, z, h)
        return reduce(tail(grid, ty))

    out = _per_tile(points, z, h, weight_col, cols, emit, dtype, skip_empty_core)
    if fill_surface is None:
        return out
    return out.unionByName(
        _synth_filled_tiles(points, z, h, fill_surface, emit, f"{_TILE_KEY}, {cols}")
    )


def tile_kernel(
    points: DataFrame,
    z: int,
    kernel: str = "hillshade",
    halo: int | None = None,
    weight_col: str | None = None,
    log_scale: bool = True,
    skip_empty_core: bool = False,
    fill_surface=None,
    metric_scale: bool = False,
    **kernel_params,
) -> DataFrame:
    """Rasterize + stencil: one row per tile (z, x, y, result 256²).

    metric_scale=True injects per-tile (m/px x, m/px y) pixel scales
    into the kernel (METRIC_SCALE_KERNELS only) so gradients and ray
    distances are metric — the reference's geographic-CRS handling
    (reference core/tile_processor.py:910-932). Like the reference,
    the scales are a per-tile center-latitude scalar, so metric
    outputs are exactly seam-free in x but only approximately so
    across y tile boundaries (adjacent tile rows differ by the
    latitude step's cos factor — the documented approximation).

    The per-tile executor hands the kernel the halo-expanded grid, and
    the kernel tail crops the core — seam-free by the same construction as
    the reference's map_overlap/tile pipeline (test-enforced: tiled
    output == whole-raster output on the core, the reference's
    tile-stability pattern tests/test_visual_saliency_tile_stability.py).

    skip_empty_core (A17): drop tiles that own no points (only halo
    spill-ins) before running the kernel.

    fill_surface (A21): a void_fill.VoidFillSurface — zero-count pixels
    in fillable regions take their broadcast membrane value before
    log_scale + kernel (applied to the full halo-expanded grid, so the
    fill is seam-free like everything else).
    """
    h, tail = _kernel_tail(kernel, z, halo, log_scale, metric_scale, kernel_params)
    if skip_empty_core and fill_surface is not None:
        # the skip path emits no row for tiles holding only halo
        # spill-ins, and _synth_filled_tiles excludes those tiles as
        # "present" — the membrane would silently never materialize
        # for exactly the tiles whose window holds only neighbors'
        # points. The combination is contradictory (skip wants to drop
        # sparse tiles, fill wants to repair them), so refuse it.
        raise ValueError("skip_empty_core=True cannot be combined with fill_surface")
    return _kernel_tiles(
        points, z, h, weight_col, tail, fill_surface,
        lambda core: {"result": core.ravel()}, "result array<double>",
        skip_empty_core=skip_empty_core,
    )


def _synth_filled_tiles(points, z, h, fill_surface, emit, schema):
    """Kernel output for fillable tiles that own NO points (core or
    halo): such tiles have no shuffle rows, so the executor never sees
    them and the membrane would silently not materialize there (whole-tile
    enclosed voids). Candidates come from the broadcast surface
    (driver-enumerated, bounded), minus the tiles the point path
    already produced — deterministic, partition-independent. Each
    runs the point path's ``emit`` on an all-zero float64 grid."""
    spark = points.sparkSession
    tks = fill_surface.fillable_tile_keys(z)
    if tks.size == 0:
        return spark.createDataFrame([], schema)
    cand = spark.createDataFrame(pd.DataFrame({"_tk": tks}))
    present = _packed_tiles(points, z, h, None).select("_tk").distinct()
    missing = cand.join(present, "_tk", "left_anti").repartition(
        max(2, spark.sparkContext.defaultParallelism)
    )
    w = TILE_PX + 2 * h

    def fn_missing(it):
        for pdf in it:
            rows = []
            for tk in pdf["_tk"].astype("int64"):
                tx, ty = int(tk) >> 32, int(tk) & _MASK32
                rows.append({"z": z, "x": tx, "y": ty, **emit(np.zeros((w, w)), tx, ty)})
            yield pd.DataFrame(rows)

    return missing.mapInPandas(fn_missing, schema)


def tile_kernel_stats(
    points: DataFrame,
    z: int,
    kernel: str = "hillshade",
    halo: int | None = None,
    weight_col: str | None = None,
    log_scale: bool = True,
    lit_threshold: float = 0.75,
    fill_surface=None,
    metric_scale: bool = False,
    grid_dtype=None,
    **kernel_params,
) -> DataFrame:
    """Like tile_kernel but reduces each tile to scalar stats inside
    the UDF (sum / mean / lit-pixel count / max), avoiding the 65k-
    element array transfer + interpreted fold when only summaries are
    consumed — the reference's quantize-on-GPU-before-transfer
    discipline (reference core/tile_processor.py:983-996).

    grid_dtype: the accumulation/kernel dtype — float32 by default
    (the production bandwidth choice; stats never leave the UDF, and
    sums are done in float64). The ORACLE-ONLY alternative is float64:
    the cross-engine hash gate's DuckDB twin computes in float64, and
    float32 kernel noise (~1e-7 relative) would leak above the
    quantized-sum tolerance; production renders never need it (cf.
    normalize_acctbal's oracle-only exact percentile)."""
    h, tail = _kernel_tail(kernel, z, halo, log_scale, metric_scale, kernel_params)
    return _kernel_tiles(
        points, z, h, weight_col, tail, fill_surface,
        lambda core: _tile_stats(core, lit_threshold), _STATS_COLS,
        dtype=np.float32 if grid_dtype is None else grid_dtype,
    )


# ------------------- halo-contract census operators ------------------
# These reduce the REAL halo machinery (explode_to_tiles -> packed
# shuffle -> _accumulate_grid, i.e. A3+A5's transport layer) to exact
# integers, so the driver's DuckDB hash gate can check the halo
# exchange end-to-end — the per-kernel float math stays on the pytest
# tiled==whole matrix (reference analog: the tile-stability tests,
# reference tests/test_visual_saliency_tile_stability.py:6-29).

def tile_halo_census(points: DataFrame, z: int, halo: int) -> DataFrame:
    """Per tile: points in the halo-expanded window vs points owned.

    (z, x, y, win_pts, core_pts) — win_pts counts every point whose
    global pixel lands in [x*256-halo, (x+1)*256+halo) × same-for-y
    (x wrapped at the antimeridian, y clipped at the world edge);
    core_pts counts the owned points. Both exact BIGINTs.
    """
    return _per_tile(
        points, z, halo, None, "win_pts long, core_pts long",
        lambda grid, tx, ty: {"win_pts": int(grid.sum()), "core_pts": int(_core(grid, halo).sum())},
    )


def tile_weighted_census(
    points: DataFrame, z: int, halo: int, weight_col: str
) -> DataFrame:
    """Per tile: halo-window and core SUMS of an integer weight column
    — puts the weighted-rasterization path (sorted-order float
    accumulation, _accumulate_grid's weight branch) under the exact
    hash gate: integer-valued weights accumulate exactly in float64,
    so the sums cast to BIGINT bit-stably on any engine."""
    return _per_tile(
        points, z, halo, weight_col, "win_weight long, core_weight long",
        lambda grid, tx, ty: {
            "win_weight": int(grid.sum()), "core_weight": int(_core(grid, halo).sum())
        },
    )


def tile_box_total(points: DataFrame, z: int, r: int) -> DataFrame:
    """Per tile: Σ over core pixels of the (2r+1)² window COUNT total —
    the multiscale box filter's numerator in the exact integer domain
    (the box MEAN is this divided by (2r+1)²; division is the one step
    that can't cross the engine boundary bit-exactly, so the oracle
    checks the window sums). Exercises rasterize-with-halo + SAT
    windowing end-to-end.
    """
    from .multiscale import np_box_total

    return _per_tile(
        points, z, r, None, "box_total long, core_pts long",
        lambda grid, tx, ty: {
            "box_total": int(_core(np_box_total(grid, r), r).sum()),
            "core_pts": int(_core(grid, r).sum()),
        },
    )


# ----------------------------- LOD pyramid ---------------------------

def _parent_tiles(tiles: DataFrame, grid_cols: tuple[str, ...], halve, schema: str) -> DataFrame:
    """The one children -> parent step of the LOD pyramid and of the
    void-fill push: group tiles by (x>>1, y>>1), halve each child's
    ``grid_cols`` with ``halve(*grids) -> 128² grids`` and place them
    in the parent quadrant (x&1, y&1); absent children stay zero. A
    ``z`` column, when present, steps to z-1."""
    half = TILE_PX // 2

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        parents = [np.zeros((TILE_PX, TILE_PX), dtype=np.float64) for _ in grid_cols]
        for cx_, cy_, *bufs in zip(pdf["x"], pdf["y"], *(pdf[c] for c in grid_cols)):
            qy, qx = (int(cy_) & 1) * half, (int(cx_) & 1) * half
            for parent, d in zip(parents, halve(*(unpack_grid(b, TILE_PX) for b in bufs))):
                parent[qy : qy + half, qx : qx + half] = d
        row = {"z": int(pdf["z"].iloc[0]) - 1} if "z" in pdf else {}
        row.update(x=int(pdf["x"].iloc[0]) >> 1, y=int(pdf["y"].iloc[0]) >> 1)
        return pd.DataFrame([{**row, **{c: pack_grid(p) for c, p in zip(grid_cols, parents)}}])

    return (
        tiles.withColumns({"_px": F.shiftright(F.col("x"), 1), "_py": F.shiftright(F.col("y"), 1)})
        .groupBy("_px", "_py")
        .applyInPandas(fn, schema)
    )


def pyramid_level(tiles: DataFrame, agg: str = "sum") -> DataFrame:
    """One LOD step: (z, x, y, grid 256²) -> (z-1, x>>1, y>>1, grid 256²).

    Children downsample 2x (2x2-block sum or mean) into their parent
    quadrant — the reference's COG overview build re-expressed as a
    groupBy(parent) aggregation (reference io/cog_builder.py overviews;
    NaN-aware coarsen algorithms/_nan_utils.py:604-668).
    """
    if agg not in ("sum", "mean"):
        raise ValueError(f"unknown agg {agg!r} (sum/mean)")  # fail at plan time, not in executors

    def halve(g: np.ndarray) -> tuple[np.ndarray]:
        d = g.reshape(TILE_PX // 2, 2, TILE_PX // 2, 2)
        return (d.sum(axis=(1, 3)) if agg == "sum" else d.mean(axis=(1, 3)),)

    return _parent_tiles(tiles, ("grid",), halve, "z int, x long, y long, grid binary")


def build_pyramid(tiles: DataFrame, z_from: int, z_to: int, agg: str = "sum") -> DataFrame:
    """Full LOD pyramid z_from down to z_to (inclusive), unioned."""
    levels = [tiles]
    cur = tiles
    for _ in range(z_from - z_to):
        cur = pyramid_level(cur, agg=agg)
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out
