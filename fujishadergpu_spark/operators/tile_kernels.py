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
  a tile lands in one partition; a point with a NULL or NaN
  coordinate has no tile and yields no row;
- each partition is sorted on ``_tk`` and streamed through one
  ``mapInPandas``: each Arrow batch is split at ``_tk`` changes with
  NumPy, many tiles per batch, and a tile that straddles batches is
  carried into the next one (``_tile_batches``), so no pandas frame
  is built per tile;
- the closed tiles of a batch go to the operator's emit at once, as
  tile keys plus row spans (the batch emit). The census and rasterize
  operators keep a per-tile emit: per tile the key is decoded to
  (x, y) once and the halo grid accumulated once, in the operator's
  dtype (float64 everywhere except tile_kernel_stats, whose default
  is float32), and ``emit(grid, x, y)`` gives the columns after
  (z, x, y);
- one output row per tile, or none when ``skip_empty_core`` drops a
  tile that owns no points. Output frames hold at most
  ``_FLUSH_ROWS`` rows.

The kernel operators share one kernel tail (``_kernel_tail``: log1p,
per-tile metric pixel scale, kernel, core crop, then a reduction:
``_Stats`` or ``_Result``) with void_fill_dist.tile_kernel_stats_filled.
For the local stencil kernels (``LOCAL_STENCIL_KERNELS``, halo depth
r) it is one batched step per Arrow batch that computes only the 8x8
core blocks whose slot (the block plus an r-pixel margin) holds data:
the batch's points drop straight into canvases of slots, one kernel
call per canvas, and every other block takes the kernel's value on
all-zero input. A tile whose slots would cover its grid, a halo
h < r and every other kernel take the whole-grid route. The core and
its stats are bit-identical to the whole-grid run (the sub-tile analog
of the A17 skip below).

Determinism (SURVEY.md §7.3 hard part 3): rasterization accumulates
integer counts (order-free) or sorts rows by (pixel, value) before
accumulating weights, so tile grids are bit-identical for any
partitioning/parallelism — the engine's analog of the reference's
seam-free/backend-parity guarantees.
"""

from __future__ import annotations

import inspect
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
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
    tile's halo window — at halo<=255 that is at most the 8-neighbors:
    two ``sequence`` explodes over the x and y tile offsets the point's
    pixel reaches (JVM-side; the ``_tk`` shuffle then routes duplicates
    to their tiles). Tile x wraps (antimeridian); tile y stops at the
    mercator edge. A point with a NULL or NaN coordinate has no pixel
    (``global_pixel``) and yields no row.
    """
    if not 0 <= halo < TILE_PX:
        raise ValueError("halo must be in [0, 256)")
    n_tiles = 1 << z
    gx, gy = global_pixel(F.col(lat_col), F.col(lon_col), z)
    df = points.withColumns({"gx": gx, "gy": gy}).where(F.col("gx").isNotNull())
    tx = F.shiftright(F.col("gx"), 8)
    ty = F.shiftright(F.col("gy"), 8)
    if halo == 0:
        return df.withColumns({"tile_x": tx, "tile_y": ty})

    pxl = F.col("gx").bitwiseAND(F.lit(255))
    pyl = F.col("gy").bitwiseAND(F.lit(255))

    def offsets(low: Column, high: Column) -> Column:
        return F.explode(F.sequence(F.when(low, -1).otherwise(0), F.when(high, 1).otherwise(0)))

    df = df.withColumn("_dx", offsets(pxl < halo, pxl >= TILE_PX - halo)).withColumn(
        "_dy", offsets((pyl < halo) & (ty > 0), (pyl >= TILE_PX - halo) & (ty < n_tiles - 1))
    )
    return df.withColumns(
        {"tile_x": F.pmod(tx + F.col("_dx"), F.lit(n_tiles)), "tile_y": ty + F.col("_dy")}
    ).drop("_dx", "_dy")


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


# Output rows per yielded frame, at most: rasterize_tiles and
# tile_kernel rows carry a 0.5 MB grid or result each, so a batch of
# many small tiles must not become one huge frame.
_FLUSH_ROWS = 64


def _tile_grids(keys, starts, arrs, z, halo, weight_col, dtype):
    """(grid, tx, ty) per tile of a batch hand-over: each tile's halo
    grid accumulated from its row span."""
    ends = [*starts[1:].tolist(), arrs["_gk"].size]
    weights = arrs.get(weight_col) if weight_col else None
    for key, a, b in zip(keys.tolist(), starts.tolist(), ends):
        tx, ty = key >> 32, key & _MASK32
        w = None if weights is None else weights[a:b]
        yield _accumulate_grid(arrs["_gk"][a:b], w, tx, ty, z, halo, dtype), tx, ty


def _tile_batches(
    frames, z, halo, weight_col, emit=None, dtype=np.float64, skip_empty_core=False, emit_batch=None,
):
    """The per-tile body over a ``_tk``-sorted partition, as a pure
    generator: Arrow batches (pandas frames of ``_tk``, ``_gk`` [+
    weight] [+ core flag]) in, output frames of (z, x, y) + emit
    columns out.

    Each batch's last ``_tk`` run stays open (a tile may straddle
    batches); its chunks are concatenated once, when the tile closes.
    The closed tiles of a batch are handed over at once, as
    ``emit_batch(keys, starts, arrs)``: the tile keys, the first row of
    each tile and the column arrays, ``_tk``-sorted; it yields one row
    dict (z, x, y + columns) per tile. A per-tile ``emit(grid, tx, ty)
    -> {col: value}`` is wrapped into one over ``_tile_grids``.
    skip_empty_core drops the tiles owning no row before the hand-over.
    One frame is yielded per batch that closed a tile, and early once
    ``_FLUSH_ROWS`` rows are pending."""
    cols = ["_tk", "_gk"] + ([weight_col] if weight_col else []) + ([_CORE_FLAG] if skip_empty_core else [])
    if emit_batch is None:
        def emit_batch(keys, starts, arrs):
            for grid, tx, ty in _tile_grids(keys, starts, arrs, z, halo, weight_col, dtype):
                yield {"z": z, "x": tx, "y": ty, **emit(grid, tx, ty)}

    rows: list[dict] = []

    def frame():
        out = pd.DataFrame({k: [r[k] for r in rows] for k in rows[0]})
        rows.clear()
        return out

    def close(chunks):
        arrs = {c: np.concatenate([ch[c] for ch in chunks]) for c in cols}
        tk = arrs["_tk"]
        starts = np.flatnonzero(np.r_[True, tk[1:] != tk[:-1]])
        if skip_empty_core:
            owned = np.logical_or.reduceat(arrs[_CORE_FLAG], starts)
            if not owned.any():
                return
            if not owned.all():
                arrs = {c: v[np.repeat(owned, np.diff(np.r_[starts, tk.size]))] for c, v in arrs.items()}
                tk = arrs["_tk"]
                starts = np.flatnonzero(np.r_[True, tk[1:] != tk[:-1]])
        for row in emit_batch(tk[starts], starts, arrs):
            rows.append(row)
            if len(rows) >= _FLUSH_ROWS:
                yield frame()

    open_chunks: list[dict] = []  # the open tile's rows
    for pdf in frames:
        if not len(pdf):
            continue
        arrs = {c: pdf[c].to_numpy(dtype=np.int64) if c == "_tk" else pdf[c].to_numpy() for c in cols}
        tk = arrs["_tk"]
        change = np.flatnonzero(tk[1:] != tk[:-1])
        last = int(change[-1]) + 1 if change.size else 0  # first row of the open run
        if not last and (not open_chunks or open_chunks[0]["_tk"][0] == tk[0]):
            open_chunks.append(arrs)  # the open tile goes on
            continue
        closed = open_chunks + ([{c: v[:last] for c, v in arrs.items()}] if last else [])
        open_chunks = [{c: v[last:] for c, v in arrs.items()}]
        yield from close(closed)
        if rows:
            yield frame()
    if open_chunks:
        yield from close(open_chunks)
        if rows:
            yield frame()


def _per_tile(
    points: DataFrame,
    z: int,
    halo: int,
    weight_col: str | None,
    cols: str,
    emit=None,
    dtype=np.float64,
    skip_empty_core: bool = False,
    emit_batch=None,
) -> DataFrame:
    """The tile engine's one per-tile step: points -> one row per
    tile, schema (z, x, y) + ``cols``.

    One halo-exchange shuffle (``_packed_tiles``); each partition is
    sorted on ``_tk`` and streamed through ``mapInPandas``, many tiles
    per Arrow batch (``_tile_batches``). A per-tile ``emit(grid, tx,
    ty)`` gets each tile's halo grid, accumulated once in ``dtype``; a
    batch emit (``emit_batch``) gets the closed tiles of one Arrow batch
    at once. skip_empty_core (A17) emits no row for a tile owning no
    points (only halo spill-ins)."""
    packed = _packed_tiles(points, z, halo, weight_col)
    if skip_empty_core:
        packed = _with_core_flag(packed)

    def fn(frames):
        return _tile_batches(frames, z, halo, weight_col, emit, dtype, skip_empty_core, emit_batch)

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


from .np_kernels import EXT_KERNELS  # noqa: E402  (registry merge below)

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

# §2.D declared per-kernel parameter defaults (reference
# get_default_params contract): each kernel's keyword parameters, read
# off its signature, so a surface cannot drift from the code it names
KERNEL_DEFAULTS: dict[str, dict] = {
    name: {
        k: p.default
        for k, p in list(inspect.signature(fn).parameters.items())[1:]
        if p.kind is not p.VAR_KEYWORD
    }
    for name, (fn, _) in KERNELS.items()
}

# kernels that consume per-tile METRIC pixel scales (gradient spacing /
# ray distances); tile_kernel(metric_scale=True) injects pixel_scale
# per tile for exactly these (reference core/tile_processor.py:910-932)
METRIC_SCALE_KERNELS = frozenset(k for k, d in KERNEL_DEFAULTS.items() if "pixel_scale" in d)


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
    h = spec({**KERNEL_DEFAULTS[kernel], **(params or {})}) if callable(spec) else int(spec)
    return min(int(h), TILE_PX - 1)


# The block engine of the local stencil kernels. A core splits into
# 32 x 32 blocks of _B x _B pixels; a block's *slot* is the block plus
# an r-pixel margin, so it holds every grid value its core pixels read.
_B = 8
_NB = TILE_PX // _B
_CANVAS_SLOTS = 512  # slots per kernel call (a tile is never split)
_CANVAS_COLS = 16  # slots per canvas row
# core rows per NumPy reduction buffer: core.sum(dtype=float64) is the
# in-order fold of the pairwise sums of 8192-pixel chunks
# (np.getbufsize()), i.e. of 32-row bands of the core
_SUM_ROWS = 32
_SUM_CHUNKS = 8  # chunk buffers summed per call: 8 x 8192 float64


def _canvas_shape(k: int) -> tuple[int, int]:
    """(slot rows, slot columns) of a canvas holding k slots."""
    cols = max(1, min(k, _CANVAS_COLS))
    return -(-k // cols), cols


class _Tail:
    """One operator's kernel tail (see ``_kernel_tail``). ``points``
    serves the point path, one call per Arrow batch; ``grids`` serves
    grids built elsewhere (void fill). Both yield one row dict (z, x,
    y + the reduction's columns) per tile."""

    def __init__(self, fn, r, h, z, log_scale, metric_scale, kernel_params):
        self.fn, self.h, self.z = fn, h, z
        self.log_scale, self.metric_scale, self.kernel_params = log_scale, metric_scale, kernel_params
        # the block engine needs h >= r: the slots then lie inside the
        # grid, and the grid-edge one-sided differences reach no core
        # pixel; r < _B / 2 keeps a pixel in at most 2 x 2 slots
        self.r = r if r is not None and r <= h else None
        self.s = None if self.r is None else _B + 2 * self.r  # slot side
        self._flats: dict = {}  # (dtype, tile row | None) -> flat value

    def _run(self, grid: np.ndarray, ty: int) -> np.ndarray:
        """log1p (log_scale), the tile row's metric pixel scale
        (metric_scale) and the kernel, on a grid or canvas."""
        params = self.kernel_params
        if self.metric_scale:
            params = dict(params, pixel_scale=tile_pixel_scales(ty, self.z))
        return self.fn(np.log1p(grid) if self.log_scale else grid, **params)

    def _flat(self, dtype, ty: int):
        """The kernel's value on all-zero input: that of every core
        pixel with no data within r."""
        key = (np.dtype(dtype), ty if self.metric_scale else None)
        if key not in self._flats:
            n = 2 * self.r + 1
            self._flats[key] = self._run(np.zeros((n, n), dtype), ty)[self.r, self.r]
        return self._flats[key]

    def _whole(self, grid, tx, ty, reduce) -> dict:
        """The whole-grid route: the kernel on the full halo grid."""
        return {"z": self.z, "x": tx, "y": ty, **reduce.core(_core(self._run(grid, ty), self.h))}

    def _slots(self, cy, cx):
        """(index, block row, block column) of each (pixel, slot) pair:
        every slot that core-relative pixel (cy, cx) lies in."""
        r = self.r
        y0, y1, x0, x1 = (cy - r) >> 3, (cy + r) >> 3, (cx - r) >> 3, (cx + r) >> 3
        idx, bys, bxs = [], [], []
        for by in (y0, y0 + 1):
            in_y = (by <= y1) & (by >= 0) & (by < _NB)
            for bx in (x0, x0 + 1):
                i = np.flatnonzero(in_y & (bx <= x1) & (bx >= 0) & (bx < _NB))
                idx.append(i)
                bys.append(by[i])
                bxs.append(bx[i])
        return np.concatenate(idx), np.concatenate(bys), np.concatenate(bxs)

    def _dense(self, gk, starts, rows, tx, ty) -> np.ndarray:
        """Per tile: whether the core blocks holding one of its first
        4 x limit rows (a lower bound of its slot count) already reach
        the whole-grid route's limit, so a dense tile skips listing its
        slots. Only a tile with rows enough to reach it is looked at (a
        pixel lies in <= 4 slots)."""
        limit = (TILE_PX + 2 * self.h) ** 2 / self.s**2
        out = np.zeros(rows.size, bool)
        if limit > _NB * _NB:
            return out
        for k in np.flatnonzero(rows * 4 >= limit).tolist():
            g = gk[starts[k] : starts[k] + int(4 * limit)]
            # a core row's global pixel lies in the tile itself: its
            # block is bits 3-7 of gx and of gy
            g = g[((g >> 40) == tx[k]) & (((g & _MASK32) >> 8) == ty[k])]
            seen = np.zeros(_NB * _NB, bool)
            seen[((g >> 3) & (_NB - 1)) * _NB + ((g >> 35) & (_NB - 1))] = True
            out[k] = np.count_nonzero(seen) >= limit
        return out

    def _blocks(self, stack: np.ndarray, k: int, ty: int) -> np.ndarray:
        """One kernel call over a canvas of slots: ``stack`` holds
        _canvas_shape(k) slots (zeros past k); returns the k core
        blocks (k, _B, _B)."""
        if not k:
            return np.empty((0, _B, _B), stack.dtype)
        rows, cols = _canvas_shape(k)
        s, r = self.s, self.r
        canvas = stack.reshape(rows, cols, s, s).transpose(0, 2, 1, 3).reshape(rows * s, cols * s)
        out = self._run(canvas, ty).reshape(rows, s, cols, s)[:, r : r + _B, :, r : r + _B]
        return out.transpose(0, 2, 1, 3).reshape(rows * cols, _B, _B)[:k]

    def points(self, keys, starts, gk, weights, dtype, reduce):
        """The closed tiles of one Arrow batch (``_tile_batches``' hand-
        over). A tile whose slots would cover at least its (256+2h)²
        grid takes the whole-grid route; the rest are accumulated
        straight into canvases of at most _CANVAS_SLOTS slots (one tile
        row per canvas under metric_scale), with the arithmetic of
        ``_accumulate_grid``: local pixel and keep rule, integer counts
        cast to ``dtype``, or float64 weights added in (pixel, value)
        order and cast."""
        z, h, r, s = self.z, self.h, self.r, self.s
        n = keys.size
        txs, tys = keys >> 32, keys & _MASK32
        tx, ty = txs.tolist(), tys.tolist()
        gk = np.asarray(gk, dtype=np.int64)
        ends = np.r_[starts[1:], gk.size]
        rows = ends - starts
        whole = np.ones(n, bool) if r is None else self._dense(gk, starts, rows, tx, ty)
        if not whole.all():
            # the other tiles' rows as core-relative pixels, and their slots
            rest = np.flatnonzero(np.repeat(~whole, rows))
            t = np.repeat(np.arange(n), np.where(whole, 0, rows))
            g = gk[rest]
            n_px = (1 << z) * TILE_PX
            cx = ((g >> 32) - (txs * TILE_PX - h)[t]) % n_px - h
            cy = (g & _MASK32) - (tys * TILE_PX - h)[t] - h
            # a slot lies inside the grid (h >= r): its pixels pass the keep rule
            i, by, bx = self._slots(cy, cx)
            slot_keys, inv = np.unique((t[i] << 10) | (by << 5) | bx, return_inverse=True)
            per_tile = np.bincount(slot_keys >> 10, minlength=n)
            whole |= per_tile * s * s >= (TILE_PX + 2 * h) ** 2
        for k in np.flatnonzero(whole).tolist():
            a, b = starts[k], ends[k]
            grid = _accumulate_grid(gk[a:b], None if weights is None else weights[a:b], tx[k], ty[k], z, h, dtype)
            yield self._whole(grid, tx[k], ty[k], reduce)
        sparse = np.flatnonzero(~whole)
        if not sparse.size:
            return

        # slots and (pixel, slot) pairs in canvas order: by tile (by
        # tile row first under metric_scale), then block
        if self.metric_scale:
            sparse = sparse[np.argsort(tys[sparse], kind="stable")]
        rank = np.full(n, -1)
        rank[sparse] = np.arange(sparse.size)
        slot_rank = rank[slot_keys >> 10]
        order = np.lexsort((slot_keys, slot_rank))
        order = order[slot_rank[order] >= 0]
        pos = np.full(slot_keys.size, -1)
        pos[order] = np.arange(order.size)
        pair_pos = pos[inv]
        pairs = np.flatnonzero(pair_pos >= 0)
        pairs = pairs[np.argsort(pair_pos[pairs], kind="stable")]
        pair_pos, by, bx, i = pair_pos[pairs], by[pairs], bx[pairs], i[pairs]
        # pixel index within the slot stack
        pix = (cy[i] - (by * _B - r)) * s + cx[i] - (bx * _B - r)
        vals = None if weights is None else np.asarray(weights[rest], dtype=np.float64)[i]

        first_slot = np.r_[0, np.cumsum(per_tile[sparse])]
        tile_row = tys[sparse].tolist()
        for a, b in self._canvases(per_tile[sparse].tolist(), tile_row):
            s0, s1 = first_slot[a], first_slot[b]
            k = s1 - s0
            p0, p1 = np.searchsorted(pair_pos, [s0, s1])
            idx = (pair_pos[p0:p1] - s0) * (s * s) + pix[p0:p1]
            size = int(np.prod(_canvas_shape(k))) * s * s
            if vals is None:
                stack = np.bincount(idx, minlength=size).astype(dtype)
            else:
                v = vals[p0:p1]
                o = np.lexsort((v, idx))
                stack = np.zeros(size)
                np.add.at(stack, idx[o], v[o])
                stack = stack.astype(dtype, copy=False)
            tiles = sparse[a:b]
            ks = slot_keys[order[s0:s1]]
            blocks = self._blocks(stack, k, tile_row[a])
            local = np.repeat(np.arange(b - a), per_tile[tiles])
            flat = self._flat(dtype, tile_row[a])
            cols = reduce.blocks(flat, local, (ks >> 5) & (_NB - 1), ks & (_NB - 1), blocks, b - a)
            for kk, c in zip(tiles.tolist(), cols):
                yield {"z": z, "x": tx[kk], "y": ty[kk], **c}

    def _canvases(self, counts: list, tile_row: list):
        """[a, b) runs of consecutive tiles, each one canvas: at most
        _CANVAS_SLOTS slots unless one tile holds more, and one tile row
        under metric_scale."""
        a, used = 0, 0
        for j, c in enumerate(counts):
            if j > a and (used + c > _CANVAS_SLOTS or (self.metric_scale and tile_row[j] != tile_row[a])):
                yield a, j
                a, used = j, 0
            used += c
        yield a, len(counts)

    def _slot_rows(self, data: np.ndarray) -> np.ndarray:
        """(_NB, columns): per block row, whether the rows of its slot
        hold data. ``data`` has the core's 256 rows plus r above and
        below: slot row by spans data rows [8 by, 8 by + 8 + 2r)."""
        r = self.r
        out = data[r : r + TILE_PX].reshape(_NB, _B, -1).any(axis=1)
        for d in range(r):
            out |= data[d : d + TILE_PX : _B]
            out |= data[_B + r + d :: _B]
        return out

    def grids(self, items, reduce):
        """(grid, tx, ty) items, each a halo grid: the slots are those
        holding a data pixel (bits not +0.0, so NaN and -0.0 count),
        gathered from the grid."""
        h, r, s = self.h, self.r, self.s
        for grid, tx, ty in items:
            if r is None:
                yield self._whole(grid, tx, ty, reduce)
                continue
            data = grid[h - r : h + TILE_PX + r, h - r : h + TILE_PX + r].view(f"u{grid.itemsize}") != 0
            by, bx = np.nonzero(self._slot_rows(self._slot_rows(data).T).T)
            k = by.size
            if k * s * s >= grid.shape[0] ** 2:
                yield self._whole(grid, tx, ty, reduce)
                continue
            stack = np.zeros((int(np.prod(_canvas_shape(k))), s, s), grid.dtype)
            ar = np.arange(s)
            stack[:k] = grid[
                (h - r + _B * by)[:, None, None] + ar[:, None], (h - r + _B * bx)[:, None, None] + ar
            ]
            blocks = self._blocks(stack, k, ty)
            flat = self._flat(grid.dtype, ty)
            (c,) = reduce.blocks(flat, np.zeros(k, np.int64), by, bx, blocks, 1)
            yield {"z": self.z, "x": tx, "y": ty, **c}


def _kernel_tail(
    kernel: str, z: int, halo: int | None, log_scale: bool, metric_scale: bool, kernel_params: dict
):
    """Resolve one kernel run for an operator: check the metric-scale
    arguments, resolve the halo, and return ``(h, tail)``.

    ``tail`` (a ``_Tail``) runs log1p (log_scale), the tile row's
    metric pixel scale (metric_scale), the kernel and the core crop,
    and hands each core to a reduction (``_Stats``, ``_Result``). It
    is the one tail of tile_kernel, tile_kernel_stats, filled-tile
    synthesis and void_fill_dist.tile_kernel_stats_filled.

    A LOCAL_STENCIL_KERNELS kernel of halo depth r runs on blocks, not
    on whole grids: a core pixel reads only inputs within r, so an
    8x8 core block needs only its slot (the block dilated by r). The
    tail runs the kernel once per canvas of the slots that hold data,
    laid side by side, and keeps each slot's inner block; every other
    block reads only zeros and takes the kernel's flat value (the same
    log1p, pixel scale and kernel on a tiny all-zero grid). A pixel
    reads the same inputs through the same elementwise NumPy ops as
    on the whole grid, so the core and its stats are bit-identical to
    the whole-grid run. The whole-grid route stays for a tile whose
    slots would cover its grid, for h < r and for every other kernel."""
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
    r = spec if kernel in LOCAL_STENCIL_KERNELS else None
    return h, _Tail(fn_kernel, r, h, z, log_scale, metric_scale, kernel_params)


_STATS_COLS = "shade_sum double, shade_max double, lit_pixels long"


def _tile_stats(core: np.ndarray, lit_threshold: float) -> dict:
    """The stats reduction of one kernel core (``_STATS_COLS``): float64
    sum, max, and the count of pixels above lit_threshold."""
    return {
        "shade_sum": float(core.sum(dtype=np.float64)),
        "shade_max": float(core.max()),
        "lit_pixels": int(np.count_nonzero(core > lit_threshold)),
    }


class _Result:
    """tile_kernel's reduction: the whole 256² core."""

    cols = "result array<double>"

    def core(self, core: np.ndarray) -> dict:
        return {"result": core.ravel()}

    def blocks(self, flat, tile, by, bx, blocks, n):
        """Per tile of a canvas: the flat core with its blocks pasted
        in (``tile``: each block's tile, ascending)."""
        at = np.searchsorted(tile, np.arange(n + 1))
        for j in range(n):
            core = np.full((TILE_PX, TILE_PX), flat)
            a, b = at[j], at[j + 1]
            core.reshape(_NB, _B, _NB, _B)[by[a:b], :, bx[a:b], :] = blocks[a:b]
            yield self.core(core)


class _Stats:
    """tile_kernel_stats' reduction (``_tile_stats``), over blocks:
    the same three values from the blocks and the flat value."""

    cols = _STATS_COLS

    def __init__(self, lit_threshold: float):
        self.lit_threshold = lit_threshold
        self._flat_sums: dict = {}

    def core(self, core: np.ndarray) -> dict:
        return _tile_stats(core, self.lit_threshold)

    def blocks(self, flat, tile, by, bx, blocks, n) -> list[dict]:
        outside = TILE_PX * TILE_PX - _B * _B * np.bincount(tile, minlength=n)
        lit = np.bincount(tile, np.count_nonzero(blocks > self.lit_threshold, axis=(1, 2)), n)
        lit = lit.astype(np.int64) + np.where(flat > self.lit_threshold, outside, 0)
        # max: np.maximum keeps a NaN from either side
        top = np.where(outside > 0, flat, -np.inf).astype(blocks.dtype)
        np.maximum.at(top, tile, blocks.max(axis=(1, 2), initial=-np.inf))
        return [
            {"shade_sum": a, "shade_max": m, "lit_pixels": c}
            for a, m, c in zip(self._sums(flat, tile, by, bx, blocks, n), top.tolist(), lit.tolist())
        ]

    def _sums(self, flat, tile, by, bx, blocks, n) -> list[float]:
        """core.sum(dtype=float64) per tile: the 8 chunk sums, each of
        its chunk (flat, blocks pasted) or memoized all-flat, folded in
        order from 0.0 like NumPy's buffered reduction."""
        per_chunk = _SUM_ROWS * TILE_PX
        key = (np.asarray(flat).dtype.str, np.asarray(flat).tobytes())
        if key not in self._flat_sums:
            self._flat_sums[key] = np.add.reduce(np.full(per_chunk, flat, np.float64))
        n_chunks = TILE_PX // _SUM_ROWS
        sums = np.full((n, n_chunks), self._flat_sums[key])
        band = _SUM_ROWS // _B  # block rows per chunk
        chunks, at = np.unique(tile * n_chunks + by // band, return_inverse=True)
        for c0 in range(0, chunks.size, _SUM_CHUNKS):
            m = min(_SUM_CHUNKS, chunks.size - c0)
            a, b = np.searchsorted(at, [c0, c0 + m])
            buf = np.full((m, band, _B, _NB, _B), flat, np.float64)
            buf[at[a:b] - c0, by[a:b] % band, :, bx[a:b], :] = blocks[a:b]
            sums.flat[chunks[c0 : c0 + m]] = np.add.reduce(buf.reshape(m, per_chunk), axis=1)
        # NumPy adds each chunk sum as (chunk + running): when both are
        # NaN, the chunk's NaN (and its sign) wins
        total = np.zeros(n)
        for c in range(n_chunks):
            total = sums[:, c] + total
        return total.tolist()


def _kernel_tiles(
    points, z, h, weight_col, tail, fill_surface, reduce, dtype=np.float64, skip_empty_core=False,
) -> DataFrame:
    """tile_kernel / tile_kernel_stats body: per Arrow batch, the
    kernel tail and ``reduce`` over its closed tiles, plus the
    synthesized rows of fillable tiles that own no points. With a fill
    surface each tile's halo grid is accumulated and filled first."""

    def filled(items):
        return tail.grids(((fill_surface.apply(g, tx, ty, z, h), tx, ty) for g, tx, ty in items), reduce)

    def emit_batch(keys, starts, arrs):
        if fill_surface is not None:
            return filled(_tile_grids(keys, starts, arrs, z, h, weight_col, dtype))
        return tail.points(keys, starts, arrs["_gk"], arrs.get(weight_col), dtype, reduce)

    out = _per_tile(
        points, z, h, weight_col, reduce.cols, dtype=dtype, skip_empty_core=skip_empty_core,
        emit_batch=emit_batch,
    )
    if fill_surface is None:
        return out
    return out.unionByName(_synth_filled_tiles(points, z, h, fill_surface, filled, f"{_TILE_KEY}, {reduce.cols}"))


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
        points, z, h, weight_col, tail, fill_surface, _Result(), skip_empty_core=skip_empty_core,
    )


def _synth_filled_tiles(points, z, h, fill_surface, filled, schema):
    """Kernel output for fillable tiles that own NO points (core or
    halo): such tiles have no shuffle rows, so the executor never sees
    them and the membrane would silently not materialize there (whole-tile
    enclosed voids). Candidates come from the broadcast surface
    (driver-enumerated, bounded), minus the tiles the point path
    already produced — deterministic, partition-independent. Each
    runs the point path's ``filled`` step (fill, kernel tail, reduce)
    on an all-zero float64 grid."""
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
            tks = pdf["_tk"].astype("int64").tolist()
            yield pd.DataFrame(list(filled((np.zeros((w, w)), tk >> 32, tk & _MASK32) for tk in tks)))

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
        points, z, h, weight_col, tail, fill_surface, _Stats(lit_threshold),
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
