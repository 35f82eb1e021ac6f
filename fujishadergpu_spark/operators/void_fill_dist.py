"""Distributed push-pull void fill: the beyond-driver-cap membrane
(r5 verdict #7).

``void_fill.build_void_fill_surface`` collects the zc-resolution world
onto the driver (capped at zc<=4, ~134 MB) and runs the push-pull
pyramid there. This module re-expresses the SAME pyramid as an LOD
up/down join chain over tile DataFrames (reference
algorithms/_pyramid_fill.py:24-85 mapped per SURVEY §2.C), so the
membrane can be built at any zc with bounded driver memory:

- PUSH (zc -> 0): one ``groupBy(parent_tile)`` per level — the
  children -> parent step pyramid_level also runs
  (tile_kernels._parent_tiles), with pushpull_push_step as the per-child
  halving. The 2:1
  ``zoom_bilinear`` halving is an exact 2x2 block mean, and blocks
  never straddle 256-aligned tile boundaries, so halving each child
  tile locally (np_filters.pushpull_push_step — the byte-identical
  loop body pushpull_fill runs) and assembling quadrants equals
  halving the whole world. Absent tiles are all-zero (zero weight),
  so the representation stays SPARSE through the push.
- APEX: the pyramid either reaches full support at a distributed
  level (pull starts there) or collapses to the single zoom-0 tile —
  a constant 256² grid the driver finishes with
  ``np_filters.pushpull_core`` (the same recursion the whole-world
  fill uses, continued on the exact (value*weight, weight) arrays).
- PULL (0 -> zc): per level, each finer tile needs a (130)² coarse
  patch — its 128² covering quadrant plus a 1-px ring. Parents emit
  CROPPED pieces to the <=16 children whose window intersects them
  (ring strips are 1 px wide, so the shuffle carries ~4x the level's
  tile bytes, not 16x), children assemble the patch (the same piece
  schema, crop and assembly as the filled kernel's membrane fetch),
  upsample at the
  exact zoom_bilinear sample positions (i/2 - 0.25, edge-clamped at
  the WORLD bounds — the antimeridian stays a map edge, matching the
  driver fill), and apply np_filters.pushpull_pull_step with their
  own (vw, w). At zoom zc the weights are binary, so supported cells
  return the original grid exactly — the driver path's preserve step
  falls out of the shared pull arithmetic.

Both routes run one copy of each step: the pixel coordinates, the
membrane axis, the bilinear taps, the fill step, the fillable mask and
tile enumeration, and the world assembly come from void_fill and
np_filters, so equality with the broadcast route holds by shared code;
tests/test_void_fill_dist.py still pins it bit-for-bit. The broadcast
route stays the default for small zc (one collect beats a 2(zc+1)-job
chain there).

Scale shape (100 TB): every level is a bounded-fanout shuffle of
(tile_key, two 256² float64 grids) rows — no all-pairs, no driver
world array; level sizes shrink 4x per push step. ``enclosed``-mode
connectivity is classified at a BOUNDED overview zoom
(min(zc, 4) — the reference's own bounded-overview read,
reference io/dem_preprocess.py:527-640) and gates zc cells through
their ancestor: topology is a world-scale feature, the membrane is
the part that needs full zc resolution.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tiles import TILE_PX
from .np_filters import (
    PUSHPULL_EPS,
    pushpull_core,
    pushpull_pull_step,
    pushpull_push_step,
)
from .tile_kernels import (
    _MASK32,
    _TILE_KEY,
    _Stats,
    _accumulate_grid,
    _kernel_tail,
    _packed_tiles,
    _parent_tiles,
    pack_grid,
    rasterize_tiles,
    unpack_grid,
)
from .void_fill import (
    _assemble_world,
    _check_tile_enumeration,
    _fill_tile,
    _fillable_mask,
    _fillable_tile_keys,
    _grid_taps,
    _halo_pixel_coords,
    _membrane_axis,
    _resolve_zc,
    _tile_gate,
)

_LVL_SCHEMA = "x long, y long, vw binary, w binary"
_FILLED_SCHEMA = "x long, y long, filled binary"
_REQ_SCHEMA = "ck long, tk long, y0 long, y1 long, x0 long, x1 long"
# One piece of a patch exchange: the requester's packed tile key, the
# piece's global (row, col) origin on the coarser grid, its shape and
# its float64 bytes.
_PIECE_SCHEMA = "tk long, r0 long, c0 long, nr int, nc int, piece binary"

CLASSIFY_ZC_CAP = 4  # bounded-overview connectivity zoom (driver BFS)


def _tile_key():
    return (F.shiftleft(F.col("x"), 32) + F.col("y")).cast("long")


# ------------------------- patch exchange ---------------------------
# Both consumers of a coarser tiled grid — the pull step (children of a
# membrane level) and the filled kernel (fine tiles of the zc membrane)
# — need a small rectangle of it around their own footprint. Owner
# tiles crop one piece per (requester, owner) pair, the requester
# assembles its patch and samples it bilinearly at global coordinates.


def _window_pairs(ky, y0, y1, kx, x0, x1) -> dict:
    """Every (row run, column run) pair, row-major: the packed tile key
    (kx<<32)+ky and the inclusive global window bounds of the pair."""
    iy, ix = (a.ravel() for a in np.meshgrid(np.arange(ky.size), np.arange(kx.size), indexing="ij"))
    return {"key": (kx[ix] << 32) + ky[iy], "y0": y0[iy], "y1": y1[iy], "x0": x0[ix], "x1": x1[ix]}


def _crop_pieces(g: np.ndarray, oy: int, ox: int, tk, win) -> pd.DataFrame:
    """``_PIECE_SCHEMA`` rows from one owner tile ``g`` whose global
    origin is (oy, ox): for each requester tk[i], the global window
    rows y0[i]..y1[i] x cols x0[i]..x1[i] (inclusive) of ``win``."""
    r0, r1, c0, c1 = (np.asarray(win[k], dtype=np.int64) for k in ("y0", "y1", "x0", "x1"))
    pieces = [
        np.ascontiguousarray(g[a - oy : b + 1 - oy, c - ox : d + 1 - ox]).tobytes()
        for a, b, c, d in zip(r0, r1, c0, c1)
    ]
    return pd.DataFrame(
        {"tk": tk, "r0": r0, "c0": c0, "nr": r1 - r0 + 1, "nc": c1 - c0 + 1, "piece": pieces}
    )


def _sample_patch(pc: pd.DataFrame, ys, xs) -> np.ndarray:
    """Assemble a requester's pieces and take the bilinear sample at the
    global per-axis (i0, frac) pairs ys and xs. Rows are one contiguous
    run (y never wraps); columns are up to two runs (x wraps at the
    antimeridian), laid out sorted by global column, so the taps i0 and
    i0+1 — always both in the needed set — are adjacent patch columns."""
    r0, c0, nr, nc = (pc[k].to_numpy(np.int64) for k in ("r0", "c0", "nr", "nc"))
    ymin = int(r0.min())
    runs = sorted(set(zip(c0.tolist(), nc.tolist())))
    cols = np.concatenate([np.arange(a, a + n) for a, n in runs])
    patch = np.zeros((int((r0 + nr).max()) - ymin, cols.size), dtype=np.float64)
    for a, c, h, w, buf in zip(r0, c0, nr, nc, pc["piece"]):
        j = int(np.searchsorted(cols, c))
        patch[a - ymin : a - ymin + h, j : j + w] = np.frombuffer(buf, dtype=np.float64).reshape(h, w)
    (iy0, fy), (ix0, fx) = ys, xs
    return _grid_taps(patch, (iy0 - ymin, fy), (np.searchsorted(cols, ix0), fx))


# ------------------------- push-pull pyramid ------------------------


def _child_pieces(it, zoom_child: int):
    """Pull-step owners: each parent filled tile crops a piece for every
    child whose (130)² window — its 128² covering quadrant plus a 1-px
    ring — intersects it."""
    nc_child = 1 << zoom_child
    half = TILE_PX // 2

    def window(p: int):
        c = np.arange(max(0, 2 * p - 1), min(nc_child, 2 * p + 3))
        lo = np.maximum(c * half - 1, p * TILE_PX)
        hi = np.minimum(c * half + half, p * TILE_PX + TILE_PX - 1)
        keep = hi >= lo
        return c[keep], lo[keep], hi[keep]

    for pdf in it:
        frames = []
        for px, py, buf in zip(pdf["x"], pdf["y"], pdf["filled"]):
            px, py = int(px), int(py)
            win = _window_pairs(*window(py), *window(px))
            frames.append(_crop_pieces(unpack_grid(buf, TILE_PX), py * TILE_PX, px * TILE_PX, win["key"], win))
        if frames:
            yield pd.concat(frames, ignore_index=True)


def _pull(zoom_child: int, key, pieces: pd.DataFrame, own: pd.DataFrame) -> pd.DataFrame:
    """The pull step of one child tile, a cogroup function once the
    level is bound (key, pieces, own level row): upsample the parent
    patch at the exact 2:1 zoom_bilinear positions (i/2 - 0.25,
    edge-clamped at the WORLD bounds) and run the shared pull step."""
    p_px = (1 << (zoom_child - 1)) * TILE_PX  # coarse world pixels
    tk = int(key[0])
    cx, cy = tk >> 32, tk & _MASK32
    up = _sample_patch(
        pieces,
        _membrane_axis(np.arange(TILE_PX) + cy * TILE_PX, 1, p_px),
        _membrane_axis(np.arange(TILE_PX) + cx * TILE_PX, 1, p_px),
    )
    if len(own):
        vw = unpack_grid(own["vw"].iloc[0], TILE_PX)
        w = unpack_grid(own["w"].iloc[0], TILE_PX)
    else:  # absent tile: zero support everywhere -> pure synthesis
        vw = w = np.zeros((TILE_PX, TILE_PX), dtype=np.float64)
    filled = pushpull_pull_step(vw, w, up)
    return pd.DataFrame({"x": [cx], "y": [cy], "filled": [pack_grid(filled)]})


def pushpull_fill_tiles(points: DataFrame, zc: int) -> DataFrame:
    """Distributed membrane at zoom zc: (x, y, filled binary) for every
    zc tile (dense — absent input tiles synthesize from the pyramid).
    Bit-identical to assembling the world and running
    np_filters.pushpull_fill (pinned in tests/test_void_fill_dist.py)."""
    spark = points.sparkSession
    base = rasterize_tiles(points, zc)

    def seed(it):
        # binary weights: value*weight is the count grid itself
        for pdf in it:
            w = [pack_grid(unpack_grid(b, TILE_PX) != 0) for b in pdf["grid"]]
            yield pd.DataFrame({"x": pdf["x"], "y": pdf["y"], "vw": pdf["grid"], "w": w})

    levels: dict[int, DataFrame] = {
        zc: base.mapInPandas(seed, _LVL_SCHEMA).persist(StorageLevel.MEMORY_AND_DISK)
    }

    # ---- push: zc -> 0, stopping early on full support (the exact
    # while-condition pushpull_core checks before each halving) ----
    apex = 0
    for m in range(zc, 0, -1):
        # the while-condition of pushpull_core: min weight across the
        # WHOLE level (absent tiles count as zero weight) — a cheap
        # per-tile min reduced by one single-row aggregate
        stats = levels[m].mapInPandas(_min_w, "n long, wmin double").agg(
            F.sum("n").alias("n"), F.min("wmin").alias("wmin")
        ).first()
        n_present = stats["n"] or 0
        wmin = stats["wmin"] if n_present == (1 << m) * (1 << m) else 0.0
        if wmin is not None and wmin > PUSHPULL_EPS:
            apex = m
            break
        parents = _parent_tiles(levels[m], ("vw", "w"), pushpull_push_step, _LVL_SCHEMA)
        levels[m - 1] = parents.persist(StorageLevel.MEMORY_AND_DISK)

    # ---- apex synthesis ----
    if apex > 0:
        filled = levels[apex].mapInPandas(_apex_fill, _FILLED_SCHEMA)
    else:
        rows = levels[0].collect()  # zoom 0: ONE 256² tile, constant size
        if rows:
            vw0 = unpack_grid(rows[0]["vw"], TILE_PX)
            w0 = unpack_grid(rows[0]["w"], TILE_PX)
        else:
            vw0 = w0 = np.zeros((TILE_PX, TILE_PX), dtype=np.float64)
        f0 = pushpull_core(vw0, w0)  # continues the SAME recursion to 1x1
        filled = spark.createDataFrame(
            pd.DataFrame({"x": [0], "y": [0], "filled": [pack_grid(f0)]}),
            _FILLED_SCHEMA,
        )

    # ---- pull: apex -> zc ----
    for m in range(apex, zc):
        zoom_child = m + 1
        # partial (not a loop closure) binds each lazily-executed
        # step to its own level
        pieces = filled.mapInPandas(partial(_child_pieces, zoom_child=zoom_child), _PIECE_SCHEMA)
        own = levels[zoom_child].withColumn("tk", _tile_key())
        filled = (
            pieces.groupBy("tk")
            .cogroup(own.groupBy("tk"))
            .applyInPandas(partial(_pull, zoom_child), _FILLED_SCHEMA)
        )

    # materialize the membrane once and cut its lineage BEFORE dropping
    # the level caches its pull chain references — returning the lazy
    # plan after unpersist would force a full pyramid recompute when
    # the consumer first materializes it. The zc-level surface is
    # bounded (zc cap), so the checkpoint is small.
    filled = filled.localCheckpoint(eager=True)
    for df in levels.values():
        df.unpersist()
    return filled


def _min_w(it):
    for pdf in it:
        mins = [float(unpack_grid(b, TILE_PX).min()) for b in pdf["w"]]
        yield pd.DataFrame({"n": [len(mins)], "wmin": [min(mins) if mins else None]})


def _apex_fill(it):
    # full support: every cell keeps its own mean (a pull with nothing
    # to synthesize)
    for pdf in it:
        f = [
            pack_grid(pushpull_pull_step(unpack_grid(vwb, TILE_PX), unpack_grid(wb, TILE_PX), 0.0))
            for vwb, wb in zip(pdf["vw"], pdf["w"])
        ]
        yield pd.DataFrame({"x": pdf["x"], "y": pdf["y"], "filled": f})


# ------------------------- filled kernel ----------------------------


def _owner_runs(i0: np.ndarray):
    """The membrane indices a sample axis touches (taps i0 and i0+1),
    as (owner tile, first, last) per 256-px owner tile."""
    needed = np.unique(np.concatenate([i0, i0 + 1]))
    tiles, first = np.unique(needed >> 8, return_index=True)
    last = np.append(first[1:], needed.size) - 1
    return tiles, needed[first], needed[last]


def tile_kernel_stats_filled(
    points: DataFrame,
    z: int,
    kernel: str = "hillshade",
    zc: int | None = None,
    mode: str = "enclosed",
    halo: int | None = None,
    log_scale: bool = True,
    lit_threshold: float = 0.75,
    metric_scale: bool = False,
    grid_dtype=None,
    **kernel_params,
) -> DataFrame:
    """tile_kernel_stats with a FULLY DISTRIBUTED void fill: the
    membrane never touches the driver or a broadcast — each tile
    receives a cropped membrane PATCH by join (the beyond-broadcast
    production route the r5 verdict #4/#7 asked for). zc defaults to
    the broadcast route's rule, min(z, max(2, z-10)).

    Pipeline: pushpull_fill_tiles builds the zc membrane as tile rows;
    candidate tiles (point-owning ∪ fillable-pooled) emit bounded
    patch REQUESTS (the <=9 membrane tiles their clamped bilinear
    sample window touches, x-wrap handled as up to two column runs);
    membrane tiles cogroup with requests and ship CROPPED pieces; the
    kernel cogroups point rows with pieces, reproducing
    void_fill.VoidFillSurface.apply bit-for-bit (the same pixel
    coordinates, membrane axis and bilinear taps) before tile_kernels'
    shared kernel tail (log1p + metric scale + kernel + core crop) and
    stats reduction — pinned against the broadcast path by
    tests/test_void_fill_dist.py. Fillable-but-pointless tiles appear
    as piece-only cogroups, replacing _synth_filled_tiles' driver
    enumeration of missing groups (the candidate keys themselves stay
    driver-enumerated from the bounded zcls mask by the broadcast
    route's _fillable_tile_keys).

    Scale shape (100 TB): driver state is the zcls classify mask only
    (bounded); shuffles are the normal 16-B point rows + per-tile
    patch pieces (≤ a few tile-bytes each, shrinking 4^s with the
    zoom gap); no all-pairs, no unbounded collect."""
    zc = _resolve_zc(z, zc, mode)
    h, tail = _kernel_tail(kernel, z, halo, log_scale, metric_scale, kernel_params)
    w = TILE_PX + 2 * h
    s = z - zc
    n_coarse = (1 << zc) * TILE_PX
    zcls = min(zc, CLASSIFY_ZC_CAP)
    _check_tile_enumeration(z, zcls)
    spark = points.sparkSession
    fillable_cls = _fillable_mask(_assemble_world(points, zcls), mode)
    bc_cls = spark.sparkContext.broadcast(fillable_cls)

    # ---- candidate tiles: point-owning ∪ fillable-pooled ----
    pts = _packed_tiles(points, z, h, None)
    pool_keys = _fillable_tile_keys(fillable_cls, zcls, z)
    cand = pts.select("_tk").distinct()
    if pool_keys.size:
        cand = cand.unionByName(spark.createDataFrame(pd.DataFrame({"_tk": pool_keys}))).distinct()

    # ---- patch requests: bounded fanout, x-wrap as column runs ----
    def make_requests(it):
        for pdf in it:
            frames = []
            for tk in pdf["_tk"].tolist():
                tx, ty = tk >> 32, tk & _MASK32
                gy, gx = _halo_pixel_coords(tx, ty, z, h)
                if not _tile_gate(bc_cls.value, zcls, z, gy, gx).any():
                    continue  # the apply() early-out: nothing fillable here
                win = _window_pairs(
                    *_owner_runs(_membrane_axis(gy, s, n_coarse)[0]),
                    *_owner_runs(_membrane_axis(gx, s, n_coarse)[0]),
                )
                frames.append(pd.DataFrame({"ck": win.pop("key"), "tk": tk, **win}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    reqs = cand.mapInPandas(make_requests, _REQ_SCHEMA)

    # ---- membrane tiles ship cropped pieces to requesting tiles ----
    membrane = pushpull_fill_tiles(points, zc).withColumn("ck", _tile_key())

    def emit_pieces(mem: pd.DataFrame, rq: pd.DataFrame) -> pd.DataFrame:
        # the membrane is dense, so every requested ck has its tile; a
        # tile nobody requested crops no pieces
        mx, my = int(mem["x"].iloc[0]), int(mem["y"].iloc[0])
        g = unpack_grid(mem["filled"].iloc[0], TILE_PX)
        return _crop_pieces(g, my * TILE_PX, mx * TILE_PX, rq["tk"].to_numpy(np.int64), rq)

    pieces = (
        membrane.groupBy("ck")
        .cogroup(reqs.groupBy("ck"))
        .applyInPandas(emit_pieces, _PIECE_SCHEMA)
    )

    # ---- kernel: point rows cogrouped with membrane pieces ----
    dt = np.float32 if grid_dtype is None else grid_dtype
    stats = _Stats(lit_threshold)

    def run(key, pdf: pd.DataFrame, pc: pd.DataFrame) -> pd.DataFrame:
        tk = int(key[0])
        tx, ty = tk >> 32, tk & _MASK32
        if len(pdf):
            grid = _accumulate_grid(pdf["_gk"], None, tx, ty, z, h, dt)
        else:
            # piece-only group: a fillable tile owning no points — the
            # cogroup analog of _synth_filled_tiles (same float64 zeros)
            grid = np.zeros((w, w))
        if len(pc):
            grid = _fill_tile(grid, tx, ty, z, h, bc_cls.value, zcls, zc, partial(_sample_patch, pc))
        return pd.DataFrame(list(tail.grids([(grid, tx, ty)], stats)))

    return (
        pts.groupBy("_tk")
        .cogroup(pieces.groupBy("tk"))
        .applyInPandas(run, f"{_TILE_KEY}, {stats.cols}")
    )
