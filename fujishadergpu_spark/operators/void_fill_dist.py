"""Distributed push-pull void fill: the beyond-driver-cap membrane
(r5 verdict #7).

``void_fill.build_void_fill_surface`` collects the zc-resolution world
onto the driver (capped at zc<=4, ~134 MB) and runs the push-pull
pyramid there. This module re-expresses the SAME pyramid as an LOD
up/down join chain over tile DataFrames (reference
algorithms/_pyramid_fill.py:24-85 mapped per SURVEY §2.C), so the
membrane can be built at any zc with bounded driver memory:

- PUSH (zc -> 0): one ``groupBy(parent_tile)`` per level. The 2:1
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
  tile bytes, not 16x), children assemble the patch, upsample at the
  exact zoom_bilinear sample positions (i/2 - 0.25, edge-clamped at
  the WORLD bounds — the antimeridian stays a map edge, matching the
  driver fill), and apply np_filters.pushpull_pull_step with their
  own (vw, w). At zoom zc the weights are binary, so supported cells
  return the original grid exactly — the driver path's preserve step
  falls out of the shared pull arithmetic.

Equality with the driver membrane is pinned bit-for-bit at zc<=cap by
tests/test_void_fill_dist.py; the driver path stays the default for
small zc (one collect beats a 2(zc+1)-job chain there).

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
from .tile_kernels import pack_grid, rasterize_tiles, unpack_grid
from .void_fill import VoidFillSurface, _exterior_voids

_LVL_SCHEMA = "x long, y long, vw binary, w binary"
_PIECE_SCHEMA = "cx long, cy long, r0 long, c0 long, nr int, nc int, piece binary"
_FILLED_SCHEMA = "x long, y long, filled binary"

CLASSIFY_ZC_CAP = 4  # bounded-overview connectivity zoom (driver BFS)


def _push_parent(pdf: pd.DataFrame) -> pd.DataFrame:
    """One parent tile from its <=4 children: halve each child with
    the shared push step and place the 128² quadrant."""
    vw = np.zeros((TILE_PX, TILE_PX), dtype=np.float64)
    w = np.zeros((TILE_PX, TILE_PX), dtype=np.float64)
    half = TILE_PX // 2
    px, py = int(pdf["_px"].iloc[0]), int(pdf["_py"].iloc[0])
    for _, r in pdf.iterrows():
        cvw, cw = pushpull_push_step(
            unpack_grid(r["vw"], TILE_PX), unpack_grid(r["w"], TILE_PX)
        )
        qy = (int(r["y"]) - 2 * py) * half
        qx = (int(r["x"]) - 2 * px) * half
        vw[qy : qy + half, qx : qx + half] = cvw
        w[qy : qy + half, qx : qx + half] = cw
    return pd.DataFrame(
        {"x": [px], "y": [py], "vw": [pack_grid(vw)], "w": [pack_grid(w)]}
    )


def _emit_pieces(it, zoom_child: int):
    """Parent filled tiles -> cropped patch pieces for every child
    whose (130)² window intersects this parent."""
    nc_child = 1 << zoom_child
    for pdf in it:
        out = {k: [] for k in ("cx", "cy", "r0", "c0", "nr", "nc", "piece")}
        for _, r in pdf.iterrows():
            px, py = int(r["x"]), int(r["y"])
            g = unpack_grid(r["filled"], TILE_PX)
            for cy in range(max(0, 2 * py - 1), min(nc_child, 2 * py + 3)):
                rr0 = max(cy * 128 - 1, py * 256)
                rr1 = min(cy * 128 + 128, py * 256 + 255)
                if rr1 < rr0:
                    continue
                for cx in range(max(0, 2 * px - 1), min(nc_child, 2 * px + 3)):
                    cc0 = max(cx * 128 - 1, px * 256)
                    cc1 = min(cx * 128 + 128, px * 256 + 255)
                    if cc1 < cc0:
                        continue
                    piece = g[rr0 - py * 256 : rr1 + 1 - py * 256,
                              cc0 - px * 256 : cc1 + 1 - px * 256]
                    out["cx"].append(cx)
                    out["cy"].append(cy)
                    out["r0"].append(rr0)
                    out["c0"].append(cc0)
                    out["nr"].append(piece.shape[0])
                    out["nc"].append(piece.shape[1])
                    out["piece"].append(np.ascontiguousarray(piece).tobytes())
        yield pd.DataFrame(out)


def _pull_child(pieces: pd.DataFrame, own: pd.DataFrame, zoom_child: int) -> pd.DataFrame:
    """Assemble the coarse patch, upsample at the exact zoom_bilinear
    positions (world-edge clamped), and run the shared pull step."""
    cx, cy = int(pieces["cx"].iloc[0]), int(pieces["cy"].iloc[0])
    p_px = (1 << (zoom_child - 1)) * TILE_PX  # coarse world pixels
    oy, ox = cy * 128 - 1, cx * 128 - 1
    patch = np.zeros((130, 130), dtype=np.float64)
    for _, r in pieces.iterrows():
        a = np.frombuffer(r["piece"], dtype=np.float64).reshape(r["nr"], r["nc"])
        patch[r["r0"] - oy : r["r0"] - oy + r["nr"],
              r["c0"] - ox : r["c0"] - ox + r["nc"]] = a

    def axis(base: int):
        # zoom_bilinear's sample positions for a 2x upsample, clamped
        # at the WORLD bounds (np_filters.bilinear_sample semantics)
        s = np.clip((np.arange(TILE_PX) + base + 0.5) * 0.5 - 0.5, 0.0, p_px - 1.0)
        i0 = np.minimum(s.astype(np.int64), p_px - 2)
        return i0, s - i0

    y0, fy = axis(cy * TILE_PX)
    x0, fx = axis(cx * TILE_PX)
    ly, lx = y0 - oy, x0 - ox
    tl = patch[ly[:, None], lx[None, :]]
    tr = patch[ly[:, None], lx[None, :] + 1]
    bl = patch[ly[:, None] + 1, lx[None, :]]
    br = patch[ly[:, None] + 1, lx[None, :] + 1]
    fy, fx = fy[:, None], fx[None, :]
    up = tl * (1 - fy) * (1 - fx) + tr * (1 - fy) * fx + bl * fy * (1 - fx) + br * fy * fx

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
        for pdf in it:
            g = np.stack([unpack_grid(b, TILE_PX) for b in pdf["grid"]])
            yield pd.DataFrame(
                {
                    "x": pdf["x"],
                    "y": pdf["y"],
                    "vw": [pack_grid(a) for a in g],
                    "w": [pack_grid((a != 0).astype(np.float64)) for a in g],
                }
            )

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
        parents = (
            levels[m]
            .withColumns({"_px": F.col("x") / 2, "_py": F.col("y") / 2})
            .withColumns({"_px": F.floor("_px").cast("long"), "_py": F.floor("_py").cast("long")})
            .groupBy("_px", "_py")
            .applyInPandas(_push_parent, _LVL_SCHEMA)
        )
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
        pieces = filled.mapInPandas(_make_emit(zoom_child), _PIECE_SCHEMA)
        filled = (
            pieces.groupBy("cx", "cy")
            .cogroup(levels[zoom_child].groupBy("x", "y"))
            .applyInPandas(_make_pull(zoom_child), _FILLED_SCHEMA)
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


def _make_emit(zoom_child: int):
    def emit(it):
        return _emit_pieces(it, zoom_child)

    return emit


def _make_pull(zoom_child: int):
    # EXACTLY two positional params: Spark's cogroup apply passes
    # (key, left, right) to three-param functions; factory (not a
    # loop closure) so the lazily-executed plan binds its own level
    def pull(pieces, own):
        return _pull_child(pieces, own, zoom_child)

    return pull


def _min_w(it):
    for pdf in it:
        mins = [float(unpack_grid(b, TILE_PX).min()) for b in pdf["w"]]
        yield pd.DataFrame({"n": [len(mins)], "wmin": [min(mins) if mins else None]})


def _apex_fill(it):
    for pdf in it:
        f = []
        for vwb, wb in zip(pdf["vw"], pdf["w"]):
            vw = unpack_grid(vwb, TILE_PX)
            w = unpack_grid(wb, TILE_PX)
            f.append(pack_grid(np.where(w > PUSHPULL_EPS, vw / np.maximum(w, PUSHPULL_EPS), 0.0)))
        yield pd.DataFrame({"x": pdf["x"], "y": pdf["y"], "filled": f})


def _classify_fillable(points: DataFrame, zcls: int, mode: str) -> np.ndarray:
    """Bool fillable mask at the BOUNDED classify zoom zcls (driver
    connectivity BFS over a <=(2^4·256)² grid — the reference's
    bounded-overview read, reference io/dem_preprocess.py:527-640)."""
    from .tile_kernels import rasterize_tiles as _rt

    n_cls = (1 << zcls) * TILE_PX
    world_cls = np.zeros((n_cls, n_cls), dtype=np.float64)
    for r in _rt(points, zcls).collect():
        world_cls[r["y"] * TILE_PX : (r["y"] + 1) * TILE_PX,
                  r["x"] * TILE_PX : (r["x"] + 1) * TILE_PX] = unpack_grid(r["grid"], TILE_PX)
    if mode == "enclosed":
        return ~_exterior_voids(world_cls == 0)
    return np.ones((n_cls, n_cls), dtype=bool)


def _halo_pixel_coords(tx: int, ty: int, z: int, h: int) -> tuple[np.ndarray, np.ndarray]:
    """Global (gy, gx) of a tile's halo-expanded grid axes — the exact
    wrap/clip arithmetic of void_fill.VoidFillSurface.apply."""
    w = TILE_PX + 2 * h
    n_fine = (1 << z) * TILE_PX
    gx = (np.arange(w) + tx * TILE_PX - h) % n_fine
    gy = np.clip(np.arange(w) + ty * TILE_PX - h, 0, n_fine - 1)
    return gy, gx


def _membrane_axis(g: np.ndarray, s: int, n_coarse: int) -> tuple[np.ndarray, np.ndarray]:
    """(i0, frac) of the membrane bilinear sample along one axis —
    byte-identical to np_filters.bilinear_sample's clamped gather on
    the full fill array (so the patch path cannot drift from the
    broadcast path)."""
    c = np.clip((g + 0.5) / (1 << s) - 0.5, 0.0, n_coarse - 1.0)
    i0 = np.minimum(c.astype(np.int64), n_coarse - 2)
    return i0, c - i0


_REQ_SCHEMA = "ck long, tk long, y0 long, y1 long, x0 long, x1 long"
_PIECE_SCHEMA2 = "tk long, ry0 long, rx0 long, nr int, nc int, piece binary"


def tile_kernel_stats_filled(
    points: DataFrame,
    z: int,
    kernel: str = "hillshade",
    zc: int = 4,
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
    production route the r5 verdict #4/#7 asked for).

    Pipeline: pushpull_fill_tiles builds the zc membrane as tile rows;
    candidate tiles (point-owning ∪ fillable-pooled) emit bounded
    patch REQUESTS (the <=9 membrane tiles their clamped bilinear
    sample window touches, x-wrap handled as up to two column runs);
    membrane tiles cogroup with requests and ship CROPPED pieces; the
    kernel cogroups point rows with pieces, reproducing
    void_fill.VoidFillSurface.apply bit-for-bit (same wrap/clip/clamp
    arithmetic via the shared helpers above) before tile_kernels' shared
    kernel tail (log1p + metric scale + kernel + core crop) and stats
    reduction — pinned against the broadcast path by
    tests/test_void_fill_dist.py. Fillable-but-pointless tiles appear
    as piece-only cogroups, replacing _synth_filled_tiles' driver
    enumeration of missing groups (the candidate keys themselves stay
    driver-enumerated from the bounded zcls mask, the same z<=zcls+10
    guard as fillable_tile_keys).

    Scale shape (100 TB): driver state is the zcls classify mask only
    (bounded); shuffles are the normal 16-B point rows + per-tile
    patch pieces (≤ a few tile-bytes each, shrinking 4^s with the
    zoom gap); no all-pairs, no unbounded collect."""
    from .tile_kernels import (
        _MASK32,
        _STATS_COLS,
        _TILE_KEY,
        _accumulate_grid,
        _kernel_tail,
        _packed_tiles,
        _tile_row,
        _tile_stats,
    )

    if mode not in ("enclosed", "all"):
        raise ValueError(f"unknown void-fill mode {mode!r} (enclosed/all)")
    if zc > z:
        raise ValueError(f"zc={zc} must be <= z={z}")
    h, tail = _kernel_tail(kernel, z, halo, log_scale, metric_scale, kernel_params)
    w = TILE_PX + 2 * h
    s = z - zc
    n_coarse = (1 << zc) * TILE_PX
    zcls = min(zc, CLASSIFY_ZC_CAP)
    if z - zcls > 10:
        raise ValueError(
            f"fillable-tile synthesis bounded at z <= zcls+10 (z={z}, zcls={zcls})"
        )
    spark = points.sparkSession
    fillable_cls = _classify_fillable(points, zcls, mode)
    bc_cls = spark.sparkContext.broadcast(fillable_cls)
    cls_shift = z - zcls  # fine px -> classify cell

    def gate_of(tx: int, ty: int) -> np.ndarray:
        gy, gx = _halo_pixel_coords(tx, ty, z, h)
        cls = bc_cls.value
        return cls[(gy >> cls_shift)[:, None], (gx >> cls_shift)[None, :]]

    # ---- candidate tiles: point-owning ∪ fillable-pooled ----
    pts = _packed_tiles(points, z, h, None)
    s2 = z - zcls
    if s2 <= 8:
        k = TILE_PX >> s2
        nt = fillable_cls.shape[0] // k
        pooled = fillable_cls.reshape(nt, k, nt, k).any(axis=(1, 3))
    else:
        rep = 1 << (s2 - 8)
        pooled = np.repeat(np.repeat(fillable_cls, rep, axis=0), rep, axis=1)
    ys, xs = np.nonzero(pooled)
    pool_keys = (xs.astype(np.int64) << 32) + ys.astype(np.int64)
    cand = pts.select("_tk").distinct()
    if pool_keys.size:
        cand = cand.unionByName(
            spark.createDataFrame(pd.DataFrame({"_tk": pool_keys}))
        ).distinct()

    # ---- patch requests: bounded fanout, x-wrap as column runs ----
    def make_requests(it):
        for pdf in it:
            out = {k2: [] for k2 in ("ck", "tk", "y0", "y1", "x0", "x1")}
            for tk in pdf["_tk"].astype("int64"):
                tk = int(tk)
                tx, ty = tk >> 32, tk & _MASK32
                if not gate_of(tx, ty).any():
                    continue  # the apply() early-out: nothing fillable here
                gy, gx = _halo_pixel_coords(tx, ty, z, h)
                iy0, _ = _membrane_axis(gy, s, n_coarse)
                ix0, _ = _membrane_axis(gx, s, n_coarse)
                ny = np.unique(np.concatenate([iy0, iy0 + 1]))
                nx = np.unique(np.concatenate([ix0, ix0 + 1]))
                for cty in np.unique(ny >> 8):
                    yy = ny[(ny >> 8) == cty]
                    for ctx in np.unique(nx >> 8):
                        xx = nx[(nx >> 8) == ctx]
                        out["ck"].append((int(ctx) << 32) + int(cty))
                        out["tk"].append(tk)
                        out["y0"].append(int(yy.min()))
                        out["y1"].append(int(yy.max()))
                        out["x0"].append(int(xx.min()))
                        out["x1"].append(int(xx.max()))
            yield pd.DataFrame(out)

    reqs = cand.mapInPandas(make_requests, _REQ_SCHEMA)

    # ---- membrane tiles ship cropped pieces to requesting tiles ----
    membrane = pushpull_fill_tiles(points, zc).withColumn(
        "ck", (F.shiftleft(F.col("x"), 32) + F.col("y")).cast("long")
    )

    def emit_pieces(mem: pd.DataFrame, rq: pd.DataFrame) -> pd.DataFrame:
        out = {k2: [] for k2 in ("tk", "ry0", "rx0", "nr", "nc", "piece")}
        if not len(mem) or not len(rq):
            return pd.DataFrame(out)
        mx, my = int(mem["x"].iloc[0]), int(mem["y"].iloc[0])
        g = unpack_grid(mem["filled"].iloc[0], TILE_PX)
        oy, ox = my * TILE_PX, mx * TILE_PX
        for _, r in rq.iterrows():
            piece = g[int(r["y0"]) - oy : int(r["y1"]) + 1 - oy,
                      int(r["x0"]) - ox : int(r["x1"]) + 1 - ox]
            out["tk"].append(int(r["tk"]))
            out["ry0"].append(int(r["y0"]))
            out["rx0"].append(int(r["x0"]))
            out["nr"].append(piece.shape[0])
            out["nc"].append(piece.shape[1])
            out["piece"].append(np.ascontiguousarray(piece).tobytes())
        return pd.DataFrame(out)

    pieces = (
        membrane.groupBy("ck")
        .cogroup(reqs.groupBy("ck"))
        .applyInPandas(lambda m, r: emit_pieces(m, r), _PIECE_SCHEMA2)
    )

    # ---- kernel: point rows cogrouped with membrane pieces ----
    dt = np.float32 if grid_dtype is None else grid_dtype
    scale = 0.25 ** s

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
            # assemble the patch: rows are one contiguous run (y never
            # wraps), columns up to two runs (antimeridian), sorted by
            # global coarse x — consecutive (i0, i0+1) pairs are always
            # adjacent in the sorted unique needed set
            ymin = int(pc["ry0"].min())
            nrows = int((pc["ry0"] + pc["nr"]).max()) - ymin
            runs = sorted({(int(r["rx0"]), int(r["nc"])) for _, r in pc.iterrows()})
            col_globals = np.concatenate([np.arange(x0, x0 + nc) for x0, nc in runs])
            patch = np.zeros((nrows, len(col_globals)), dtype=np.float64)
            for _, r in pc.iterrows():
                a = np.frombuffer(r["piece"], dtype=np.float64).reshape(r["nr"], r["nc"])
                c0 = int(np.searchsorted(col_globals, int(r["rx0"])))
                patch[int(r["ry0"]) - ymin : int(r["ry0"]) - ymin + int(r["nr"]),
                      c0 : c0 + int(r["nc"])] = a
            gy, gx = _halo_pixel_coords(tx, ty, z, h)
            iy0, fy = _membrane_axis(gy, s, n_coarse)
            ix0, fx = _membrane_axis(gx, s, n_coarse)
            ly = iy0 - ymin
            lx = np.searchsorted(col_globals, ix0)
            tl = patch[ly[:, None], lx[None, :]]
            tr = patch[ly[:, None], lx[None, :] + 1]
            bl = patch[ly[:, None] + 1, lx[None, :]]
            br = patch[ly[:, None] + 1, lx[None, :] + 1]
            fyc, fxc = fy[:, None], fx[None, :]
            memb = (tl * (1 - fyc) * (1 - fxc) + tr * (1 - fyc) * fxc
                    + bl * fyc * (1 - fxc) + br * fyc * fxc) * scale
            out = grid.copy()
            np.copyto(out, memb, where=(grid == 0) & gate_of(tx, ty))
            grid = out.astype(dt) if len(pdf) else out
        return _tile_row(z, tx, ty, _tile_stats(tail(grid, ty), lit_threshold))

    return (
        pts.groupBy("_tk")
        .cogroup(pieces.groupBy("tk"))
        .applyInPandas(run, f"{_TILE_KEY}, {_STATS_COLS}")
    )


def build_void_fill_surface_distributed(
    points: DataFrame,
    z: int,
    zc: int,
    mode: str = "enclosed",
) -> VoidFillSurface:
    """Distributed-build VoidFillSurface: the membrane comes from the
    LOD join chain (pushpull_fill_tiles — no driver world array during
    the build); connectivity classifies at the bounded overview zoom
    min(zc, CLASSIFY_ZC_CAP) and gates zc cells through their ancestor
    (identical to the driver surface whenever zc <= the cap, which the
    equality test pins). The final broadcast collect is the
    back-compat consumption path — at zc beyond broadcastable size,
    write pushpull_fill_tiles' output to parquet and fill via a
    tile-patch join instead (the documented production route)."""
    if mode not in ("enclosed", "all"):
        raise ValueError(f"unknown void-fill mode {mode!r} (enclosed/all)")
    if zc > z:
        raise ValueError(f"zc={zc} must be <= z={z}")
    n_px = (1 << zc) * TILE_PX

    # bounded-overview connectivity (exact when zc <= cap)
    zcls = min(zc, CLASSIFY_ZC_CAP)
    fillable_cls = _classify_fillable(points, zcls, mode)
    s = zc - zcls
    fillable = (
        np.repeat(np.repeat(fillable_cls, 1 << s, axis=0), 1 << s, axis=1)
        if s
        else fillable_cls
    )

    filled = np.zeros((n_px, n_px), dtype=np.float64)
    for r in pushpull_fill_tiles(points, zc).collect():
        filled[r["y"] * TILE_PX : (r["y"] + 1) * TILE_PX,
               r["x"] * TILE_PX : (r["x"] + 1) * TILE_PX] = unpack_grid(r["filled"], TILE_PX)
    sc = points.sparkSession.sparkContext
    return VoidFillSurface(zc, sc.broadcast(filled), sc.broadcast(fillable))
