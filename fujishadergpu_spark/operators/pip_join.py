"""Cell-bucketed point-in-polygon join with explicit skew handling.

The central spatial join (BASELINE.json north_rule): points and
polygons are both bucketed onto the quadtree cell grid
(functions.cells); the equi-join on cell_id replaces an O(N*M)
geometric join, and a vectorized ray-cast pandas UDF refines
candidates to exact containment.

Physical shape (SURVEY.md §7.2 M2):

- **Build side** (polygons, small): each polygon is exploded to its
  covering cells — pure column expressions (bbox via transform/
  array_min over the ring, cover via sequence() x sequence()
  explode). A huge polygon covering many cells is *build-side
  explode* skew: it turns into many build rows, which Spark
  distributes naturally.
- **Probe side** (points, huge): one cell per point. A hot cell
  holding many points is *probe-side* skew: handled by (a) AQE
  skew-join splitting (on by default, session.py) and (b) optional
  explicit salting — probe rows get ``salt = pmod(xxhash64(key), S)``
  and build rows are replicated S ways, so one hot cell fans out to S
  shuffle partitions. The two skews are different and get different
  treatments (SURVEY.md §7.3 hard part 5).
- **Join strategy**: Catalyst broadcasts the exploded build side when
  small (the common case — this mirrors the reference scattering its
  coarse fields to workers, reference core/dask_processor.py:1011-1025);
  ``broadcast_build=False`` forces the sort-merge path for the
  polygons-too-big case.
- **Refinement**: even-odd ray casting, boundary-inclusive, as one
  Arrow pandas UDF holding the padded ring matrices in its closure,
  vectorized over each whole batch — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..functions import cells


# ------------------------- build-side covering ------------------------

def polygon_cover(polygons: DataFrame, res: int, ring_col: str = "ring") -> DataFrame:
    """Explode polygons to covering cells at ``res`` (bbox cover).

    Replaces the ring column with ``cell_id``: the refinement UDF
    holds the rings itself (PipIndex), so build rows stay narrow.
    All JVM-side: bbox from transform/array_min, cover cells from
    sequence() explodes.
    """
    n = 1 << res
    ring = F.col(ring_col)
    lons = F.transform(ring, lambda p: p["lon"])
    lats = F.transform(ring, lambda p: p["lat"])

    def cx(lon):
        return F.greatest(F.lit(0), F.least(F.lit(n - 1), F.floor((lon + 180.0) / 360.0 * float(n)).cast("long")))

    def cy(lat):
        return F.greatest(F.lit(0), F.least(F.lit(n - 1), F.floor((lat + 90.0) / 180.0 * float(n)).cast("long")))

    # Precondition (checked, not assumed): rings must not cross the
    # antimeridian and coords must be in range — a crossing ring's
    # lon-bbox cover would silently MISS its true cells (false
    # negatives), the worst failure mode for a join. Split such rings
    # at ±180 upstream. assert_true is evaluated once per polygon row
    # (the small build side), free at probe scale.
    lon_ok = (
        (F.array_max(lons) - F.array_min(lons) <= 180.0)
        & (F.array_min(lons) >= -180.0) & (F.array_max(lons) <= 180.0)
        & (F.array_min(lats) >= -90.0) & (F.array_max(lats) <= 90.0)
    )
    guard = F.assert_true(
        lon_ok,
        F.concat(
            F.lit("polygon_cover: ring crosses the antimeridian or has out-of-range "
                  "coords (split at ±180 first); ring_lon="),
            lons.cast("string"),
        ),
    )
    # cell_of wraps x, so a point at lon = 180 lands in column 0: a ring
    # reaching the antimeridian covers column 0 too
    xs = F.sequence(F.col("_x0"), F.col("_x1"))
    xs = F.when(
        F.array_max(lons) >= 180.0, F.array_union(xs, F.array(F.lit(0).cast("long")))
    ).otherwise(xs)
    return (
        polygons.withColumns(
            {
                "_x0": cx(F.array_min(lons)) + F.coalesce(guard.cast("long"), F.lit(0)),
                "_x1": cx(F.array_max(lons)),
                "_y0": cy(F.array_min(lats)),
                "_y1": cy(F.array_max(lats)),
            }
        )
        .withColumn("_cx", F.explode(xs))
        .withColumn("_cy", F.explode(F.sequence(F.col("_y0"), F.col("_y1"))))
        .withColumn(
            "cell_id",
            F.lit(res << cells.RES_SHIFT).cast("long")
            + F.shiftleft(F.col("_cx"), cells.X_SHIFT)
            + F.col("_cy"),
        )
        .drop("_x0", "_x1", "_y0", "_y1", "_cx", "_cy", ring_col)
    )


def auto_res(polygons: DataFrame, ring_col: str = "ring", lo: int = 3, hi: int = 12) -> int:
    """Pick the bucketing resolution so cell height ≈ median polygon
    bbox height: coarser floods the refine stage with candidates, finer
    explodes the build side — the same cost-model-driven sizing as the
    reference's chunk auto-tune (reference config/auto_tune.py:101-134).
    One tiny aggregate over the (small) polygon table."""
    import math

    lats = F.transform(F.col(ring_col), lambda p: p["lat"])
    med_h = polygons.select(
        F.median(F.array_max(lats) - F.array_min(lats)).alias("h")
    ).first()["h"]
    if not med_h or med_h <= 0:
        return 7
    # one level finer than cell==bbox: measured ~2.4x fewer refine
    # candidates at equal build-side cost for grid-like polygon sets
    return max(lo, min(hi, math.ceil(math.log2(180.0 / med_h)) + 1))


# ------------------------- exact refinement --------------------------

def make_pip_closure_udf(ring_rows: list[tuple[int, np.ndarray, np.ndarray]]):
    """Refinement UDF with the ring table in the closure.

    ring_rows: [(polygon_id, rx, ry), ...]. Rings are padded into two
    dense (n_poly x max_nv) matrices (pad = vertex 0, a no-op edge);
    each Arrow batch then needs exactly two fancy-indexing gathers +
    max_nv vectorized passes — no list columns, no per-row Python, no
    small allocations (the list-column variant spent ~90% of its time
    in the kernel allocator under 32-way concurrency).

    Scale note: this rides the same assumption as broadcasting the
    build side (polygon table fits in executor memory). An empty ring
    table is valid: its join has no candidates.
    """
    pids = np.array([r[0] for r in ring_rows], dtype=np.int64)
    if len(np.unique(pids)) != len(pids):
        raise ValueError("pip index: duplicate polygon_id in ring table")
    order = np.argsort(pids)
    pids = pids[order]
    max_nv = max((len(r[1]) for r in ring_rows), default=1)
    n_poly = len(ring_rows)
    RX = np.empty((n_poly, max_nv), dtype=np.float64)
    RY = np.empty((n_poly, max_nv), dtype=np.float64)
    for out_i, src_i in enumerate(order):
        _, rx, ry = ring_rows[src_i]
        k = len(rx)
        RX[out_i, :k] = rx
        RY[out_i, :k] = ry
        RX[out_i, k:] = rx[0]
        RY[out_i, k:] = ry[0]

    @pandas_udf(BooleanType())
    def contains(polygon_id: pd.Series, lat: pd.Series, lon: pd.Series) -> pd.Series:
        n = len(lat)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        px = lon.to_numpy(dtype=np.float64)
        py = lat.to_numpy(dtype=np.float64)
        ids = polygon_id.to_numpy(dtype=np.int64)
        rows = np.searchsorted(pids, ids)
        # an id absent from the index would silently ray-cast against
        # the WRONG ring (searchsorted returns an insertion point, or n
        # -> IndexError) — possible when pip_join is called with an
        # index built from a different polygon table
        rows = np.minimum(rows, len(pids) - 1)
        bad = pids[rows] != ids if len(pids) else np.ones(n, dtype=bool)
        if bad.any():
            raise ValueError(
                f"pip index/polygon-table mismatch: ids {ids[bad][:5].tolist()} not in index"
            )
        rx = RX[rows]
        ry = RY[rows]
        inside = np.zeros(n, dtype=bool)
        onedge = np.zeros(n, dtype=bool)
        # preallocated work buffers, reused across the vertex loop
        # (fresh temporaries above glibc's mmap threshold would hit the
        # kernel VM lock once per op per batch across all workers)
        a = np.empty(n)
        b = np.empty(n)
        t = np.empty(n)
        cb = np.empty(n, dtype=bool)
        db = np.empty(n, dtype=bool)
        xj = rx[:, max_nv - 1].copy()
        yj = ry[:, max_nv - 1].copy()
        for i in range(max_nv):
            xi, yi = rx[:, i], ry[:, i]
            cond = np.not_equal(yi > py, yj > py, out=cb)
            # t = (xj-xi)*(py-yi)/(yj-yi) + xi, guarded by cond
            np.subtract(py, yi, out=a)
            np.multiply(np.subtract(xj, xi, out=b), a, out=t)
            with np.errstate(divide="ignore", invalid="ignore"):
                np.divide(t, np.subtract(yj, yi, out=a), out=t)
            np.add(t, xi, out=t)
            inside ^= cond & np.less(px, t, out=db)
            # cross = (xj-xi)*(py-yi) - (yj-yi)*(px-xi)
            np.subtract(py, yi, out=a)
            np.multiply(np.subtract(xj, xi, out=t), a, out=a)
            np.subtract(px, xi, out=t)
            np.multiply(np.subtract(yj, yi, out=b), t, out=b)
            np.subtract(a, b, out=a)  # a = cross
            within = (
                (px >= np.minimum(xi, xj)) & (px <= np.maximum(xi, xj))
                & (py >= np.minimum(yi, yj)) & (py <= np.maximum(yi, yj))
            )
            onedge |= np.equal(a, 0.0, out=cb) & within
            xj, yj = xi, yi
        return pd.Series(inside | onedge)

    return contains


# ----------------------------- the join ------------------------------

class PipIndex:
    """Prebuilt polygon index: resolution + collected rings. Build it
    once per polygon table and pass to repeated pip_join calls — the
    index build costs two tiny driver jobs (auto_res median + ring
    collect) that should not be paid per query."""

    def __init__(self, polygons: DataFrame, res: int | None = None, polygon_id_col: str = "polygon_id"):
        self.res = auto_res(polygons) if res is None else res
        self.ring_rows = [
            (
                r[0],
                np.array([p["lon"] for p in r[1]], dtype=np.float64),
                np.array([p["lat"] for p in r[1]], dtype=np.float64),
            )
            for r in polygons.select(polygon_id_col, "ring").collect()
        ]
        self.contains_udf = make_pip_closure_udf(self.ring_rows)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
    polygon_id_col: str = "polygon_id",
    broadcast_build: bool | None = None,
    salt: int | None = None,
    point_salt_col: str | None = None,
    index: PipIndex | None = None,
) -> DataFrame:
    """points ⋈ polygons on covering-cell equality + exact refinement.

    Returns points columns + ``polygon_id`` (inner join; points in no
    polygon drop out, points in several match several).

    ``salt=S`` replicates each build row S ways and buckets probe rows
    by ``pmod(xxhash64(point_salt_col), S)`` so a hot cell spreads
    over S shuffle partitions (use with broadcast_build=False; under
    broadcast there is no shuffle to skew).

    The candidate rows carry only polygon_id (narrow join output); the
    refinement UDF holds the padded ring matrices in its closure
    (``index``, built here when not given). An empty polygon table
    joins to zero rows.
    """
    if index is not None:
        res = index.res
    elif res is None:
        res = auto_res(polygons)
    build = polygon_cover(polygons, res)
    contains_udf = (index or PipIndex(polygons, res, polygon_id_col)).contains_udf
    probe = points.withColumn("cell_id", cells.cell_of(F.col(lat_col), F.col(lon_col), res))

    join_keys = ["cell_id"]
    if salt:
        skey = F.col(point_salt_col) if point_salt_col else F.col(lat_col)
        probe = probe.withColumn("_salt", F.pmod(F.xxhash64(skey), F.lit(salt)).cast("int"))
        build = build.withColumn("_salt", F.explode(F.lit(list(range(salt)))))
        join_keys = ["cell_id", "_salt"]

    if broadcast_build is True:
        build = F.broadcast(build)
    elif broadcast_build is False:
        build = build.hint("merge")

    cand = probe.join(build, on=join_keys, how="inner")
    refined = cand.filter(contains_udf(F.col(polygon_id_col), F.col(lat_col), F.col(lon_col)))
    return refined.drop(*join_keys)
