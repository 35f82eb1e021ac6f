"""kNN via ring expansion over cell neighbors.

Mirrors the reference's small/large-radius split (reference
algorithms/common/spatial_mode.py:21-101 expands radii
[2,8,32,128,...] until coverage; large radii fall back to a coarse
overview, reference algorithms/_nan_utils.py:836-871): each query
point probes candidate points in its grid_disk(k) cell neighborhood,
k doubling per round, until the k-th neighbor distance is provably
inside the covered ring — then a bounded brute-force fallback mops up
the (rare) still-unfinished queries, the analog of the coarse-overview
escape hatch.

Correctness guarantee (SURVEY.md §7.3 hard part 2): with cell sizes
(dlon, dlat) = (360, 180)/2^res degrees, any point outside
grid_disk(k) of the query's cell is at planar distance
> (k-1)*min(dlon, dlat) = (k-1)*dlat. So once a query holds K
candidates whose K-th distance <= (k-1)*dlat, no point outside the
disk can displace them and the query is finished.

Distance is planar squared-euclidean in degrees — a deterministic
polynomial of the inputs, so Spark and the DuckDB oracle produce
bit-identical orderings (haversine's libm sin/cos may differ by ulps
across engines). ``haversine_m`` below is the metric used by
non-oracle paths that need metres.

The per-round join broadcasts the (small) exploded query side, so the
big points table is never shuffled — scan + broadcast-hash-join per
round, a handful of rounds. For query sets too big to broadcast the
same code runs as a shuffle join on cell_id (Catalyst's choice).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cells


def sq_dist_deg(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Planar squared distance in degrees² (deterministic; oracle-safe)."""
    return (lat1 - lat2) * (lat1 - lat2) + (lon1 - lon2) * (lon1 - lon2)


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle metres (WGS84 mean radius); for metric consumers."""
    r = 6371008.8
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp = p2 - p1
    dl = F.radians(lon2) - F.radians(lon1)
    a = F.sin(dp / 2) ** 2 + F.cos(p1) * F.cos(p2) * F.sin(dl / 2) ** 2
    return F.lit(2.0 * r) * F.asin(F.sqrt(a))


def ring_candidates(
    pending: DataFrame,
    pts: DataFrame,
    ring: int,
    res: int,
    broadcast_queries: bool,
    exclude_self: bool,
) -> DataFrame:
    """One round's candidate join: explode the query side to its
    grid_disk(ring) cells via sequence() (constant-size expression for
    any ring — a literal-unrolled disk would blow up codegen), then
    equi-join the points table on cell id. Lon wraps via pmod, lat
    rows clamp away."""
    n_cells = 1 << res
    qx, qy = cells.cell_x(F.col("_qcell")), cells.cell_y(F.col("_qcell"))
    probe = (
        pending.withColumn("_jx", F.explode(F.sequence(qx - ring, qx + ring)))
        .withColumn("_jy", F.explode(F.sequence(qy - ring, qy + ring)))
        .filter((F.col("_jy") >= 0) & (F.col("_jy") < n_cells))
        .withColumn("_jx", F.pmod("_jx", F.lit(n_cells)))
    )
    return _join_cells(probe, pts, res, broadcast_queries, exclude_self)


def _join_cells(probe, pts, res, broadcast_queries, exclude_self):
    """Candidate tail shared by the ring rounds and the terminal
    full-grid level: the probe's (_jx, _jy) cells equi-join the points
    table on cell id, self pairs drop, each candidate gets ``_dist``.
    The probe side broadcasts, so the big points table is scanned,
    never shuffled."""
    probe = probe.withColumn(
        "_jcell",
        F.lit(res << cells.RES_SHIFT).cast("long")
        + F.shiftleft(F.col("_jx").cast("long"), cells.X_SHIFT)
        + F.col("_jy"),
    ).drop("_jx", "_jy")
    if broadcast_queries:
        probe = F.broadcast(probe)
    cand = probe.join(pts, probe["_jcell"] == pts["_ncell"], "inner")
    if exclude_self:
        cand = cand.filter(F.col("_nid") != F.col("_qid"))
    return cand.withColumn(
        "_dist", sq_dist_deg(F.col("_qlat"), F.col("_qlon"), F.col("_nlat"), F.col("_nlon"))
    )


def _top_k(cand: DataFrame, w, k: int) -> DataFrame:
    return (
        cand.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= k)
        .select("_qid", "_qlat", "_qlon", "_qcell", "_nid", "_dist", "_rank")
    )


def knn(
    points: DataFrame,
    queries: DataFrame,
    k: int = 5,
    res: int = 7,
    point_id: str = "id",
    query_id: str = "qid",
    lat_col: str = "lat",
    lon_col: str = "lon",
    k0: int = 4,  # finishing needs the kth hit inside ring-1, so a ring
    # of 2 only closes queries with all k neighbors in the adjacent
    # cell; starting at 4 saves a round (and its driver sync) for
    # typical densities — measured 1.8x on the sf0.1 suite
    max_rounds: int = 5,
    exclude_self: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-k nearest points per query → (query_id, neighbor_id, rank,
    dist_sq_deg). Ties broken by neighbor id (deterministic).

    ``exclude_self`` drops candidates whose point_id equals the
    query_id (self-kNN over one table).
    """
    if res < 2:
        # at a 2x2 grid a ring of 1 wraps onto itself (duplicate
        # candidates would corrupt row_number); res 2 is the terminal
        # full-enumeration level anyway
        raise ValueError("knn requires res >= 2")
    dlat_deg = 180.0 / float(1 << res)

    pts = points.select(
        F.col(point_id).alias("_nid"),
        F.col(lat_col).alias("_nlat"),
        F.col(lon_col).alias("_nlon"),
        cells.cell_of(F.col(lat_col), F.col(lon_col), res).alias("_ncell"),
    )
    pending = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(lat_col).alias("_qlat"),
        F.col(lon_col).alias("_qlon"),
        cells.cell_of(F.col(lat_col), F.col(lon_col), res).alias("_qcell"),
    )

    finished_parts: list[DataFrame] = []
    # keep 2*ring+1 <= n_cells so wrapped lon columns never collide
    # (a collision would duplicate candidates and corrupt row_number)
    ring = min(k0, max(1, (1 << res) // 2 - 1))
    w = Window.partitionBy("_qid").orderBy("_dist", "_nid")
    n_cells = 1 << res

    for _ in range(max_rounds):
        cand = ring_candidates(pending, pts, ring, res, broadcast_queries, exclude_self)
        # materialize once: the per-round result is tiny (<= |q|*k
        # rows) and is consumed twice (done-check + final union) —
        # without this the final action would recompute every round's
        # join
        topk = _top_k(cand, w, k).localCheckpoint()
        # a query is done when it has k hits and the kth is inside the
        # guaranteed-covered radius (k-1)*dlat
        bound = ((ring - 1) * dlat_deg) ** 2
        per_q = topk.groupBy("_qid").agg(
            F.count("*").alias("_c"), F.max("_dist").alias("_kth")
        )
        done_q = per_q.filter((F.col("_c") == k) & (F.col("_kth") <= F.lit(bound))).select("_qid")
        finished_parts.append(topk.join(done_q, "_qid", "left_semi"))
        # localCheckpoint truncates the per-round plan lineage so round
        # r+1 does not recompute rounds 1..r (the query-state DF is
        # small by construction; candidates/points are never persisted)
        pending = pending.join(done_q, "_qid", "left_anti").localCheckpoint()
        # cheap emptiness probe per round (scalar, not data collect)
        if pending.isEmpty():
            pending = None
            break
        ring *= 2
        if ring >= n_cells // 2:
            break  # disk would cover the whole grid: brute-force the rest
    if pending is not None and not pending.isEmpty():
        if res > 2:
            # coarse-LOD fallback: restart ring expansion on a 4x
            # coarser grid (each ring covers 16x the area, so sparse
            # regions finish in a couple of rounds) — the reference's
            # probe-the-overview escape hatch
            # (reference algorithms/_nan_utils.py:836-871), with cell
            # pruning intact instead of a crossJoin over all points.
            coarse = knn(
                points, pending.select(
                    F.col("_qid").alias(query_id),
                    F.col("_qlat").alias(lat_col),
                    F.col("_qlon").alias(lon_col),
                ),
                k=k, res=max(2, res - 2), point_id=point_id, query_id=query_id,
                lat_col=lat_col, lon_col=lon_col, k0=k0,
                max_rounds=max_rounds, exclude_self=exclude_self,
                broadcast_queries=broadcast_queries,
            )
            finished_parts.append(coarse.select(
                F.col(query_id).alias("_qid"),
                F.lit(0.0).alias("_qlat"), F.lit(0.0).alias("_qlon"),
                F.lit(0).cast("long").alias("_qcell"),
                F.col("neighbor_id").alias("_nid"),
                F.col("dist_sq_deg").alias("_dist"),
                F.col("rank").alias("_rank"),
            ))
        else:
            # terminal level (<= 4x4 grid): enumerate EVERY cell once
            # via sequence() and equi-join — exact top-k with the same
            # hash-join shape as the ring rounds; no CartesianProduct /
            # BroadcastNestedLoopJoin node ever enters the plan
            every = F.explode(F.sequence(F.lit(0), F.lit(n_cells - 1)))
            probe = pending.withColumn("_jx", every).withColumn("_jy", every)
            cand = _join_cells(probe, pts, res, broadcast_queries, exclude_self)
            finished_parts.append(_top_k(cand, w, k))

    out = finished_parts[0]
    for part in finished_parts[1:]:
        out = out.unionByName(part)
    return out.select(
        F.col("_qid").alias(query_id),
        F.col("_nid").alias("neighbor_id"),
        F.col("_rank").alias("rank"),
        F.col("_dist").alias("dist_sq_deg"),
    )
