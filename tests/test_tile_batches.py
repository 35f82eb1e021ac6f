"""The per-tile executor's batch splitter: ``_tile_batches`` walks
``_tk``-sorted Arrow batches, splits them at tile boundaries, carries a
tile that straddles batches and flushes its output in bounded frames.
The first tests drive the pure generator on hand-cut pandas frames (no
JVM); the last one shrinks Spark's Arrow batches to 3 records and
checks the operators against their default-batch output."""

import numpy as np
import pandas as pd
import pytest

from fujishadergpu_spark.functions.tiles import TILE_PX
from fujishadergpu_spark.operators.tile_kernels import (
    _CORE_FLAG,
    _FLUSH_ROWS,
    _accumulate_grid,
    _tile_batches,
    pack_grid,
)

Z, HALO = 2, 3


def _emit(grid, tx, ty):
    return {"grid": pack_grid(grid)}


def _tile_rows(rng, tx, ty, n_core, n_halo=0, weighted=False):
    """Packed rows of one tile: n_core points owned by it, n_halo
    spill-ins from its left neighbour's last HALO pixel columns."""
    gx = np.concatenate([
        rng.integers(tx * TILE_PX, (tx + 1) * TILE_PX, n_core),
        rng.integers(tx * TILE_PX - HALO, tx * TILE_PX, n_halo) % ((1 << Z) * TILE_PX),
    ])
    gy = rng.integers(ty * TILE_PX, (ty + 1) * TILE_PX, n_core + n_halo)
    rows = {
        "_tk": np.full(n_core + n_halo, (tx << 32) + ty, dtype=np.int64),
        "_gk": (gx.astype(np.int64) << 32) + gy,
        _CORE_FLAG: np.arange(n_core + n_halo) < n_core,
    }
    if weighted:
        rows["w"] = rng.integers(1, 9, n_core + n_halo).astype(np.float64)
    return pd.DataFrame(rows)


def _cut(pdf, sizes):
    """Split a frame into consecutive batches of the given sizes (0 =
    an empty batch); the rest goes into one last batch."""
    out, at = [], 0
    for n in sizes:
        out.append(pdf.iloc[at : at + n])
        at += n
    return out + [pdf.iloc[at:]]


def _expected(pdf, weight_col=None, skip_empty_core=False):
    """One row per tile, computed tile by tile on the whole frame."""
    rows = []
    for tk, t in pdf.groupby("_tk", sort=True):
        if skip_empty_core and not t[_CORE_FLAG].any():
            continue
        tx, ty = int(tk) >> 32, int(tk) & 0xFFFFFFFF
        w = t[weight_col] if weight_col else None
        rows.append((Z, tx, ty, pack_grid(_accumulate_grid(t["_gk"], w, tx, ty, Z, HALO))))
    return rows


def _run(frames, weight_col=None, skip_empty_core=False):
    out = list(_tile_batches(iter(frames), Z, HALO, weight_col, _emit, np.float64, skip_empty_core))
    rows = [
        (int(r.z), int(r.x), int(r.y), r.grid) for f in out for r in f.itertuples(index=False)
    ]
    return out, rows


def test_tile_straddling_three_batches_is_one_row():
    rng = np.random.default_rng(0)
    pdf = pd.concat([
        _tile_rows(rng, 0, 1, 2),
        _tile_rows(rng, 1, 1, 10),  # rows 2..11: cut into 3 + 3 + 3 + 1
        _tile_rows(rng, 2, 3, 4),
    ], ignore_index=True)
    out, rows = _run(_cut(pdf, [4, 3, 3]))
    assert rows == _expected(pdf)
    assert [r[1:3] for r in rows] == [(0, 1), (1, 1), (2, 3)]
    assert all(len(f) for f in out)


def test_empty_batches_and_empty_partition():
    rng = np.random.default_rng(1)
    pdf = pd.concat([_tile_rows(rng, 0, 2, 3), _tile_rows(rng, 3, 0, 5)], ignore_index=True)
    empty = pdf.iloc[:0]
    frames = [empty] + _cut(pdf, [2, 0, 0, 4, 0]) + [empty]
    assert _run(frames)[1] == _expected(pdf)
    assert _run([]) == ([], [])
    assert _run([empty, empty]) == ([], [])


def test_skip_empty_core_drops_halo_only_tile():
    rng = np.random.default_rng(2)
    pdf = pd.concat([
        _tile_rows(rng, 1, 0, 3),
        _tile_rows(rng, 2, 0, 0, n_halo=4),  # halo spill-ins only, split across batches
        _tile_rows(rng, 3, 0, 1, n_halo=2),
    ], ignore_index=True)
    frames = _cut(pdf, [4, 2])
    kept = _run(frames, skip_empty_core=True)[1]
    assert [r[1:3] for r in kept] == [(1, 0), (3, 0)]
    assert kept == _expected(pdf, skip_empty_core=True)
    assert [r[1:3] for r in _run(frames)[1]] == [(1, 0), (2, 0), (3, 0)]


def test_weighted_path_is_order_free():
    rng = np.random.default_rng(3)
    pdf = pd.concat(
        [_tile_rows(rng, tx, 2, 7, n_halo=2, weighted=True) for tx in range(4)], ignore_index=True
    )
    rows = _run(_cut(pdf, [5, 5, 5]), weight_col="w")[1]
    assert rows == _expected(pdf, weight_col="w")
    # row order inside a tile cannot change a grid bit
    shuffled = pdf.sample(frac=1.0, random_state=4).sort_values("_tk", kind="stable")
    assert _run(_cut(shuffled, [3, 8]), weight_col="w")[1] == rows


def test_output_frames_bounded_by_flush_rows():
    n = 3 * _FLUSH_ROWS + 5
    pdf = pd.DataFrame({"_tk": np.arange(n), "_gk": np.zeros(n, np.int64), _CORE_FLAG: True})
    frames = _cut(pdf, [n - 2])
    out = list(_tile_batches(iter(frames), Z, HALO, None, lambda g, tx, ty: {"n": 0}))
    assert sum(map(len, out)) == n
    assert max(map(len, out)) <= _FLUSH_ROWS
    assert [len(f) for f in out[:3]] == [_FLUSH_ROWS] * 3


@pytest.mark.parametrize("op", ["census", "weighted", "stats"])
def test_tiny_arrow_batches_match_default(spark, points_df, op):
    """Three-record Arrow batches cut nearly every tile across batches;
    the rows must equal the default-batch output exactly."""
    from pyspark.sql import functions as F

    from fujishadergpu_spark.operators.tile_kernels import (
        tile_halo_census,
        tile_kernel_stats,
        tile_weighted_census,
    )

    weighted = points_df.withColumn("w", (F.col("id") % 7 + 1).cast("double"))
    df = {
        "census": lambda: tile_halo_census(points_df, 6, 3),
        "weighted": lambda: tile_weighted_census(weighted, 6, 3, "w"),
        "stats": lambda: tile_kernel_stats(points_df, 6),
    }[op]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = sorted(df().collect())
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        tiny = sorted(df().collect())
    finally:
        spark.conf.set(key, old)
    assert tiny == default
    assert len(default) > 10


def test_block_engine_across_small_arrow_batches(spark):
    """97-record Arrow batches cut dense and sparse tiles across
    batches; tile_kernel_stats (float32) and tile_kernel (float64),
    with and without metric_scale and a weight column, equal the
    NumPy kernel on the whole halo grids of rasterize_tiles."""
    from fujishadergpu_spark.operators.tile_kernels import (
        kernel_halo,
        np_hillshade,
        rasterize_tiles,
        tile_kernel,
        tile_kernel_stats,
        tile_pixel_scales,
        unpack_grid,
    )

    z = 6
    rng = np.random.default_rng(12)
    lat = np.concatenate([
        rng.uniform(-60.0, 60.0, 300),  # sparse tiles
        rng.uniform(32.0, 36.5, 2500),  # tile (56, 25) dense: the whole-grid route
        35.0 + rng.uniform(0.0, 0.05, 40),  # a cluster
    ])
    lon = np.concatenate([rng.uniform(-180.0, 180.0, 300), rng.uniform(135.05, 140.55, 2500), 139.0 + rng.uniform(0.0, 0.05, 40)])
    pts = spark.createDataFrame(
        [(i, float(a), float(b), (i % 7) * 0.5 - 0.25) for i, (a, b) in enumerate(zip(lat, lon))],
        "id long, lat double, lon double, w double",
    )
    h = kernel_halo("hillshade")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    for weight_col in (None, "w"):
        grids = {
            (r["x"], r["y"]): unpack_grid(r["grid"], TILE_PX + 2 * h)
            for r in rasterize_tiles(pts, z, h, weight_col).collect()
        }
        assert np.count_nonzero(grids[(56, 25)]) > 2000
        old = spark.conf.get(key)
        spark.conf.set(key, "97")
        try:
            for metric_scale in (False, True):
                stats = tile_kernel_stats(pts, z, weight_col=weight_col, metric_scale=metric_scale).collect()
                cores = tile_kernel(pts, z, weight_col=weight_col, metric_scale=metric_scale).collect()
                assert {(s["x"], s["y"]) for s in stats} == set(grids) == {(c["x"], c["y"]) for c in cores}
                for s, c in zip(stats, cores):
                    params = {"pixel_scale": tile_pixel_scales(c["y"], z)} if metric_scale else {}
                    with np.errstate(invalid="ignore", divide="ignore"):
                        core = np_hillshade(np.log1p(grids[(c["x"], c["y"])]), **params)[h:-h, h:-h]
                        core32 = np_hillshade(np.log1p(grids[(s["x"], s["y"])].astype(np.float32)), **params)[h:-h, h:-h]
                    assert np.array_equal(np.asarray(c["result"]), core.ravel(), equal_nan=True)
                    want = (float(core32.sum(dtype=np.float64)), float(core32.max()), int((core32 > 0.75).sum()))
                    got = (s["shade_sum"], s["shade_max"], s["lit_pixels"])
                    assert np.array_equal(np.array(got, float), np.array(want, float), equal_nan=True), (s, want)
        finally:
            spark.conf.set(key, old)
