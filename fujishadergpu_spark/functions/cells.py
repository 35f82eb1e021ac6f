"""Hierarchical geo cell index (H3/S2-style) on an int64 quadtree.

The engine's discrete global grid: a lon/lat quadtree where resolution
``res`` splits the world into ``2^res x 2^res`` cells
(dlon = 360/2^res degrees, dlat = 180/2^res degrees). A cell id packs
``(res, x, y)`` into one int64::

    cell_id = (res << 58) | (x << 29) | y        # x, y < 2^29, res <= 28

This mirrors the reference's tile id ``(ty, tx)`` + window model
(reference core/tile_processor.py:1613-1626) and plays the role H3/S2
plays in BASELINE.json: parents (LOD pyramid, reference
overview pyramid algorithms/_nan_utils.py:836-871), grid_disk(k) ring
neighborhoods (halo exchange / kNN ring expansion, reference
map_overlap depth), all computable in closed form.

Two implementations, test-enforced equal (the reference enforces
backend parity the same way, tests/test_registry_cli_sync.py:10-30):

1. **Column expressions** — pure pyspark.sql.functions; stays inside
   whole-stage codegen, and is mirrored 1:1 in DuckDB oracle SQL.
2. **Arrow pandas UDFs** — the BASELINE.json-mandated "batched cell
   IDs via Arrow-vectorized pandas UDFs" path; NumPy, no per-row
   Python. Drop-in slot for a real `h3` wheel behind the same
   signature.

Longitude wraps (x mod 2^res); latitude clamps to the valid y range.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

RES_SHIFT = 58
X_SHIFT = 29
XY_MASK = (1 << 29) - 1


# --------------------------------------------------------------------
# closed-form scalar math (NumPy; shared by the pandas-UDF path and by
# driver-side planning such as polygon covering in operators.pip_join)
# --------------------------------------------------------------------

def np_cell_xy(lat: np.ndarray, lon: np.ndarray, res: int):
    """Vectorized (x, y) cell coordinates. Wraps lon, clamps lat."""
    n = np.int64(1) << res
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((np.asarray(lat, dtype=np.float64) + 90.0) / 180.0 * n).astype(np.int64)
    x = np.mod(x, n)
    y = np.clip(y, 0, n - 1)
    return x, y


def np_cell(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    x, y = np_cell_xy(lat, lon, res)
    return (np.int64(res) << RES_SHIFT) | (x << X_SHIFT) | y


def np_cell_decode(cell: np.ndarray):
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> RES_SHIFT
    x = (cell >> X_SHIFT) & XY_MASK
    y = cell & XY_MASK
    return res, x, y


def np_parent(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    res, x, y = np_cell_decode(cell)
    return ((res - steps) << RES_SHIFT) | ((x >> steps) << X_SHIFT) | (y >> steps)


def np_grid_disk(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev ring k, shape (n, (2k+1)^2).

    Lon wraps; lat rows outside [0, 2^res) are marked -1 (caller
    filters). This is the halo/kNN neighborhood — the engine's
    ``map_overlap(depth=k)`` analog.
    """
    res, x, y = np_cell_decode(np.atleast_1d(cell))
    n = np.int64(1) << res[:, None]
    d = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(d, d, indexing="ij")
    dx = dx.ravel()[None, :]
    dy = dy.ravel()[None, :]
    nx = np.mod(x[:, None] + dx, n)
    ny = y[:, None] + dy
    out = (res[:, None] << RES_SHIFT) | (nx << X_SHIFT) | ny
    out = np.where((ny >= 0) & (ny < n), out, np.int64(-1))
    return out


def cell_size_deg(res: int) -> tuple[float, float]:
    """(dlon, dlat) in degrees at ``res``; dlat is the smaller side."""
    n = float(1 << res)
    return 360.0 / n, 180.0 / n


# --------------------------------------------------------------------
# column-expression implementation (JVM-side, codegen, oracle-mirrored)
# --------------------------------------------------------------------

def cell_of(lat: Column, lon: Column, res: int) -> Column:
    """cell_id column expression. Mirrors np_cell exactly.

    Kept as plain arithmetic (floor/pmod/shiftleft) so the identical
    expression is writable in ANSI SQL for the DuckDB oracle — see
    cell_of_sql below.
    """
    n = 1 << res
    x = F.pmod(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))), F.lit(n))
    y = F.greatest(
        F.lit(0),
        F.least(F.lit(n - 1), F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))),
    )
    return (
        F.lit(res << RES_SHIFT).cast(LongType())
        + F.shiftleft(x.cast(LongType()), X_SHIFT)
        + y.cast(LongType())
    )


def cell_of_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """ANSI-SQL twin of cell_of (same op order → identical doubles),
    runnable by both Spark SQL and DuckDB. Used by oracle_sql()."""
    n = 1 << res
    x = f"CAST(floor(({lon_expr} + 180.0) / 360.0 * {float(n)}) AS BIGINT) % {n}"
    x = f"((({x}) + {n}) % {n})"  # pmod
    y = f"greatest(0, least({n - 1}, CAST(floor(({lat_expr} + 90.0) / 180.0 * {float(n)}) AS BIGINT)))"
    return f"(CAST({res << RES_SHIFT} AS BIGINT) + ({x}) * {1 << X_SHIFT} + ({y}))"


def cell_res(cell: Column) -> Column:
    return F.shiftright(cell, RES_SHIFT)


def cell_x(cell: Column) -> Column:
    return F.shiftright(cell, X_SHIFT).bitwiseAND(F.lit(XY_MASK))


def cell_y(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(XY_MASK))


def cell_parent(cell: Column, steps: int = 1) -> Column:
    return (
        F.shiftleft(cell_res(cell) - steps, RES_SHIFT)
        + F.shiftleft(F.shiftright(cell_x(cell), steps), X_SHIFT)
        + F.shiftright(cell_y(cell), steps)
    )


def grid_disk(cell: Column, k: int, res: int) -> Column:
    """Array column of all cells within Chebyshev ring k (halo ring).

    k and res are plan-time constants (like the reference's
    per-algorithm halo depth, reference core/tile_processor.py:207-383)
    so the array unrolls statically and stays inside codegen; lon
    wraps, lat out-of-range entries are dropped by the filter().
    """
    n = 1 << res
    x = cell_x(cell)
    y = cell_y(cell)
    base = F.lit(res << RES_SHIFT).cast(LongType())
    members = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            nx = F.pmod(x + dx, F.lit(n))
            ny = y + dy
            cid = base + F.shiftleft(nx, X_SHIFT) + ny
            members.append(F.when((ny >= 0) & (ny < n), cid))
    return F.filter(F.array(*members), lambda c: c.isNotNull())


# --------------------------------------------------------------------
# Arrow pandas-UDF implementation (the BASELINE-mandated batch path)
# --------------------------------------------------------------------

def make_cell_udf(res: int):
    """Series->Series Arrow UDF: (lat, lon) -> cell_id at ``res``.

    If a real `h3` wheel is present it could be swapped in here behind
    the same signature; the quadtree is the canonical scheme in this
    sandbox (no h3/s2 wheels available).
    """

    @pandas_udf(LongType())
    def cell_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        out = np_cell(lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64), res)
        return pd.Series(out)

    return cell_udf
