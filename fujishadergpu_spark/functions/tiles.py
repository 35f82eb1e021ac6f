"""WebMercator XYZ tile assignment (raster<->vector bridge).

Mirrors the reference's tiling grid: the reference cuts one raster into
a regular (ty, tx) grid of 256-px core tiles with halo windows
(reference core/tile_processor.py:1609-1627); here the grid is the
standard slippy-map XYZ pyramid and each point lands in tile
(z, x, y) at pixel (px, py) within the 256x256 tile.

All math is plain column arithmetic (floor / ln / tan) so it is
(1) JVM-side / codegen'd and (2) mirrored 1:1 in DuckDB oracle SQL.
A NumPy twin serves the per-tile kernels in operators.tile_kernels.

Latitude is clamped to the WebMercator limit ±85.05112878 like every
slippy-map implementation.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

TILE_PX = 256  # reference tile core size (core/tile_processor.py:1609)
MERC_LAT_MAX = 85.05112878


def _clamp_lat(lat: Column) -> Column:
    return F.greatest(F.lit(-MERC_LAT_MAX), F.least(F.lit(MERC_LAT_MAX), lat))


def merc_xy_norm(lat: Column, lon: Column) -> tuple[Column, Column]:
    """Normalized WebMercator coordinates in [0, 1) x [0, 1)."""
    latc = _clamp_lat(lat)
    xn = (lon + F.lit(180.0)) / F.lit(360.0)
    lat_rad = F.radians(latc)
    yn = (
        F.lit(1.0)
        - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad)) / F.lit(math.pi)
    ) / F.lit(2.0)
    return xn, yn


def tile_xy(lat: Column, lon: Column, z: int) -> tuple[Column, Column]:
    """(x, y) tile indices at zoom z."""
    n = float(1 << z)
    xn, yn = merc_xy_norm(lat, lon)
    x = F.least(F.lit((1 << z) - 1), F.greatest(F.lit(0), F.floor(xn * F.lit(n))))
    y = F.least(F.lit((1 << z) - 1), F.greatest(F.lit(0), F.floor(yn * F.lit(n))))
    return x.cast("long"), y.cast("long")


def global_pixel(lat: Column, lon: Column, z: int) -> tuple[Column, Column]:
    """(gx, gy): clamped world pixel at zoom z (tile g >> 8, pixel g & 255)."""
    n_px = (1 << z) * TILE_PX
    xn, yn = merc_xy_norm(lat, lon)
    gx = F.least(F.lit(n_px - 1), F.greatest(F.lit(0), F.floor(xn * F.lit(float(n_px))))).cast("long")
    gy = F.least(F.lit(n_px - 1), F.greatest(F.lit(0), F.floor(yn * F.lit(float(n_px))))).cast("long")
    return gx, gy


def tile_pixel(lat: Column, lon: Column, z: int) -> tuple[Column, Column, Column, Column]:
    """(x, y, px, py): tile indices + pixel position within the tile."""
    gx, gy = global_pixel(lat, lon, z)
    return F.shiftright(gx, 8), F.shiftright(gy, 8), gx.bitwiseAND(F.lit(255)), gy.bitwiseAND(F.lit(255))


def tile_xy_sql(lat_expr: str, lon_expr: str, z: int) -> tuple[str, str]:
    """DuckDB/ANSI-SQL twin of tile_xy (identical op order)."""
    n = float(1 << z)
    nmax = (1 << z) - 1
    latc = f"greatest(-{MERC_LAT_MAX}, least({MERC_LAT_MAX}, {lat_expr}))"
    xn = f"(({lon_expr} + 180.0) / 360.0)"
    yn = f"((1.0 - ln(tan(radians({latc})) + 1.0 / cos(radians({latc}))) / pi()) / 2.0)"
    x = f"least({nmax}, greatest(0, CAST(floor({xn} * {n}) AS BIGINT)))"
    y = f"least({nmax}, greatest(0, CAST(floor({yn} * {n}) AS BIGINT)))"
    return x, y


# ---------------------------- NumPy twin ----------------------------

def np_tile_pixel(lat: np.ndarray, lon: np.ndarray, z: int):
    """(x, y, px, py) arrays; used inside per-tile kernels."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERC_LAT_MAX, MERC_LAT_MAX)
    lon = np.asarray(lon, dtype=np.float64)
    n = float((1 << z) * TILE_PX)
    xn = (lon + 180.0) / 360.0
    lat_rad = np.radians(lat)
    yn = (1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / math.pi) / 2.0
    gx = np.clip(np.floor(xn * n), 0, n - 1).astype(np.int64)
    gy = np.clip(np.floor(yn * n), 0, n - 1).astype(np.int64)
    return gx >> 8, gy >> 8, gx & 255, gy & 255
