"""Shared spatial-mode policy + geodesy helpers.

- auto radii/weights: the deterministic DEM-size-aware rule every
  spatial-capable algorithm shares (reference
  algorithms/common/spatial_mode.py:21-101): geometric radii
  [2, 8, 32, 128, 512, 2048] truncated to min(short_side/10, 2048),
  2^n near-weighted weights normalized to 1.
- meters_per_degree: the WGS84 series expansion (reference
  io/raster_info.py:13-35) — the single conversion shared by every
  metre-radius consumer so conversions cannot drift between code
  paths (the naive 111320*cos(lat) deviates 0.1-0.7%/axis).
"""

from __future__ import annotations

import math

AUTO_RADII_SEQUENCE: tuple[int, ...] = (2, 8, 32, 128, 512, 2048)
AUTO_RADIUS_MAX: int = 2048


def auto_spatial_radii(short_side_px: float | None) -> list[int]:
    """Geometric radii truncated to min(short_side/10, 2048) px; at
    least one radius survives."""
    if short_side_px is None:
        limit = float(AUTO_RADIUS_MAX)
    else:
        limit = min(float(AUTO_RADIUS_MAX), float(short_side_px) / 10.0)
    radii = [r for r in AUTO_RADII_SEQUENCE if float(r) <= limit]
    return radii or [AUTO_RADII_SEQUENCE[0]]


def auto_spatial_weights(n: int) -> list[float]:
    """2^(n-1..0) normalized to sum 1 (nearer radii weigh more)."""
    if n <= 0:
        return []
    raw = [2.0 ** (n - 1 - i) for i in range(n)]
    total = sum(raw)
    return [w / total for w in raw]


def auto_spatial_profile(
    short_side_px: float | None, radii: list[int] | None = None
) -> tuple[list[int], list[float]]:
    """(radii, weights): given radii pass through (weights follow
    their count); otherwise size-aware auto radii."""
    if radii is None:
        radii = auto_spatial_radii(short_side_px)
    else:
        radii = [int(round(float(r))) for r in radii]
    return radii, auto_spatial_weights(len(radii))


def meters_per_degree(lat_deg: float) -> tuple[float, float]:
    """(m/deg longitude, m/deg latitude) at a latitude — WGS84 series."""
    lat = math.radians(float(lat_deg))
    m_lat = (
        111132.92
        - 559.82 * math.cos(2.0 * lat)
        + 1.175 * math.cos(4.0 * lat)
        - 0.0023 * math.cos(6.0 * lat)
    )
    m_lon = (
        111412.84 * math.cos(lat)
        - 93.5 * math.cos(3.0 * lat)
        + 0.118 * math.cos(5.0 * lat)
    )
    return max(1e-6, float(m_lon)), float(m_lat)

