"""Seeded inputs and independent reference answers for the benchmark.

Nothing here touches Spark. ``make_pages`` writes a pages parquet with
the schema and coordinate encoding of ``sources.pages`` (url with
``lat=/lon=/mlat=/mlon=``, text with ``near (lat, lon)``): 80% of points
cluster around the fixture's city centres, 20% are uniform over the
fixture bbox. The NumPy references below (XXH64 digest, brute-force
ray cast, tile census) check the engine's outputs without running any
engine code path.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------- page generation ---------------------------


def make_pages(path: str, n: int, seed: int, bbox: float, city_lat, city_lon,
               city_sigma: float, n_domains: int = 1000) -> dict:
    """Write ``n`` pages to ``path`` (one parquet file); return the
    integer coordinates the references need: ``id`` and micro-degree
    ``mlat``/``mlon`` (1e-5 degree units, as ``sources.pages``)."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    clustered = rng.random(n) < 0.8
    city = rng.integers(0, len(city_lat), n)
    g = rng.standard_normal((2, n))
    lat = np.where(clustered, np.asarray(city_lat)[city] + g[0] * city_sigma,
                   rng.uniform(-bbox, bbox, n))
    lon = np.where(clustered, np.asarray(city_lon)[city] + g[1] * city_sigma,
                   rng.uniform(-bbox, bbox, n))
    mlat = np.round(lat * 100000.0).astype(np.int64)
    mlon = np.round(lon * 100000.0).astype(np.int64)
    drank = np.floor(rng.random(n) ** 3 * n_domains).astype(np.int64)
    langs = np.array(["en", "ja", "de", "fr", "es"])[rng.integers(0, 5, n)]
    ts = 1767225600 + rng.integers(0, 30 * 86400, n)  # 2026-01-01 UTC + 30 days

    url, text, html = [], [], []
    for i, a, b, d, lg in zip(ids.tolist(), mlat.tolist(), mlon.tolist(),
                              drank.tolist(), langs.tolist()):
        la, lo = f"{a / 100000.0:.5f}", f"{b / 100000.0:.5f}"
        t = f"page {i} near ({la}, {lo}) in {lg}"
        text.append(t)
        url.append(f"https://www.site{d:04d}.example/p/{i}?lat={la}&lon={lo}&mlat={a}&mlon={b}&id={i}")
        html.append(f"<html><head><title>p{i}</title></head><body><p>{t}</p></body></html>".encode())
    table = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    # 64 row groups: the scan can split into many small tasks
    pq.write_table(table, os.path.join(path, "part-0.parquet"), row_group_size=max(1, n // 64))
    return {"id": ids, "mlat": mlat, "mlon": mlon}


# ------------------------------- XXH64 -------------------------------
# Spark's xxhash64(c1, c2, ...) over bigint columns: seed 42, each
# column hashed with the previous result as seed (XXH64.hashLong).

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _hash_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(8)
        h ^= _rotl(v * _P2, 31) * _P1
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def xxhash64_longs(*cols: np.ndarray) -> np.ndarray:
    """Row-wise Spark ``xxhash64`` of bigint columns, as uint64."""
    h = np.full(len(cols[0]), 42, dtype=np.uint64)
    for c in cols:
        h = _hash_long(np.asarray(c, dtype=np.int64).view(np.uint64), h)
    return h


def digest(*cols: np.ndarray) -> list[int]:
    """Order-independent digest [row count, sum of xxhash64 mod 2^64]."""
    if len(cols[0]) == 0:
        return [0, 0]
    return [int(len(cols[0])), int(xxhash64_longs(*cols).sum(dtype=np.uint64))]


# ------------------------ brute-force PIP join ------------------------


def _raycast(px, py, rx, ry):
    """Boundary-inclusive even-odd ray cast of points against one ring."""
    inside = np.zeros(px.shape, bool)
    onedge = np.zeros(px.shape, bool)
    j = len(rx) - 1
    for i in range(len(rx)):
        xi, yi, xj, yj = rx[i], ry[i], rx[j], ry[j]
        cond = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(cond, (xj - xi) * (py - yi) / (yj - yi) + xi, 0.0)
        inside ^= cond & (px < t)
        cross = (xj - xi) * (py - yi) - (yj - yi) * (px - xi)
        onedge |= (cross == 0.0) & (px >= min(xi, xj)) & (px <= max(xi, xj)) \
            & (py >= min(yi, yj)) & (py <= max(yi, yj))
        j = i
    return inside | onedge


def pip_pairs(pts: dict, polygon_rows) -> tuple[np.ndarray, np.ndarray]:
    """All (id, polygon_id) with the point inside the ring: bbox
    prefilter over lon-sorted points, then an exact ray cast."""
    lat = pts["mlat"] / 100000.0
    lon = pts["mlon"] / 100000.0
    order = np.argsort(lon, kind="stable")
    slon, slat, sid = lon[order], lat[order], pts["id"][order]
    out_id, out_pid = [], []
    for pid, _, _, ring in polygon_rows:
        rx = np.array([p[0] for p in ring], dtype=np.float64)
        ry = np.array([p[1] for p in ring], dtype=np.float64)
        lo = np.searchsorted(slon, rx.min(), side="left")
        hi = np.searchsorted(slon, rx.max(), side="right")
        sel = np.arange(lo, hi)
        sel = sel[(slat[sel] >= ry.min()) & (slat[sel] <= ry.max())]
        hit = sel[_raycast(slon[sel], slat[sel], rx, ry)]
        out_id.append(sid[hit])
        out_pid.append(np.full(len(hit), pid, dtype=np.int64))
    return np.concatenate(out_id), np.concatenate(out_pid)


# --------------------------- tile census ---------------------------


MERC_LAT_MAX = 85.05112878  # WebMercator latitude limit
TILE_PX = 256


def tile_keys(pts: dict, z: int, halo: int) -> tuple[np.ndarray, np.ndarray]:
    """(x, y) of every XYZ tile whose halo-expanded window holds a
    point: the tiles a per-tile kernel must emit."""
    lat = np.clip(pts["mlat"] / 100000.0, -MERC_LAT_MAX, MERC_LAT_MAX)
    lon = pts["mlon"] / 100000.0
    n_tiles = 1 << z
    n_px = n_tiles * TILE_PX
    lat_rad = np.radians(lat)
    xn = (lon + 180.0) / 360.0
    yn = (1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / math.pi) / 2.0
    gx = np.clip(np.floor(xn * n_px), 0, n_px - 1).astype(np.int64)
    gy = np.clip(np.floor(yn * n_px), 0, n_px - 1).astype(np.int64)
    tx, ty = gx >> 8, gy >> 8
    px, py = gx & 255, gy & 255
    keys = []
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            m = np.ones(len(gx), bool)
            if dx:
                m &= (px < halo) if dx < 0 else (px >= TILE_PX - halo)
            if dy:
                m &= (py < halo) if dy < 0 else (py >= TILE_PX - halo)
            nty = ty + dy
            m &= (nty >= 0) & (nty < n_tiles)
            keys.append((np.mod(tx[m] + dx, n_tiles) << 32) + nty[m])
    k = np.unique(np.concatenate(keys))
    return k >> 32, k & 0xFFFFFFFF
