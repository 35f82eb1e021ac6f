"""NumPy filter primitives for the per-tile stencil kernels.

The reference's stencil algorithms are built on cupyx.scipy.ndimage
(gaussian_filter incl. derivative orders, uniform_filter,
median_filter, map_coordinates, convolve) — none of which exist in
this environment (no scipy). This module re-implements the needed
subset on plain NumPy, with scipy-compatible semantics where the
reference depends on them:

- gaussian taps are the sampled gaussian normalized to sum 1, radius
  ``int(4*sigma + 0.5)`` (scipy truncate=4.0 default);
- derivative orders use the exact polynomial-times-gaussian
  construction (scipy.ndimage._filters._gaussian_kernel1d), so
  ``gaussian_filter(ramp, order=(0,1))`` returns the ramp slope;
- separable filtering is a vectorized tap loop over shifted padded
  slices — O(taps) full-array FMAs, no Python per-pixel work.

NaN-aware wrappers mirror the reference's valid-weighted scheme
(reference algorithms/_nan_utils.py:18-47): smooth value*valid and
valid separately, divide. They early-out when the block is NaN-free,
which is the common case here (rasterized count grids have no NoData).

All functions are deterministic and position-independent, so a kernel
composed from them is bit-identical between the tiled (halo-expanded)
and the whole-world evaluation on every core pixel — the seam-free
invariant the tile tests enforce.
"""

from __future__ import annotations

import numpy as np

_PAD_MODE = {"nearest": "edge", "constant": "constant", "reflect": "symmetric", "mirror": "reflect"}


def gaussian_kernel1d(sigma: float, order: int = 0, radius: int | None = None) -> np.ndarray:
    """1-D gaussian (or gaussian-derivative) taps, scipy-compatible."""
    sigma = float(sigma)
    if radius is None:
        radius = int(4.0 * sigma + 0.5)
    radius = max(int(radius), 1)
    x = np.arange(-radius, radius + 1, dtype=np.float64)
    phi = np.exp(-0.5 / (sigma * sigma) * x * x)
    phi /= phi.sum()
    if order == 0:
        return phi
    # q(x)*phi(x) with q built by the derivative recursion
    # q' + q*p' where p'(x) = -x/sigma^2
    exponent_range = np.arange(order + 1)
    q = np.zeros(order + 1)
    q[0] = 1.0
    D = np.diag(exponent_range[1:].astype(np.float64), 1)
    P = np.diag(np.ones(order) / -(sigma * sigma), -1)
    Q_deriv = D + P
    for _ in range(order):
        q = Q_deriv.dot(q)
    q = (x[:, None] ** exponent_range).dot(q)
    return q * phi


def filter1d(a: np.ndarray, taps: np.ndarray, axis: int, mode: str = "nearest",
             cval: float = 0.0) -> np.ndarray:
    """Correlate `a` along `axis` with `taps` (scipy correlate1d
    convention, as used by gaussian_filter: weights applied reversed)."""
    k = np.asarray(taps, dtype=np.float64)[::-1]
    r = len(k) // 2
    pad = [(0, 0)] * a.ndim
    pad[axis] = (r, r)
    kw = {"mode": _PAD_MODE[mode]}
    if mode == "constant":
        kw["constant_values"] = cval
    ap = np.pad(a, pad, **kw)
    out = np.zeros(a.shape, dtype=np.float64)
    n = a.shape[axis]
    sl = [slice(None)] * a.ndim
    for j, kj in enumerate(k):
        if kj == 0.0:
            continue
        sl[axis] = slice(j, j + n)
        out += kj * ap[tuple(sl)]
    return out


def gaussian_filter(a: np.ndarray, sigma: float, order=(0, 0), mode: str = "nearest") -> np.ndarray:
    """Separable 2-D gaussian filter with per-axis derivative orders
    (order = (order_y, order_x), scipy axis convention)."""
    oy, ox = (order, order) if np.isscalar(order) else order
    out = filter1d(np.asarray(a, dtype=np.float64), gaussian_kernel1d(sigma, oy), 0, mode)
    return filter1d(out, gaussian_kernel1d(sigma, ox), 1, mode)


def uniform_filter(a: np.ndarray, size: int, mode: str = "nearest") -> np.ndarray:
    """(size x size) box mean (scipy uniform_filter semantics: window
    centered, for even sizes shifted left/up by half a pixel)."""
    size = int(size)
    taps = np.full(size, 1.0 / size)
    # scipy centers even windows at index size//2 (one extra tap on the
    # left of center after the reversal) — emulate by asymmetric pad
    if size % 2 == 1:
        out = filter1d(np.asarray(a, dtype=np.float64), taps, 0, mode)
        return filter1d(out, taps, 1, mode)
    lo, hi = size // 2, size - 1 - size // 2
    out = np.asarray(a, dtype=np.float64)
    for axis in (0, 1):
        pad = [(0, 0), (0, 0)]
        pad[axis] = (lo, hi)
        kw = {"mode": _PAD_MODE[mode]}
        if mode == "constant":
            kw["constant_values"] = 0.0
        ap = np.pad(out, pad, **kw)
        acc = np.zeros(out.shape, dtype=np.float64)
        n = out.shape[axis]
        sl = [slice(None), slice(None)]
        for j in range(size):
            sl[axis] = slice(j, j + n)
            acc += ap[tuple(sl)]
        out = acc / size
    return out


def convolve2d(a: np.ndarray, kernel: np.ndarray, mode: str = "nearest") -> np.ndarray:
    """Small-kernel 2-D convolution (scipy.ndimage.convolve semantics:
    kernel flipped) via shifted-slice accumulation."""
    k = np.asarray(kernel, dtype=np.float64)[::-1, ::-1]
    ry, rx = k.shape[0] // 2, k.shape[1] // 2
    ap = np.pad(np.asarray(a, dtype=np.float64), ((ry, ry), (rx, rx)), mode=_PAD_MODE[mode])
    h, w = a.shape
    out = np.zeros((h, w), dtype=np.float64)
    for i in range(k.shape[0]):
        for j in range(k.shape[1]):
            if k[i, j] != 0.0:
                out += k[i, j] * ap[i : i + h, j : j + w]
    return out


def median3x3(a: np.ndarray, mode: str = "nearest") -> np.ndarray:
    """3x3 median (the reference's despeckle median_filter size=3)."""
    ap = np.pad(np.asarray(a, dtype=np.float64), 1, mode=_PAD_MODE[mode])
    h, w = a.shape
    stack = np.empty((9, h, w), dtype=np.float64)
    n = 0
    for i in range(3):
        for j in range(3):
            stack[n] = ap[i : i + h, j : j + w]
            n += 1
    return np.median(stack, axis=0)


def bilinear_axis(c: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """One axis of a clamped bilinear sample on an axis of length n:
    (i0, frac) with the coordinate clamped to [0, n-1] and i0 <= n-2,
    so taps i0 and i0+1 both exist (i0 = 0 when n == 1)."""
    cc = np.clip(c, 0.0, n - 1.0)
    i0 = np.minimum(cc.astype(np.int64), n - 2) if n > 1 else np.zeros_like(cc, dtype=np.int64)
    return i0, cc - i0


def bilinear_taps(img: np.ndarray, y0, fy, x0, fx) -> np.ndarray:
    """The 4-tap bilinear blend at (y0 + fy, x0 + fx); the arguments
    broadcast against each other (per-axis vectors as [:, None] and
    [None, :] give a separable grid). Indices are into ``img``, which
    may be a patch of a larger image as long as it holds both taps."""
    h, w = img.shape
    tl = img[y0, x0]
    tr = img[y0, x0 + 1] if w > 1 else tl
    bl = img[y0 + 1, x0] if h > 1 else tl
    br = img[y0 + 1, x0 + 1] if h > 1 and w > 1 else tl
    return tl * (1 - fy) * (1 - fx) + tr * (1 - fy) * fx + bl * fy * (1 - fx) + br * fy * fx


def bilinear_sample(img: np.ndarray, y: np.ndarray, x: np.ndarray) -> np.ndarray:
    """map_coordinates(order=1, mode='nearest'): bilinear with clamped
    coordinates."""
    h, w = img.shape
    y0, fy = bilinear_axis(y, h)
    x0, fx = bilinear_axis(x, w)
    return bilinear_taps(img, y0, fy, x0, fx)


# ------------------------- NaN-aware wrappers ------------------------

def nan_gaussian(a: np.ndarray, sigma: float, mode: str = "nearest"):
    """NaN-aware gaussian: (smoothed, nan_mask). Valid-weighted like
    reference algorithms/_nan_utils.py:18-31."""
    nan_mask = np.isnan(a)
    if not nan_mask.any():
        return gaussian_filter(a, sigma, mode=mode), nan_mask
    filled = np.where(nan_mask, 0.0, a)
    valid = (~nan_mask).astype(np.float64)
    sv = gaussian_filter(filled * valid, sigma, mode=mode)
    sw = gaussian_filter(valid, sigma, mode=mode)
    return np.where(sw > 0, sv / np.maximum(sw, 1e-300), 0.0), nan_mask


def nan_uniform(a: np.ndarray, size: int, mode: str = "nearest"):
    """NaN-aware box mean: (mean, nan_mask) (reference _nan_utils.py:34-47)."""
    nan_mask = np.isnan(a)
    if not nan_mask.any():
        return uniform_filter(a, size, mode=mode), nan_mask
    filled = np.where(nan_mask, 0.0, a)
    valid = (~nan_mask).astype(np.float64)
    sv = uniform_filter(filled * valid, size, mode=mode)
    sw = uniform_filter(valid, size, mode=mode)
    return np.where(sw > 0, sv / np.maximum(sw, 1e-300), 0.0), nan_mask


def nan_filled(a: np.ndarray):
    """(filled, nan_mask): NaN -> block nanmean (0 when all-NaN)
    (reference _impl_structure_tensor.py:44-51)."""
    nan_mask = np.isnan(a)
    if not nan_mask.any():
        return np.asarray(a, dtype=np.float64), nan_mask
    fill = np.nanmean(a) if (~nan_mask).any() else 0.0
    if not np.isfinite(fill):
        fill = 0.0
    return np.where(nan_mask, fill, a).astype(np.float64), nan_mask


def nan_gradient(a: np.ndarray, scale: float = 1.0):
    """NaN-aware (dy, dx, nan_mask): NaN locally gaussian-filled before
    np.gradient (reference _nan_utils.py:50-74, pixel units)."""
    nan_mask = np.isnan(a)
    if nan_mask.any():
        if (~nan_mask).any():
            fill, _ = nan_gaussian(a, 1.0)
            filled = np.where(nan_mask, fill, a)
        else:
            filled = np.zeros_like(a)
    else:
        filled = np.asarray(a, dtype=np.float64)
    dy, dx = np.gradient(filled * scale, edge_order=2)
    return dy, dx, nan_mask


def restore_nan(a: np.ndarray, nan_mask: np.ndarray) -> np.ndarray:
    if nan_mask.any():
        a = a.copy()
        a[nan_mask] = np.nan
    return a


def zoom_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Bilinear resize (pixel-center convention, edge-clamped) — the
    scipy.ndimage.zoom(order=1, mode='nearest') stand-in the push-pull
    fill needs."""
    h, w = img.shape
    ys = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    xs = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    return bilinear_sample(img, ys[:, None] + np.zeros((1, out_w)), xs[None, :] + np.zeros((out_h, 1)))


PUSHPULL_EPS = 1e-6


def pushpull_push_step(vw: np.ndarray, w: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """ONE push level: halve the valid-weighted pair — the loop body of
    the push phase, factored out so the distributed pyramid
    (operators/void_fill_dist.py) runs the byte-identical arithmetic
    per tile (2:1 zoom_bilinear is an exact 2x2 block mean, so tile-
    local halving equals whole-world halving on 256-aligned tiles)."""
    ch, cw = vw.shape
    nh, nw = max(1, ch // 2), max(1, cw // 2)
    num = zoom_bilinear(vw, nh, nw)
    den = zoom_bilinear(w, nh, nw)
    wv = np.minimum(den, 1.0)
    mean = np.where(den > PUSHPULL_EPS, num / np.maximum(den, PUSHPULL_EPS), 0.0)
    return mean * wv, wv


def pushpull_pull_step(vw: np.ndarray, w: np.ndarray, up: np.ndarray) -> np.ndarray:
    """ONE pull level: supported cells take their own valid-weighted
    mean, unsupported cells take the upsampled coarser synthesis —
    shared by pushpull_fill and the distributed pyramid."""
    vl = np.where(w > PUSHPULL_EPS, vw / np.maximum(w, PUSHPULL_EPS), 0.0)
    return np.where(w > PUSHPULL_EPS, vl, up)


def pushpull_core(vw0: np.ndarray, w0: np.ndarray) -> np.ndarray:
    """Push-pull recursion on an explicit (value*weight, weight) pair
    (weights may be fractional — mid-pyramid levels). Returns the
    synthesized surface at the input resolution; no preserve step."""
    vws = [vw0]
    ws = [w0]
    # push: halve (valid-weighted) until every cell has support or 1x1
    while max(vws[-1].shape) > 1 and float(ws[-1].min()) <= PUSHPULL_EPS:
        nvw, nw = pushpull_push_step(vws[-1], ws[-1])
        vws.append(nvw)
        ws.append(nw)
    # pull: synthesize from coarsest up; fill only unsupported cells
    filled = pushpull_pull_step(vws[-1], ws[-1], 0.0)
    for lvl in range(len(vws) - 2, -1, -1):
        th, tw = vws[lvl].shape
        up = zoom_bilinear(filled, th, tw)
        filled = pushpull_pull_step(vws[lvl], ws[lvl], up)
    return filled


def pushpull_fill(grid: np.ndarray) -> np.ndarray:
    """Membrane-like void fill via a push-pull image pyramid: NaN
    voids are synthesized from progressively coarser valid-weighted
    levels, so small voids fill from fine levels and large voids from
    coarse ones — the lowest-frequency surface consistent with the
    surroundings, never inventing relief (reference
    algorithms/_pyramid_fill.py:24-85 semantics, NumPy re-derivation).
    Known cells are preserved exactly."""
    valid = ~np.isnan(grid)
    out = np.where(valid, grid, 0.0).astype(np.float64)
    if valid.all():
        return grid.astype(np.float64, copy=True)
    if not valid.any():
        return np.zeros_like(out)
    w = valid.astype(np.float64)
    filled = pushpull_core(out * w, w)
    return np.where(valid, grid, filled).astype(np.float64)
