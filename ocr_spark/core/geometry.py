"""Auxiliary geometry operators (SURVEY.md §2.5/2.6), pure numpy.

Contracts mirrored from the reference's apphelper/image.py; each
function cites its source.  These are the building blocks the
detection/recognition kernels use for rotated documents; all are
deterministic, vectorized, and covered by tests/test_geometry.py.
"""

from __future__ import annotations

import math

import numpy as np


def solve(quad: tuple[float, ...]) -> tuple[float, float, float, float, float]:
    """Quad (x1,y1,...,x4,y4, clockwise from top-left) ->
    (angle, w, h, cx, cy).  Reference apphelper/image.py:41-67."""
    x1, y1, x2, y2, x3, y3, x4, y4 = quad
    cx = (x1 + x2 + x3 + x4) / 4.0
    cy = (y1 + y2 + y3 + y4) / 4.0
    w = (math.hypot(x2 - x1, y2 - y1) + math.hypot(x3 - x4, y3 - y4)) / 2.0
    h = (math.hypot(x4 - x1, y4 - y1) + math.hypot(x3 - x2, y3 - y2)) / 2.0
    # mean angle of the two horizontal edges
    angle = (
        math.atan2(y2 - y1, x2 - x1) + math.atan2(y3 - y4, x3 - x4)
    ) / 2.0
    return angle, w, h, cx, cy


def nn_resize(img: np.ndarray, nh: int, nw: int) -> np.ndarray:
    """Nearest-neighbor resize to exactly (nh, nw)."""
    h, w = img.shape[:2]
    yi = (np.arange(nh) * h // nh).clip(0, h - 1)
    xi = (np.arange(nw) * w // nw).clip(0, w - 1)
    return img[yi][:, xi]


def letterbox_image(
    img: np.ndarray, target_w: int, target_h: int, fill: int = 128
) -> np.ndarray:
    """Aspect-preserving resize onto a (target_h, target_w) canvas, padded
    with ``fill`` and centered.  Reference apphelper/image.py:141-157."""
    h, w = img.shape[:2]
    f = min(target_w / w, target_h / h)
    nw, nh = max(int(w * f), 1), max(int(h * f), 1)
    resized = nn_resize(img, nh, nw)
    shape = (target_h, target_w) + img.shape[2:]
    canvas = np.full(shape, fill, dtype=img.dtype)
    y0, x0 = (target_h - nh) // 2, (target_w - nw) // 2
    canvas[y0 : y0 + nh, x0 : x0 + nw] = resized
    return canvas


def rotate_image(img: np.ndarray, degrees: float, fill: int = 255) -> np.ndarray:
    """Rotate by ``degrees`` CCW about the image center via
    nearest-neighbor inverse mapping on a same-size canvas; the numpy
    stand-in for the reference's warpAffine/PIL rotations
    (table_extract.py:414-446, apphelper/image.py:198)."""
    h, w = img.shape[:2]
    sxi, syi, valid = _rot_maps(h, w, degrees)
    # clip + full gather + where: one contiguous gather instead of two
    # boolean compressions (the deskew fallback runs this on whole pages
    # inside executor workers — memory bandwidth matters at local[32])
    gathered = img[syi.clip(0, h - 1), sxi.clip(0, w - 1)]
    fill_arr = np.full_like(img, fill)
    if img.ndim == 3:
        valid = valid[..., None]
    return np.where(valid, gathered, fill_arr)


def _rot_maps(
    h: int, w: int, degrees: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Rounded source-coordinate maps for rotate_image (int32; float64
    trig so scatter/gather rounding stays bit-identical across dtypes)."""
    rad = math.radians(degrees)
    ca, sa = math.cos(rad), math.sin(rad)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    xs = np.arange(w, dtype=np.float64) - cx
    ys = np.arange(h, dtype=np.float64) - cy
    sx = xs[None, :] * ca + ys[:, None] * sa + cx
    sy = ys[:, None] * ca - xs[None, :] * sa + cy
    sxi = np.rint(sx).astype(np.int32)
    syi = np.rint(sy).astype(np.int32)
    valid = (sxi >= 0) & (sxi < w) & (syi >= 0) & (syi < h)
    return sxi, syi, valid


def rotate_scatter(
    img: np.ndarray, degrees: float, fill: int = 255
) -> np.ndarray:
    """Forward-scatter rotation: every SOURCE pixel is painted at the
    rounded rotated destination (LIGHTER-wins on collisions, ``fill`` for
    holes).  Uses the SAME matrix/center/rounding as ``rotate_image``'s
    inverse map, so ``rotate_image(rotate_scatter(x, a), a)`` gathers each
    pixel back through the identical rounded map — an exact inverse except
    at collision sites.  Lighter-wins makes collision damage BOUNDED INK
    EROSION (a glyph pixel reads back white), which the recognizer's
    hamming tolerance absorbs; darker-wins would instead inject spurious
    ink next to glyphs, distorting the run-length structure the unit-scale
    estimate and box detection depend on.  This is the skew model of the
    render stressor (fixtures/render.py): a skewed page deskews exactly
    once the fallback ladder recovers ``a``."""
    h, w = img.shape[:2]
    dxi, dyi, valid = _rot_maps(h, w, degrees)
    out = np.full_like(img, fill)
    # scatter brightness TIERS dark-to-light so the lightest collider
    # lands last.  The background tier is scattered in one pass and the
    # few non-background colors (ink, seal) tier-sort over their own
    # small subset — no full-canvas sort.
    bright = (
        img.sum(axis=-1, dtype=np.int32) if img.ndim == 3 else img
    )
    bg_level = int(fill) * (img.shape[2] if img.ndim == 3 else 1)
    fg = valid & (bright != bg_level)
    for level in sorted(np.unique(bright[fg])):
        sel = fg & (bright == level)
        out[dyi[sel], dxi[sel]] = img[sel]
    bg = valid & (bright == bg_level)
    out[dyi[bg], dxi[bg]] = img[bg]
    return out


def estimate_skew_angle(
    gray: np.ndarray, angle_range: float = 15.0, step: float = 1.0
) -> float:
    """Skew estimate: try rotations in [-range, +range], return the angle
    maximizing row-projection variance of the ink.  Reference
    apphelper/image.py:203-238 (percentile-filtered background, variance
    objective)."""
    ink = 255.0 - gray.astype(np.float64)
    lo, hi = np.percentile(ink, 10), np.percentile(ink, 90)
    if hi > lo:  # sparse ink: percentile window collapses, skip the clip
        ink = np.clip(ink, lo, hi) - lo
    best_angle, best_var = 0.0, -1.0
    angles = np.arange(-angle_range, angle_range + step / 2, step)
    for a in angles:
        rot = rotate_image(ink, float(a), fill=0)
        v = float(np.var(rot.sum(axis=1)))
        if v > best_var:
            best_var, best_angle = v, float(a)
    return best_angle
