"""Small-angle image rotation (SURVEY.md §2.5), pure numpy.

``rotate_image`` is the deskew gather of the page ladder
(core/extract.py) and ``rotate_scatter`` the skew model of the render
stressor; both share one rounded rotation map, so a scattered page
gathers back exactly.  Covered by tests/test_geometry.py.
"""

from __future__ import annotations

import math

import numpy as np


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

