"""Auxiliary image operators: gamma LUT, binary morphology, 4-point
perspective rectification — pure numpy.

These are the reference's QR-rectification experiment utilities
(SURVEY.md §2.6 'gamma/morphology/perspective'):

* ``gamma_trans``        — util/img.py:16-21 (cv2.LUT over the
                           normalized power table)
* ``morph_open``         — test_paddle.py:26 (cv2.morphologyEx
                           MORPH_OPEN) and the 3x3 erode/dilate pair
                           at util/img.py:238-239
* ``order_points`` /
  ``four_point_transform`` — test_paddle.py:53-97 (corner ordering by
                           coordinate sum/diff, gap-expanded corners,
                           getPerspectiveTransform + warpPerspective +
                           50 px constant border)

They sit OFF the live extraction path in the reference too (scratch
scripts, not the serving chain); they are provided as tested parity
utilities so a user porting a QR-rectification flow has the same
toolbox.  All are per-image numpy kernels, usable inside any
mapInPandas stage exactly like the geometry helpers.
"""

from __future__ import annotations

import numpy as np


def gamma_trans(img: np.ndarray, gamma: float) -> np.ndarray:
    """Gamma correction via a 256-entry LUT (util/img.py:16-21):
    table[x] = round((x/255)^gamma * 255)."""
    table = np.round(
        np.power(np.arange(256) / 255.0, gamma) * 255.0
    ).astype(np.uint8)
    return table[img]


def _window_any(mask: np.ndarray, k: int) -> np.ndarray:
    """True where ANY pixel of the k x k window centered here is True
    (binary dilation with a square structuring element; edges padded
    False, matching cv2's default border for erode/dilate on binary)."""
    from numpy.lib.stride_tricks import sliding_window_view

    pad = k // 2
    p = np.pad(mask, pad, mode="constant", constant_values=False)
    return sliding_window_view(p, (k, k)).any(axis=(2, 3))


def binary_dilate(mask: np.ndarray, k: int = 3) -> np.ndarray:
    """Square-kernel binary dilation (util/img.py:239)."""
    return _window_any(mask.astype(bool), k)


def binary_erode(mask: np.ndarray, k: int = 3) -> np.ndarray:
    """Square-kernel binary erosion (util/img.py:238): a pixel survives
    only when its whole k x k neighborhood is set."""
    return ~_window_any(~mask.astype(bool), k)


def morph_open(mask: np.ndarray, k: int = 3) -> np.ndarray:
    """Opening = erode then dilate (test_paddle.py:26): removes specks
    smaller than the kernel, preserves larger shapes."""
    return binary_dilate(binary_erode(mask, k), k)


def order_points(pts: np.ndarray) -> np.ndarray:
    """Canonical TL,TR,BR,BL corner order (test_paddle.py:53-62): TL has
    the min coordinate sum, BR the max; TR the min of (y - x), BL the
    max."""
    pts = np.asarray(pts, dtype=np.float64).reshape(4, 2)
    rect = np.zeros((4, 2), dtype=np.float64)
    s = pts.sum(axis=1)
    rect[0] = pts[np.argmin(s)]
    rect[2] = pts[np.argmax(s)]
    d = np.diff(pts, axis=1).ravel()
    rect[1] = pts[np.argmin(d)]
    rect[3] = pts[np.argmax(d)]
    return rect


def _homography(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """3x3 homography mapping src[i] -> dst[i] for 4 point pairs (the
    numpy twin of cv2.getPerspectiveTransform: direct 8x8 solve)."""
    a = np.zeros((8, 8), dtype=np.float64)
    b = np.zeros(8, dtype=np.float64)
    for i, ((x, y), (u, v)) in enumerate(zip(src, dst)):
        a[2 * i] = [x, y, 1, 0, 0, 0, -u * x, -u * y]
        a[2 * i + 1] = [0, 0, 0, x, y, 1, -v * x, -v * y]
        b[2 * i] = u
        b[2 * i + 1] = v
    h = np.linalg.solve(a, b)
    return np.append(h, 1.0).reshape(3, 3)


def four_point_transform(
    img: np.ndarray, pts: np.ndarray, gap: int = 50, border: int = 50
) -> np.ndarray:
    """Rectify the quad ``pts`` to an axis-aligned rectangle
    (test_paddle.py:65-97).

    Reference semantics preserved: corners are ordered then pushed OUT
    by ``gap`` px per axis (the decode-margin knob, test_paddle.py:107),
    output size is the max opposite-edge length, and the result gets a
    constant white ``border`` (copyMakeBorder value 255).  The warp is
    inverse-mapped nearest-neighbor (the same gather convention as
    geometry.rotate_image), fill white outside the source.
    """
    rect = order_points(pts)
    rect[0] += (-gap, -gap)
    rect[1] += (gap, -gap)
    rect[2] += (gap, gap)
    rect[3] += (-gap, gap)
    (tl, tr, br, bl) = rect
    width = int(max(np.hypot(*(br - bl)), np.hypot(*(tr - tl))))
    height = int(max(np.hypot(*(tr - br)), np.hypot(*(tl - bl))))
    dst = np.array(
        [[0, 0], [width - 1, 0], [width - 1, height - 1], [0, height - 1]],
        dtype=np.float64,
    )
    # inverse map: dst pixel -> src pixel through H(dst->src)
    h_inv = _homography(dst, rect)
    xs, ys = np.meshgrid(np.arange(width), np.arange(height))
    ones = np.ones_like(xs)
    grid = np.stack([xs, ys, ones]).reshape(3, -1).astype(np.float64)
    src = h_inv @ grid
    sx = np.rint(src[0] / src[2]).astype(np.int64).reshape(height, width)
    sy = np.rint(src[1] / src[2]).astype(np.int64).reshape(height, width)
    hh, ww = img.shape[:2]
    valid = (sx >= 0) & (sx < ww) & (sy >= 0) & (sy < hh)
    gathered = img[sy.clip(0, hh - 1), sx.clip(0, ww - 1)]
    fill = np.full_like(gathered, 255)
    if img.ndim == 3:
        valid = valid[..., None]
    warped = np.where(valid, gathered, fill)
    out_shape = (
        (height + 2 * border, width + 2 * border)
        if img.ndim == 2
        else (height + 2 * border, width + 2 * border, img.shape[2])
    )
    out = np.full(out_shape, 255, dtype=img.dtype)
    out[border : border + height, border : border + width] = warped
    return out
