"""Auxiliary image ops (gamma LUT, morphology, perspective rectify) —
numpy twins of the reference's QR-rectification utilities
(util/img.py:16-21,238-239; test_paddle.py:25-27,53-97)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.core.imgops import (
    binary_dilate,
    binary_erode,
    four_point_transform,
    gamma_trans,
    morph_open,
    order_points,
)


def test_gamma_matches_reference_table():
    # the reference builds table[x] = round((x/255)^gamma * 255)
    # (util/img.py:18-19) and applies it with cv2.LUT
    for gamma in (0.5, 1.0, 2.2):
        table = np.round(
            np.array([(x / 255.0) ** gamma * 255.0 for x in range(256)])
        ).astype(np.uint8)
        img = np.arange(256, dtype=np.uint8).reshape(16, 16)
        assert np.array_equal(gamma_trans(img, gamma), table[img])
    assert np.array_equal(
        gamma_trans(np.arange(256, dtype=np.uint8), 1.0),
        np.arange(256, dtype=np.uint8),
    )


def test_morphology_open_removes_specks_close_fills_holes():
    m = np.zeros((30, 30), dtype=bool)
    m[5:15, 5:15] = True  # big block
    m[20, 20] = True  # 1-px speck
    opened = morph_open(m, 3)
    assert not opened[20, 20]  # speck gone
    assert opened[7:13, 7:13].all()  # block interior survives

    holed = np.ones((20, 20), dtype=bool)
    holed[10, 10] = False
    assert binary_erode(binary_dilate(holed, 3), 3).all()  # closing fills it


def test_erode_dilate_duality_and_idempotence():
    rng = np.random.default_rng(0)
    m = rng.random((40, 40)) > 0.6
    assert np.array_equal(binary_erode(m), ~binary_dilate(~m))
    opened = morph_open(m, 3)
    assert np.array_equal(morph_open(opened, 3), opened)  # idempotent


@settings(max_examples=30, deadline=None)
@given(st.permutations(range(4)))
def test_order_points_is_permutation_invariant(perm):
    quad = np.array([[10.0, 12.0], [90.0, 8.0], [95.0, 70.0], [5.0, 75.0]])
    got = order_points(quad[list(perm)])
    assert np.allclose(got, quad)  # already in TL,TR,BR,BL order


def test_four_point_transform_identity_rect():
    """An axis-aligned quad with gap=0 reduces the homography to a crop.
    Output size follows the reference's int(edge length) rule
    (test_paddle.py:81-88: maxWidth/maxHeight are corner DISTANCES, one
    less than the pixel count), content is the quad interior, surrounded
    by the constant white border (test_paddle.py:96, value 255)."""
    img = np.zeros((100, 120), dtype=np.uint8)
    img[20:60, 30:90] = 200
    pts = np.array([[30, 20], [89, 20], [89, 59], [30, 59]])
    out = four_point_transform(img, pts, gap=0, border=5)
    assert out.shape == (39 + 10, 59 + 10)  # edge lengths 59 x 39
    assert (out[5:-5, 5:-5] == 200).all()  # every sample inside the quad
    assert (out[:5] == 255).all() and (out[:, :5] == 255).all()


def test_four_point_transform_rectifies_perspective():
    """Warp a marked quad: the four marker dots must land at the output
    corners (what cv2.getPerspectiveTransform guarantees for the 4
    defining points)."""
    img = np.full((200, 200), 255, dtype=np.uint8)
    quad = np.array([[40, 30], [160, 50], [150, 170], [30, 150]])
    for x, y in quad:
        img[y - 2 : y + 3, x - 2 : x + 3] = 0  # 5x5 dot per corner
    out = four_point_transform(img, quad, gap=0, border=0)
    h, w = out.shape
    # each output corner region contains the mapped dark dot
    for yy, xx in ((0, 0), (0, w - 1), (h - 1, 0), (h - 1, w - 1)):
        y0, y1 = max(yy - 4, 0), min(yy + 5, h)
        x0, x1 = max(xx - 4, 0), min(xx + 5, w)
        assert out[y0:y1, x0:x1].min() < 128, (yy, xx)


def test_four_point_transform_gap_expands_canvas():
    img = np.full((100, 100, 3), 255, dtype=np.uint8)
    pts = np.array([[30, 30], [70, 30], [70, 70], [30, 70]])
    no_gap = four_point_transform(img, pts, gap=0, border=0)
    with_gap = four_point_transform(img, pts, gap=10, border=0)
    assert with_gap.shape[0] == no_gap.shape[0] + 20
    assert with_gap.shape[1] == no_gap.shape[1] + 20
    assert with_gap.ndim == 3  # color images warp channel-wise
