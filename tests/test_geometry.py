"""Property tests for the auxiliary geometry operators (SURVEY.md §2.5/2.6)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.core import geometry as G


@given(
    cx=st.floats(50, 200), cy=st.floats(50, 200),
    w=st.floats(10, 100), h=st.floats(5, 60),
    angle=st.floats(-0.6, 0.6),
)
@settings(max_examples=60, deadline=None)
def test_solve_roundtrip(cx, cy, w, h, angle):
    # the w x h rectangle centred on (cx, cy) and turned by angle; its
    # corners clockwise from top-left
    ca, sa = math.cos(angle), math.sin(angle)
    quad = ()
    for dx, dy in ((-w, -h), (w, -h), (w, h), (-w, h)):
        quad += (cx + (dx * ca - dy * sa) / 2, cy + (dx * sa + dy * ca) / 2)
    a2, w2, h2, cx2, cy2 = G.solve(quad)
    assert math.isclose(a2, angle, abs_tol=1e-6)
    assert math.isclose(w2, w, rel_tol=1e-6)
    assert math.isclose(h2, h, rel_tol=1e-6)
    assert math.isclose(cx2, cx, abs_tol=1e-6)
    assert math.isclose(cy2, cy, abs_tol=1e-6)


def test_letterbox_aspect_and_fill():
    img = np.full((50, 100, 3), 10, dtype=np.uint8)
    out = G.letterbox_image(img, 64, 64, fill=128)
    assert out.shape == (64, 64, 3)
    # content occupies 64x32 centered rows; padding rows are fill
    assert (out[0] == 128).all() and (out[-1] == 128).all()
    assert (out[32] != 128).any()


def test_rotate_image_small_angle_recovers():
    img = np.full((80, 120), 255, dtype=np.uint8)
    img[40:44, 10:110] = 0  # horizontal bar
    rot = G.rotate_image(img, 8.0)
    est = G.estimate_skew_angle(rot)
    # rotating by -est must level the bar again
    assert abs(est - (-8.0)) <= 1.0


def test_estimate_skew_zero_on_level_page():
    from ocr_spark.fixtures.render import _render_canonical

    page = _render_canonical("skew-test", "page")
    gray = page.image[..., 0] if page.rot_k == 0 else None
    if gray is None:
        pytest.skip("fixture page rotated by 90x; skew test targets level pages")
    assert G.estimate_skew_angle(gray) == 0.0
