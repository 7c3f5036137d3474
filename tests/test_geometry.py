"""Tests for the small-angle rotation pair (SURVEY.md §2.5)."""

from __future__ import annotations

import numpy as np

from ocr_spark.core import geometry as G


def test_rotate_image_small_angle_recovers():
    img = np.full((80, 120), 255, dtype=np.uint8)
    img[40:44, 10:110] = 0  # horizontal bar
    rot = G.rotate_image(img, 8.0)
    assert np.ptp(np.flatnonzero((rot < 128).any(axis=1))) > 10  # tilted
    # rotating back by the opposite angle levels the bar again
    back = G.rotate_image(rot, -8.0)
    rows = np.flatnonzero((back < 128).any(axis=1))
    assert rows.min() >= 38 and rows.max() <= 45
