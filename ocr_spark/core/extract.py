"""End-to-end single-image / single-document extraction.

The chain per media item mirrors the reference's request path
(fapi.py:233-263 -> obj_det/objd_util.py:152-204): decode -> angle pass ->
seal removal -> detection -> recognition -> reading-order merge, with
per-item failure isolation (reference fapi.py:255-263 wraps each request
item in try/except and degrades to success=false).

These functions are the kernels called by the Spark pandas UDFs in
operators/pipeline.py AND the single-node oracle for the pytest
span-sequence-equality gate.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

import numpy as np

from ..fixtures.render import render
from . import detect
from .geometry import rotate_image
from .reading_order import group_rows, sorted_boxes
from .recognize import recognize_batch, recognize_batch_cls

# An orientation whose 3-box probe trails the incumbent by more than this
# margin is skipped without full recognition; within the margin the full
# pass still runs, so a probe that merely undershoots its own full-page
# confidence cannot silently lose (the probe is only DECISIVELY low
# evidence — 3 boxes are not the page).
PROBE_MARGIN = 0.25
# Below this confidence the page is treated as failed and the small-angle
# deskew fallback runs (skewed pages decode to ~0 — detection bands merge
# across drifted rows).
DESKEW_CONF = 0.5
DESKEW_RANGE = 5  # integer degrees searched by the skew estimate


def _ranked_skew_angles(ink: np.ndarray) -> list[int]:
    """Candidate skew angles, most-plausible first: shear the ink
    COORDINATES (y + x*tan(a)) and rank angles by row-histogram variance —
    the objective of the reference's skew estimate (apphelper/image.py:
    203-238) evaluated on the ~10% nonzero pixels instead of 2*range+1
    full-image rotations (~50x cheaper; shear equals rotation to first
    order at +-5 degrees).  The ranking is a HEURISTIC:
    the ladder verifies each candidate by recognition confidence, so a
    mis-ranked true angle costs extra trials, never a wrong answer."""
    ys, xs = np.nonzero(ink)
    if not len(ys):
        return []
    scored: list[tuple[float, int]] = []
    for a in range(-DESKEW_RANGE, DESKEW_RANGE + 1):
        if a == 0:
            continue  # the unskewed pass already ran
        # sign matches rotate_image's gather convention: the angle that
        # aligns the histogram is the angle to PASS to rotate_image
        t = np.tan(np.radians(a))
        yy = np.rint(ys + xs * t).astype(np.int64)
        yy -= yy.min()
        scored.append((float(np.var(np.bincount(yy))), a))
    scored.sort(key=lambda s: (-s[0], abs(s[1]), s[1]))
    return [a for _v, a in scored]


@dataclass
class PageState:
    """Result of the page ladder plus the geometry needed to map regions
    (QR candidate boxes) back onto the ORIGINAL pixels: the winning page
    transform is rot90(rotate_image(page, skew_deg), -rot_k)."""

    rows: list[str] = field(default_factory=list)
    conf: float = 0.0
    rot_k: int = 0
    skew_deg: int = 0
    qr_boxes: list[tuple[int, int, int, int]] = field(default_factory=list)
    # union bbox (x, y, w, h) of each reading-order row, same frame as
    # qr_boxes — consumed by the save-crop debug sink (core/fields)
    row_boxes: list[tuple[int, int, int, int]] = field(default_factory=list)


def _full_pass(
    boxes: list, texts: Sequence[str] = (), confs: Sequence[float] = ()
) -> tuple[list[str], float]:
    """Full recognition of one orientation's text boxes -> (texts, mean
    conf).  Runs the per-LINE 180-degree classifier (reference det -> cls
    -> rec, predict_system.py:76-84): a minority of upside-down lines
    inside an otherwise-upright page is rescued here; the page-level vote
    handles whole-page rotation.  Probes stay classifier-free: under a
    wrong page orientation every line would be "rescued" to full
    confidence with a reversed reading order, so orientation selection
    must score the RAW decode.

    ``texts``/``confs`` are final reads of the first boxes, which are not
    recognized again: a perfect probe's lines clear the classifier gate,
    and recognition is per line (each reads only its own columns)."""
    rest, rest_confs, _flips = recognize_batch_cls(
        [b.bitmap for b in boxes[len(texts) :]]
    )
    all_confs = [*confs, *rest_confs]
    return [*texts, *rest], float(np.mean(all_confs)) if all_confs else 0.0


def _best_over_orientations(
    ink0: np.ndarray, robust: bool = False
) -> tuple[
    list[str],
    float,
    int,
    list[tuple[int, int, int, int]],
    list[tuple[int, int, int, int]],
]:
    """4-orientation probe-then-commit pass over one ink mask.

    Angle classification: try the 4 cardinal orientations and keep the one
    with the best recognition confidence (the classical stand-in for the
    reference's VGG angle classifier, obj_det/v1/opencv_dnn_detect.py:64-122
    applied via rotate(), obj_det/objd_util.py:38-62).

    Lazy commit: the FIRST orientation whose 3-box probe reads 1.0 gets
    its full pass at once, and a perfect full pass returns without probing
    the rest — the common upright page pays one detection.  This is exact,
    not a heuristic: no probe exceeds 1.0 and ties sort by k, so that
    orientation heads Phase B's (-probe, k) order whatever the later
    probes read, and Phase B stops on its first full conf >= 1.0.  (A
    perfect probe that covered the whole page, <= 3 boxes, is always such
    a commit: the line classifier only ever raises a line's conf.)
    """
    # Phase A — probe in k order: detect boxes and recognize up to 3 per
    # orientation; a wrong orientation scores ~0 without paying full-page
    # recognition.  The 180-degree twins k and k+2 share one unit scale: a
    # 180-degree turn keeps the multiset of horizontal ink-run lengths, so
    # both the strict and the robust gcd are unchanged.
    cands: list[tuple[float, int, list, list]] = []
    scales: dict[int, int] = {}
    full: dict[int, tuple[list[str], float]] = {}
    for k in (0, 1, 2, 3):
        ink = np.rot90(ink0, -k) if k else ink0
        if k % 2 not in scales:
            scales[k % 2] = detect.estimate_unit_scale(ink, robust=robust)
        # QR candidates split out BEFORE probing/recognition: a QR block
        # is square under every rotation and recognizes as garbage, so it
        # must neither occupy a probe slot nor dilute page confidence.
        boxes, qr_boxes = detect.split_qr_boxes(
            detect.detect_lines(ink, scales[k % 2])
        )
        if not boxes:
            if qr_boxes:  # QR-only page: no text to vote with, keep k=0
                cands.append((0.0, k, [], qr_boxes))
            continue
        probe_texts, probe_confs = recognize_batch([b.bitmap for b in boxes[:3]])
        probe = float(np.mean(probe_confs)) if probe_confs else 0.0
        cands.append((probe, k, boxes, qr_boxes))
        if probe >= 1.0 and not full:
            # the head of Phase B's order: its full pass is due anyway,
            # and its probed lines are already read
            full[k] = _full_pass(boxes, probe_texts, probe_confs)
            if full[k][1] >= 1.0:
                break  # Phase B commits it first and stops there

    # Phase B — commit: full recognition in descending-probe order, so a
    # rotated page pays ONE full pass instead of one per orientation
    # before the winner (the head's pass is reused from Phase A).  A
    # perfect 3-box probe whose full pass is not perfect (first boxes
    # that read under a wrong orientation, or a misread line further
    # down) falls through to here, so the other orientations still
    # compete.  Orientations trailing the incumbent by more than
    # PROBE_MARGIN are skipped — within the margin the full pass still
    # runs (3 boxes are not the page; a decisively-low probe only).
    best_conf = -1.0
    best: tuple[list[str], int, list, list] = ([], 0, [], [])
    for probe, k, boxes, qr_boxes in sorted(cands, key=lambda t: (-t[0], t[1])):
        if probe + PROBE_MARGIN < best_conf:
            break  # sorted: every remaining probe is lower still
        texts, conf = full[k] if k in full else _full_pass(boxes)
        if conf > best_conf:
            best_conf, best = conf, (texts, k, boxes, qr_boxes)
        if conf >= 1.0:
            break
    if best_conf < 0:
        return [], 0.0, 0, [], []
    texts, k, boxes, qr_boxes = best
    xywh = [(b.x, b.y, b.w, b.h) for b in boxes]
    rows = group_rows(xywh, sorted_boxes(xywh))
    row_boxes = []
    for row in rows:  # union bbox per reading-order row
        xs0 = min(xywh[i][0] for i in row)
        ys0 = min(xywh[i][1] for i in row)
        xs1 = max(xywh[i][0] + xywh[i][2] for i in row)
        ys1 = max(xywh[i][1] + xywh[i][3] for i in row)
        row_boxes.append((xs0, ys0, xs1 - xs0, ys1 - ys0))
    return (
        [" ".join(texts[i] for i in row) for row in rows],
        best_conf,
        k,
        [(b.x, b.y, b.w, b.h) for b in qr_boxes],
        row_boxes,
    )


def ocr_page_state(img: np.ndarray) -> PageState:
    """One page image -> PageState (reading-ordered row texts, confidence,
    winning transform, QR candidate boxes in the transformed frame).

    Ladder: (1) the 4-cardinal-orientation pass on the raw ink; (2) if
    that fails (conf < DESKEW_CONF), estimate the small skew angle
    (reference table-angle preprocess, apphelper/image.py:203-238 /
    table_extract.py:325-446), deskew the ink mask, denoise the isolated
    resampling pixels, and re-run the orientation pass.  Unskewed pages
    never pay for the estimate.
    """
    # Seal removal + binarization commute with 90-degree rotation, so the
    # ink mask is computed ONCE and rotated per orientation (the reference
    # re-runs preprocessing per rotate() call; this is the columnar-friendly
    # equivalent at 1/4 the preprocessing cost for rotated pages).
    gray = detect.remove_seal_to_gray(img)
    ink0 = detect.binarize(gray)
    if not ink0.any():
        return PageState()

    rows, conf, k, qr, rb = _best_over_orientations(ink0)
    best = PageState(rows, max(conf, 0.0), k, 0, qr, rb)
    if conf < DESKEW_CONF:
        # Angle 0 is retried FIRST with the robust unit-scale estimate: a
        # straight page whose ink carries resampling erosion (e.g. a
        # region crop of an already-deskewed batch-scan sheet) fails the
        # strict gcd (one odd-length eroded run forces scale 1) yet needs
        # no rotation at all — without this entry the ladder would only
        # ever apply robust recovery to rotated candidates.
        for a in [0] + _ranked_skew_angles(ink0):
            # binarize/seal-removal are pixelwise, so deskewing the INK
            # MASK equals deskewing the image first; fill=False keeps the
            # border blank.
            ink_d = rotate_image(ink0, float(a), fill=False) if a else ink0
            rows2, conf2, k2, qr2, rb2 = _best_over_orientations(
                ink_d, robust=True
            )
            if conf2 > best.conf:
                best = PageState(rows2, conf2, k2, a, qr2, rb2)
            if conf2 >= 1.0:
                break
    return best


def ocr_page(img: np.ndarray) -> tuple[str, float]:
    """One page image -> (reading-ordered text, confidence); rows joined
    by newline."""
    st = ocr_page_state(img)
    return "\n".join(st.rows), st.conf


def ocr_media_ref(media_ref: str) -> str:
    """media_ref -> extracted text (pages joined by \\n). Raises on decode
    failure — the caller isolates per row."""
    pages = render(media_ref)
    return "\n".join(ocr_page(p.image)[0] for p in pages)

