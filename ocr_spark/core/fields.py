"""Detector-chain field extraction (the reference's four live detectors
as one generic stage).

Reference shape (obj_det/objd_util.py:152-204): try stock_v1 -> stock_v2
-> bill -> vat; each detector OCRs labeled regions and a title gate
decides whether its result wins.  Here the whole page is OCR'd once
(detection + angle pass + recognition from core/extract.py) and the
gates run over the recognized title, which preserves the first-gate-wins
semantics without four redundant passes — the fusion SURVEY.md §4 calls
for ("fuse the detector chain into one stage").

Gate predicates, verbatim from the reference:
* stock_v1: '总务' in title or '结算' in title (stock_detect.py:206-210)
* stock_v2: '药' in title                      (stock_detect_v2.py:214-218)
* bill:     '据' in title                      (bill_detect.py:163-167)
* else vat (the terminal detector, objd_util.py:181-186)

Box->label assignment is positional (reading-order row index -> field
name per family) — the deterministic stand-in for the YOLO class heads,
whose weights are absent (.MISSING_LARGE_BLOBS).
"""

from __future__ import annotations

import numpy as np

from ..fixtures.invoice import (
    FAMILY_FIELDS,
    is_multi,
    render_invoice,
    render_multi,
)
from . import detect

# result `type` discriminator (reference response envelope, api.py:50-64 /
# objd_util.py:160-186): '01' invoice-like (vat/bill), '02' stock,
# '03' unrecognized.
FAMILY_TYPE = {"vat": "01", "bill": "01", "stock_v1": "02", "stock_v2": "02"}


def classify_family(title: str) -> str:
    """First-gate-wins detector dispatch on the recognized title."""
    if "总务" in title or "结算" in title:
        return "stock_v1"
    if "药" in title:
        return "stock_v2"
    if "据" in title:
        return "bill"
    return "vat"


# Minimum blank-row run that separates two invoice regions on a
# batch-scanned sheet.  Fixture internal blank runs are <= 16 px and the
# inter-invoice run is >= 64 px (fixtures/invoice._MULTI_GAP) — 32 sits at
# a 2x margin from both.  The classical stand-in for the YOLO whole-page
# detector's NMS boxes (obj_det/v1/detect.py:113-156).
MIN_REGION_GAP = 32


def detect_invoice_regions(img: np.ndarray) -> list[tuple[int, int, int, int]]:
    """Segment a page image into invoice regions, top-to-bottom.

    Reference semantics (obj_det/v1/detect.py:144-156): the YOLO pass
    yields N invoice boxes per page; each is cropped with
    ``im0[y1:y3, x0:x2]`` and becomes its own record.  Without the
    weights, regions are recovered from the ink itself: binarize (seal
    removed), project onto rows, split on blank runs >= MIN_REGION_GAP,
    then take each band's ink bounding box.  Returns (x0, y0, x1, y1)
    crop slices; a page with no separating gap is one region (the single
    invoice case degenerates to the whole-page crop).
    """
    from .detect import binarize, remove_seal_to_gray

    ink = binarize(remove_seal_to_gray(img))
    rows = ink.any(axis=1)
    idx = np.flatnonzero(rows)
    if idx.size == 0:
        return [(0, 0, img.shape[1], img.shape[0])]
    # split the inked rows where consecutive ink is > MIN_REGION_GAP apart
    brk = np.flatnonzero(np.diff(idx) > MIN_REGION_GAP)
    starts = np.concatenate(([0], brk + 1))
    ends = np.concatenate((brk, [idx.size - 1]))
    regions = []
    pad = 2
    for s, e in zip(starts, ends):
        y0, y1 = int(idx[s]), int(idx[e]) + 1
        cols = np.flatnonzero(ink[y0:y1].any(axis=0))
        x0, x1 = int(cols[0]), int(cols[-1]) + 1
        regions.append(
            (
                max(x0 - pad, 0),
                max(y0 - pad, 0),
                min(x1 + pad, img.shape[1]),
                min(y1 + pad, img.shape[0]),
            )
        )
    return regions


def _probe_sheet_conf(ink: np.ndarray) -> float:
    """Cheap recognition confidence of a sheet ink mask: best 3-box probe
    over the 4 cardinal orientations (a sub-invoice pasted 90-degree
    rotated must not veto the sheet's skew estimate — per-crop orientation
    is decided later, per region).  The 3 probe boxes are SPREAD over the
    sheet (first/middle/last in detection order) so one rotated sub at the
    top cannot blind the probe: a majority-upright sheet at the true angle
    still scores >= the upright fraction, while a wrong angle scores ~0
    everywhere."""
    from .recognize import recognize_batch

    best = 0.0
    scales: dict[int, int] = {}  # 180-degree twins share one unit scale
    for k in (0, 1, 2, 3):
        rot = np.rot90(ink, -k) if k else ink
        if k % 2 not in scales:
            scales[k % 2] = detect.estimate_unit_scale(rot, robust=True)
        # QR blocks recognize as garbage at every angle — they must not
        # occupy probe slots (a bottom sub-invoice's QR would otherwise
        # sit in the 'last box' slot and blind the sheet probe).
        boxes, _qr = detect.split_qr_boxes(
            detect.detect_lines(rot, scales[k % 2])
        )
        if not boxes:
            continue
        probe = [boxes[0], boxes[len(boxes) // 2], boxes[-1]]
        _t, confs = recognize_batch([b.bitmap for b in probe])
        if confs:
            best = max(best, float(np.mean(confs)))
        if best >= 1.0:
            break
    return best


def deskew_sheet(img: np.ndarray) -> np.ndarray:
    """Undo small-angle scan skew of a whole batch-scanned sheet BEFORE
    region cropping — the reference's table-angle preprocess runs at page
    level before any region work (table_extract.py:325-446), and that
    ordering is load-bearing here: deskewing the full sheet keeps the
    gather on the same canvas/center as the scan's forward rotation, so
    the inversion is exact, whereas deskewing a tight crop would resample
    on a sub-pixel-shifted grid and fragment the ink runs the unit-scale
    estimate and glyph matcher depend on.

    Straight sheets pay one 3-box probe; skewed sheets search the same
    ranked candidate angles as the single-page ladder
    (extract._ranked_skew_angles), each verified by probe confidence."""
    from .extract import DESKEW_CONF, _ranked_skew_angles
    from .geometry import rotate_image

    ink = detect.binarize(detect.remove_seal_to_gray(img))
    if not ink.any():
        return img
    conf0 = _probe_sheet_conf(ink)
    if conf0 >= DESKEW_CONF:
        return img
    # seed with the 0-degree conf: a sheet that probes poorly at EVERY
    # angle (e.g. mixed per-sub orientations) must stay unrotated rather
    # than commit to whichever garbage angle scored epsilon more
    best_conf, best_angle = conf0, 0
    for a in _ranked_skew_angles(ink):
        conf = _probe_sheet_conf(rotate_image(ink, float(a), fill=False))
        if conf > best_conf:
            best_conf, best_angle = conf, a
        if conf >= 1.0:
            break
    return rotate_image(img, float(best_angle)) if best_angle else img


def sheet_regions(img: np.ndarray) -> list[np.ndarray]:
    """Batch-scanned sheet -> its invoice-region crops, top-to-bottom
    (the 1 page -> N document rows explode of the legacy whole-page
    route, obj_det/v1/detect.py:150-156).  The sheet is deskewed FIRST
    (see deskew_sheet), then cut at detect_invoice_regions' boxes."""
    img = deskew_sheet(img)
    return [
        np.ascontiguousarray(img[y0:y1, x0:x1])
        for x0, y0, x1, y1 in detect_invoice_regions(img)
    ]


def region_images(ref: str) -> list[np.ndarray]:
    """Invoice media ref -> the document images its records come from:
    a ``#multi`` sheet's region crops (sheet_regions), or a single
    invoice's page.  The one region path of the field kernel and the
    save-crop sink."""
    if is_multi(ref):
        return sheet_regions(render_multi(ref)[0])
    return [render_invoice(ref).image]


def extract_fields_regions(img: np.ndarray) -> list[dict[str, str]]:
    """Multi-invoice page -> one raw-field record per detected region;
    each crop runs the full single-document chain — angle pass,
    detection, recognition, gate dispatch — exactly as an uploaded
    single invoice would."""
    return [extract_fields(r) for r in sheet_regions(img)]


def _page_gray(img: np.ndarray, state) -> np.ndarray:
    """The page's red channel mapped into ``state``'s winning frame
    rot90(rotate_image(page, skew), -rot_k), where region boxes
    (state.qr_boxes / state.row_boxes) live.  Red channel because QR/text
    ink is neutral (dark in every channel) while the seal overlay is
    bright in red — the same seal-immunity argument as remove_red.py —
    and rotate_image is nearest-neighbor, so gray VALUES survive the
    mapping bit-exactly."""
    from .geometry import rotate_image

    gray = np.ascontiguousarray(img[..., 0] if img.ndim == 3 else img)
    if state.skew_deg:
        gray = rotate_image(gray, float(state.skew_deg))
    if state.rot_k:
        gray = np.ascontiguousarray(np.rot90(gray, -state.rot_k))
    return gray


def _decode_qr_regions(
    img: np.ndarray, state
) -> str:
    """Decode the page's QR candidate boxes from the ORIGINAL pixels.

    Mirrors the reference chain (vat_detect.py:341 -> qrcode_pyzbar,
    util/tool.py:370-389): the detected 'qrcode' region is cropped from
    the page image (via _page_gray — NOT the seal-removed/binarized
    gray, whose Otsu pass would destroy the low-contrast gray levels)
    and handed to the decoder WITH the enhancement retry ladder
    (core/qr.get_qrcode_data, the pyzbar twin of util/tool.py:353-367).
    """
    from . import qr as qrmod

    gray = _page_gray(img, state)
    pad = 2
    for x, y, w, h in state.qr_boxes:
        crop = gray[
            max(y - pad, 0) : y + h + pad, max(x - pad, 0) : x + w + pad
        ]
        payload = qrmod.get_qrcode_data(crop)
        if payload:
            return payload
    return ""


def extract_fields(img: np.ndarray) -> dict[str, str]:
    """Labeled-document image -> raw field texts + family + type.

    Returns {'family', 'type', 'title', <field>: raw_text...}; fields the
    detected family does not define are absent (the Spark stage back-fills
    defaults, mirroring vat_detect.py:423-429 / stock_detect.py:196-204).
    """
    from .extract import ocr_page_state

    state = ocr_page_state(img)
    rows = state.rows
    title = rows[0] if rows else ""
    family = classify_family(title)
    out = {"family": family, "type": FAMILY_TYPE[family], "title": title}
    # QR branch input (vat_detect.py:341-370): candidate regions were
    # detected alongside the text lines; decode them from pixels via the
    # enhancement retry ladder.  An undecodable QR leaves the key absent
    # (the reference's qrcode_pyzbar returns False and the OCR branch
    # runs).
    if family == "vat" and state.qr_boxes:
        payload = _decode_qr_regions(img, state)
        if payload:
            out["qrcode"] = payload
    for name, text in zip(FAMILY_FIELDS[family], rows[1:]):
        out[name] = text
    return out


def save_crops(img: np.ndarray) -> list[dict]:
    """Per-label debug crops of one document image (the save-crop debug
    sink's kernel).

    Reference semantics (obj_det/vat_detect.py:305-309 and
    stock_detect.py:118-122, the ``saveImage=True`` paths): each labeled
    field region is written out as ``images/<family>/<label>.png`` for
    inspection.  Here the crops become ROWS — {label, x, y, w, h, crop}
    with the crop as gray npy bytes — so the Spark sink writes one
    sidecar parquet/Iceberg table instead of executor-local files (the
    SURVEY §2.1 mapping for this operator).  Labels are assigned
    positionally like extract_fields (title + FAMILY_FIELDS order); QR
    candidate regions are emitted under the reference's 'qrcode' label.
    Coordinates are in the page's winning deskewed/upright frame, the
    frame the crops are taken from.
    """
    from ..operators.media import encode_image
    from .extract import ocr_page_state

    state = ocr_page_state(img)
    title = state.rows[0] if state.rows else ""
    family = classify_family(title)
    gray = _page_gray(img, state)
    labels = ["title"] + FAMILY_FIELDS[family]
    out = []
    boxes = [(lab, b) for lab, b in zip(labels, state.row_boxes)]
    boxes += [("qrcode", b) for b in state.qr_boxes]
    for label, (x, y, w, h) in boxes:
        out.append(
            {
                "label": label,
                "x": int(x),
                "y": int(y),
                "w": int(w),
                "h": int(h),
                "crop": encode_image(gray[y : y + h, x : x + w]),
            }
        )
    return out
