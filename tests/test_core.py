"""Unit + property tests for the numpy stage kernels."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.core import detect
from ocr_spark.core.extract import ocr_media_ref, ocr_page
from ocr_spark.core.reading_order import group_rows, reading_order_text, sorted_boxes
from ocr_spark.fixtures.render import expected_media_text, render


def _reference_sorted_boxes(boxes):
    """Literal transcription of the reference loop
    (tools/infer/predict_system.py:122-138) over (x, y) top-left corners,
    used as the spec for the production port."""
    order = sorted(range(len(boxes)), key=lambda i: (boxes[i][1], boxes[i][0]))
    _boxes = list(order)
    for i in range(len(_boxes) - 1):
        for j in range(i, 0, -1):
            if (
                abs(boxes[_boxes[j + 1]][1] - boxes[_boxes[j]][1]) < 10
                and boxes[_boxes[j + 1]][0] < boxes[_boxes[j]][0]
            ):
                tmp = _boxes[j]
                _boxes[j] = _boxes[j + 1]
                _boxes[j + 1] = tmp
            else:
                break
    return _boxes


@given(
    st.lists(
        st.tuples(
            st.integers(0, 500),
            st.integers(0, 500),
            st.integers(4, 60),
            st.integers(4, 20),
        ),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=200, deadline=None)
def test_sorted_boxes_matches_reference_spec(boxes):
    assert sorted_boxes(boxes) == _reference_sorted_boxes(boxes)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 300), st.integers(0, 300), st.just(30), st.just(10)
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=100, deadline=None)
def test_group_rows_partitions_order(boxes):
    order = sorted_boxes(boxes)
    rows = group_rows(boxes, order)
    flat = sorted(i for row in rows for i in row)
    assert flat == sorted(order)  # rows partition the index set
    # chained rule invariants over the y-sorted walk: gaps inside a row
    # are < 10, gaps across a row boundary are >= 10
    ys = [sorted(boxes[i][1] for i in row) for row in rows]
    for row_ys in ys:
        assert all(b - a < 10 for a, b in zip(row_ys, row_ys[1:]))
    for a, b in zip(ys, ys[1:]):
        assert b[0] - a[-1] >= 10
    # within a row, boxes keep their reading-order sequence
    pos = {idx: p for p, idx in enumerate(order)}
    for row in rows:
        assert [pos[i] for i in row] == sorted(pos[i] for i in row)


def test_chained_rule_keeps_drifting_column_one_row():
    """Adversarial drift layout where the chained (reference) rule and the
    round-1 anchored rule disagree: y = 0, 6, 12, ... steps of 6 < 10px
    stay ONE row under the reference's previous-cell comparison
    (ocr_context.py:436-440); anchoring to the row's first box would split
    at y=12."""
    boxes = [(0, 6 * i, 30, 10) for i in range(10)]
    rows = group_rows(boxes, sorted_boxes(boxes))
    assert len(rows) == 1


def test_union_rows_relative_threshold_mixed_sizes():
    """union_rbox merges on a RELATIVE criterion (alpha * min(h)/2,
    apphelper/image.py:328-331): an 8px centre offset merges tall glyphs
    but splits small ones, where the fixed 10px rule merges both."""
    from ocr_spark.core.reading_order import union_rows

    tall = [(0, 0, 30, 200), (40, 8, 30, 200)]
    assert len(union_rows(tall)) == 1
    small = [(0, 0, 30, 20), (40, 8, 30, 20)]
    assert len(union_rows(small)) == 2
    assert len(group_rows(small, sorted_boxes(small))) == 1  # fixed rule


def test_union_rows_compares_all_group_members():
    """A box joins the latest group only if it is within tolerance of
    EVERY member (the reference's any-member-exceeds -> new group loop,
    apphelper/image.py:362-370)."""
    from ocr_spark.core.reading_order import union_rows

    h = 100  # tolerance = alpha * h/2 = 5px on centres
    boxes = [(0, 0, 10, h), (20, 4, 10, h), (40, 8, 10, h)]
    assert [len(g) for g in union_rows(boxes)] == [2, 1]


def test_otsu_bimodal():
    channel = np.array([0] * 50 + [255] * 50, dtype=np.uint8)
    t = detect.otsu_threshold(channel)
    assert 0 <= t < 255


def test_seal_removal_recovers_clean_page():
    page = render("img://seal-hunt/0#page")[0]
    # find a fixture that actually has a seal
    i = 0
    while page.skew_deg or not (page.image[..., 0] != page.image[..., 1]).any():
        i += 1
        page = render(f"img://seal-hunt/{i}#page")[0]
    gray = detect.remove_seal_to_gray(np.rot90(page.image, -page.rot_k))
    ink = detect.binarize(gray)
    # seal pixels are gone: ink count equals the glyph ink of the layout
    from ocr_spark.fixtures import glyphs as g

    expected_ink = sum(
        int(g.render_text_line(ln.text).sum()) * page.scale**2
        for ln in page.lines
    )
    assert int(ink.sum()) == expected_ink


def test_scale_recovery():
    for i in range(10):
        page = render(f"img://scale-{i}/0#page")[0]
        if page.skew_deg:
            continue  # canonical reconstruction below is rot90-only
        img = np.rot90(page.image, -page.rot_k)
        ink = detect.binarize(detect.remove_seal_to_gray(img))
        assert detect.estimate_unit_scale(ink) == page.scale


def test_detected_boxes_equal_layout_boxes():
    for i in range(10):
        page = render(f"img://boxes-{i}/0#page")[0]
        if page.skew_deg:
            continue  # canonical reconstruction below is rot90-only
        img = np.rot90(page.image, -page.rot_k)
        ink = detect.binarize(detect.remove_seal_to_gray(img))
        boxes = detect.detect_lines(ink, page.scale)
        got = sorted((b.x, b.y, b.w, b.h) for b in boxes)
        want = sorted((ln.x, ln.y, ln.w, ln.h) for ln in page.lines)
        assert got == want


def test_ocr_page_angle_invariance():
    """The angle pass must recover the same text for all 4 rotations."""
    page = render("img://angle/0#crop")[0]
    assert page.skew_deg == 0  # crop profile can be scale 1: never skewed... at scale>=2 possible; re-pick if so
    canonical = np.rot90(page.image, -page.rot_k)
    texts = {ocr_page(np.rot90(canonical, k))[0] for k in range(4)}
    assert len(texts) == 1


def test_media_text_equals_layout_oracle():
    refs = [f"img://core-{i}/0#page" for i in range(20)]
    refs += [f"img://core-{i}/1#crop" for i in range(20)]
    refs += ["pdf://core-pdf/0#3", "img://core-big/0#big"]
    for ref in refs:
        assert ocr_media_ref(ref) == expected_media_text(ref), ref


def test_extract_spans_isolation_and_order():
    """The per-span kernel OCRs media rows, passes text rows through, and
    keeps every row's offset, so reassembly can restore the span order of
    spans given out of order.  A ``#err`` media row fails alone: its
    neighbours keep their texts and no error."""
    import pandas as pd

    from ocr_spark.operators.pipeline import _ocr_span_batches

    crop = "img://iso/1#crop"
    batch = pd.DataFrame(
        {
            "doc_id": ["iso", "iso", "iso"],
            "kind": ["media", "text", "media"],
            "text": ["", "hello", ""],
            "media_ref": [crop, "", "img://iso/2#err"],
            "offset": [1, 0, 2],
        }
    )
    (out,) = list(_ocr_span_batches(iter([batch])))
    assert list(out["offset"]) == [1, 0, 2]
    assert list(out["text"]) == [expected_media_text(crop), "hello", ""]
    assert list(out["error"][:2]) == ["", ""]
    assert out["error"][2].startswith("ValueError")


def test_hybrid_fallback_recovers_empty_lines():
    """Lines that decode empty under the primary tolerance retry with the
    looser fallback matcher (reference _ocr hybrid,
    obj_det/ocr_context.py:97-144)."""
    import numpy as np

    from ocr_spark.core.recognize import (
        FALLBACK_TAU, NOISE_TAU, recognize_batch,
    )
    from ocr_spark.fixtures.glyphs import render_text_line

    assert FALLBACK_TAU > NOISE_TAU
    clean = render_text_line("7")
    corrupted = clean.copy()
    flips = 0
    for y in range(7):
        for x in range(5):
            if flips < FALLBACK_TAU and (y, x) not in ((0, 0), (0, 4), (6, 0), (6, 4)):
                corrupted[y, x] = ~corrupted[y, x]
                flips += 1
    # corrupted beyond the primary tolerance but within fallback reach
    texts, confs = recognize_batch([corrupted, render_text_line("ok")])
    assert texts[1] == "ok"
    assert texts[0] in ("7", "")  # recovered by fallback when unique
    if texts[0] == "7":
        assert confs[0] > 0


def test_window_sql_clustering_agrees_with_numpy():
    """group_rows is now the SAME chained algorithm as the lag/sum window
    formulation (operators/spans.py row_cluster, checked against DuckDB):
    row MEMBERSHIP must agree on fixture layouts AND on adversarial
    drifting layouts where the round-1 anchored rule diverged."""
    from ocr_spark.fixtures.render import _render_canonical

    def lag_cluster(idx_y):
        """idx_y: list of (idx, y) sorted by y — returns sets of idx."""
        rows, row = [], [idx_y[0][0]]
        for (pi, py), (ci, cy) in zip(idx_y, idx_y[1:]):
            if cy - py >= 10:
                rows.append(row)
                row = [ci]
            else:
                row.append(ci)
        rows.append(row)
        return [sorted(r) for r in rows]

    layouts = []
    for i in range(120):
        page = _render_canonical(f"agree-{i}", "page")
        layouts.append([(ln.x, ln.y, ln.w, ln.h) for ln in page.lines])
    # adversarial drift columns (steps just under / at the threshold)
    layouts.append([(7 * i % 50, 6 * i, 30, 10) for i in range(40)])
    layouts.append([(5 * i % 50, 9 * i, 30, 10) for i in range(40)])
    layouts.append([(0, (i * 13) % 200, 30, 10) for i in range(40)])

    for li, boxes in enumerate(layouts):
        order = sorted_boxes(boxes)
        numpy_rows = [sorted(r) for r in group_rows(boxes, order)]
        pos = {idx: p for p, idx in enumerate(order)}
        idx_y = sorted(
            ((i, boxes[i][1]) for i in range(len(boxes))),
            key=lambda t: (t[1], pos[t[0]]),
        )
        assert numpy_rows == lag_cluster(idx_y), li


def test_skewed_pages_extract_exactly():
    """8% of scale>=2 renders carry a +-2..5 degree scatter-skew; the
    deskew fallback ladder must recover the exact span text (north rule:
    span-sequence equality, with the skew stressor in the mix)."""
    from ocr_spark.core.extract import ocr_media_ref

    skewed, i = [], 0
    while len(skewed) < 5 and i < 200:
        ref = f"img://skewhunt-{i}/0#page"
        if render(ref)[0].skew_deg:
            skewed.append(ref)
        i += 1
    assert len(skewed) == 5  # the stressor fires at the expected rate
    for ref in skewed:
        assert ocr_media_ref(ref) == expected_media_text(ref), ref


def test_per_line_180_classifier_rescues_flipped_line():
    """A page with ONE upside-down line (pasted content / rotated stamp —
    the case the reference's per-line direction classifier exists for,
    tools/infer/predict_cls.py:115-119) must still satisfy span-sequence
    equality; the page-level orientation vote alone cannot fix it."""
    from ocr_spark.core.recognize import recognize_batch, recognize_batch_cls

    for i in range(5):
        ref = f"img://flip-{i}/0#flip"
        page = render(ref)[0]
        assert sum(ln.flipped for ln in page.lines) == 1
        assert ocr_media_ref(ref) == expected_media_text(ref), ref

    # unit semantics: the flipped bitmap decodes empty raw (no fixture
    # glyph is 180-confusable within tolerance), and the classifier
    # adopts the flipped reading above the 0.9 gate; upright lines are
    # untouched and skip the flip probe entirely.
    from ocr_spark.fixtures.glyphs import render_text_line

    up = render_text_line("total123")
    down = np.ascontiguousarray(up[::-1, ::-1])
    t_raw, c_raw = recognize_batch([down])
    assert t_raw[0] == "" and c_raw[0] == 0.0
    texts, confs, flips = recognize_batch_cls([up, down])
    assert texts == ["total123", "total123"]
    assert flips == [False, True]
    assert confs[1] > 0.9


def test_background_flip_stressor_rate_and_equality():
    """The ~6% background per-line flip (spawned-RNG, layout-invariant)
    must be recovered wherever it fires."""
    flipped, i = [], 0
    while len(flipped) < 4 and i < 120:
        ref = f"img://fliphunt-{i}/0#page"
        if any(ln.flipped for ln in render(ref)[0].lines):
            flipped.append(ref)
        i += 1
    assert len(flipped) == 4  # the stressor fires at the expected rate
    for ref in flipped:
        assert ocr_media_ref(ref) == expected_media_text(ref), ref


def _eager_best_over_orientations(ink0, robust=False):
    """The page ladder before the lazy commit, kept as the oracle: probe
    all 4 orientations (stopping early only on a perfect probe of a page
    of <= 3 boxes), each with its own unit scale, then commit by full
    recognition in (-probe, k) order."""
    from ocr_spark.core import extract as E

    cands = []
    for k in (0, 1, 2, 3):
        ink = np.rot90(ink0, -k) if k else ink0
        scale = detect.estimate_unit_scale(ink, robust=robust)
        boxes, qr_boxes = detect.split_qr_boxes(detect.detect_lines(ink, scale))
        if not boxes:
            if qr_boxes:
                cands.append((0.0, k, [], qr_boxes))
            continue
        _pt, probe_confs = E.recognize_batch([b.bitmap for b in boxes[:3]])
        probe = float(np.mean(probe_confs)) if probe_confs else 0.0
        cands.append((probe, k, boxes, qr_boxes))
        if probe >= 1.0 and len(boxes) <= 3:
            break
    best_rows, best_conf, best_k, best_qr, best_row_boxes = [], -1.0, 0, [], []
    for probe, k, boxes, qr_boxes in sorted(cands, key=lambda t: (-t[0], t[1])):
        if probe + E.PROBE_MARGIN < best_conf:
            break
        texts, confs, _flips = E.recognize_batch_cls([b.bitmap for b in boxes])
        conf = float(np.mean(confs)) if confs else 0.0
        if conf > best_conf:
            xywh = [(b.x, b.y, b.w, b.h) for b in boxes]
            rows = group_rows(xywh, sorted_boxes(xywh))
            best_rows = [" ".join(texts[i] for i in row) for row in rows]
            best_conf, best_k = conf, k
            best_qr = [(b.x, b.y, b.w, b.h) for b in qr_boxes]
            best_row_boxes = []
            for row in rows:
                xs0 = min(xywh[i][0] for i in row)
                ys0 = min(xywh[i][1] for i in row)
                xs1 = max(xywh[i][0] + xywh[i][2] for i in row)
                ys1 = max(xywh[i][1] + xywh[i][3] for i in row)
                best_row_boxes.append((xs0, ys0, xs1 - xs0, ys1 - ys0))
        if conf >= 1.0:
            break
    return best_rows, max(best_conf, 0.0), best_k, best_qr, best_row_boxes


def _ladder_images():
    """Page images covering every media profile, all 4 rot_k, skewed
    pages, #flip pages, a QR invoice and a #multi sheet's regions."""
    from ocr_spark.core.fields import sheet_regions
    from ocr_spark.fixtures.invoice import ground_truth, render_invoice, render_multi

    pages = [p for ref in ("pdf://eq-pdf/0#3", "img://eq-big/0#big") for p in render(ref)]
    pages += [render(f"img://eq-{i}/0#{prof}")[0] for i in range(3) for prof in ("crop", "flip")]
    rots: dict[int, int] = {}
    skewed = 0
    for i in range(400):
        page = render(f"img://eq-{i}/0#page")[0]
        if page.skew_deg and skewed < 3:
            skewed += 1
        elif page.skew_deg or rots.get(page.rot_k, 0) >= 2:
            continue
        rots[page.rot_k] = rots.get(page.rot_k, 0) + 1
        pages.append(page)
    assert sorted(rots) == [0, 1, 2, 3] and skewed == 3
    imgs = [p.image for p in pages]
    qr_ref = next(f"inv://t{i}#vat" for i in range(40) if "qrcode" in ground_truth(f"inv://t{i}#vat"))
    imgs.append(render_invoice(qr_ref).image)
    imgs += sheet_regions(render_multi("inv://eq-m0#multi")[0])
    return imgs


def test_lazy_ladder_equals_eager_ladder(monkeypatch):
    """Committing the first perfect probe at once and sharing the unit
    scale across 180-degree twins changes no PageState."""
    from ocr_spark.core import extract as E

    imgs = _ladder_images()
    lazy = [E.ocr_page_state(img) for img in imgs]
    assert any(s.qr_boxes for s in lazy)
    assert any(s.skew_deg for s in lazy)
    monkeypatch.setattr(E, "_best_over_orientations", _eager_best_over_orientations)
    assert lazy == [E.ocr_page_state(img) for img in imgs]


def test_imperfect_head_falls_through_to_phase_b():
    """A sheet whose top-left three lines read upright but whose larger
    block is turned a quarter: the first perfect probe (k=0) full-reads
    below 1.0, so the ladder must go on probing and let Phase B pick the
    block's orientation, as the eager ladder does."""
    from ocr_spark.core.extract import _best_over_orientations
    from ocr_spark.fixtures.glyphs import render_text_line

    def line(text):
        return render_text_line(text).repeat(2, axis=0).repeat(2, axis=1)

    ink = np.zeros((400, 400), bool)
    for i, text in enumerate(["spark", "query", "table"]):
        m = line(text)
        ink[4 + 24 * i : 4 + 24 * i + m.shape[0], 4 : 4 + m.shape[1]] = m
    block = np.zeros((6 * 24, 200), bool)
    for i, text in enumerate(["merge", "join", "filter", "window", "batch", "group"]):
        m = line(text)
        block[24 * i : 24 * i + m.shape[0], : m.shape[1]] = m
    block = np.rot90(block, -1)
    ink[396 - block.shape[0] : 396, 396 - block.shape[1] : 396] = block
    lazy = _best_over_orientations(ink)
    assert lazy[2] == 3 and lazy[0][:2] == ["merge", "join"]
    assert lazy == _eager_best_over_orientations(ink)


def test_ladder_call_counts(monkeypatch):
    """An upright page of > 3 boxes pays one unit scale and one
    detection; its 180-degree turn pays two unit scales (the twins share
    one) and three detections.  The committed orientation's full pass
    reads only the lines its probe did not."""
    from collections import Counter

    from ocr_spark.core import extract as E

    calls: Counter = Counter()

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    def reads(name, fn):
        def wrapper(bitmaps, *args, **kwargs):
            calls[name] += len(bitmaps)
            return fn(bitmaps, *args, **kwargs)

        return wrapper

    page = next(
        p
        for i in range(40)
        for p in render(f"img://counts-{i}/0#page")
        if not p.rot_k and not p.skew_deg and len(p.lines) > 3
        and not any(ln.flipped for ln in p.lines)
    )
    ink = detect.binarize(detect.remove_seal_to_gray(page.image))
    n_boxes = len(detect.detect_lines(ink, detect.estimate_unit_scale(ink)))
    monkeypatch.setattr(detect, "detect_lines", counted("lines", detect.detect_lines))
    monkeypatch.setattr(
        detect, "estimate_unit_scale", counted("scale", detect.estimate_unit_scale)
    )
    monkeypatch.setattr(E, "recognize_batch", reads("probe_reads", E.recognize_batch))
    monkeypatch.setattr(
        E, "recognize_batch_cls", reads("full_reads", E.recognize_batch_cls)
    )
    upright = E.ocr_page_state(page.image)
    assert upright.conf == 1.0 and upright.rot_k == 0
    assert calls == {
        "lines": 1, "scale": 1, "probe_reads": 3, "full_reads": n_boxes - 3
    }
    calls.clear()
    turned = E.ocr_page_state(np.ascontiguousarray(np.rot90(page.image, 2)))
    assert turned.rows == upright.rows and turned.rot_k == 2
    assert calls["lines"] == 3 and calls["scale"] == 2
    assert calls["full_reads"] == n_boxes - 3


@given(
    st.integers(1, 40),
    st.integers(1, 40),
    st.integers(0, 2**32 - 1),
    st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_unit_scale_is_180_invariant(h, w, seed, robust):
    ink = np.random.default_rng(seed).random((h, w)) < 0.5
    for k in (0, 1):
        assert detect.estimate_unit_scale(
            np.rot90(ink, -k), robust=robust
        ) == detect.estimate_unit_scale(np.rot90(ink, -(k + 2)), robust=robust)


def test_unit_scale_is_180_invariant_on_pages():
    """The pair share holds on rendered pages and on inks deskewed by
    rotate_image, strict and robust."""
    from ocr_spark.core.geometry import rotate_image

    inks = []
    for i in range(6):
        page = render(f"img://twin-{i}/0#page")[0]
        ink = detect.binarize(detect.remove_seal_to_gray(page.image))
        inks += [ink] + [rotate_image(ink, float(a), fill=False) for a in (-3, 2)]
    for ink in inks:
        for robust in (False, True):
            for k in (0, 1):
                assert detect.estimate_unit_scale(
                    np.rot90(ink, -k), robust=robust
                ) == detect.estimate_unit_scale(np.rot90(ink, -(k + 2)), robust=robust)
