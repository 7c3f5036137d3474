"""Deterministic fixture-media synthesis: image = pure_function(media_ref).

No binary corpus is checked in (per FIXTURES.md §2): every media reference is
rendered at read time from sha256(media_ref), so the driver, every Spark
executor python worker, and pytest all derive bit-identical pixels.  Because
the layout (texts + boxes) is known at render time, the expected OCR output
is computable *without running the extraction pipeline* — that layout-side
text is the pytest span-equality oracle.

media_ref grammar
-----------------
    img://{doc}/{i}#crop          small field crop (1-2 short lines, like the
                                  reference's images/invoice/*.png fixtures)
    img://{doc}/{i}#page          full page (6-14 lines, 1-2 columns, like
                                  rasterized PDF pages, reference
                                  obj_det/objd_util.py:99-107)
    img://{doc}/{i}#big           rare large page (scale stressor)
    img://{doc}/{i}#flip          page with exactly one 180-degree-rotated
                                  line (per-line direction-classifier
                                  stressor, reference predict_cls.py)
    pdf://{doc}/{i}#{n}           n-page document; page p salts the RNG with
                                  p; extracted text = pages joined by \\n
    anything containing '#err'    render raises (per-row failure-isolation
                                  stressor, reference fapi.py:255-263)

Stressors baked in (north-star requirements):
* whole-image rotation 0/90/180/270 (angle-classification pass),
* red seal overlay (seal-removal preprocessing, reference remove_red.py),
* same-row y-jitter below / above the 10px reading-order threshold
  (reference tools/infer/predict_system.py:131).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np

from . import glyphs
from .glyphs import ADVANCE, GLYPH_H

_SKEW_PROB = 0.08
# One line per affected page is stamped upside-down (mixed-orientation
# stressor; the per-line 180-degree classifier must rescue it).  Drawn from
# a SPAWNED child generator so pre-existing fixture layouts/texts are
# byte-identical — only the ink of the chosen line changes.
_FLIP_PROB = 0.06

# Canonical token vocabulary: the value shapes the reference's normalizer
# library consumes (amounts util/tool.py:109-169, dates :271-301, pages
# :255-268, chinese amounts :172-252, invoice keywords vat_detect.py:81-107).
_LATIN_WORDS = [
    "spark", "query", "table", "scan", "merge", "join", "filter", "window",
    "batch", "group", "order", "total", "invoice", "amount", "tax", "bank",
]
_CJK_WORDS = ["发票", "专用发票", "普通发票", "电子发票", "入库单", "总务", "结算", "药品"]
_SEAL_RGB = (220, 70, 70)  # bright in the red channel -> removable


@dataclass
class Line:
    """One rendered text box in canonical (un-rotated) page coordinates."""

    text: str
    x: int
    y: int
    w: int
    h: int
    # Ink stamped 180-degree-rotated inside the box (per-line orientation
    # stressor — the case the reference's direction classifier exists for,
    # tools/infer/predict_cls.py:115-119).  ``text`` stays the TRUE
    # reading, so the layout-side span oracle is unchanged.
    flipped: bool = False


@dataclass
class RenderedPage:
    image: np.ndarray  # (H, W, 3) uint8
    lines: list[Line] = field(default_factory=list)
    rot_k: int = 0  # image was rotated by rot_k * 90deg CCW from canonical
    scale: int = 1
    skew_deg: int = 0  # small-angle scatter-rotation stressor (+-2..5 deg)
    # canvas padding applied before the skew rotation: line boxes in the
    # DESKEW-RECOVERED frame sit at (x + pad, y + pad) — consumed by the
    # end-to-end eval harness's ground-truth builder (write_gt_lines)
    pad: int = 0


def _rng(key: str) -> np.random.Generator:
    seed = int.from_bytes(hashlib.sha256(key.encode("utf-8")).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(seed))


def _token(rng: np.random.Generator) -> str:
    """One space-free token drawn from the normalizer-relevant shapes."""
    kind = rng.integers(0, 8)
    if kind == 0:  # plain number with separators
        return f"{rng.integers(1, 99_999_999):,}"
    if kind == 1:  # currency amount
        return f"¥{rng.integers(1, 999_999)}.{rng.integers(0, 100):02d}"
    if kind == 2:  # date
        return (
            f"{rng.integers(2019, 2027)}年{rng.integers(1, 13):02d}月"
            f"{rng.integers(1, 29):02d}日"
        )
    if kind == 3:  # page marker
        a = int(rng.integers(1, 9))
        return f"第{a}页/共{int(rng.integers(a, 10))}页"
    if kind == 4:  # chinese upper-case amount
        digits = "壹贰叁肆伍陆柒捌玖"
        units = ["万", "仟", "佰", "拾", ""]
        n = int(rng.integers(2, 5))
        body = "".join(
            digits[rng.integers(0, 9)] + units[i + 5 - n] for i in range(n)
        )
        return body + "元" + digits[rng.integers(0, 9)] + "角"
    if kind == 5:
        return str(_LATIN_WORDS[rng.integers(0, len(_LATIN_WORDS))])
    if kind == 6:
        return str(_CJK_WORDS[rng.integers(0, len(_CJK_WORDS))])
    return f"{rng.integers(0, 999999):06d}"


def _profile(media_ref: str) -> str:
    frag = media_ref.rsplit("#", 1)[-1] if "#" in media_ref else "crop"
    return frag


def _render_canonical(key: str, profile: str) -> RenderedPage:
    """Render one page in canonical orientation. Pure function of (key, profile)."""
    rng = _rng(key)
    if profile == "crop":
        n_rows, max_cols, scale = int(rng.integers(1, 3)), 1, int(rng.integers(1, 3))
    elif profile == "big":
        n_rows, max_cols, scale = int(rng.integers(10, 16)), 2, 4
    else:  # page (and flip: a page with one guaranteed 180-degree line)
        n_rows, max_cols, scale = int(rng.integers(6, 15)), 2, 2

    margin = 4 * scale
    row_pitch = (GLYPH_H + 4) * scale  # >= 10px apart for scale >= 1
    lines: list[Line] = []
    for r in range(n_rows):
        n_cols = int(rng.integers(1, max_cols + 1))
        x = margin
        base_y = margin + r * row_pitch
        for _c in range(n_cols):
            text = _token(rng)
            # y-jitter below both (a) the 10px same-row threshold of the
            # reading-order sort (predict_system.py:131) and (b) the ink
            # separation bound: jitter <= 4*scale-1 keeps adjacent visual
            # rows' ink vertically disjoint (row pitch 11*scale, glyph
            # height 7*scale), so detection bands recover layout boxes
            # exactly. The sort's bubble pass must still do real work.
            jitter = int(rng.integers(0, min(10, 4 * scale)))
            w = (ADVANCE * len(text) - 1) * scale
            lines.append(Line(text, x, base_y + jitter, w, GLYPH_H * scale))
            x += w + int(rng.integers(2, 6)) * scale

    return _rasterize(lines, n_rows, scale, rng, force_flip=(profile == "flip"))


def _render_lines(
    texts: list[str],
    rng: np.random.Generator,
    scale: int = 2,
    patches: list[tuple[int, int, np.ndarray]] | None = None,
) -> RenderedPage:
    """Render one text per row (labeled-document layout used by
    fixtures/invoice.py); space-separated tokens become separate boxes on
    the same row, so OCR's same-row ' '-join reproduces the text exactly.
    Same jitter/seal/rotation stressors as the generic pages.  RNG draw
    order for space-free texts is identical to the historical layout
    (jitter once per row; the inter-box gap draw only happens between
    tokens)."""
    margin = 4 * scale
    row_pitch = (GLYPH_H + 4) * scale
    lines: list[Line] = []
    for r, text in enumerate(texts):
        jitter = int(rng.integers(0, min(10, 4 * scale)))
        x = margin
        base_y = margin + r * row_pitch + jitter
        toks = text.split(" ")
        for i, tok in enumerate(toks):
            w = (ADVANCE * len(tok) - 1) * scale
            lines.append(Line(tok, x, base_y, w, GLYPH_H * scale))
            if i + 1 < len(toks):
                x += w + int(rng.integers(2, 6)) * scale
    return _rasterize(lines, len(texts), scale, rng, patches=patches)


def _rasterize(
    lines: list[Line],
    n_rows: int,
    scale: int,
    rng: np.random.Generator,
    force_flip: bool = False,
    patches: list[tuple[int, int, np.ndarray]] | None = None,
) -> RenderedPage:
    """Shared raster tail: ink mask -> image (+ optional red seal, whole
    image rotation). Consumes RNG draws in a fixed order.

    ``patches`` are (x, y, gray uint8) rectangles stamped verbatim onto
    the page BEFORE the seal/rotation/skew stressors, so a QR region
    rotates and skews with the page exactly like printed ink; their dark
    pixels join the seal-exclusion mask (the seal may cover a patch's
    LIGHT pixels — seal removal restores those to light, which is the
    correct read — but must never paint over dark modules)."""
    # Per-line 180-degree stressor: the flip generator is SPAWNED, not
    # drawn from ``rng``, so the main draw stream (and therefore every
    # pre-existing layout, seal, rotation and skew decision) is untouched.
    # force_flip (the #flip profile) guarantees exactly one flipped line
    # for deterministic tests; otherwise the flip is a rare background
    # stressor like skew.
    # >= 3 boxes so a STRICT majority stays upright: on a 2-box page with
    # one flip, a 180-degree whole-page rotation explains the ink equally
    # well (either frame needs exactly one per-line rescue) — orientation
    # is genuinely ambiguous, for the reference classifier too.  With a
    # majority upright, the raw 3-box probe strictly prefers the true
    # orientation before any per-line rescue runs.
    flip_rng = rng.spawn(1)[0]
    flip_idx = -1
    if len(lines) >= 3 and (force_flip or flip_rng.random() < _FLIP_PROB):
        flip_idx = int(flip_rng.integers(0, len(lines)))

    margin = 4 * scale
    row_pitch = (GLYPH_H + 4) * scale
    width = max(ln.x + ln.w for ln in lines) + margin
    height = margin + (n_rows - 1) * row_pitch + GLYPH_H * scale + 9 + margin
    for px, py, patch in patches or []:
        width = max(width, px + patch.shape[1] + margin)
        height = max(height, py + patch.shape[0] + margin)
    ink = np.zeros((height, width), dtype=bool)
    for i, ln in enumerate(lines):
        mask = glyphs.render_text_line(ln.text)
        if i == flip_idx:
            ln.flipped = True
            mask = mask[::-1, ::-1]  # 180-degree rotation of the line ink
        if scale > 1:  # exact kron-with-ones upsampling, ~10x faster
            mask = mask.repeat(scale, axis=0).repeat(scale, axis=1)
        ink[ln.y : ln.y + mask.shape[0], ln.x : ln.x + mask.shape[1]] |= mask

    img = np.full((height, width, 3), 255, dtype=np.uint8)
    img[ink] = 0
    for px, py, patch in patches or []:
        ph, pw = patch.shape[:2]
        img[py : py + ph, px : px + pw] = patch[..., None]
        ink[py : py + ph, px : px + pw] |= patch < 128

    # Red seal overlay: drawn only where there is no ink, so the
    # red-channel threshold removal is exact (reference remove_red.py:16-35
    # keeps dark ink because ink is dark in *every* channel).
    if rng.random() < 0.3:
        sh = int(rng.integers(height // 4, max(height // 2, height // 4 + 1)))
        sw = int(rng.integers(width // 4, max(width // 2, width // 4 + 1)))
        sy = int(rng.integers(0, max(height - sh, 1)))
        sx = int(rng.integers(0, max(width - sw, 1)))
        seal = np.zeros((height, width), dtype=bool)
        seal[sy : sy + sh, sx : sx + sw] = True
        seal &= ~ink
        img[seal] = _SEAL_RGB

    rot_k = int(rng.choice([0, 1, 2, 3], p=[0.7, 0.1, 0.1, 0.1]))
    if rot_k:
        img = np.ascontiguousarray(np.rot90(img, rot_k))

    # Small-angle skew stressor (the case the reference's table angle
    # preprocess handles, table_extract.py:325-446): forward-scatter
    # rotation by an integer +-2..5 degrees on a padded canvas (no ink
    # clips), which the pipeline's deskew fallback (core/extract.py)
    # inverts exactly.  Scale >= 2 only — the deskew denoise contracts
    # (robust unit-scale gcd) assume super-pixel glyphs.
    skew_deg = 0
    pad = 0
    # n_rows >= 4: the projection-profile skew estimate needs several text
    # lines to discriminate integer angles (a 1-2 row crop is ambiguous —
    # as for any real deskewer).
    if scale >= 2 and n_rows >= 4 and rng.random() < _SKEW_PROB:
        from ..core.geometry import rotate_scatter

        skew_deg = int(rng.choice([-5, -4, -3, -2, 2, 3, 4, 5]))
        # corner displacement at 5 deg is <= r*theta ~ 0.031*(h+w); 0.035
        # plus slack keeps every ink pixel on-canvas without inflating the
        # page (deskew cost scales with canvas area)
        pad = int(0.035 * (img.shape[0] + img.shape[1])) + 4
        canvas = np.full(
            (img.shape[0] + 2 * pad, img.shape[1] + 2 * pad, 3), 255, np.uint8
        )
        canvas[pad:-pad, pad:-pad] = img
        img = rotate_scatter(canvas, float(skew_deg))
    return RenderedPage(
        image=img,
        lines=lines,
        rot_k=rot_k,
        scale=scale,
        skew_deg=skew_deg,
        pad=pad,
    )


def render(media_ref: str) -> list[RenderedPage]:
    """All pages for ``media_ref`` (1 for img://, n for pdf://)."""
    if "#err" in media_ref:
        raise ValueError(f"synthetic decode failure: {media_ref}")
    if media_ref.startswith("pdf://"):
        n_pages = int(media_ref.rsplit("#", 1)[-1])
        return [
            _render_canonical(f"{media_ref}/p{p}", "page") for p in range(n_pages)
        ]
    return [_render_canonical(media_ref, _profile(media_ref))]


def expected_media_text(media_ref: str) -> str:
    """Ground-truth OCR output for ``media_ref`` — computed from the layout,
    not by running the pipeline (FIXTURES.md §2). Rows joined by \\n, boxes
    within a row by a single space, rows ordered by the reading-order sort,
    pages by \\n."""
    from ..core.reading_order import reading_order_text

    pages = render(media_ref)
    return "\n".join(
        reading_order_text(
            [(ln.x, ln.y, ln.w, ln.h) for ln in page.lines],
            [ln.text for ln in page.lines],
        )
        for page in pages
    )
