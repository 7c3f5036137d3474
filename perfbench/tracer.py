"""Span tracer and kernel replay for the traced run.

The replay runs every media item of a workload once, in this process,
through the kernel's public functions, with timing wrappers patched in
under the names the callers use: ``core.extract`` imports
``recognize_batch``, ``recognize_batch_cls``, ``rotate_image``,
``sorted_boxes`` and ``group_rows`` by name and reaches ``detect`` as a
module attribute, so each wrapper is installed where the lookup happens.
Nothing in the program changes; the wrappers are removed on exit.

Spans stay in memory as ``(name, start, end, parent, doc)`` rows and are
written out at exit.  A layer's self time is its duration minus the part
of that interval its children cover.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time


class Tracer:
    """In-memory span recorder (single thread)."""

    def __init__(self) -> None:
        # rows: [name, start, end, parent index or -1, doc, ok flag]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.doc = ""

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield self.spans[idx]
        finally:
            self._close(idx)

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), 0.0, parent, self.doc, None])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    def wrap(self, name: str, fn, ok=None):
        """``fn`` recording one span per call; ``ok(result)`` marks the
        span as a useful outcome."""

        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                out = fn(*args, **kwargs)
                if ok is not None:
                    self.spans[idx][5] = bool(ok(out))
                return out
            finally:
                self._close(idx)

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def patched(self, targets):
        """Install wrappers for ``(module, attr, span name[, ok])``
        targets; restore the originals on exit."""
        saved = []
        try:
            for module, attr, name, *ok in targets:
                mod = importlib.import_module(module)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(name, orig, *ok))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for name, s, e, parent, _doc, _ok in self.spans:
            if parent >= 0:
                children.setdefault(parent, []).append((s, e))
        out = []
        for i, (_n, s, e, _p, _d, _ok) in enumerate(self.spans):
            covered = 0.0
            end = s
            for cs, ce in sorted(children.get(i, [])):
                cs, ce = max(cs, end), min(ce, e)
                if ce > cs:
                    covered += ce - cs
                    end = ce
            out.append((e - s) - covered)
        return out

    def layer_totals(self) -> dict[str, dict]:
        """name -> {calls, self_s, total_s, ok}."""
        agg: dict[str, dict] = {}
        for row, self_s in zip(self.spans, self.self_times()):
            name, s, e, _p, _d, ok = row
            a = agg.setdefault(name, {"calls": 0, "self_s": 0.0, "total_s": 0.0, "ok": 0})
            a["calls"] += 1
            a["self_s"] += self_s
            a["total_s"] += e - s
            a["ok"] += bool(ok)
        return agg

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "doc", "ok")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, row)) for row in self.spans], f)


# Kernel layers, patched where their callers look them up.
_E = "ocr_spark.core.extract"
_D = "ocr_spark.core.detect"
KERNEL_TARGETS = [
    (_E, "render", "render"),
    (_E, "ocr_page_state", "extract.page"),
    (_E, "_best_over_orientations", "extract.orient"),
    (_E, "_ranked_skew_angles", "extract.deskew"),
    (_E, "rotate_image", "extract.deskew"),
    (_D, "remove_seal_to_gray", "detect.seal_binarize"),
    (_D, "binarize", "detect.seal_binarize"),
    (_D, "estimate_unit_scale", "detect.unit_scale"),
    (_D, "detect_lines", "detect.lines"),
    (_E, "recognize_batch", "recognize.probe"),
    (_E, "recognize_batch_cls", "recognize.full"),
    (_E, "sorted_boxes", "reading_order"),
    (_E, "group_rows", "reading_order"),
]
_F = "ocr_spark.core.fields"
FIELDS_TARGETS = [
    (_F, "deskew_sheet", "fields.regions"),
    (_F, "detect_invoice_regions", "fields.regions"),
    (_F, "extract_fields", "fields.extract"),
    ("ocr_spark.core.qr", "get_qrcode_data", "qr.ladder"),
    ("ocr_spark.core.qr", "decode", "qr.decode", bool),
]
# spans with children whose own time is glue, reported but not a layer
ROOTS = ("media", "invoice")


def replay_media(tracer: Tracer, refs: list[str]) -> int:
    """OCR every media ref once under the kernel wrappers; returns the
    number of refs whose decode raised (the ``#err`` refs)."""
    from ocr_spark.core import extract

    errors = 0
    with tracer.patched(KERNEL_TARGETS):
        for ref in refs:
            tracer.doc = ref
            with tracer.span("media"):
                try:
                    extract.ocr_media_ref(ref)
                except ValueError:
                    errors += 1
    return errors


def replay_invoices(tracer: Tracer, refs: list[str]) -> None:
    """Run the invoice kernel over every ref, as the fields UDF does:
    ``#multi`` sheets through region detection, singles directly."""
    from ocr_spark.core import fields
    from ocr_spark.fixtures.invoice import is_multi, render_invoice, render_multi

    with tracer.patched(KERNEL_TARGETS + FIELDS_TARGETS):
        for ref in refs:
            tracer.doc = ref
            with tracer.span("invoice"):
                if is_multi(ref):
                    with tracer.span("render"):
                        img = render_multi(ref)[0]
                    fields.extract_fields_regions(img)
                else:
                    with tracer.span("render"):
                        img = render_invoice(ref).image
                    fields.extract_fields(img)


def _parent_name(tracer: Tracer, parent: int) -> str:
    return tracer.spans[parent][0] if parent >= 0 else ""


def _pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


def kernel_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer kernel metrics from a replay's spans."""
    agg = tracer.layer_totals()
    pages = max(agg.get("extract.page", {}).get("calls", 0), 1)

    def ms(name: str) -> float:
        return 1000.0 * agg.get(name, {}).get("self_s", 0.0) / pages

    def calls(name: str) -> int:
        return agg.get(name, {}).get("calls", 0)

    # deskew trials are the robust orientation passes (robust=True),
    # i.e. every orient pass after a page's first
    orient_per_page: dict[int, int] = {}
    page_ms: list[float] = []
    for i, (name, s, e, parent, _d, _ok) in enumerate(tracer.spans):
        if name == "extract.page":
            page_ms.append(1000.0 * (e - s))
            orient_per_page.setdefault(i, 0)
        elif name == "extract.orient" and _parent_name(tracer, parent) == "extract.page":
            orient_per_page[parent] = orient_per_page.get(parent, 0) + 1
    trials = [n - 1 for n in orient_per_page.values() if n > 1]
    # one detect_lines call per page produced the answer it kept: the call
    # on the winning orientation of the winning pass
    useful = sum(1 for n in orient_per_page.values() if n > 0)
    roots = [
        (e - s) for (name, s, e, _p, _d, _ok) in tracer.spans if name in ROOTS
    ]
    root_total = sum(roots)
    layer_self = sum(
        a["self_s"] for name, a in agg.items() if name not in ROOTS
    )
    return {
        "render.ms_per_page": ms("render"),
        "detect.seal_binarize.ms_per_page": ms("detect.seal_binarize"),
        "detect.unit_scale.ms_per_page": ms("detect.unit_scale"),
        "detect.lines.ms_per_page": ms("detect.lines"),
        "detect.lines.calls_per_page": calls("detect.lines") / pages,
        "detect.lines.useful_frac": useful / max(calls("detect.lines"), 1),
        "recognize.probe.ms_per_page": ms("recognize.probe"),
        "recognize.full.ms_per_page": ms("recognize.full"),
        "recognize.full.calls_per_page": calls("recognize.full") / pages,
        "extract.orient.ms_per_page": ms("extract.orient"),
        "extract.deskew.ms_per_page": ms("extract.deskew"),
        "extract.page_ms.p50": _pct(page_ms, 0.50),
        "extract.page_ms.p99": _pct(page_ms, 0.99),
        "extract.deskew.pages_frac": len(trials) / pages,
        "extract.deskew.trials_per_page": sum(trials) / max(len(trials), 1),
        "reading_order.ms_per_page": ms("reading_order"),
        "kernel.pages": float(calls("extract.page")),
        "kernel.replay_s": root_total,
        "kernel.ms_per_page": 1000.0 * root_total / pages,
        "kernel.self_sum_frac": layer_self / root_total if root_total else 0.0,
    }


def fields_metrics(tracer: Tracer, n_sheets: int) -> dict[str, float]:
    """Per-layer invoice metrics from an invoice replay's spans."""
    agg = tracer.layer_totals()
    regions = agg.get("fields.extract", {}).get("calls", 0)
    # the ladder recurses; count only top-level calls as regions
    qr_regions = sum(
        1
        for name, _s, _e, p, _d, _ok in tracer.spans
        if name == "qr.ladder" and _parent_name(tracer, p) != "qr.ladder"
    )
    decode = agg.get("qr.decode", {"calls": 0, "ok": 0})
    return {
        "fields.regions.ms_per_sheet": 1000.0
        * agg.get("fields.regions", {}).get("total_s", 0.0)
        / max(n_sheets, 1),
        "fields.extract.ms_per_region": 1000.0
        * agg.get("fields.extract", {}).get("total_s", 0.0)
        / max(regions, 1),
        "qr.attempts_per_region": decode["calls"] / max(qr_regions, 1),
        "qr.useful_frac": decode["ok"] / max(decode["calls"], 1),
    }
