"""Ground truth and the output checker behind ``failed_frac``.

Span documents: the expected output of a document is its spans in offset
order with every media text taken from the layout
(``fixtures.render.expected_media_text``), never from the pipeline.  A document holding an ``#err`` ref is expected
to fail as a whole: ``success=false`` and every media text empty.  Each
document is reduced to one digest over ``(kind, text, media_ref, offset)``
plus its success flag.

Invoice refs: the expected rows of a ref are ``expected_record(ref)``, or
``expected_multi_records(ref)`` for a ``#multi`` sheet; a ref is correct
when its output rows, ordered by ``region_idx``, equal them exactly.
"""

from __future__ import annotations

import hashlib
import json


def span_digest(spans, success: bool) -> str:
    """Digest of one document's output: spans in offset order."""
    key = [
        (s["kind"], s["text"], s["media_ref"], int(s["offset"]))
        for s in sorted(spans, key=lambda s: s["offset"])
    ]
    return hashlib.sha1(json.dumps([key, bool(success)]).encode()).hexdigest()


def doc_truth(docs: list) -> dict[str, str]:
    """doc_id -> expected digest for generated ``(doc_id, spans)`` rows."""
    from ocr_spark.fixtures.render import expected_media_text

    truth = {}
    for doc_id, spans in docs:
        ok = all("#err" not in s["media_ref"] for s in spans)
        exp = [
            {**s, "text": expected_media_text(s["media_ref"])}
            if s["kind"] == "media" and ok
            else s
            for s in spans
        ]
        truth[doc_id] = span_digest(exp, ok)
    return truth


def invoice_truth(refs: list[str]) -> dict[str, list[dict]]:
    """media_ref -> expected output rows, in region order."""
    from ocr_spark.fixtures.invoice import (
        expected_multi_records,
        expected_record,
        is_multi,
    )

    return {
        r: expected_multi_records(r) if is_multi(r) else [expected_record(r)]
        for r in refs
    }


def check_docs(truth: dict[str, str], rows) -> tuple[int, list[str]]:
    """Compare pipeline output rows (dicts with doc_id, spans, success)
    with the truth.  Returns (documents attempted, failed doc ids); a
    missing, duplicated or unknown document counts as failed."""
    seen: dict[str, str] = {}
    failed = []
    for r in rows:
        d = r["doc_id"]
        if d in seen or d not in truth:
            failed.append(d)
            continue
        seen[d] = span_digest(r["spans"], r["success"])
        if seen[d] != truth[d]:
            failed.append(d)
    failed += [d for d in truth if d not in seen]
    return len(truth), failed


def check_invoices(truth: dict[str, list[dict]], rows) -> tuple[int, list[str]]:
    """Compare ``extract_invoice_fields`` output rows with the expected
    records, ref by ref.  Returns (refs attempted, failed refs)."""
    got: dict[str, list[dict]] = {}
    for r in rows:
        got.setdefault(r["media_ref"], []).append(dict(r))
    failed = [
        ref
        for ref, exp in truth.items()
        if sorted(got.get(ref, []), key=lambda r: r["region_idx"]) != exp
    ]
    failed += [ref for ref in got if ref not in truth]
    return len(truth), failed
