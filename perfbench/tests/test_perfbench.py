"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import inputs  # noqa: E402
import run  # noqa: E402
import tracer as tr  # noqa: E402
import truth  # noqa: E402

SMALL = {"mixed_media": 40, "checkpoint_resume": 30, "invoice_fields": 20}


def _gen(name, seed, n):
    pool = inputs.invoice_pool() if name == "invoice_fields" else inputs.media_pool()
    return inputs.GENERATORS[name](seed, n, pool)


@pytest.mark.parametrize("name", sorted(SMALL))
def test_generator_is_deterministic_per_seed(name):
    a = json.dumps(_gen(name, 7, SMALL[name]))
    assert a == json.dumps(_gen(name, 7, SMALL[name]))
    assert a != json.dumps(_gen(name, 8, SMALL[name]))


def _classes(refs, pool):
    """Multiset of (profile, cost class) of refs drawn from ``pool``."""
    where = {r: (tag, cls) for tag, groups in pool.items() for cls, rs in groups.items() for r in rs}
    return sorted(where.get(r, ("err", ())) for r in refs)


def test_generators_fix_the_amount_of_work():
    """Two seeds give different refs but the same shape of work: the same
    stats and the same multiset of media cost classes."""
    media = inputs.media_pool()
    for name in ("mixed_media", "checkpoint_resume"):
        a, b = _gen(name, 1, 120), _gen(name, 2, 120)
        assert a != b
        sa, sb = inputs.doc_stats(a), inputs.doc_stats(b)
        if name == "checkpoint_resume":  # media land on random spans
            del sa["max_media_per_doc"], sb["max_media_per_doc"]
        assert sa == sb
        refs = [
            [s["media_ref"] for _d, spans in docs for s in spans if s["kind"] == "media"]
            for docs in (a, b)
        ]
        assert _classes(refs[0], media) == _classes(refs[1], media)
    assert inputs.doc_stats(a)["media"] == inputs.doc_stats(a)["spans"] // 2

    invoices = inputs.invoice_pool()
    pool = {**invoices["single"], "multi": invoices["multi"]}
    a, b = _gen("invoice_fields", 3, 20), _gen("invoice_fields", 4, 20)
    assert a != b and len(set(a)) == len(a)
    assert _classes(a, pool) == _classes(b, pool)
    assert [i for i, r in enumerate(a) if r.endswith("#multi")] == [0, 11]


def test_self_time_subtracts_the_union_of_children():
    t = tr.Tracer()
    # root [0, 10]; children a [1, 4] and b [3, 6] overlap, so they cover
    # 5 s of the root, not 6; a has a child c [2, 3]
    t.spans = [
        ["root", 0.0, 10.0, -1, "d", None],
        ["a", 1.0, 4.0, 0, "d", None],
        ["b", 3.0, 6.0, 0, "d", None],
        ["c", 2.0, 3.0, 1, "d", None],
    ]
    assert t.self_times() == pytest.approx([5.0, 2.0, 3.0, 1.0])
    totals = t.layer_totals()
    assert totals["a"]["self_s"] == pytest.approx(2.0)
    assert totals["a"]["total_s"] == pytest.approx(3.0)


def test_patched_wrappers_record_and_restore():
    import types

    mod = types.ModuleType("perfbench_fake_mod")
    mod.f = lambda x: x * 2
    sys.modules[mod.__name__] = mod
    orig = mod.f
    t = tr.Tracer()
    with t.patched([(mod.__name__, "f", "layer.f", bool)]):
        with t.span("root"):
            assert mod.f(3) == 6
            mod.f(0)
    assert mod.f is orig
    assert [s[0] for s in t.spans] == ["root", "layer.f", "layer.f"]
    assert [s[5] for s in t.spans] == [None, True, False]
    assert t.spans[1][3] == 0


def test_kernel_replay_layers_add_up():
    from ocr_spark.core import extract

    orig = extract.render
    t = tr.Tracer()
    errors = tr.replay_media(t, ["img://t/0#crop", "img://t/1#page", "img://t/2#err"])
    assert errors == 1
    assert extract.render is orig
    m = tr.kernel_metrics(t)
    assert m["kernel.pages"] == 2
    assert 0.9 <= m["kernel.self_sum_frac"] <= 1.0
    assert m["detect.lines.calls_per_page"] >= 1
    assert set(run.PER_LAYER) >= {k for k in m if k not in ("kernel.pages", "kernel.replay_s")}


def _expected_rows(docs):
    from ocr_spark.fixtures.render import expected_media_text

    rows = []
    for doc_id, spans in docs:
        ok = all("#err" not in s["media_ref"] for s in spans)
        out = [
            {**s, "text": expected_media_text(s["media_ref"]) if ok else ""}
            if s["kind"] == "media"
            else dict(s)
            for s in spans
        ]
        rows.append({"doc_id": doc_id, "spans": out, "success": ok})
    return rows


def test_checker_flags_a_doctored_document():
    docs = [
        ("d0", [{"kind": "text", "text": "a b", "media_ref": "", "offset": 0},
                {"kind": "media", "text": "", "media_ref": "img://d0/1#crop", "offset": 1}]),
        ("d1", [{"kind": "media", "text": "", "media_ref": "img://d1/0#err", "offset": 0}]),
        ("d2", [{"kind": "media", "text": "", "media_ref": "img://d2/0#page", "offset": 0}]),
    ]
    want = truth.doc_truth(docs)
    rows = _expected_rows(docs)
    assert truth.check_docs(want, rows) == (3, [])

    doctored = json.loads(json.dumps(rows))
    doctored[2]["spans"][0]["text"] += "x"
    assert truth.check_docs(want, doctored) == (3, ["d2"])
    # an #err document that claims success fails
    doctored = json.loads(json.dumps(rows))
    doctored[1]["success"] = True
    assert truth.check_docs(want, doctored)[1] == ["d1"]
    # a missing or duplicated document fails
    assert truth.check_docs(want, rows[:2])[1] == ["d2"]
    assert truth.check_docs(want, rows + rows[:1])[1] == ["d0"]


def test_checker_flags_a_doctored_invoice_row():
    refs = ["inv://t-0#vat", "inv://t-1#multi"]
    want = truth.invoice_truth(refs)
    rows = [dict(r) for ref in refs for r in want[ref]][::-1]
    assert truth.check_invoices(want, rows) == (2, [])
    rows[0] = {**rows[0], "tax": "¥ 9.99"}
    assert truth.check_invoices(want, rows)[1] == [rows[0]["media_ref"]]


def test_benchmark_json_names_every_metric_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
