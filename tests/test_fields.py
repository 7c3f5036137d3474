"""Detector-chain field extraction: kernel equality vs fixture ground
truth, and Spark-stage equality vs the pure-Python normalizer twins
(the reference-semantics oracle, functions/normalizers_py.py)."""

from __future__ import annotations

import pytest

from ocr_spark.core.fields import FAMILY_TYPE, classify_family, extract_fields
from ocr_spark.fixtures.invoice import (
    FAMILIES,
    FAMILY_FIELDS,
    ground_truth,
    render_invoice,
)
from ocr_spark.functions import normalizers_py as pyref


@pytest.mark.parametrize("family", FAMILIES)
def test_kernel_reads_ground_truth(family):
    for i in range(6):
        ref = f"inv://k{i}#{family}"
        got = extract_fields(render_invoice(ref).image)
        exp = {"family": family, "type": FAMILY_TYPE[family], **ground_truth(ref)}
        assert got == exp


def test_gate_predicates():
    # verbatim reference gates (stock_detect.py:206-210, _v2:214-218,
    # bill_detect.py:163-167; vat terminal objd_util.py:181-186)
    assert classify_family("总务入库单") == "stock_v1"
    assert classify_family("结算入库单") == "stock_v1"
    assert classify_family("药品入库单") == "stock_v2"
    assert classify_family("票据") == "bill"
    assert classify_family("电子发票(专用发票)") == "vat"
    assert classify_family("") == "vat"


def _expected_record_local(ref: str) -> dict:
    """Reference-semantics expected output computed from layout ground
    truth through the pure-Python normalizer twins.  Kept here as an
    independent second copy: the shared fixture twin
    (fixtures/invoice.expected_record) now also feeds the driver's DuckDB
    value oracle, and test_expected_record_twins_agree pins the two
    implementations to each other so oracle drift can't hide."""
    fam = ref.rsplit("#", 1)[-1]
    gt = ground_truth(ref)
    raw = {f: gt.get(f, "") for f in FAMILY_FIELDS[fam]}
    title = pyref.get_title(gt["title"])
    check_code = pyref.get_num(raw.get("check_code", ""))
    total_amount = pyref.get_amount(raw.get("total_amount", ""))
    amount_with_tax = pyref.get_amount(raw.get("amount_with_tax", ""))
    tax_ocr = pyref.get_amount(raw.get("tax", ""))
    tax = tax_ocr
    if tax == "¥ 0.00" and raw.get("total_amount") and raw.get("amount_with_tax"):
        a = float(total_amount.split()[1])
        b = float(amount_with_tax.split()[1])
        tax = f"¥ {round(a - b, 2):.2f}"
    total = pyref.get_amount(raw.get("total", ""))
    total2 = pyref.get_amount(raw.get("total2", ""))
    total3 = pyref.get_chinese_amount(raw.get("total3", ""))
    stock_total = next(
        (t for t in (total, total2, total3) if t != "¥ 0.00"), "¥ 0.00"
    )
    rec = {
        "media_ref": ref,
        "region_idx": 0,
        "family": fam,
        "type": FAMILY_TYPE[fam],
        "title": title,
        "invoice_code": pyref.get_num(raw.get("invoice_code", "")),
        "invoice_number": pyref.get_num(raw.get("invoice_number", "")),
        "billing_date": pyref.get_date(raw.get("billing_date", "")),
        "check_code": check_code,
        "total_amount": total_amount,
        "tax": tax,
        "amount_with_tax": amount_with_tax,
        "buy_title": pyref.get_title(raw.get("buy_title", "")),
        "sale_title": pyref.get_title(raw.get("sale_title", "")),
        "buy_tax": pyref.get_tax(raw.get("buy_tax", "").strip()),
        "buy_addr": pyref.extract_addr(_bs_norm(raw.get("buy_addr", ""))),
        "buy_bank": pyref.extract_bank(_bs_norm(raw.get("buy_bank", ""))),
        "sale_tax": pyref.get_tax(raw.get("sale_tax", "").strip()),
        "sale_addr": pyref.extract_addr(_bs_norm(raw.get("sale_addr", ""))),
        "sale_bank": pyref.extract_bank(_bs_norm(raw.get("sale_bank", ""))),
        "invoice_type": pyref.judge_invoice_type(title, check_code),
        "doc_number": pyref.get_num(raw.get("doc_number", "")),
        "idate": pyref.get_date(raw.get("idate", "")),
        "total": total,
        "total2": total2,
        "total3": total3,
        "stock_total_amount": stock_total,
        "cnt": pyref.get_num(raw.get("cnt", "")),
        "page": pyref.get_page(raw.get("page", "")),
    }
    # QR-present branch twin (vat_detect.py:341-370 + _vat_qrcode,
    # util/tool.py:321-336): identity fields from the payload; amounts
    # per invoice type; buy/sale titles unset.
    qr = gt.get("qrcode", "")
    if fam == "vat" and qr:
        p = qr.split(",")
        t = p[1].strip()
        qr_amount = pyref.get_float(p[4])
        if t in ("31", "32"):
            b_total, b_awt, b_tax = total_amount, qr_amount, tax_ocr
        elif t in ("01", "04"):
            b_total, b_awt, b_tax = qr_amount, amount_with_tax, tax_ocr
        else:
            b_total, b_awt, b_tax = qr_amount, "¥ 0.00", "¥ 0.00"
        rec.update(
            title=(
                "电子发票（普通发票）" if t == "32"
                else "电子发票（专用发票）" if t == "31"
                else title
            ),
            invoice_type=t,
            invoice_code=p[2].strip(),
            invoice_number=p[3].strip(),
            billing_date=f"{p[5][:4]}年{p[5][4:6]}月{p[5][6:8]}日",
            check_code=pyref.get_num(p[6]) if t in ("04", "10") else "",
            total_amount=b_total,
            amount_with_tax=b_awt,
            tax=_tax_arith(b_tax, b_total, b_awt),
            # complex range: buy/sale stay OCR-routed in the QR branch
            # (vat_detect.py:361-367) — no blanking.
        )
    return rec


def _bs_norm(s: str) -> str:
    """process_buy_sale_field pre-normalization (vat_detect.py:197,209)."""
    return s.strip().replace("：", ":").replace("，", ",").replace("；", ";")


def _tax_arith(tax: str, total: str, awt: str) -> str:
    """Twin of N.tax_arithmetic (vat_detect.py:412-421)."""
    import re

    m1 = re.search(r"(-?\d+\.?\d*)", total)
    m2 = re.search(r"(-?\d+\.?\d*)", awt)
    if tax == "¥ 0.00" and m1 and m2:
        return f"¥ {round(float(m1.group(1)) - float(m2.group(1)), 2):.2f}"
    return tax


def test_spark_stage_matches_python_oracle(spark):
    from ocr_spark.operators.fields import extract_invoice_fields

    refs = [f"inv://s{i}#{fam}" for i in range(4) for fam in FAMILIES]
    df = spark.createDataFrame([(r,) for r in refs], "media_ref string")
    got = {r["media_ref"]: r.asDict() for r in extract_invoice_fields(df).collect()}
    assert set(got) == set(refs)
    for ref in refs:
        assert got[ref] == _expected_record_local(ref), ref


def test_qr_branch_overrides_ocr(spark):
    """When a vat document carries a decodable QR, identity fields come
    from the payload even though the OCR'd rows carry DIFFERENT values
    (reference vat_detect.py:341-370 trusts the QR)."""
    from ocr_spark.operators.fields import extract_invoice_fields

    refs = [f"inv://q{i}#vat" for i in range(12)]
    with_qr = [r for r in refs if "qrcode" in ground_truth(r)]
    without_qr = [r for r in refs if "qrcode" not in ground_truth(r)]
    assert with_qr and without_qr  # both branches exercised

    df = spark.createDataFrame([(r,) for r in refs], "media_ref string")
    out = extract_invoice_fields(df)
    got = {r["media_ref"]: r.asDict() for r in out.collect()}
    for ref in refs:
        assert got[ref] == _expected_record_local(ref), ref
    for ref in with_qr:
        gt = ground_truth(ref)
        p = gt["qrcode"].split(",")
        assert got[ref]["invoice_type"] == p[1].strip()
        assert got[ref]["invoice_code"] == p[2].strip()
        # the OCR rows disagree with the QR payload by construction
        assert got[ref]["invoice_code"] != pyref.get_num(gt["invoice_code"])
        # complex range: buy/sale fields stay OCR-routed even with QR
        assert got[ref]["buy_title"] == pyref.get_title(gt["buy_title"])
        assert got[ref]["buy_addr"] != ""
    for ref in without_qr:
        gt = ground_truth(ref)
        assert got[ref]["invoice_code"] == pyref.get_num(gt["invoice_code"])


_VAT_OCR = {
    "family": "vat",
    "type": "vat",
    "title": "增值税普通发票",
    "invoice_code": "011002100111",
    "invoice_number": "00012345",
    "billing_date": "2024年03月15日",
    "check_code": "12345 67890",
    "total_amount": "¥113.00",
    "tax": "",
    "amount_with_tax": "¥100.00",
}


@pytest.mark.parametrize(
    "qrcode, want",
    [
        # truncated: type 32, every later part missing
        ("a,32", {
            "title": "电子发票（普通发票）", "invoice_type": "32",
            "invoice_code": "", "invoice_number": "", "billing_date": "年月日",
            "check_code": "", "total_amount": "¥ 113.00",
            "amount_with_tax": "¥ 0.00", "tax": "¥ 113.00",
        }),
        # only separators: empty type, the '10'/unknown amount route
        (",", {
            "title": "增值税普通发票", "invoice_type": "",
            "invoice_code": "", "invoice_number": "", "billing_date": "年月日",
            "check_code": "", "total_amount": "¥ 0.00",
            "amount_with_tax": "¥ 0.00", "tax": "¥ 0.00",
        }),
        # non-numeric amount part: the QR total reads as zero
        ("01,04,1100,0002,abc,20240315,99999", {
            "title": "增值税普通发票", "invoice_type": "04",
            "invoice_code": "1100", "invoice_number": "0002",
            "billing_date": "2024年03月15日", "check_code": "99999",
            "total_amount": "¥ 0.00", "amount_with_tax": "¥ 100.00",
            "tax": "¥ -100.00",
        }),
    ],
)
def test_malformed_qr_payload_record(qrcode, want):
    """A decoded but malformed QR payload must not raise: missing CSV
    parts read as "" and an unparseable amount as '¥ 0.00' (the values
    the SQL split/get/coalesce route produced), with no Spark involved."""
    from ocr_spark.operators.fields import RECORD_FIELDS, invoice_record

    rec = invoice_record("inv://x#vat", 0, {**_VAT_OCR, "qrcode": qrcode})
    assert list(rec) == RECORD_FIELDS
    assert {k: rec[k] for k in want} == want
    # OCR-routed fields are untouched by the payload
    assert rec["buy_title"] == "" and rec["page"] == "-1/-1"


def test_expected_record_twins_agree():
    """The shared fixture twin (feeds the driver value oracle) must equal
    this module's independent copy on every family, QR and non-QR."""
    from ocr_spark.fixtures.invoice import expected_record

    refs = [f"inv://t{i}#{fam}" for i in range(8) for fam in FAMILIES]
    for ref in refs:
        assert expected_record(ref) == _expected_record_local(ref), ref


def test_multi_region_detector_recovers_layout_boxes():
    """The pixel-side region splitter must find exactly the composited
    sub-invoice regions, top-to-bottom, within the 2 px crop padding
    (classical stand-in for the YOLO whole-page boxes,
    obj_det/v1/detect.py:113-156).  Box coordinates are only comparable
    on UNSKEWED sheets (the sheet-level scan skew pads the canvas); the
    skewed sheets are covered end-to-end by the record-equality tests."""
    from ocr_spark.core.fields import detect_invoice_regions
    from ocr_spark.fixtures.invoice import multi_sub_refs, render_multi

    checked = 0
    for i in range(10):
        ref = f"inv://mr{i}#multi"
        img, truth, skew_deg = render_multi(ref)
        if skew_deg:
            continue
        checked += 1
        got = detect_invoice_regions(img)
        assert len(got) == len(multi_sub_refs(ref)), ref
        for (gx0, gy0, gx1, gy1), (tx0, ty0, tx1, ty1) in zip(got, truth):
            # detected box sits inside the pasted region (up to pad) and
            # covers its ink; sub-images have a 4*scale=8 px blank margin
            # so the ink box may be ~8 px inside the paste box per side
            assert gx0 >= tx0 - 2 and gy0 >= ty0 - 2, ref
            assert gx1 <= tx1 + 2 and gy1 <= ty1 + 2, ref
            assert gy1 > gy0 + 10 and gx1 > gx0 + 10, ref
    assert checked >= 4  # the sweep must not silently skip everything


def test_multi_invoice_page_explodes_to_per_region_records(spark):
    """1 #multi page -> N invoice records (region_idx 0..N-1), each equal
    to its sub-invoice's expected record (reference legacy route:
    one cropped record per detected invoice, obj_det/v1/detect.py:150-156)."""
    from ocr_spark.fixtures.invoice import expected_multi_records, multi_sub_refs
    from ocr_spark.operators.fields import extract_invoice_fields

    # ms0: straight sheet with 90-degree-rotated subs; ms3: SKEWED sheet
    # (the deskew-before-crop path) with a rotated sub; ms6: skewed sheet
    # whose subs carry scatter-erosion from their own derotation (the
    # robust-unit-scale-at-0-degrees ladder entry).  Together the three
    # stressor combinations that broke during development.
    refs = [f"inv://ms{i}#multi" for i in (0, 3, 6)]
    from ocr_spark.fixtures.invoice import render_multi

    assert [render_multi(r)[2] for r in refs] == [0, -3, -3]
    # region counts are fixture-RNG draws; make sure the set is not degenerate
    assert {len(multi_sub_refs(r)) for r in refs} != {2}
    df = spark.createDataFrame([(r,) for r in refs], "media_ref string")
    got = {}
    for row in extract_invoice_fields(df).collect():
        got[(row["media_ref"], row["region_idx"])] = row.asDict()
    for ref in refs:
        exp = expected_multi_records(ref)
        assert sum(1 for k in got if k[0] == ref) == len(exp), ref
        for rec in exp:
            assert got[(ref, rec["region_idx"])] == rec, (ref, rec["region_idx"])


def test_save_crops_kernel_labels_and_content():
    """save_crops (the saveImage=True debug path, vat_detect.py:305-309)
    must emit one crop per labeled region — title + family fields in
    reading order, QR regions under the 'qrcode' label — whose pixels
    contain the region's ink."""
    import numpy as np

    from ocr_spark.core.fields import save_crops
    from ocr_spark.operators.media import decode_image

    qr_ref = next(
        f"inv://t{i}#vat"
        for i in range(40)
        if "qrcode" in ground_truth(f"inv://t{i}#vat")
    )
    for ref in [qr_ref, "inv://e0#stock_v1", "inv://e0#bill"]:
        fam = ref.rsplit("#", 1)[-1]
        gt = ground_truth(ref)
        crops = save_crops(render_invoice(ref).image)
        labels = [c["label"] for c in crops]
        want = ["title"] + FAMILY_FIELDS[fam]
        if "qrcode" in gt:
            want.append("qrcode")
        assert labels == want, ref
        for c in crops:
            img = decode_image(c["crop"])
            assert img.shape == (c["h"], c["w"])
            assert img.min() < 128  # the region's ink is in the crop


def test_save_crop_sink_writes_sidecar(spark, tmp_path):
    from ocr_spark.operators.fields import save_crop_sink

    refs = spark.createDataFrame(
        [("inv://e0#vat",), ("inv://e0#stock_v1",), ("inv://s0#multi",)],
        "media_ref string",
    )
    out = save_crop_sink(refs, out_dir=str(tmp_path / "crops"))
    rows = out.collect()
    by_ref: dict = {}
    for r in rows:
        by_ref.setdefault((r.media_ref, r.region_idx), []).append(r.label)
    # singles: one region each, title leads
    assert by_ref[("inv://e0#vat", 0)][0] == "title"
    assert len(by_ref[("inv://e0#stock_v1", 0)]) == 1 + len(
        FAMILY_FIELDS["stock_v1"]
    )
    # the multi sheet explodes into its region count
    from ocr_spark.fixtures.invoice import multi_sub_refs

    n_regions = len(multi_sub_refs("inv://s0#multi"))
    assert (
        len({k for k in by_ref if k[0] == "inv://s0#multi"}) == n_regions
    )


def test_mixed_hard_axis_stress_sheet(spark):
    """Round-4 composed stressor (VERDICT r3 #8): ONE batch-scanned
    sheet carrying every hard axis at once — sheet-level skew -5°, a
    stock_v1 + vat + stock_v2 region mix (stock_v2's widened line
    regions), an UNDERexposed low-contrast QR patch on the vat region
    (enhancement retry ladder), and a 180°-flipped line (per-line
    classifier) — and the extractor must still equal the layout-side
    expected records bit for bit.  The key was searched so all axes
    genuinely co-occur; the assertions below pin that, so a fixture
    change cannot silently de-stress this case."""
    from ocr_spark.fixtures.invoice import (
        _QR_LOW_CONTRAST_PROB,
        expected_multi_records,
        family_of,
        ground_truth,
        multi_sub_refs,
        render_invoice,
        render_multi,
    )
    from ocr_spark.fixtures.render import _rng
    from ocr_spark.operators.fields import extract_invoice_fields

    ref = "inv://stress234#multi"
    subs = multi_sub_refs(ref)
    fams = [family_of(s) for s in subs]
    assert "stock_v2" in fams and "vat" in fams  # axis: family mix
    assert render_multi(ref)[2] == -5  # axis: sheet skew
    has_dim_qr = False
    has_flip = False
    for s in subs:
        if "qrcode" in ground_truth(s):
            qrng = _rng("qrpatch:" + s)
            if qrng.random() < _QR_LOW_CONTRAST_PROB:
                has_dim_qr = True
        if any(ln.flipped for ln in render_invoice(s).lines):
            has_flip = True
    assert has_dim_qr  # axis: underexposed QR
    assert has_flip  # axis: per-line 180° flip

    df = spark.createDataFrame([(ref,)], "media_ref string")
    got = {
        (r["media_ref"], r["region_idx"]): r.asDict()
        for r in extract_invoice_fields(df).collect()
    }
    exp = expected_multi_records(ref)
    assert len(got) == len(exp) == len(subs)
    for rec in exp:
        assert got[(ref, rec["region_idx"])] == rec, rec["region_idx"]
