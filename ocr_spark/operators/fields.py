"""The detector-chain stage as a Spark operator: labeled-document OCR ->
typed invoice/stock record.

Physical design: the model-ish work (render/decode, angle pass,
detection, recognition, gate dispatch) and every per-field normalizer run
in ONE ``mapInPandas`` stage that emits the final record.  The kernel
already holds each region's strings in a Python batch, so it normalizes
them there (functions/normalizers_py, invoice_record).  The same
normalizers as native-SQL projections (functions/normalizers) cost more
than the kernel itself on this stage: thousands of py4j round trips and
seconds of analysis and planning per call, plus their task time
(SURVEY.md §4).

Output schema is flat (media_ref, region_idx, family, type, then the
normalized fields of both record shapes with reference default fill:
vat_detect.py:423-429 ['' / '¥ 0.00'], stock_detect.py:196-204
[page '-1/-1', total_amount = coalesce(total, total2, total3)]).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import normalizers_py as pyref
from .pipeline import _default_partitions

RECORD_FIELDS = [
    "media_ref", "region_idx", "family", "type", "title", "invoice_code",
    "invoice_number", "billing_date", "check_code", "total_amount", "tax",
    "amount_with_tax", "buy_title", "sale_title", "buy_tax", "buy_addr",
    "buy_bank", "sale_tax", "sale_addr", "sale_bank", "invoice_type",
    "doc_number", "idate", "total", "total2", "total3",
    "stock_total_amount", "cnt", "page",
]
_RECORD_SCHEMA = ", ".join(
    f"{f} int" if f == "region_idx" else f"{f} string" for f in RECORD_FIELDS
)
_ZERO = "¥ 0.00"
# process_buy_sale_field pre-normalization (vat_detect.py:197,209)
_BS_PUNCT = str.maketrans("：，；", ":,;")


def invoice_record(ref: str, region_idx: int, d: dict[str, str]) -> dict:
    """One region's raw ``extract_fields`` dict -> its normalized record.

    Per-label normalization routers, verbatim from the reference:
    * invoice fields (vat_detect.py:372-421): code/number/check -> get_num,
      dates -> get_date, amounts -> get_amount (+ tax arithmetic), titles
      -> get_title, invoice_type -> judge_invoice_type.
    * stock fields (_process_label_text, stock_detect.py:45-58):
      total3 -> get_chinese_amount, total/total2 -> get_amount,
      idate -> get_date, doc_number/cnt -> get_num, page -> get_page.
    Fields the detected family does not define read as ``""``.
    """
    def raw(f: str) -> str:
        return d.get(f, "")

    def bs(f: str) -> str:
        return raw(f).strip().translate(_BS_PUNCT)

    title = pyref.get_title(raw("title"))
    invoice_code = pyref.get_num(raw("invoice_code"))
    invoice_number = pyref.get_num(raw("invoice_number"))
    billing_date = pyref.get_date(raw("billing_date"))
    check_code = pyref.get_num(raw("check_code"))
    invoice_type = pyref.judge_invoice_type(title, check_code)
    total_amount = pyref.get_amount(raw("total_amount"))
    amount_with_tax = pyref.get_amount(raw("amount_with_tax"))
    tax = pyref.get_amount(raw("tax"))
    qr = raw("qrcode")
    if d["family"] == "vat" and qr:
        # QR-present branch (vat_detect.py:341-370; CSV field order of
        # _vat_qrcode, util/tool.py:321-336): identity fields come from
        # the payload and only amounts/title fall back to OCR, per type:
        #   31/32: amount_with_tax from QR, total_amount from OCR
        #          (fidelity note: the reference sources this from its
        #          separate 'total' OCR label, vat_detect.py:359; this
        #          fixture has no distinct 'total' region on digital
        #          invoices, so the total_amount label stands in for it)
        #   01/04: total_amount from QR, amount_with_tax from OCR
        #   else ('10'): total_amount from QR, others '¥ 0.00'
        #   tax from OCR for 01/04/31/32, else '¥ 0.00' (pre-arithmetic)
        # A truncated payload reads its missing parts as "".
        part = qr.split(",")
        part += [""] * (7 - len(part))
        invoice_type = part[1].strip()
        invoice_code = part[2].strip()
        invoice_number = part[3].strip()
        qr_amount = pyref.get_float(part[4])
        date = part[5]
        billing_date = f"{date[:4]}年{date[4:6]}月{date[6:8]}日"
        check_code = (
            pyref.get_num(part[6]) if invoice_type in ("04", "10") else ""
        )
        if invoice_type == "32":
            title = "电子发票（普通发票）"
        elif invoice_type == "31":
            title = "电子发票（专用发票）"
        if invoice_type in ("31", "32"):
            amount_with_tax = qr_amount
        elif invoice_type in ("01", "04"):
            total_amount = qr_amount
        else:
            total_amount, amount_with_tax, tax = qr_amount, _ZERO, _ZERO
    total = pyref.get_amount(raw("total"))
    total2 = pyref.get_amount(raw("total2"))
    total3 = pyref.get_chinese_amount(raw("total3"))
    return {
        "media_ref": ref,
        "region_idx": region_idx,
        "family": d["family"],
        "type": d["type"],
        "title": title,
        "invoice_code": invoice_code,
        "invoice_number": invoice_number,
        "billing_date": billing_date,
        "check_code": check_code,
        "total_amount": total_amount,
        "tax": pyref.tax_arithmetic(tax, total_amount, amount_with_tax),
        "amount_with_tax": amount_with_tax,
        "buy_title": pyref.get_title(raw("buy_title")),
        "sale_title": pyref.get_title(raw("sale_title")),
        # complex-range buy/sale routing (process_buy_sale_field,
        # vat_detect.py:186-214), OCR-routed in both QR branches
        # (vat_detect.py:361-367): tax -> get_tax on the stripped text;
        # addr/bank -> full-width punctuation normalized, then
        # extract_addr / extract_bank.
        "buy_tax": pyref.get_tax(raw("buy_tax").strip()),
        "buy_addr": pyref.extract_addr(bs("buy_addr")),
        "buy_bank": pyref.extract_bank(bs("buy_bank")),
        "sale_tax": pyref.get_tax(raw("sale_tax").strip()),
        "sale_addr": pyref.extract_addr(bs("sale_addr")),
        "sale_bank": pyref.extract_bank(bs("sale_bank")),
        "invoice_type": invoice_type,
        "doc_number": pyref.get_num(raw("doc_number")),
        "idate": pyref.get_date(raw("idate")),
        "total": total,
        "total2": total2,
        "total3": total3,
        "stock_total_amount": next(
            (t for t in (total, total2, total3) if t != _ZERO), _ZERO
        ),
        "cnt": pyref.get_num(raw("cnt")),
        "page": pyref.get_page(raw("page")),
    }


def _extract_record_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: media_ref -> normalized invoice records.
    Kernels import once per executor python worker (module singleton).

    ``#multi`` refs take the legacy whole-page route
    (obj_det/v1/detect.py:71-156): the region detector counts the invoice
    regions from pixels, each crop runs the same single-document chain,
    and the kernel EXPLODES 1 page row -> N region rows (region_idx
    top-to-bottom).  Single refs stay one row with region_idx 0."""
    from ocr_spark.core.fields import extract_fields, region_images

    for pdf in batches:
        rows = [
            invoice_record(ref, ridx, extract_fields(img))
            for ref in pdf["media_ref"]
            for ridx, img in enumerate(region_images(ref))
        ]
        yield pd.DataFrame(rows, columns=RECORD_FIELDS)


def extract_invoice_fields(refs: DataFrame) -> DataFrame:
    """media_ref DataFrame -> normalized record DataFrame (one row per
    invoice region; see ``invoice_record`` for the field routing)."""
    spark = refs.sparkSession
    return refs.repartition(_default_partitions(spark)).mapInPandas(
        _extract_record_batches, schema=_RECORD_SCHEMA
    )


_CROP_SCHEMA = (
    "media_ref string, region_idx int, crop_idx int, label string, "
    "x int, y int, w int, h int, crop binary"
)


def _save_crop_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    from ocr_spark.core.fields import region_images, save_crops

    for pdf in batches:
        rows = []
        for ref in pdf["media_ref"]:
            for ridx, img in enumerate(region_images(ref)):
                for cidx, c in enumerate(save_crops(img)):
                    rows.append(
                        [ref, ridx, cidx, c["label"],
                         c["x"], c["y"], c["w"], c["h"], c["crop"]]
                    )
        yield pd.DataFrame(
            rows,
            columns=[
                "media_ref", "region_idx", "crop_idx", "label",
                "x", "y", "w", "h", "crop",
            ],
        )


def save_crop_sink(refs: DataFrame, out_dir: str | None = None) -> DataFrame:
    """The save-crop DEBUG sink (reference ``saveImage=True`` paths,
    obj_det/vat_detect.py:305-309 / stock_detect.py:118-122: each labeled
    field region written to ``images/<family>/<label>.png``).

    Spark-first shape: one row per labeled crop — (media_ref, region_idx,
    label, box, npy-encoded gray crop) — written as ONE sidecar
    parquet/Iceberg table when ``out_dir`` is given, instead of
    executor-local PNG files (which don't exist in a cluster's world; the
    SURVEY §2.1 mapping).  Debug-only: runs the extraction chain again
    for the refs it is asked to dump, exactly like the reference's
    saveImage flag re-running with side effects on.
    """
    spark = refs.sparkSession
    df = refs.repartition(_default_partitions(spark)).mapInPandas(
        _save_crop_batches, schema=_CROP_SCHEMA
    )
    if out_dir is not None:
        df.write.mode("overwrite").parquet(out_dir)
        return spark.read.parquet(out_dir)
    return df


def invoice_ref(k):
    """Customer key column -> single-invoice media ref column; the family
    round-robins over the four detectors."""
    fam = (
        F.when(k % 4 == 0, F.lit("vat"))
        .when(k % 4 == 1, F.lit("stock_v1"))
        .when(k % 4 == 2, F.lit("stock_v2"))
        .otherwise(F.lit("bill"))
    )
    return F.concat(F.lit("inv://c"), k.cast("string"), F.lit("#"), fam)


def synth_invoice_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic invoice media refs derived from customer keys (one
    per 10 customers, see invoice_ref)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    singles = cust.filter(k % 10 == 0).select(invoice_ref(k).alias("media_ref"))
    # batch-scanned multi-invoice sheets (1 page -> N region records; the
    # region count is a fixture-RNG draw the detector must recover)
    multis = cust.filter(k % 100 == 50).select(
        F.concat(F.lit("inv://m"), k.cast("string"), F.lit("#multi")).alias(
            "media_ref"
        )
    )
    return singles.unionAll(multis)


def invoice_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: the full detector-chain stage over synthesized
    refs (rows-only driver check; value equality is the pytest gate in
    tests/test_fields.py).

    Deterministic output order via repartition(1) + sortWithinPartitions:
    a global orderBy would sample-run the RangePartitioner, executing the
    whole OCR pipeline twice (only the check gate needs the order — at
    scale the output is written unsorted).
    """
    return (
        extract_invoice_fields(synth_invoice_refs(spark, sf_dir))
        .repartition(1)
        .sortWithinPartitions("media_ref", "region_idx")
    )


# Round-4 composed-stressor slice: six batch-scanned sheets on which ALL
# hard axes co-occur BY SEARCH (pinned in tests/test_fields.py for the
# first key): sheet-level ±2-5° scan skew, a family mix containing both
# vat and stock_v2 regions, an underexposed low-contrast QR patch on a
# vat region (enhancement retry ladder), and at least one 180°-flipped
# line (per-line classifier).  The bench records the flagship number on
# this slice next to the mixed-difficulty refs, so a perf win that only
# holds on easy pages cannot hide.
STRESS_REFS = (
    "inv://stress234#multi",
    "inv://stress267#multi",
    "inv://stress357#multi",
    "inv://stress432#multi",
    "inv://stress829#multi",
    "inv://stress876#multi",
)


def invoice_stress_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() entry: the detector-chain stage over the composed
    hard-axis slice (STRESS_REFS) — deskew-before-region-crop, region
    counting, QR enhancement ladder, and per-line flip rescue all fire
    on every sheet.  Value-oracled against layout-side expected records
    (fixtures/invoice.expected_multi_records)."""
    df = spark.createDataFrame(
        [(r,) for r in STRESS_REFS], "media_ref string"
    )
    return (
        extract_invoice_fields(df)
        .repartition(1)
        .sortWithinPartitions("media_ref", "region_idx")
    )


FILL_FIELDS = (
    "invoice_number", "billing_date", "total_amount", "check_code",
    "buy_bank",
)


def invoice_fill_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-quality analytics ON TOP of the flagship: per invoice
    family, how often each key field came back non-empty — the fill-rate
    dashboard an extraction team watches for silent regressions (a
    detector change that blanks check_code on 10% of VAT invoices moves
    this table before any user complains).  Fill rates in exact ppm.

    The oracle aggregates the driver-side expected rows with the same
    rules, so this certifies the LIVE pipeline's aggregate behavior
    end-to-end, not a recomputation of the expectation."""
    out = invoice_field_extract(spark, sf_dir)
    aggs = [F.count("*").alias("n_regions")]
    for f in FILL_FIELDS:
        aggs.append(
            F.sum(
                F.when(
                    F.col(f).isNotNull() & (F.col(f) != ""), 1
                ).otherwise(0)
            ).alias(f"nf_{f}")
        )
    g = out.groupBy("family").agg(*aggs)
    cols = [F.col("family"), F.col("n_regions")]
    for f in FILL_FIELDS:
        cols.append(
            F.expr(f"(nf_{f} * 1000000) div n_regions").alias(
                f"fill_{f}_ppm"
            )
        )
    return g.select(*cols).repartition(1).sortWithinPartitions("family")
