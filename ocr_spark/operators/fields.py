"""The detector-chain stage as a Spark operator: labeled-document OCR ->
typed invoice/stock record.

Physical design (SURVEY.md §4): the model-ish work (render/decode, angle
pass, detection, recognition, gate dispatch) runs in ONE ``mapInPandas``
stage emitting *raw* field strings; every normalizer then runs as native
Spark SQL expressions (functions/normalizers.py) so Catalyst codegen's
the whole normalization pass JVM-side — the UDF boundary carries only
small strings, never images.  The plan holds exactly one python stage.
The base and composite normalizer layers stay two ``Project`` nodes:
with ``spark.sql.optimizer.collapseProjectAlwaysInline`` at its default
(false), CollapseProject will not merge a Project whose non-cheap base
expressions (get_amount is ~50 nodes of regex/HOF work) the composite
layer references more than once.

Output schema is flat (media_ref, family, type, then the normalized
fields of both record shapes with reference default fill:
vat_detect.py:423-429 ['' / '¥ 0.00'], stock_detect.py:196-204
[page '-1/-1', total_amount = coalesce(total, total2, total3)]).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import normalizers as N
from .pipeline import _default_partitions

RAW_FIELDS = [
    "title", "invoice_code", "invoice_number", "billing_date", "check_code",
    "total_amount", "tax", "amount_with_tax", "buy_title", "sale_title",
    "doc_number", "idate", "total", "total2", "total3", "cnt", "page",
    "buy_tax", "buy_addr", "buy_bank", "sale_tax", "sale_addr", "sale_bank",
    "qrcode",
]
# The two python-kernel normalizers (get_date, get_chinese_amount) are
# computed INSIDE the extraction kernel rather than as pandas UDFs in the
# base select: a pandas UDF would add a second python stage (an
# ArrowEvalPython round trip per batch), and the kernel already owns a
# python batch of exactly these strings.
_PY_NORM_FIELDS = ["billing_date", "idate", "total3"]
_RAW_SCHEMA = (
    "media_ref string, region_idx int, family string, type string, "
    + ", ".join(f"{f}_raw string" for f in RAW_FIELDS)
    + ", "
    + ", ".join(f"{f}_norm string" for f in _PY_NORM_FIELDS)
)


def _extract_raw_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: media_ref -> family/type + raw field texts (+
    the python-normalized date/chinese-amount columns, see _PY_NORM_FIELDS).
    Kernels import once per executor python worker (module singleton).

    ``#multi`` refs take the legacy whole-page route
    (obj_det/v1/detect.py:71-156): the region detector counts the invoice
    regions from pixels, each crop runs the same single-document chain,
    and the kernel EXPLODES 1 page row -> N region rows (region_idx
    top-to-bottom).  Single refs stay one row with region_idx 0."""
    from ocr_spark.core.fields import extract_fields, region_images
    from ocr_spark.functions import normalizers_py as pyref

    for pdf in batches:
        rows = []
        for ref in pdf["media_ref"]:
            for ridx, img in enumerate(region_images(ref)):
                d = extract_fields(img)
                rows.append(
                    [ref, ridx, d["family"], d["type"]]
                    + [d.get(f, "") for f in RAW_FIELDS]
                    + [
                        pyref.get_date(d.get("billing_date", "")),
                        pyref.get_date(d.get("idate", "")),
                        pyref.get_chinese_amount(d.get("total3", "")),
                    ]
                )
        yield pd.DataFrame(
            rows,
            columns=["media_ref", "region_idx", "family", "type"]
            + [f"{f}_raw" for f in RAW_FIELDS]
            + [f"{f}_norm" for f in _PY_NORM_FIELDS],
        )


def _bs_norm(col):
    """Buy/sale addr/bank pre-normalization (vat_detect.py:197,209):
    strip, then map full-width ：，； to their ASCII forms."""
    return F.translate(F.trim(col), "：，；", ":,;")


def _qr_parse_cols(raw):
    """Parsed VAT-QR CSV columns (util/tool.py:321-336 field order).
    F.get (not getItem) so a missing QR yields nulls instead of an ANSI
    out-of-bounds error; the nulls are dead when qr_ok is false."""
    qrp = F.split(raw, ",")

    def part(i):
        return F.coalesce(F.get(qrp, i), F.lit(""))

    date = part(5)
    return [
        F.trim(part(1)).alias("qr_type"),
        F.trim(part(2)).alias("qr_code"),
        F.trim(part(3)).alias("qr_number"),
        N.get_float(part(4)).alias("qr_amount"),
        F.concat(
            F.substring(date, 1, 4), F.lit("年"),
            F.substring(date, 5, 2), F.lit("月"),
            F.substring(date, 7, 2), F.lit("日"),
        ).alias("qr_date"),
        N.get_num(part(6)).alias("qr_check"),
    ]


def extract_invoice_fields(refs: DataFrame) -> DataFrame:
    """media_ref DataFrame -> normalized record DataFrame.

    Per-label normalization routers, verbatim from the reference:
    * invoice fields (vat_detect.py:372-421): code/number/check -> get_num,
      dates -> get_date, amounts -> get_amount (+ tax arithmetic), titles
      -> get_title, invoice_type -> judge_invoice_type.
    * stock fields (_process_label_text, stock_detect.py:45-58):
      total3 -> get_chinese_amount, total/total2 -> get_amount,
      idate -> get_date, doc_number/cnt -> get_num, page -> get_page.

    Two normalization layers: base per-label normalizers directly over the
    raw OCR strings, then composite fields over the base columns.  They
    stay two Projects (see the module docstring), so a composite reference
    reads the base column instead of re-inlining its expression tree.
    """
    spark = refs.sparkSession
    raw = refs.repartition(_default_partitions(spark)).mapInPandas(
        _extract_raw_batches, schema=_RAW_SCHEMA
    )
    c = F.col
    base = raw.select(
        "media_ref",
        "region_idx",
        "family",
        "type",
        N.get_title(c("title_raw")).alias("title"),
        N.get_num(c("invoice_code_raw")).alias("invoice_code"),
        N.get_num(c("invoice_number_raw")).alias("invoice_number"),
        c("billing_date_norm").alias("billing_date"),
        N.get_num(c("check_code_raw")).alias("check_code"),
        N.get_amount(c("total_amount_raw")).alias("total_amount"),
        N.get_amount(c("tax_raw")).alias("tax0"),
        N.get_amount(c("amount_with_tax_raw")).alias("amount_with_tax"),
        N.get_title(c("buy_title_raw")).alias("buy_title"),
        N.get_title(c("sale_title_raw")).alias("sale_title"),
        N.get_num(c("doc_number_raw")).alias("doc_number"),
        c("idate_norm").alias("idate"),
        N.get_amount(c("total_raw")).alias("total"),
        N.get_amount(c("total2_raw")).alias("total2"),
        c("total3_norm").alias("total3"),
        N.get_num(c("cnt_raw")).alias("cnt"),
        N.get_page(c("page_raw")).alias("page"),
        # complex-range buy/sale routing (process_buy_sale_field,
        # vat_detect.py:186-214): tax -> get_tax on the stripped text;
        # addr/bank -> full-width punctuation normalized (：，； -> :,;)
        # then extract_addr / extract_bank.
        N.get_tax(F.trim(c("buy_tax_raw"))).alias("buy_tax"),
        N.extract_addr(_bs_norm(c("buy_addr_raw"))).alias("buy_addr"),
        N.extract_bank(_bs_norm(c("buy_bank_raw"))).alias("buy_bank"),
        N.get_tax(F.trim(c("sale_tax_raw"))).alias("sale_tax"),
        N.extract_addr(_bs_norm(c("sale_addr_raw"))).alias("sale_addr"),
        N.extract_bank(_bs_norm(c("sale_bank_raw"))).alias("sale_bank"),
        # QR-present branch inputs (reference vat_detect.py:341-370 +
        # util/tool.py:321-336 _vat_qrcode): parse the decoded CSV once
        # here; the composite layer branches on qr_ok.
        ((c("family") == F.lit("vat")) & (c("qrcode_raw") != "")).alias(
            "qr_ok"
        ),
        *_qr_parse_cols(c("qrcode_raw")),
    )
    zero = F.lit("¥ 0.00")
    tot, tot2, tot3 = c("total"), c("total2"), c("total3")

    # -- QR-present branch (vat_detect.py:341-370): when the QR decodes,
    # identity fields come from the payload and only amounts/title fall
    # back to OCR, per invoice type:
    #   31/32: amount_with_tax from QR, total_amount from OCR
    #          (fidelity note: the reference sources this from its
    #          separate 'total' OCR label, vat_detect.py:359
    #          ocr_results_dict.get('total'); this fixture has no
    #          distinct 'total' region on digital invoices, so the
    #          total_amount label stands in for it)
    #   01/04: total_amount from QR, amount_with_tax from OCR
    #   else ('10'): total_amount from QR, others '¥ 0.00'
    #   tax from OCR for 01/04/31/32, else '¥ 0.00' (pre-arithmetic)
    qr_ok = c("qr_ok")
    t3132 = c("qr_type").isin("31", "32")
    t0104 = c("qr_type").isin("01", "04")
    b_total = F.when(
        qr_ok, F.when(t3132, c("total_amount")).otherwise(c("qr_amount"))
    ).otherwise(c("total_amount"))
    b_awt = F.when(
        qr_ok,
        F.when(t3132, c("qr_amount"))
        .when(t0104, c("amount_with_tax"))
        .otherwise(zero),
    ).otherwise(c("amount_with_tax"))
    b_tax0 = F.when(
        qr_ok, F.when(t3132 | t0104, c("tax0")).otherwise(zero)
    ).otherwise(c("tax0"))
    b_check = F.when(
        qr_ok,
        F.when(c("qr_type").isin("04", "10"), c("qr_check")).otherwise(
            F.lit("")
        ),
    ).otherwise(c("check_code"))

    return base.select(
        "media_ref",
        "region_idx",
        "family",
        "type",
        F.when(qr_ok & (c("qr_type") == "32"), F.lit("电子发票（普通发票）"))
        .when(qr_ok & (c("qr_type") == "31"), F.lit("电子发票（专用发票）"))
        .otherwise(c("title"))
        .alias("title"),
        F.when(qr_ok, c("qr_code")).otherwise(c("invoice_code")).alias(
            "invoice_code"
        ),
        F.when(qr_ok, c("qr_number")).otherwise(c("invoice_number")).alias(
            "invoice_number"
        ),
        F.when(qr_ok, c("qr_date")).otherwise(c("billing_date")).alias(
            "billing_date"
        ),
        b_check.alias("check_code"),
        b_total.alias("total_amount"),
        N.tax_arithmetic(b_tax0, b_total, b_awt).alias("tax"),
        b_awt.alias("amount_with_tax"),
        # complex range: buy/sale fields are OCR-routed in BOTH branches
        # (the QR handler re-processes buy_/sale_ labels from OCR,
        # vat_detect.py:361-367).
        "buy_title",
        "sale_title",
        "buy_tax",
        "buy_addr",
        "buy_bank",
        "sale_tax",
        "sale_addr",
        "sale_bank",
        F.when(qr_ok, c("qr_type"))
        .otherwise(N.judge_invoice_type(c("title"), c("check_code")))
        .alias("invoice_type"),
        "doc_number",
        "idate",
        "total",
        "total2",
        "total3",
        F.when(tot != zero, tot)
        .when(tot2 != zero, tot2)
        .when(tot3 != zero, tot3)
        .otherwise(zero)
        .alias("stock_total_amount"),
        "cnt",
        "page",
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
