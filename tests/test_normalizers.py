"""Normalizer library: golden cases (FIXTURES.md §3) + string-for-string
agreement between the Spark Column expressions and the pure-Python
reference-semantics kernels over adversarial inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_spark.functions import normalizers as N
from ocr_spark.functions import normalizers_py as P

# ---- golden pairs (hand-derived from the reference semantics) ----

GOLDEN = {
    "get_num": [
        ("abc123def456", "123456"),
        ("l0I5i", "10151"),
        ("", ""),
        ("no digits", "11"),  # both 'i's -> '1' quirk of the l/I/i fix
        ("-42x-7", "-42-7"),
    ],
    "get_title": [
        ("标题：值", "标题值"),
        ("a:b:c", "abc"),
        ("普通发票", "普通发票"),
    ],
    "get_page": [
        ("第1页/共3页", "1/3"),
        ("第|页/共3页", "1/3"),
        ("第页/共页", "1/1"),
        ("page 2 of 9", "2/9"),
        ("nothing", "-1/-1"),
        ("", "-1/-1"),
    ],
    "get_float": [
        ("", "¥ 0.00"),
        ("123.45", "¥ 123.45"),
        ("0123", "¥ 8123.00"),  # leading-0 OCR fix
        ("-012", "¥ -812.00"),  # -0 OCR fix
        ("abc", "¥ 0.00"),
        ("12..5", "¥ 0.00"),
    ],
    "get_amount": [
        ("", "¥ 0.00"),
        ("￥１２３.４５", "¥ 123.45"),
        ("(100)", "¥ -100.00"),
        ("1O0.5O元", "¥ 100.50"),
        ("¥12.00 合计 ¥99.00", "¥ 99.00"),
        ("100-", "¥ -100.00"),
        ("大写：壹佰元", "¥ 0.00"),
        ("1,234.56", "¥ 1234.56"),
        ("小计12.00总计9.00", "¥ 12.00"),  # max-abs beats last
    ],
    "get_chinese_amount": [
        ("壹万贰仟叁佰肆拾伍元陆角柒分", "¥ 12345.67"),
        ("壹佰元整", "¥ 100.00"),
        ("叁拾贰元伍角", "¥ 32.50"),
        ("", "¥ 0.00"),
        # no exception raised -> NO get_amount fallback (util/tool.py:250
        # only catches exceptions); plain digits parse to 0
        ("123.45", "¥ 0.00"),
        # --- 万/亿 pending-digit-only quirk (util/tool.py:216-229): a big
        # unit multiplies ONLY the pending digit (or 1), never the
        # accumulated total, then ADDS — so 壹拾万 is 10 + 1*10000, not
        # (1*10)*10000.  Preserved bit-for-bit from the reference.
        ("壹拾万元", "¥ 10010.00"),  # "real" Chinese reading would be 100000
        ("伍拾万元", "¥ 10050.00"),  # 50 + 10000, not 500000
        ("贰仟万元", "¥ 12000.00"),  # 2000 + 10000, not 20000000
        # mixed 亿+万: each big unit still sees only its own pending digit
        ("叁亿伍仟万元", "¥ 300015000.00"),  # 3e8 + 5000 + 1e4, not 3.5e8
        # quirk compounds: 仟/佰 flush immediately, so 万 sees pending 0
        # and contributes a bare +1e4: 1e8 + 2000 + 300 + 10000
        ("壹亿贰仟叁佰万元", "¥ 100012300.00"),
        ("贰亿零叁万元", "¥ 200030000.00"),  # digit directly before 万: correct
        ("万元", "¥ 10000.00"),  # bare unit -> implied leading 1
        ("亿元", "¥ 100000000.00"),
        ("伍元整", "¥ 5.00"),  # 整 terminates the decimal scan
    ],
    "get_date": [
        ("2022年11月04日", "2022年11月04日"),
        ("2022/11/04", "2022年11月04日"),
        # get_num keeps '-' signs -> '2022-11-04' fails strptime and the
        # reference returns the input unchanged (util/tool.py:300-301)
        ("2022-11-04", "2022-11-04"),
        ("１１月０４日", "2024年11月04日"),  # padded with ref date prefix
        ("04日", "2024年01月04日"),
        # quirk: no digits at all -> fully padded with the ref date
        ("garbage", "2024年01月01日"),
        ("999999999", "999999999"),  # unparseable -> input returned
    ],
    "get_tax": [
        ("91110108MA01G", "91110108MA01G"),
        ("税号:9111x", "9111x"),
        ("", ""),
    ],
}


@pytest.mark.parametrize("fn", sorted(GOLDEN))
def test_python_goldens(fn):
    impl = getattr(P, fn)
    for inp, want in GOLDEN[fn]:
        assert impl(inp) == want, f"{fn}({inp!r})"


def test_extract_addr_bank_goldens():
    assert P.extract_addr("地址：北京市海淀区1号 电话:1234") == "北京市海淀区1号"
    assert P.extract_bank("开户行：中国银行 6222 0012") == "中国银行 62220012"
    assert P.get_check_code("验码 123", "456") == "123"
    assert P.get_check_code("12", "45") == "45"  # lexicographic max quirk
    assert P.get_check_code("123", "") == "123"
    assert P.judge_invoice_type("电子发票（增值税普通发票）") == "32"
    assert P.judge_invoice_type("增值税专用发票") == "01"
    assert P.judge_invoice_type("增值税电子普通发票") == "10"
    assert P.judge_invoice_type("收据", "123") == "04"
    assert P.judge_invoice_type("收据", "") == "01"


# ---- Spark expression == python kernel, over adversarial inputs ----

ADVERSARIAL = [
    "", "¥ 123.45", "￥１２３．４５", "(1,000.50)", "100-", "O0S5B8",
    "第3页/共10页", "第|页/共I页", "2023年1月2日", "２０２２－１１－０４",
    "增值税专用发票", "电子发票（增值税普通发票）", "abc-12def34",
    "地址：上海市浦东新区 电话:021", "开户行：招商银行 1234 5678",
    "标题：：双冒号", "小计12.00总计9.00", "¥5 ¥7 ¥3", "RMB 88.8",
    "12CNY", "-0123", "１２３４５元", "开户行：工商银行１２３４", "1２3", "0456", "壹万贰仟叁佰肆拾伍元陆角柒分", "   spaces   ",
    "★★¥99★★", "税号91110108MA01ABCD", "1,2,3", "12..34", "-",
    "第页/共页", "l1I2i3", "【100】", "¥-5.5", "+42", "99.999",
    # get_addr_bank stressors: trailing digit/hyphen runs, colon-offset
    # slice quirk, all-digits (no prefix -> passthrough), and the
    # 地址、电话 leftmost-first alternation quirk of extract_addr.
    "尾号：1234-5678", "1234567890", "招商银行账号62220212345",
    "地址、电话：北京市朝阳区 电话010-1234", "开户行：- ", "x-1-2-3",
]


@pytest.fixture(scope="module")
def adv_df(spark):
    return spark.createDataFrame([(s,) for s in ADVERSARIAL], ["s"]).cache()


@pytest.mark.parametrize(
    "name,spark_fn,py_fn",
    [
        ("get_num", N.get_num, P.get_num),
        ("get_tax", N.get_tax, P.get_tax),
        ("get_title", N.get_title, P.get_title),
        ("get_addr_bank", N.get_addr_bank, P.get_addr_bank),
        ("get_page", N.get_page, P.get_page),
        ("get_float", N.get_float, P.get_float),
        ("get_amount", N.get_amount, P.get_amount),
        ("extract_addr", N.extract_addr, P.extract_addr),
        ("extract_bank", N.extract_bank, P.extract_bank),
    ],
)
def test_spark_expr_matches_python(spark, adv_df, name, spark_fn, py_fn):
    rows = adv_df.select("s", spark_fn(F.col("s")).alias("out")).collect()
    bad = [
        (r["s"], r["out"], py_fn(r["s"]))
        for r in rows
        if r["out"] != py_fn(r["s"])
    ]
    assert not bad, f"{name} mismatches: {bad[:5]}"


def test_spark_udf_normalizers(spark, adv_df):
    rows = adv_df.select(
        "s",
        N.get_chinese_amount(F.col("s")).alias("cn"),
        N.make_get_date()(F.col("s")).alias("dt"),
    ).collect()
    for r in rows:
        assert r["cn"] == P.get_chinese_amount(r["s"])
        assert r["dt"] == P.get_date(r["s"])


def test_spark_check_code_and_invoice_type(spark):
    cases = [
        ("验码 123", "456"), ("12", "45"), ("123", ""), ("", "9"), ("1l", "2I")
    ]
    df = spark.createDataFrame(cases, ["c1", "c2"])
    rows = df.select(
        "c1", "c2", N.get_check_code(F.col("c1"), F.col("c2")).alias("out")
    ).collect()
    for r in rows:
        assert r["out"] == P.get_check_code(r["c1"], r["c2"]), (r["c1"], r["c2"])

    titles = [
        ("电子发票（增值税普通发票）", ""), ("电子发票xx", ""), ("增值税专用发票", ""),
        ("增值税电子专用发票", ""), ("增值税普通发票", ""), ("增值税电子普通发票", ""),
        ("收据", "123"), ("收据", ""), ("", "x"), ("专用普通电子", ""),
    ]
    df = spark.createDataFrame(titles, ["t", "cc"])
    rows = df.select(
        "t", "cc", N.judge_invoice_type(F.col("t"), F.col("cc")).alias("out")
    ).collect()
    for r in rows:
        assert r["out"] == P.judge_invoice_type(r["t"], r["cc"]), r["t"]


def test_tax_arithmetic():
    """vat_detect.py:412-421: tax = total_amount - amount_with_tax only
    when OCR found none and both operands parse."""
    ta = P.tax_arithmetic
    assert ta("¥ 5.00", "¥ 1.00", "¥ 1.00") == "¥ 5.00"  # tax already set
    assert ta("¥ 0.00", "¥ 113.00", "¥ 100.00") == "¥ 13.00"
    assert ta("¥ 0.00", "¥ 100.00", "¥ 113.50") == "¥ -13.50"
    assert ta("¥ 0.00", "¥ 0.00", "¥ 0.00") == "¥ 0.00"
    # an operand without digits (get_float of a 400-digit run is '¥ inf')
    assert ta("¥ 0.00", "¥ inf", "¥ 100.00") == "¥ 0.00"
    assert ta("¥ 0.00", "¥ 113.00", "") == "¥ 0.00"
