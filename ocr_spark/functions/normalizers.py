"""Spark Column expressions for the reference's scalar normalizer library.

Everything here is built from native ``pyspark.sql.functions`` — Catalyst
codegen's these JVM-side, so a query that normalizes a string column pays
no Python round-trip.  These expressions back the ``norm_*`` board
operators; the invoice-field stage does NOT use them: its kernel already
holds each region's strings in Python and normalizes them there through
normalizers_py (operators/fields.py), because building and planning these
regex trees cost more than the kernel's own normalizing.  The two
normalizers whose control flow does not pay to express in SQL
(``get_chinese_amount``'s stateful scan, and ``get_date``'s strict-parse
fallback-to-input) are vectorized pandas UDFs over the pure-Python kernels
in normalizers_py.

Contract source: reference util/tool.py + obj_det/vat_detect.py (cited per
function); string-for-string agreement with normalizers_py is enforced by
tests/test_normalizers.py over adversarial inputs.

Known deviation (documented): Java's %.2f rounds HALF_UP while Python's
rounds half-even; amounts with an exact binary .xx5 third decimal can differ
in the last digit.  Real OCR'd amounts carry at most 2 decimals.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from . import normalizers_py as pyref

# translate() argument pairs derived from the reference maps
# (util/tool.py:37-50).  Characters deleted must sit at the tail of FROM.
_FW_FROM = "０１２３４５６７８９，．－﹣–—／。￥元圆 "
_FW_TO = "0123456789,.----/.¥¥¥"  # trailing space deleted
_OCR_FROM = "OoDSBlIiY"
_OCR_TO = "00058111¥"  # O,o,D -> 0; S -> 5; B -> 8; l,I,i -> 1; Y -> ¥

_SALAD = "[★☆※*•·●⊙◎¤■◆◇▪▎▏▍▌▋▊▉|｜~`^_=+<>《》〈〉【】\\[\\]{}（）()]"

# (?U) = Java UNICODE_CHARACTER_CLASS: the reference runs Python re, whose
# \\d / \\s match full-width digits and Unicode whitespace.
_RE_NUM = r"(?U)-?[0-9]\d*"
_RE_TAX = r"(?U)-?[0-9]\d*[a-zA-Z]*"
_RE_FLOAT = r"(?U)-?[0-9]\d*\.*"


def get_num(c: Column) -> Column:
    """util/tool.py:65-68."""
    return F.array_join(
        F.regexp_extract_all(F.translate(c, "lIi", "111"), F.lit(_RE_NUM), 0),
        "",
    )


def get_tax(c: Column) -> Column:
    """util/tool.py:71-73."""
    return F.array_join(F.regexp_extract_all(c, F.lit(_RE_TAX), 0), "")


def get_title(c: Column) -> Column:
    """util/tool.py:76-78 (joining '-?[^:：]*' matches == deleting colons)."""
    return F.translate(c, ":：", "")


def get_addr_bank(c: Column) -> Column:
    """util/tool.py:81-85: split the trailing account-digit run off the
    colon-stripped string.  Bug-compatible: the suffix is sliced from the
    ORIGINAL string at the character length of the stripped prefix, so any
    colons re-enter through the suffix."""
    normalized = F.translate(c, ":：", "")
    pre = F.regexp_replace(normalized, r"[0-9\-]+$", "")
    return F.when(
        F.length(pre) > 0,
        F.concat(pre, F.lit(" "), c.substr(F.length(pre) + 1, F.length(c))),
    ).otherwise(c)


def get_page(c: Column) -> Column:
    """util/tool.py:255-268."""
    tr = F.translate(c, "|Il", "111")
    pat = "第(.*)页/共(.*)页"
    g1 = F.regexp_extract(tr, pat, 1)
    g2 = F.regexp_extract(tr, pat, 2)
    matched = tr.rlike(pat)
    hit = F.concat(
        F.when(g1 == "", F.lit("1")).otherwise(g1),
        F.lit("/"),
        F.when(g2 == "", F.lit("1")).otherwise(g2),
    )
    nums = F.regexp_extract_all(tr, F.lit(_RE_NUM), 0)
    fallback = F.when(
        F.size(nums) >= 2,
        F.concat(F.element_at(nums, 1), F.lit("/"), F.element_at(nums, 2)),
    ).otherwise(F.lit("-1/-1"))
    return F.when(matched, hit).otherwise(fallback)


def get_float(c: Column) -> Column:
    """util/tool.py:88-107 incl. the '-0'->'-8' / leading-'0'->'8' OCR fixes."""
    joined = F.array_join(F.regexp_extract_all(c, F.lit(_RE_FLOAT), 0), "")
    fixed = (
        F.when(
            joined.startswith("-0") & (F.length(joined) > 2),
            F.concat(F.lit("-8"), F.substring(joined, 3, 2147483640)),
        )
        .when(
            joined.startswith("0") & (F.length(joined) > 1),
            F.concat(F.lit("8"), F.substring(joined, 2, 2147483640)),
        )
        .otherwise(joined)
    )
    # python float() accepts full-width digits that \\d matched above
    val = F.translate(fixed, "０１２３４５６７８９", "0123456789").try_cast("double")
    return F.when(
        c.isNull() | (c == "") | val.isNull(), F.lit("¥ 0.00")
    ).otherwise(F.format_string("¥ %.2f", val))


def get_amount(c: Column) -> Column:
    """util/tool.py:109-169: currency-anchored candidate extraction with the
    last-or-max-abs selection rule and bracket / trailing-minus negativity.
    Fully native SQL: regexp_extract_all + higher-order array functions."""
    raw = F.regexp_replace(
        F.translate(F.translate(F.trim(c), _FW_FROM, _FW_TO), _OCR_FROM, _OCR_TO),
        _SALAD,
        "",
    )
    raw = F.regexp_replace(raw, r"(?U)\s+", "")

    def cands(pattern: str) -> Column:
        arr = F.regexp_extract_all(raw, F.lit(pattern), 1)
        return F.filter(
            F.transform(arr, lambda x: F.replace(x, F.lit(","), F.lit("")).try_cast("double")),
            lambda v: v.isNotNull(),
        )

    cur = cands(r"(?i)(?:¥|RMB|CNY)\s*([-+]?\d[\d,]*(?:\.\d+)?)")
    suf = cands(r"(?i)([-+]?\d[\d,]*(?:\.\d+)?)(?=\s*(?:¥|RMB|CNY))")
    gen = cands(r"([-+]?\d[\d,]*(?:\.\d+)?)")
    chosen = (
        F.when(F.size(cur) > 0, cur)
        .when(F.size(suf) > 0, suf)
        .otherwise(gen)
    )
    last = F.element_at(chosen, -1)
    max_abs = F.array_max(F.transform(chosen, F.abs))
    # python max() returns the FIRST candidate attaining max |v|
    first_at_max = F.element_at(F.filter(chosen, lambda v: F.abs(v) == max_abs), 1)
    value = F.when(F.abs(last) == max_abs, last).otherwise(first_at_max)

    negative = (
        (F.instr(c, "(") > 0) & (F.instr(c, ")") > 0)
    ) | raw.rlike(r"(?U)-\s*$")
    value = F.when(negative & (value > 0), -value).otherwise(value)
    return F.when(
        c.isNull() | (c == "") | (F.size(chosen) == 0), F.lit("¥ 0.00")
    ).otherwise(F.format_string("¥ %.2f", value))


@F.pandas_udf(StringType())
def get_chinese_amount(s: pd.Series) -> pd.Series:
    """util/tool.py:172-252 — stateful digit/unit scan; vectorized pandas
    UDF over the pure-Python kernel (SURVEY.md §2.4: not SQL-expressible)."""
    return s.map(lambda x: pyref.get_chinese_amount(x or ""))


def make_get_date(ref_date: str = pyref.DEFAULT_REF_DATE):
    """util/tool.py:271-301 with the reference date as an explicit job
    parameter (determinism — SURVEY.md §7 hard part b)."""

    @F.pandas_udf(StringType())
    def get_date(s: pd.Series) -> pd.Series:
        return s.map(lambda x: pyref.get_date(x if x is not None else "", ref_date))

    return get_date


def extract_addr(c: Column) -> Column:
    """obj_det/vat_detect.py:143-158."""
    s = F.regexp_replace(
        c, r"^\s*(地址|单位地址|购方地址|销方地址|地址、电话)[:：]?\s*", ""
    )
    s = F.split(s, "电话|开户行|账号|银行|Bank", 2).getItem(0)
    s = F.regexp_replace(s, _SALAD, "")
    s = F.regexp_replace(s, "[，,;；]+", "，")
    s = F.regexp_replace(s, r"(?U)\s+", " ")
    return _trim_set(s, " ，;；")


def extract_bank(c: Column) -> Column:
    """obj_det/vat_detect.py:161-183."""
    s = F.regexp_replace(c, r"^\s*(开户行及账号|开户行|账号|银行)[:：]?\s*", "")
    s = F.regexp_replace(s, _SALAD, "")
    s = F.regexp_replace(s, "[，,;；]+", "，")
    s = _trim_set(F.regexp_replace(s, r"(?U)\s+", " "), " ，;；")
    account = F.array_join(F.regexp_extract_all(s, F.lit(r"(?U)\d"), 0), "")
    name_part = _trim_set(F.split(s, r"(?U)\d", 2).getItem(0), " ,;")
    return (
        F.when(
            (account != "") & (name_part != ""),
            F.concat(name_part, F.lit(" "), account),
        )
        .when(account != "", account)
        .otherwise(F.trim(s))
    )


def _trim_set(c: Column, chars: str) -> Column:
    """Python str.strip(chars) equivalent (strip a SET of chars both ends)."""
    esc = "".join("\\" + ch if ch in r"\^]-[" else ch for ch in chars)
    return F.regexp_replace(c, f"^[{esc}]+|[{esc}]+$", "")


def get_check_code(c1: Column, c2: Column) -> Column:
    """obj_det/vat_detect.py:71-78 — preserves the lexicographic-max quirk."""
    n1, n2 = get_num(c1), get_num(c2)
    return (
        F.when(c2.isNull() | (c2 == ""), n1)
        .when(c1.isNotNull() & c1.contains("验码"), n1)
        .when(c2.contains("验码"), n2)
        .otherwise(F.greatest(n1, n2))
    )


def judge_invoice_type(title: Column, check_code: Column) -> Column:
    """obj_det/vat_detect.py:81-107 as a when/otherwise cascade."""
    has = title.contains
    electronic_header = title.startswith("电子发票")
    keyword_type = (
        F.when(has("普通") & has("专用") & has("电子"), F.lit("10"))
        .when(has("普通") & has("专用"), F.lit("04"))
        .when(has("专用") & has("电子"), F.lit("08"))
        .when(has("专用"), F.lit("01"))
        .when(has("普通") & has("电子"), F.lit("10"))
        .when(has("普通"), F.lit("04"))
        .otherwise(
            F.when(
                check_code.isNotNull() & (check_code != ""), F.lit("04")
            ).otherwise(F.lit("01"))
        )
    )
    return (
        F.when(title.isNull() | (title == ""), F.lit(""))
        .when(electronic_header & has("普通"), F.lit("32"))
        .when(electronic_header, F.lit("31"))
        .otherwise(keyword_type)
    )


def reconcile_invoice_code(c1: Column, c2: Column) -> Column:
    """obj_det/vat_detect.py:110-130 (invoice_code half): prefer the
    12-length candidate, else the longer."""
    use2 = (c1 != c2) & (
        ((F.length(c1) != 12) & (F.length(c2) == 12))
        | (F.length(c1) < F.length(c2))
    )
    return F.when(use2, c2).otherwise(c1)


def reconcile_invoice_number(n1: Column, n2: Column) -> Column:
    """obj_det/vat_detect.py:110-130 (invoice_number half): prefer the
    8-length candidate, else the longer."""
    use2 = (
        (n1 != n2)
        & (F.length(n1) != 8)
        & ((F.length(n2) == 8) | (F.length(n2) > F.length(n1)))
    )
    return F.when(use2, n2).otherwise(n1)

