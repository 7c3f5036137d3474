"""Pure-Python normalizer contracts (reference semantics, re-implemented).

Each function re-states the behavior of one scalar normalizer of the
reference's expression library (reference file:line cited per function).
These serve four roles:

1. the spec that tests/test_normalizers.py checks the Spark Column
   expressions against, string-for-string, over adversarial inputs;
2. the normalizers of the invoice-field kernel (operators/fields.py),
   which maps each region's raw OCR strings to its record in Python;
3. the kernels of the pandas UDFs for the two normalizers whose control
   flow is not worth contorting into SQL (get_chinese_amount's stateful
   scan, get_date's fallback-to-input);
4. executable documentation of every quirk we preserve on purpose
   (lexicographic max in get_check_code, the '0'->'8' OCR fix in
   get_float, bug-compatible length slicing in get_addr_bank).

Determinism: the reference pads short dates with *today* (util/tool.py:296);
here the reference date is an explicit parameter (SURVEY.md §7 hard part b).
"""

from __future__ import annotations

import re
from datetime import datetime

DEFAULT_REF_DATE = "20240101"

_RE_NUM = re.compile(r"-?[0-9]\d*")  # util/tool.py:19
_RE_TAX = re.compile(r"-?[0-9]\d*[a-zA-Z]*")  # util/tool.py:20
_RE_FLOAT = re.compile(r"-?[0-9]\d*\.*")  # util/tool.py:23
_RE_PAGE = re.compile(r"第(.*)页/共(.*)页")  # util/tool.py:24
_RE_ADDR_BANK = re.compile(r"[0-9\-]*$")  # util/tool.py:22
_RE_TAX_AMOUNT = re.compile(r"(-?\d+\.?\d*)")  # vat_detect.py:412-421

_RE_AMOUNT_CURRENCY = re.compile(
    r"(?:¥|RMB|CNY)\s*([-+]?\d[\d,]*(?:\.\d+)?)", flags=re.IGNORECASE
)  # util/tool.py:27
_RE_AMOUNT_SUFFIX = re.compile(
    r"([-+]?\d[\d,]*(?:\.\d+)?)(?=\s*(?:¥|RMB|CNY))", flags=re.IGNORECASE
)  # util/tool.py:28
_RE_AMOUNT_GENERIC = re.compile(r"([-+]?\d[\d,]*(?:\.\d+)?)")  # util/tool.py:29
_SYMBOL_SALAD = (
    r"[★☆※*•·●⊙◎¤■◆◇▪▎▏▍▌▋▊▉|｜~`^_=+<>《》〈〉【】\[\]{}（）()]"
)  # util/tool.py:30
_RE_AMOUNT_CLEAN = re.compile(_SYMBOL_SALAD)
_RE_TRAILING_MINUS = re.compile(r"-\s*$")  # util/tool.py:31

# full-width -> half-width + currency unification (util/tool.py:37-43)
FULLWIDTH = str.maketrans(
    {
        "０": "0", "１": "1", "２": "2", "３": "3", "４": "4",
        "５": "5", "６": "6", "７": "7", "８": "8", "９": "9",
        "，": ",", "．": ".", "－": "-", "﹣": "-", "–": "-", "—": "-",
        "／": "/", "。": ".",
        "￥": "¥", "元": "¥", "圆": "¥", " ": "",
    }
)
# common OCR confusions (util/tool.py:46-50)
OCR_FIX = str.maketrans(
    {"O": "0", "o": "0", "D": "0", "S": "5", "B": "8", "l": "1", "I": "1",
     "i": "1", "Y": "¥"}
)


def get_num(s: str) -> str:
    """Digit extraction with l/I/i -> 1 (util/tool.py:65-68)."""
    s = s.replace("l", "1").replace("I", "1").replace("i", "1")
    return "".join(_RE_NUM.findall(s))


def get_tax(s: str) -> str:
    """Tax-id extraction (util/tool.py:71-73)."""
    return "".join(_RE_TAX.findall(s))


def get_title(s: str) -> str:
    """Title extraction = strip ':'/'：' (util/tool.py:76-78: joining all
    '-?[^:：]*' matches is equivalent to deleting the colons)."""
    return s.replace(":", "").replace("：", "")


def get_addr_bank(s: str) -> str:
    """Split the trailing account digits off (util/tool.py:81-85).
    Bug-compatible: the suffix is sliced from the ORIGINAL string at the
    length of the colon-stripped prefix."""
    normalized = s.replace(":", "").replace("：", "")
    pre = _RE_ADDR_BANK.split(normalized)[0]
    return f"{pre} {s[len(pre):]}" if pre else s


def get_float(s: str) -> str:
    """Float extraction with the leading-zero OCR fixes (util/tool.py:88-107):
    '-0...' -> '-8...', leading '0' -> '8'."""
    if not s:
        return "¥ 0.00"
    try:
        chars = list("".join(_RE_FLOAT.findall(s)))
        if not chars:
            return "¥ 0.00"
        if chars[0] == "-" and len(chars) > 2 and chars[1] == "0":
            chars[1] = "8"
        elif chars[0] == "0" and len(chars) > 1:
            chars[0] = "8"
        return f"¥ {float(''.join(chars)):.2f}"
    except Exception:
        return "¥ 0.00"


def get_amount(s: str) -> str:
    """Max-tolerance amount extraction (util/tool.py:109-169): full-width
    fold, OCR fixes, symbol strip, currency-anchored candidates first, pick
    last-or-max-abs, bracket / trailing-minus negativity."""
    if not s:
        return "¥ 0.00"
    try:
        raw = str(s).strip().translate(FULLWIDTH).translate(OCR_FIX)
        raw = _RE_AMOUNT_CLEAN.sub("", raw)
        raw = re.sub(r"\s+", "", raw)

        is_bracket_negative = "(" in s and ")" in s  # checked on the ORIGINAL
        has_trailing_minus = bool(_RE_TRAILING_MINUS.search(raw))

        def candidates(pattern: re.Pattern) -> list[float]:
            vals = []
            for m in pattern.finditer(raw):
                try:
                    vals.append(float(m.group(1).replace(",", "")))
                except ValueError:
                    continue
            return vals

        cands = (
            candidates(_RE_AMOUNT_CURRENCY)
            or candidates(_RE_AMOUNT_SUFFIX)
            or candidates(_RE_AMOUNT_GENERIC)
        )
        if not cands:
            return "¥ 0.00"
        # prefer the last candidate unless another has strictly larger |v|
        # (util/tool.py:156-162)
        value = cands[-1]
        if len(cands) > 1:
            max_abs = max(cands, key=abs)
            if abs(max_abs) != abs(value):
                value = max_abs
        if (is_bracket_negative or has_trailing_minus) and value > 0:
            value = -value
        return f"¥ {value:.2f}"
    except Exception:
        return "¥ 0.00"


_CN_NUM = {
    "零": 0, "壹": 1, "贰": 2, "叁": 3, "肆": 4, "伍": 5, "陆": 6, "柒": 7,
    "捌": 8, "玖": 9, "〇": 0, "一": 1, "二": 2, "三": 3, "四": 4, "五": 5,
    "六": 6, "七": 7, "八": 8, "九": 9,
}
_CN_UNIT = {
    "拾": 10, "十": 10, "佰": 100, "百": 100, "仟": 1000, "千": 1000,
    "万": 10000, "萬": 10000, "亿": 100000000, "億": 100000000,
}
_CN_DEC = {"角": 0.1, "毛": 0.1, "分": 0.01}


def get_chinese_amount(s: str) -> str:
    """Chinese upper-case amount -> '¥ x.xx' (util/tool.py:172-252).
    Stateful digit/unit accumulation; falls back to get_amount on failure.
    Quirk preserved: the reference's 万/亿 handling multiplies only the
    pending digit, not the accumulated total (壹拾万 -> 10 + 1*10000 =
    10010, not 100000; mixed 亿+万 likewise never scales the total).
    """
    if not s:
        return "¥ 0.00"
    try:
        raw = str(s).strip()
        parts = re.split(r"[元圆]", raw)
        integer_part = parts[0] if parts else ""
        decimal_part = parts[1] if len(parts) > 1 else ""

        total = 0
        temp = 0
        for ch in integer_part:
            if ch in _CN_NUM:
                temp = _CN_NUM[ch]
            elif ch in _CN_UNIT:
                unit = _CN_UNIT[ch]
                total += (temp if temp > 0 else 1) * unit
                temp = 0
        total += temp

        dec_value = 0.0
        temp_d = 0
        for ch in decimal_part:
            if ch in _CN_NUM:
                temp_d = _CN_NUM[ch]
            elif ch in _CN_DEC:
                dec_value += temp_d * _CN_DEC[ch]
                temp_d = 0
            elif ch in ("整", "正"):
                break
        return f"¥ {total + dec_value:.2f}"
    except Exception:
        return get_amount(s)


def get_page(s: str) -> str:
    """'第a页/共b页' -> 'a/b' with |Il -> 1; numeric fallback; '-1/-1'
    (util/tool.py:255-268)."""
    try:
        s = s.replace("|", "1").replace("I", "1").replace("l", "1")
        m = _RE_PAGE.search(s)
        if m:
            return f"{m.group(1) or 1}/{m.group(2) or 1}"
        nums = _RE_NUM.findall(s)
        if len(nums) >= 2:
            return f"{nums[0]}/{nums[1]}"
        return "-1/-1"
    except Exception:
        return "-1/-1"


def get_date(s: str, ref_date: str = DEFAULT_REF_DATE) -> str:
    """Date normalization to '%Y年%m月%d日' (util/tool.py:271-301).

    Short digit strings are left-padded with the prefix of ``ref_date`` — an
    explicit job parameter instead of the reference's non-deterministic
    date.today() (util/tool.py:296-297). On failure returns the input.
    """
    try:
        trans = dict(FULLWIDTH)
        for ch in "年月日号":
            trans[ord(ch)] = ""
        trans.update({ord(" "): "", ord("\t"): "", ord("\n"): ""})
        raw = str(s).strip().translate(trans).translate(OCR_FIX)
        raw = _RE_AMOUNT_CLEAN.sub("", raw)
        raw = re.sub(r"\s+", "", raw)
        date_str = get_num(raw)
        if len(date_str) < 8:
            date_str = ref_date[: 8 - len(date_str)] + date_str
        return datetime.strptime(date_str, "%Y%m%d").strftime("%Y年%m月%d日")
    except Exception:
        return s


# ---- invoice field routing (reference obj_det/vat_detect.py) ----

_RE_ADDR_PREFIX = re.compile(
    r"^\s*(地址|单位地址|购方地址|销方地址|地址、电话)[:：]?\s*"
)  # vat_detect.py:11
_RE_ADDR_SPLIT = re.compile(r"(电话|开户行|账号|银行|Bank)")  # vat_detect.py:12
_RE_BANK_PREFIX = re.compile(r"^\s*(开户行及账号|开户行|账号|银行)[:：]?\s*")  # :14
_RE_SYMBOLS = re.compile(_SYMBOL_SALAD)
_RE_COMMA = re.compile(r"[，,;；]+")
_RE_SPACE = re.compile(r"\s+")
_RE_DIGITS = re.compile(r"\d")


def extract_addr(text: str) -> str:
    """Address extraction (vat_detect.py:143-158)."""
    s = _RE_ADDR_PREFIX.sub("", text)
    s = _RE_ADDR_SPLIT.split(s, maxsplit=1)[0]
    s = _RE_SYMBOLS.sub("", s)
    s = _RE_COMMA.sub("，", s)
    s = _RE_SPACE.sub(" ", s)
    return s.strip(" ，;；")


def extract_bank(text: str) -> str:
    """Bank name + account extraction (vat_detect.py:161-183)."""
    s = _RE_BANK_PREFIX.sub("", text)
    s = _RE_SYMBOLS.sub("", s)
    s = _RE_COMMA.sub("，", s)
    s = _RE_SPACE.sub(" ", s).strip(" ，;；")
    account = "".join(_RE_DIGITS.findall(s))
    name_part = _RE_DIGITS.split(s, maxsplit=1)[0].strip(" ,;")
    if account and name_part:
        return f"{name_part} {account}"
    if account:
        return account
    return s.strip()


def get_check_code(code1: str | None, code2: str | None) -> str:
    """Check-code merge (vat_detect.py:71-78). Quirk preserved: the final
    tie-break is the LEXICOGRAPHIC max of the digit strings."""
    if not code2:
        return get_num(code1 or "")
    if code1 and "验码" in code1:
        return get_num(code1)
    if code2 and "验码" in code2:
        return get_num(code2)
    return max(get_num(code1 or ""), get_num(code2))


def judge_invoice_type(title: str, check_code: str = "") -> str:
    """Invoice-type inference from title keywords (vat_detect.py:81-107),
    re-expressed as a pure function title -> type code."""
    if not title:
        return ""
    if title.startswith("电子发票"):
        return "32" if "普通" in title else "31"
    invoice_type = None
    if "专用" in title:
        invoice_type = "08" if "电子" in title else "01"
    if "普通" in title:
        invoice_type = "10" if "电子" in title else "04"
    if not invoice_type:
        invoice_type = "04" if check_code else "01"
    return invoice_type


def tax_arithmetic(tax: str, total: str, with_tax: str) -> str:
    """Tax back-fill (vat_detect.py:412-421): when OCR found no tax
    (``'¥ 0.00'``), derive it as total_amount - amount_with_tax from the
    '¥ x.xx' strings; an unparseable operand leaves the tax as it is."""
    m1 = _RE_TAX_AMOUNT.search(total)
    m2 = _RE_TAX_AMOUNT.search(with_tax)
    if tax == "¥ 0.00" and m1 and m2:
        return f"¥ {round(float(m1.group(1)) - float(m2.group(1)), 2):.2f}"
    return tax
