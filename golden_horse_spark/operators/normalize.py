"""Scalar string/unicode operators (SURVEY.md §2.2 P1-P4, §2.10 E6).

All have two forms:
* a plain-Python function (used inside Arrow-batched UDF kernels and in
  driver-side golden tests), and
* a Spark Column expression built from JVM-side built-ins
  (``F.translate`` / ``F.regexp_replace`` / ``F.when``) so relational
  pipelines stay inside whole-stage codegen — UDFs are the slow path.

Semantics re-derived from the reference (icwb.py):
* Q2B full→half width (icwb.py:479-492): U+3000→space; chars whose
  codepoint−0xFEE0 lands in [0x21, 0x7E] map there; others unchanged.
  (The reference also maps U+FF00, via the ord−0xFEE0 rule, to 0x20.)
* char_transform (icwb.py:410-425): char → P (punct) / N (numeral incl.
  ①-⑨ and 一二三…亿) / D (date 日月年) / E (latin) / S (other non-hanzi)
  / O (hanzi).
* unicode predicates (icwb.py:451-477).
* URL pattern (icwb.py:137,162-168).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------------------- Q2B

# Precompute the full translation alphabet once: U+3000 plus U+FF01..FF5E
# (and U+FF00 which the ord-0xFEE0 rule sends to 0x20).
_Q2B_SRC = "　＀" + "".join(chr(c) for c in range(0xFF01, 0xFF5F))
_Q2B_DST = "  " + "".join(chr(c - 0xFEE0) for c in range(0xFF01, 0xFF5F))
_Q2B_TABLE = str.maketrans(_Q2B_SRC, _Q2B_DST)


def q2b(text: str) -> str:
    return text.translate(_Q2B_TABLE)


def q2b_col(col: Column) -> Column:
    """JVM-side Q2B via F.translate (single codegen expression)."""
    return F.translate(col, _Q2B_SRC, _Q2B_DST)


# ------------------------------------------------- unicode class predicates


def is_chinese(ch: str) -> bool:
    return "一" <= ch <= "龥"


def is_number(ch: str) -> bool:
    return "0" <= ch <= "9"


def is_alphabet(ch: str) -> bool:
    return "A" <= ch <= "Z" or "a" <= ch <= "z"


_PUNC = set("—（）／．《》『』，、。？；：！……“”‘’|,.;:'\"!+-@#$%^&*()\\=~`></?{}[]")
_NUM_EXTRA = set("①②③④⑤⑥⑦○一二三四五六七八九十百千万亿两１２３４５６７８９０") | {" ％"}
_DATE = set("日月年")


def char_class(ch: str) -> str:
    if ch in _PUNC:
        return "P"
    if is_number(ch) or ch in _NUM_EXTRA:
        return "N"
    if ch in _DATE:
        return "D"
    if is_alphabet(ch):
        return "E"
    if not is_chinese(ch):
        return "S"
    return "O"


def char_class_col(col: Column) -> Column:
    """Single-char column → class symbol, as a codegen F.when chain."""
    punc = "".join(sorted(_PUNC))
    nums = "".join(sorted(c for c in _NUM_EXTRA if len(c) == 1))
    return (
        F.when(F.lit(punc).contains(col), "P")
        .when(col.rlike("^[0-9]$") | F.lit(nums).contains(col), "N")
        .when(F.lit("日月年").contains(col), "D")
        .when(col.rlike("^[A-Za-z]$"), "E")
        .when(~col.rlike("^[一-龥]$"), "S")
        .otherwise("O")
    )


# -------------------------------------------------------------------- URL

URL_PATTERN = (
    r"http[s]?://(?:[a-zA-Z]|[0-9]|[$-_@.&+]|[!*\(\),]"
    r"|(?:%[0-9a-fA-F][0-9a-fA-F]))+"
)
