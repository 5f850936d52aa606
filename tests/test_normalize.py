"""Scalar operators (P1-P4) — Python and JVM column forms agree."""

import pytest
from pyspark.sql import functions as F

from golden_horse_spark.operators.normalize import (
    char_class,
    char_class_col,
    is_alphabet,
    is_chinese,
    is_number,
    q2b,
    q2b_col,
)
from golden_horse_spark.sources.gazetteer import gazetteer_match_spans


def test_q2b_fullwidth_ascii():
    assert q2b("ＡＢＣ１２３") == "ABC123"
    assert q2b("　") == " "  # ideographic space
    assert q2b("中文") == "中文"  # unchanged


def test_char_class():
    assert char_class("，") == "P"
    assert char_class("3") == "N"
    assert char_class("一") == "N"
    assert char_class("年") == "D"
    assert char_class("x") == "E"
    assert char_class("中") == "O"
    assert char_class("□") == "S"


def test_unicode_predicates():
    assert is_chinese("中") and not is_chinese("a")
    assert is_number("7") and not is_number("七")
    assert is_alphabet("Q") and not is_alphabet("中")


@pytest.mark.spark
def test_column_forms_agree_with_python(spark):
    samples = ["ＡＢＣ，１２３", "中文 abc", "http://x.co/y z", "一年3月"]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    rows = df.select("t", q2b_col(F.col("t")).alias("q")).collect()
    for r in rows:
        assert r["q"] == q2b(r["t"])
    chars = list("，3一年x中□Ａ")
    cdf = spark.createDataFrame([(c,) for c in chars], "c string")
    got = {r["c"]: r["k"] for r in cdf.select("c", char_class_col(F.col("c")).alias("k")).collect()}
    for c in chars:
        assert got[c] == char_class(c), c


def test_gazetteer_shortest_match_early_break():
    names = {"北京", "北京大学", "张三"}
    spans = gazetteer_match_spans(list("我在北京大学见张三"), names, max_len=4)
    # shortest match wins at position 2: "北京", NOT "北京大学" (icwb.py:231)
    assert (2, 4) in spans
    assert (2, 6) not in spans
    assert (7, 9) in spans
