"""Unit tests for the scalar-function library (SURVEY §2.8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_jetro_spark.functions.dates import default_edd_sql, next_mwf_sql, reformat_date_tolerant_sql
from etl_jetro_spark.functions.hashing import doc_fingerprint
from etl_jetro_spark.functions.na import normalize_na_sql
from etl_jetro_spark.functions.text import (
    extract_emails_sql,
    first_int_sql,
    item7_sql,
    money2dp_sql,
    norm_key_sql,
    norm_key_text,
    norm_ws_sql,
    parse_money_sql,
    split_first_dash_sql,
    strip_dot_zero_sql,
    strip_dot_zero_text,
    strip_hidden_sql,
    strip_hidden_text,
)


def one(spark, col_expr, *rows_in, schema="v string"):
    df = spark.createDataFrame([(r,) for r in rows_in], schema)
    return [r[0] for r in df.select(col_expr.alias("out")).collect()]


def test_strip_dot_zero(spark):
    got = one(spark, F.expr(strip_dot_zero_sql("v")), "14.0", "14.00", "14.50", "14", "x.0")
    assert got == ["14", "14", "14.50", "14", "x"]


def test_norm_ws_and_key(spark):
    got = one(spark, F.expr(norm_ws_sql("v")), "  a \t b​  c ")
    assert got == ["a b c"]
    got = one(spark, F.expr(norm_key_sql("v")), " Lot #  7 ")
    assert got == ["lot7"]
    # NBSP and zero-width characters are stripped, not kept as spaces
    messy = "a\xa0\xa0b #1\u200b"
    assert one(spark, F.expr(norm_ws_sql("v")), messy) == ["ab #1"]
    assert one(spark, F.expr(norm_key_sql("v")), messy) == ["ab1"]


def test_text_rules_match_their_renderers(spark):
    """The driver's Python copies of the ``.0`` strip, the hidden-character
    strip and the key normalization give what their SQL renderers give."""
    vals = ["14.0", "14.00", "14.50", "x.0", "1.000", "a\u200bb\ufeff\xa0c"]
    assert [strip_dot_zero_text(v) for v in vals] == one(spark, F.expr(strip_dot_zero_sql("v")), *vals)
    assert [strip_hidden_text(v) for v in vals] == one(spark, F.expr(strip_hidden_sql("v")), *vals)
    keys = [" Lot #  7 ", "Item#", "ITEM\tNo", "a\xa0b"]
    assert [norm_key_text(k) for k in keys] == one(spark, F.expr(norm_key_sql("v")), *keys)


def test_parse_money(spark):
    got = one(
        spark,
        F.expr(parse_money_sql("v")),
        "$1,234.50",
        "(123.4)",
        "123-",
        "12.5 lbs",
        "junk",
        "-7",
    )
    assert got == [1234.50, -123.4, -123.0, 12.5, None, -7.0]


def test_first_int(spark):
    got = one(spark, F.expr(first_int_sql("v")), "498-68594 39024", "no digits", "77x88")
    assert got == [498, None, 77]


def test_item7(spark):
    got = one(spark, F.expr(item7_sql("v")), "12345", "990033.0", "ab-1-2", "", None)
    assert got == ["0012345", "0990033", "0000012", None, None]


def test_item7_never_truncates(spark):
    # zfill semantics: 8+ digit codes pass through whole (Spark's bare
    # lpad would truncate '12345678' to '1234567')
    got = one(spark, F.expr(item7_sql("v")), "12345678", "123456789012", "1234567")
    assert got == ["12345678", "123456789012", "1234567"]


def test_split_first_dash(spark):
    got = one(spark, F.expr(split_first_dash_sql("v")), "114-28937", "402–20721", "458—41774-x")
    assert got == [["114", "28937"], ["402", "20721"], ["458", "41774-x"]]


def test_normalize_na(spark):
    got = one(spark, F.expr(normalize_na_sql("v")), "NA", " n/a ", "nah", "value", "", "0")
    assert got == [None, None, None, "value", None, "0"]


def test_money2dp(spark):
    df = spark.createDataFrame([(1234.5,), (0.125,)], "v double")
    got = [r[0] for r in df.select(F.expr(money2dp_sql("v")).alias("o")).collect()]
    assert got == ["1,234.50", "0.13"]


def test_extract_emails(spark):
    got = one(
        spark,
        F.expr(extract_emails_sql("v")),
        "mail A@x.com; b@y.org, a@X.COM not-an-email@ c@z.io",
    )
    assert got == [["A@x.com", "b@y.org", "c@z.io"]]


def test_default_edd(spark):
    # 2026-08-13 is a Thursday -> +2 = Saturday -> roll to Monday 2026-08-17
    got = one(spark, F.expr(default_edd_sql("v")), "2026-08-13", "2026-08-10")
    assert [str(g) for g in got] == ["2026-08-17", "2026-08-12"]


def test_next_mwf(spark):
    # Mon->Wed, Tue->Wed, Wed->Fri, Thu->Fri, Fri->Mon, Sat->Mon, Sun->Mon
    days = ["2026-08-10", "2026-08-11", "2026-08-12", "2026-08-13", "2026-08-14", "2026-08-15", "2026-08-16"]
    got = one(spark, F.expr(next_mwf_sql("v")), *days)
    assert [str(g) for g in got] == [
        "2026-08-12", "2026-08-12", "2026-08-14", "2026-08-14",
        "2026-08-17", "2026-08-17", "2026-08-17",
    ]


def test_reformat_date_tolerant(spark):
    got = one(spark, F.expr(reformat_date_tolerant_sql("v")), "9/5/2025", "2025-09-05", "soon")
    assert got == ["09/05/25", "09/05/25", "soon"]


def test_doc_fingerprint_normalizes_text(spark):
    fp = one(spark, doc_fingerprint("v"), "Hello,  World", "hello world")
    assert fp[0] == fp[1]


def test_stopword_regex_escapes_metacharacters():
    """ADVICE r7: stopword entries are regex-escaped, so a metacharacter
    entry matches literally instead of silently changing semantics."""
    import re

    from etl_jetro_spark.operators.textstats import _stopword_regex

    rx = _stopword_regex(("a+b", "c.d", "the"))
    assert re.search(rx, "x a+b y")
    assert re.search(rx, "x c.d y")
    assert re.search(rx, "the end")
    assert not re.search(rx, "aab")   # 'a+b' must not act as a quantifier
    assert not re.search(rx, "cxd")   # 'c.d' must not act as a wildcard
