"""Unit tests for the scalar function library (SURVEY.md §2.8 parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.functions import (
    clean_phone_number,
    conditional_flag_sim_nao,
    digits_only,
    format_date_br,
    format_money_br,
    format_money_robot,
    mojibake_repair_udf,
    normalize_key,
    parse_date_br,
    safe_to_double,
    strip_bom,
    strip_dot_zero,
)


def _one(spark, expr, value=None):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(expr.alias("r")).first()["r"]


def test_clean_phone_number(spark):
    assert _one(spark, clean_phone_number("v"), "(84) 9988-7766.0") == "8499887766"
    assert _one(spark, clean_phone_number("v"), "abc") is None
    assert _one(spark, clean_phone_number("v"), None) is None


def test_safe_to_double_br_formats(spark):
    assert _one(spark, safe_to_double("v"), "1234,56") == 1234.56
    assert _one(spark, safe_to_double("v"), "1.234,56") == 1234.56
    assert _one(spark, safe_to_double("v"), "1234.56") == 1234.56
    assert _one(spark, safe_to_double("v"), "junk") is None


def test_strip_bom_and_dot_zero(spark):
    assert _one(spark, strip_bom("v"), "﻿EPB") == "EPB"
    assert _one(spark, strip_dot_zero("v"), "12345.0") == "12345"
    assert _one(spark, strip_dot_zero("v"), "12.305") == "12.305"


def test_digits_only_and_normalize_key(spark):
    assert _one(spark, digits_only("v"), "123.456.789-00") == "12345678900"
    assert _one(spark, normalize_key("v"), "  ABC ") == "abc"


def test_mojibake_repair_udf(spark):
    bad = "AÇÃO".encode("utf-8").decode("latin1")  # make mojibake
    assert _one(spark, mojibake_repair_udf(F.col("v")), bad) == "AÇÃO"
    assert _one(spark, mojibake_repair_udf(F.col("v")), "clean") == "clean"


def test_date_parse_and_format(spark):
    parsed = _one(spark, format_date_br(parse_date_br("v")), "05/03/2024")
    assert parsed == "05/03/2024"
    assert _one(spark, parse_date_br("v"), "not a date") is None
    assert _one(spark, format_date_br(parse_date_br("v")), "2024-03-05") == "05/03/2024"


def test_money_formats(spark):
    df = spark.createDataFrame([(1234.5,), (150.0,), (None,)], "v double")
    rows = df.select(
        format_money_br("v").alias("h"), format_money_robot("v").alias("r")
    ).collect()
    assert (rows[0]["h"], rows[0]["r"]) == ("1234,50", "1234,50")
    assert (rows[1]["h"], rows[1]["r"]) == ("150,00", "150")
    assert (rows[2]["h"], rows[2]["r"]) == (None, None)


def test_conditional_flag(spark):
    assert _one(spark, conditional_flag_sim_nao("v"), "S") == "SIM"
    assert _one(spark, conditional_flag_sim_nao("v"), " n ") == "NÃO"
    assert _one(spark, conditional_flag_sim_nao("v"), None) == "NÃO"
