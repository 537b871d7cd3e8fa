"""Unit tests for the R-parity scalar traps (SURVEY §4.3 'parity
traps to encode as tests'), including behavior under ANSI mode —
the driver may run any session configuration. The helpers return SQL
text, so each test runs them the way the plans do: through
``selectExpr``."""

from __future__ import annotations

import pytest

from epe_data_wrangling_spark.functions.cleaning import (
    as_numeric,
    make_month_date,
    paste,
    regexp_extract_na,
    sql_lit,
    str_to_title,
    typed_null,
)


@pytest.fixture()
def ansi(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield
    spark.conf.set("spark.sql.ansi.enabled", prev)


def test_regexp_extract_na_miss_is_null_not_empty(spark):
    """X1: R str_extract gives NA on no-match; Spark's regexp_extract
    gives '' — the difference feeds LOCF and not-null filters."""
    df = spark.createDataFrame([("2004",), ("abc",), (None,)], "s string")
    got = [r.y for r in df.selectExpr(f"{regexp_extract_na('s', '^[0-9]{4}$')} AS y").collect()]
    assert got == ["2004", None, None]


def test_regexp_extract_na_keeps_backslashes(spark):
    """The pattern reaches the regex engine as written: ``\\*`` is a
    literal star (the normalizer's starred-year pattern), not an escape
    the SQL parser consumes."""
    from epe_data_wrangling_spark.plans.epe_normalize import YEAR_PATTERN

    df = spark.createDataFrame([("2005*",), ("2005",), ("2005x",)], "s string")
    got = [r.y for r in df.selectExpr(f"{regexp_extract_na('s', YEAR_PATTERN)} AS y").collect()]
    assert got == ["2005*", "2005", None]
    with pytest.raises(ValueError, match="no quote"):
        sql_lit("it's")


def test_as_numeric_never_errors_under_ansi(spark, ansi):
    """X12: as.numeric('abc') is NA with a warning, never an error —
    try_cast keeps that true even with spark.sql.ansi.enabled=true."""
    df = spark.createDataFrame([("1.5",), ("abc",), ("",), (None,)], "s string")
    got = [r.v for r in df.selectExpr(f"{as_numeric('s')} AS v").collect()]
    assert got == [1.5, None, None, None]


def test_str_to_title_accented_words(spark):
    """X5: title-case parity on the accented region vocabulary the
    reference actually feeds through str_to_title (R:154)."""
    cases = {"NORDESTE": "Nordeste", "SÃO PAULO": "São Paulo", "REGIÃO NORTE": "Região Norte"}
    df = spark.createDataFrame([(k,) for k in cases], "s string")
    got = {r.s: r.t for r in df.selectExpr("s", f"{str_to_title('s')} AS t").collect()}
    assert got == cases


def test_paste_single_space_separator(spark):
    """X9: R paste default sep=' ' — chave_seletora layout (R:274)."""
    expr = paste("'CONSUMO'", "'-'", "'MERCADO'", "'TOTAL'")
    assert spark.range(1).selectExpr(f"{expr} AS v").first().v == "CONSUMO - MERCADO TOTAL"


def test_typed_null_aligns_unions(spark):
    df = spark.range(1).selectExpr(f"{typed_null('string')} AS s")
    assert dict(df.dtypes) == {"s": "string"} and df.collect()[0].s is None


def test_make_month_date_unpadded_and_invalid(spark, ansi):
    """X10: as.Date accepts unpadded months; invalid input → NA (null),
    not an error, even under ANSI."""
    df = spark.createDataFrame(
        [("2004", "3"), ("2004", "12"), ("bad", "1"), ("2004", "13")],
        "y string, m string",
    )
    got = [
        str(r.d) if r.d else None
        for r in df.selectExpr(f"{make_month_date('y', 'm')} AS d").collect()
    ]
    assert got == ["2004-03-01", "2004-12-01", None, None]
