"""A SECOND hand-authored EPE workbook with structural variants the
demo fixture doesn't exercise — every expectation below is computed by
hand from the grid literals and the R semantics (no frozen pipeline
output anywhere), extending the golden-provenance anchoring of
tests/test_epe_pipeline.py to shapes beyond the primary fixture:

- Shape A with THREE stacked year blocks (starred middle year) so
  LOCF carries the year across multiple transitions;
- section markers alternating twice within one year block (REGIÃO →
  SUBSISTEMA → back), so the atributo_3 fill-down must reset at each
  marker, not just once;
- a sheet whose data rows are ALL junk (TOTAL/NC) → contributes zero
  rows but must still union cleanly;
- Shape B with THREE years (36 month columns) and a starred final
  year, stacked with a ONE-year Shape-B sheet (12 month columns) that
  has a blank month: the narrower sheet's padded slots must yield no
  row, its blank month exactly one NULL-valor row.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from epe_data_wrangling_spark.plans.epe_demo import shape_a_sheet, shape_b_sheet
from epe_data_wrangling_spark.plans.epe_normalize import normalize_shape_b, normalize_workbook


def _one_year_uf_sheet() -> list:
    grid = shape_b_sheet(
        "CONSUMO CATIVO POR UF", "Consumo cativo por UF (GWh)",
        ["2004"],
        [("Bahia", 300.0), ("Ceará", 320.0)],
    )
    grid[-1][5] = None  # Ceará, May 2004: a blank month inside the width
    return grid


def variant_grids() -> dict[str, list]:
    return {
        # three year blocks; 2005* starred; markers alternate twice
        "TOTAL": shape_a_sheet(
            "TOTAL", "Consumo total (GWh)",
            [("2004", [("REGIÃO GEOGRÁFICA", None),
                       ("NORTE", 10.0),
                       ("SUBSISTEMA", None),
                       ("NC ISOLADOS", 20.0),        # stripped (F3)
                       ("NORDESTE", 30.0),
                       ("REGIÃO GEOGRÁFICA", None),  # marker flips BACK
                       ("SUL", 40.0)]),
             ("2005*", [("NORTE", 50.0)]),
             ("2006", [("NORTE", 60.0)])],
        ),
        # all-junk data rows: zero surviving rows, union must not break
        "RESIDENCIAIS": shape_a_sheet(
            "RESIDENCIAIS", "Consumo residencial (GWh)",
            [("2004", [("TOTAL", 70.0),
                       ("NC QUALQUER", 80.0),
                       ("TOTAL BRASIL", 90.0)])],
        ),
        "CONSUMIDORES TOTAIS": shape_a_sheet(
            "CONSUMIDORES TOTAIS", "Número de consumidores",
            [("2004", [("REGIÃO GEOGRÁFICA", None), ("NORTE", 100.0)])],
        ),
        # Shape B, three years, starred last
        "INDUSTRIAL GENERO": shape_b_sheet(
            "INDUSTRIAL GENERO", "Consumo industrial por gênero (GWh)",
            ["2004", "2005", "2006*"],
            [("METALURGIA", 200.0)],
        ),
        # Shape B, one year: 24 padded slots in the stacked frame
        "CONSUMO CATIVO POR UF": _one_year_uf_sheet(),
    }


@pytest.fixture(scope="module")
def norm(spark):
    df = normalize_workbook(spark, variant_grids()).cache()
    yield df
    df.unpersist()


def rows(df, **filters):
    for k, v in filters.items():
        df = df.filter(F.col(k).isNull() if v is None else (F.col(k) == v))
    return df.collect()


class TestMultiBlockLocf:
    def test_three_year_blocks_carry_year(self, norm):
        """Year LOCF across three blocks: NORTE appears under 2004,
        2005* (star stripped) and 2006 with the right values —
        value = base + month_offset + 0.5 by the grid formula."""
        n = rows(norm, atributo_1="TOTAL", atributo_4="Norte")
        assert {x.data.year for x in n} == {2004, 2005, 2006}
        by_year = {}
        for x in n:
            by_year.setdefault(x.data.year, []).append(x)
        for year, base in ((2004, 10.0), (2005, 50.0), (2006, 60.0)):
            vals = sorted(v.valor for v in by_year[year])
            assert vals == [base + m + 0.5 for m in range(12)], year

    def test_marker_alternation_resets_fill(self, norm):
        """atributo_3 fill-down follows the MOST RECENT marker:
        NORDESTE sits after the SUBSISTEMA marker, SUL after the
        second REGIÃO marker — a single-fill implementation would tag
        SUL with SUBSISTEMA."""
        nordeste = rows(norm, atributo_1="TOTAL", atributo_4="Nordeste")
        assert {x.atributo_3 for x in nordeste} == {"SUBSISTEMA ELÉTRICO"}
        sul = rows(norm, atributo_1="TOTAL", atributo_4="Sul")
        assert {x.atributo_3 for x in sul} == {"REGIÃO GEOGRÁFICA"}
        # the year-2005/2006 blocks start fresh rows under the LAST
        # marker seen (locf keeps carrying) — NORTE's 2005/2006 rows
        # inherit REGIÃO GEOGRÁFICA from the 2004 block's final marker
        n2005 = [x for x in rows(norm, atributo_1="TOTAL", atributo_4="Norte")
                 if x.data.year >= 2005]
        assert {x.atributo_3 for x in n2005} == {"REGIÃO GEOGRÁFICA"}

    def test_nc_rows_stripped(self, norm):
        assert not rows(norm, atributo_1="TOTAL", atributo_4="Nc Isolados")


class TestAllJunkSheet:
    def test_contributes_zero_rows_but_unions(self, norm):
        """Every data row of RESIDENCIAIS is junk (TOTAL/NC/TOTAL
        BRASIL) — the sheet must normalize to zero rows without
        breaking the workbook union."""
        assert rows(norm, atributo_1="RESIDENCIAIS") == []
        # and the other sheets are unaffected
        assert len(rows(norm, atributo_1="CONSUMIDORES TOTAIS")) == 12


class TestShapeBThreeYears:
    def test_36_months_and_starred_year(self, norm):
        ig = rows(norm, atributo_1="INDUSTRIAL GENERO")
        assert len(ig) == 36
        assert {x.data.year for x in ig} == {2004, 2005, 2006}
        # grid formula: value at month index m (0..35) = 200 + m + .5;
        # 2006* strips the star; its January is m=24 -> 224.5
        jan06 = [x for x in ig if x.data == dt.date(2006, 1, 1)][0]
        assert jan06.valor == 224.5
        assert jan06.atributo_3 == "METALURGIA"
        dec06 = [x for x in ig if x.data == dt.date(2006, 12, 1)][0]
        assert dec06.valor == 235.5

    def test_dates_all_first_of_month(self, norm):
        assert norm.filter(F.dayofmonth("data") != 1).count() == 0


class TestHeterogeneousShapeB:
    SHEETS = ("INDUSTRIAL GENERO", "CONSUMO CATIVO POR UF")

    def test_rows_are_the_sum_of_the_sheets(self, spark, norm):
        """Stacked, the two Shape-B sheets give exactly the rows each
        gives alone: 1 row × 36 months + 2 rows × 12 months."""
        grids = variant_grids()
        alone = [normalize_shape_b(spark, {s: grids[s]}).count() for s in self.SHEETS]
        assert alone == [36, 24]
        assert norm.filter(F.col("atributo_1").isin(*self.SHEETS)).count() == sum(alone)

    def test_padding_yields_no_row_and_blank_month_one_null(self, norm):
        uf = rows(norm, atributo_1="CONSUMO CATIVO POR UF")
        assert {(x.atributo_3, x.data.year) for x in uf} == {("Bahia", 2004), ("Ceará", 2004)}
        assert len({(x.atributo_3, x.data) for x in uf}) == len(uf) == 24
        assert [(x.atributo_3, x.data) for x in uf if x.valor is None] == [
            ("Ceará", dt.date(2004, 5, 1))
        ]
        # the row's other months keep the grid formula (base + m + .5)
        apr = [x for x in uf if (x.atributo_3, x.data) == ("Ceará", dt.date(2004, 4, 1))]
        assert [x.valor for x in apr] == [323.5]



def _named_month(g):
    g[0][5] = "Jan"  # the header names a month column: 11 unnamed


def _lost_years(g):
    g[4][13:] = [None] * (len(g[4]) - 13)  # 2005 and 2006* headers blank


def _no_header(g):
    del g[4:]  # nothing after the junk rows


@pytest.mark.parametrize(
    "sheet, edit, message",
    [
        ("CONSUMIDORES TOTAIS", _named_month, "11 unnamed columns"),
        ("INDUSTRIAL GENERO", _lost_years, "1 years × 12 ≠ 36"),
        ("CONSUMO CATIVO POR UF", _no_header, "no header row"),
    ],
)
def test_malformed_sheet_raises_with_its_name(spark, sheet, edit, message):
    """The per-sheet layout checks still run on the driver, before any
    frame is built, and name the offending sheet."""
    grids = variant_grids()
    edit(grids[sheet])
    with pytest.raises(ValueError, match=message) as err:
        normalize_workbook(spark, grids)
    assert repr(sheet) in str(err.value)
