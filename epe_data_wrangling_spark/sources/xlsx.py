"""Stdlib-only ``.xlsx`` (ECMA-376 OOXML spreadsheet) reader/writer.

The reference ingests a real Excel workbook (`tratamento_epe.R:39-47,
57,63`); ``sources.workbook.read_workbook_grids`` parses every
``.xlsx`` with this module (and every ``.xls`` with
``sources.xls_biff``), no Excel library needed: a ``.xlsx`` file is a
ZIP of XML parts, and
the subset a grid ingest needs — sheet order/names from
``xl/workbook.xml``, relationship targets from
``xl/_rels/workbook.xml.rels``, the shared-string table, and each
worksheet's ``sheetData`` — parses fine with ``zipfile`` +
``xml.etree``. Every cell is surfaced as text (read_xls parity —
typed casts happen downstream in the normalize plan with try_cast).

The writer emits a minimal valid workbook (inline strings, no styles)
— enough for any spreadsheet tool or this reader to round-trip — and
exists so tests can fabricate REAL ``.xlsx`` fixtures end-to-end.

Scale posture: workbooks are driver-side small by contract (SURVEY
§4.3.1); the 100 TB path starts at the fact table these sheets
normalize into.
"""

from __future__ import annotations

import io
import re
import zipfile
from collections.abc import Sequence
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

Cell = str | None
Grid = Sequence[Sequence[Cell]]

_NS = {
    "m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main",
    "r": "http://schemas.openxmlformats.org/officeDocument/2006/relationships",
    "p": "http://schemas.openxmlformats.org/package/2006/relationships",
}
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(letters: str) -> int:
    """'A' → 0, 'Z' → 25, 'AA' → 26 …"""
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _cell_text(c: ET.Element, shared: list[str]) -> Cell:
    """One <c> element → python str (or None for empty)."""
    t = c.get("t", "n")
    if t == "inlineStr":
        parts = [el.text or "" for el in c.findall(".//m:t", _NS)]
        return "".join(parts) if parts else None
    v = c.find("m:v", _NS)
    if v is None or v.text is None:
        return None
    if t == "s":
        return shared[int(v.text)]
    if t == "b":
        return "TRUE" if v.text.strip() == "1" else "FALSE"
    # "n" (number) / "str" (formula result) / "e" (error): raw text.
    # Trim the float formatting Excel applies to integers ("2004" is
    # stored as "2004" but a pandas/openpyxl writer may emit "2004.0").
    return v.text


def read_xlsx_grids(path: str | bytes) -> dict[str, Grid]:
    """Workbook (a file path, or the file's bytes) → ordered
    {sheet_name: grid of text cells}. Rows and columns are placed by
    their A1-style refs, so blank cells/rows appear as None exactly
    like a read_xls text read."""
    with zipfile.ZipFile(path if isinstance(path, str) else io.BytesIO(path)) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        rel_target = {
            rel.get("Id"): rel.get("Target") for rel in rels.findall("p:Relationship", _NS)
        }
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in sst.findall("m:si", _NS):
                shared.append("".join(t.text or "" for t in si.findall(".//m:t", _NS)))
        grids: dict[str, Grid] = {}
        for sheet in wb.findall("m:sheets/m:sheet", _NS):
            name = sheet.get("name")
            target = rel_target[sheet.get(f"{{{_NS['r']}}}id")]
            part = target if target.startswith("xl/") else "xl/" + target.lstrip("/")
            ws = ET.fromstring(z.read(part))
            cells: dict[tuple[int, int], Cell] = {}
            max_r = max_c = -1
            for ri, row in enumerate(ws.findall("m:sheetData/m:row", _NS)):
                r = int(row.get("r", ri + 1)) - 1
                for ci, c in enumerate(row.findall("m:c", _NS)):
                    ref = c.get("r")
                    if ref:
                        m = _CELL_REF.match(ref)
                        col = _col_index(m.group(1))
                        r = int(m.group(2)) - 1
                    else:
                        col = ci
                    val = _cell_text(c, shared)
                    if val is not None:
                        cells[(r, col)] = val
                        max_r = max(max_r, r)
                        max_c = max(max_c, col)
            grids[name] = [
                [cells.get((r, c)) for c in range(max_c + 1)] for r in range(max_r + 1)
            ]
    return grids


def _ref(r: int, c: int) -> str:
    letters = ""
    c += 1
    while c:
        c, rem = divmod(c - 1, 26)
        letters = chr(65 + rem) + letters
    return f"{letters}{r + 1}"


_NUM = re.compile(r"^-?\d+(\.\d+)?$")


def write_xlsx(path: str, grids: dict[str, Grid]) -> str:
    """Minimal valid ``.xlsx``: numbers as numeric cells, everything
    else as inline strings; sheet order = dict order."""
    sheets = list(grids.items())
    ct = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        + "".join(
            f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            for i in range(len(sheets))
        )
        + "</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/'
        '2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>'
    )
    wb = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        "<sheets>"
        + "".join(
            f'<sheet name="{escape(name, {chr(34): "&quot;"})}" sheetId="{i + 1}" '
            f'r:id="rId{i + 1}"/>'
            for i, (name, _) in enumerate(sheets)
        )
        + "</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, (_, grid) in enumerate(sheets):
            rows_xml = []
            for r, row in enumerate(grid):
                cells_xml = []
                for c, val in enumerate(row):
                    if val is None:
                        continue
                    s = str(val)
                    if _NUM.match(s):
                        cells_xml.append(f'<c r="{_ref(r, c)}"><v>{s}</v></c>')
                    else:
                        cells_xml.append(
                            f'<c r="{_ref(r, c)}" t="inlineStr"><is><t xml:space="preserve">'
                            f"{escape(s)}</t></is></c>"
                        )
                if cells_xml:
                    rows_xml.append(f'<row r="{r + 1}">' + "".join(cells_xml) + "</row>")
            ws = (
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                "<sheetData>" + "".join(rows_xml) + "</sheetData></worksheet>"
            )
            z.writestr(f"xl/worksheets/sheet{i + 1}.xml", ws)
    return path
