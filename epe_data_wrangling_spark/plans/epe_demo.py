"""Synthetic EPE demo workbook (FIXTURES.md families A/B/C).

A miniature workbook with every structural feature the reference
handles: Shape-A stacked year blocks (12- and 13-column variants,
starred years, section markers, TOTAL/NC junk rows, class rows),
Shape-B wide year_month tables (header harvest, TOTAL stripping),
and sheet names covering all five semantic branches plus the two
excluded sheets. Values are deterministic and hand-checkable.
"""

from __future__ import annotations

N = None


def _vals(base: float, n: int = 12) -> list[str]:
    return [f"{int(base) + m}.5" for m in range(n)]


def shape_a_sheet(title: str, subtitle: str, blocks, thirteen: bool = False):
    """Shape-A grid: header row consumed as column names (months are
    unnamed → `...k`), then subtitle / junk / stacked year blocks.

    ``blocks`` = list of (year_label, [(row_label, base or None)]).
    ``thirteen`` adds a Total_Ano column (value 999 — must vanish).
    """
    width = 13 if thirteen else 12
    grid = [[title] + [N] * width]  # header row
    grid += [[subtitle] + [N] * width]  # _row_idx 0 → atributo_2
    grid += [[N] * (width + 1)] * 2  # junk (sliced with row 0)
    for year, rows in blocks:
        grid += [[N, year] + [N] * (width - 1)]
        for label, base in rows:
            if base is None:
                grid += [[label] + [N] * width]
            else:
                v = _vals(base)
                grid += [[label] + v + (["999"] if thirteen else [])]
    return grid


def shape_b_sheet(title: str, subtitle: str, years, rows):
    """Shape-B grid: one wide table, years in the first post-junk data
    row, each spanning 12 month columns."""
    width = 12 * len(years)
    grid = [[title] + [N] * width]
    grid += [[subtitle] + [N] * width]
    grid += [[N] * (width + 1)] * 2
    hdr = [N]
    for y in years:
        hdr += [y] + [N] * 11
    grid += [hdr]
    for label, base in rows:
        if base is None:
            grid += [[label] + [N] * width]
        else:
            grid += [[label] + _vals(base, width)]
    return grid


def workbook_grids() -> dict[str, list]:
    """Ordered workbook: Shape A through CONSUMIDORES TOTAIS, Shape B
    after (the C1 dispatch point)."""
    return {
        # excluded from every semantic branch, still normalized;
        # includes the leading-null LOCF trap (data rows before any
        # section marker keep atributo_3 = NULL).
        "TOTAL": shape_a_sheet(
            "TOTAL", "Consumo total de energia elétrica (GWh)",
            [("2004", [("SISTEMAS REMOTOS", 400.0),
                       ("REGIÃO GEOGRÁFICA", None),
                       ("NORTE", 410.0)])],
        ),
        "RESIDENCIAIS": shape_a_sheet(
            "RESIDENCIAIS", "Consumo Residencial de Energia Elétrica na Rede (GWh)",
            [("2004", [("REGIÃO GEOGRÁFICA", None),
                       ("NORTE", 100.0),
                       ("C.OESTE", 110.0),
                       ("TOTAL", 120.0),          # stripped (F3)
                       ("SUBSISTEMA", None),
                       ("NC SISTEMAS ISOLADOS", 130.0),  # stripped (F3)
                       ("TOTAL BRASIL", 140.0)]),  # stripped (F4)
             ("2005*", [("NORDESTE", 150.0)])],    # starred year
        ),
        "INDUSTRIAIS": shape_a_sheet(
            "INDUSTRIAIS", "Consumo Industrial de Energia Elétrica na Rede (GWh)",
            [("2004", [("REGIÃO GEOGRÁFICA", None),
                       ("NORTE", 200.0),
                       ("SUDESTE", 210.0)]),
             ("2005", [("SUL", 220.0)])],
            thirteen=True,                         # Total_Ano variant (C2)
        ),
        "CATIVO": shape_a_sheet(
            "CATIVO", "Consumo Cativo de Energia Elétrica (GWh)",
            [("2004", [("REGIÃO GEOGRÁFICA", None),
                       ("NORTE", 300.0),
                       ("SUL", 310.0),
                       ("Residencial", 320.0),     # class row → CLASSE
                       ("Comercial", 330.0)])],
        ),
        "CONSUMIDORES TOTAIS": shape_a_sheet(
            "CONSUMIDORES TOTAIS", "Número de consumidores na rede",
            [("2004", [("REGIÃO GEOGRÁFICA", None),
                       ("NORTE", 500.0),
                       ("NORDESTE", 510.0)])],
        ),
        "INDUSTRIAL GENERO": shape_b_sheet(
            "INDUSTRIAL GENERO", "Consumo industrial por gênero (GWh)",
            ["2004", "2005*"],
            [("METALURGIA", 600.0),
             ("TEXTIL", 620.0),
             ("TOTAL GENERO", 640.0),              # stripped (F8)
             (N, None)],                           # stripped (F6/F7)
        ),
        "RESIDENCIAIS POR UF": shape_b_sheet(
            "RESIDENCIAIS POR UF", "Consumo Residencial por UF (GWh)",
            ["2004", "2005"],
            [("São Paulo", 700.0), ("Rio de Janeiro", 720.0)],
        ),
        "CONSUMO POR UF": shape_b_sheet(           # excluded sheet
            "CONSUMO POR UF", "Consumo por UF (GWh)",
            ["2004"],
            [("São Paulo", 800.0)],
        ),
        "CONSUMO CATIVO POR UF": shape_b_sheet(
            "CONSUMO CATIVO POR UF", "Consumo Cativo por UF (GWh)",
            ["2004", "2005"],
            [("Bahia", 900.0), ("Ceará", 920.0)],
        ),
    }


_DATA_CELL = __import__("re").compile(r"^\d+\.5$")


def monthly_workbook_versions() -> list[dict[str, list]]:
    """THREE monthly publications of the demo workbook — the cadence
    the reference actually lives in (`tratamento_epe.rmd:30`: the
    source workbook is cumulative and 'atualizados mensalmente').
    Carved BACKWARD from the frozen golden so the final state is
    byte-exactly `workbook_grids()` and every downstream check can
    reuse the existing golden oracles:

    - v3 = ``workbook_grids()`` (the golden truth);
    - v2 = v3 with ONE already-published figure wrong — RESIDENCIAIS /
      NORTE month 3 printed as ``999.5`` instead of ``102.5`` — so
      drop 3 is a PRIOR-MONTH REVISION and the incremental consumer's
      retraction path is load-bearing, not decorative;
    - v1 = v2 with the LAST TWO month cells of every data row blank
      EXCEPT each sheet's first valued row (months not yet published
      in the first drop; data cells are the ``\\d+.5`` values — year
      labels, Total_Ano's ``999`` and text never match). One row per
      sheet keeps its full width so the workbook container round-trip
      preserves sheet geometry — a fully-blank trailing column would
      not survive the .xlsx write/read (blank cells are simply not
      stored) and the 12/13-column dispatch would reject the sheet.

    Structure (sheets, headers, junk rows, markers) is identical
    across versions — only cell VALUES move, exactly like the real
    republished workbook."""
    import copy

    v3 = workbook_grids()
    v2 = copy.deepcopy(v3)
    for row in v2["RESIDENCIAIS"]:
        if row and row[0] == "NORTE":
            assert row[3] == "102.5", row
            row[3] = "999.5"
            break
    v1 = copy.deepcopy(v2)
    for grid in v1.values():
        first_valued = True
        for row in grid:
            data_idx = [i for i, v in enumerate(row)
                        if isinstance(v, str) and _DATA_CELL.match(v)]
            if len(data_idx) < 3:
                continue
            if first_valued:
                first_valued = False
                continue
            for i in data_idx[-2:]:
                row[i] = N
    return [v1, v2, v3]
