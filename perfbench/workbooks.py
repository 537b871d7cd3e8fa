"""Seeded synthetic EPE workbooks and monthly drops, with their tallies.

The grids follow the published EPE workbook's shape (SURVEY.md §1.1,
``plans/epe_demo.py`` for the miniature version): six Shape-A sheets
of stacked per-year blocks up to and including CONSUMIDORES TOTAIS,
then seven Shape-B wide year×month sheets. Together they cover all
five semantic branches plus the two sheets the pipeline excludes
(TOTAL and CONSUMO POR UF).

Every value is a whole number of thousandths, written in the
reader's canonical text, so Σ``valor`` in micro-units (×10⁶) is
exact integer arithmetic. While building the grids, the generator
tallies what ``run_pipeline`` must return: the fact-row count and the
micro-unit Σ``valor`` over published cells. Excluded sheets and the
TOTAL, NC…, TOTAL BRASIL and TOTAL GENERO rows contribute nothing.
A kept row contributes one fact row per month column, published or
not: the pipeline unpivots blank months to NULL ``valor``.

Only ``sources.xls_biff.write_xls`` and ``sources.xlsx.write_xlsx``
write workbooks offline; this module only builds the grids.
"""

from __future__ import annotations

import copy
import random
from dataclasses import dataclass, field

N = None

FIRST_YEAR = 2004
#: share of the published cells each monthly drop revises
REVISE = 0.01
REGIONS = ["NORTE", "NORDESTE", "SUDESTE", "SUL", "C.OESTE"]
SUBSYSTEMS = ["NORTE", "NORDESTE", "SUDESTE/C.OESTE", "SUL"]
CLASSES = ["Residencial", "Industrial", "Comercial", "Outros"]
UFS = [
    "Acre", "Alagoas", "Amapá", "Amazonas", "Bahia", "Ceará",
    "Distrito Federal", "Espírito Santo", "Goiás", "Maranhão",
    "Mato Grosso", "Mato Grosso do Sul", "Minas Gerais", "Pará",
    "Paraíba", "Paraná", "Pernambuco", "Piauí", "Rio de Janeiro",
    "Rio Grande do Norte", "Rio Grande do Sul", "Rondônia", "Roraima",
    "Santa Catarina", "São Paulo", "Sergipe", "Tocantins",
]
RAMOS = [
    "EXTRAÇÃO DE MINERAIS METÁLICOS", "ALIMENTOS", "TÊXTIL",
    "CELULOSE E PAPEL", "QUÍMICO", "BORRACHA E PLÁSTICO",
    "MINERAIS NÃO-METÁLICOS", "METALURGIA", "PRODUTOS DE METAL",
    "MÁQUINAS E EQUIPAMENTOS", "AUTOMOTIVO", "MADEIRA",
]

#: (sheet, subtitle, in the fact table?, Total_Ano column?, class rows?)
SHAPE_A = [
    ("TOTAL", "Consumo total de energia elétrica na rede (GWh)", False, False, False),
    ("RESIDENCIAIS", "Consumo Residencial de Energia Elétrica na Rede (GWh)", True, False, False),
    ("INDUSTRIAIS", "Consumo Industrial de Energia Elétrica na Rede (GWh)", True, True, False),
    ("COMERCIAIS", "Consumo Comercial de Energia Elétrica na Rede (GWh)", True, False, False),
    ("CATIVO", "Consumo Cativo de Energia Elétrica (GWh)", True, False, True),
    ("CONSUMIDORES TOTAIS", "Número de consumidores na rede", True, False, False),
]
#: (sheet, subtitle, in the fact table?, row labels, aggregate row label)
SHAPE_B = [
    ("INDUSTRIAL GENERO", "Consumo industrial por gênero (GWh)", True, RAMOS, "TOTAL GENERO"),
    ("RESIDENCIAIS POR UF", "Consumo Residencial por UF (GWh)", True, UFS, "TOTAL"),
    ("INDUSTRIAIS POR UF", "Consumo Industrial por UF (GWh)", True, UFS, "TOTAL"),
    ("COMERCIAIS POR UF", "Consumo Comercial por UF (GWh)", True, UFS, "TOTAL"),
    ("OUTROS POR UF", "Consumo Outros por UF (GWh)", True, UFS, "TOTAL"),
    ("CONSUMO POR UF", "Consumo por UF (GWh)", False, UFS, "TOTAL"),
    ("CONSUMO CATIVO POR UF", "Consumo Cativo por UF (GWh)", True, UFS, "TOTAL"),
]


def _text(milli: int) -> str:
    """Thousandths → the BIFF reader's canonical numeric text."""
    whole, frac = divmod(milli, 1000)
    return f"{whole}.{frac:03d}".rstrip("0").rstrip(".")


def _value(milli: int) -> int:
    """Never a whole number: a four-digit whole value in a Shape-A
    January column reads as a year label, in the reference too."""
    return milli if milli % 1000 else milli + 1


@dataclass
class Tally:
    """What the pipeline must produce from one workbook."""

    rows: int = 0
    valor_micro: int = 0


@dataclass
class Workbook:
    """One publication: ordered grids plus its tally. ``values`` maps
    (sheet, row, col) of every published data cell to thousandths, so
    a later drop can revise cells in place."""

    grids: dict[str, list]
    tally: Tally
    months: int
    values: dict[tuple[str, int, int], int] = field(repr=False, default_factory=dict)


def _series(rng: random.Random) -> tuple[int, int]:
    """A row's base level and monthly growth, in thousandths."""
    return rng.randrange(50_000, 5_000_000), rng.randrange(0, 4_000)


def build_workbook(seed: int, years: int = 20, months: int | None = None) -> Workbook:
    """The full workbook for ``years`` years. ``months`` counts the
    published months from January of the first year (default: all);
    later cells stay blank, as in a mid-year publication. Aggregate
    rows (TOTAL…) carry every month, so each sheet keeps its full
    width through the write/read round trip."""
    rng = random.Random(seed)
    total_months = 12 * years
    months = total_months if months is None else months
    if not 12 * (years - 1) < months <= total_months:
        raise ValueError(f"months must fall in the last year: {months}")
    last = FIRST_YEAR + years - 1
    year_labels = [str(y) for y in range(FIRST_YEAR, last)] + [f"{last}*"]
    grids: dict[str, list] = {}
    values: dict[tuple[str, int, int], int] = {}
    tally = Tally()

    def data_row(sheet, grid, label, col0, month0, n_cols, kept, aggregate, extra=None):
        base, growth = _series(rng)
        row = [label] + [N] * (n_cols + (1 if extra else 0))
        r = len(grid)
        for j in range(n_cols):
            month = month0 + j
            if month >= months and not aggregate:
                continue
            v = _value(base + growth * month + rng.randrange(0, 1_000))
            row[col0 + j] = _text(v)
            if not aggregate:
                values[(sheet, r, col0 + j)] = v
                if kept:
                    tally.valor_micro += v * 1000
        if extra:
            row[-1] = _text(rng.randrange(1_000_000, 60_000_000))
        if kept and not aggregate:
            tally.rows += n_cols
        grid.append(row)

    for sheet, subtitle, kept, total_ano, class_rows in SHAPE_A:
        width = 13 if total_ano else 12
        grid = [[sheet] + [N] * width, [subtitle] + [N] * width]
        grid += [[N] * (width + 1) for _ in range(2)]
        for y, label in enumerate(year_labels):
            if 12 * y >= months:
                break
            grid.append([N, label] + [N] * (width - 1))
            grid.append(["REGIÃO GEOGRÁFICA"] + [N] * width)
            for reg in REGIONS:
                data_row(sheet, grid, reg, 1, 12 * y, 12, kept, False, total_ano)
            data_row(sheet, grid, "TOTAL", 1, 12 * y, 12, kept, True, total_ano)
            grid.append(["SUBSISTEMA ELÉTRICO"] + [N] * width)
            for sub in SUBSYSTEMS:
                data_row(sheet, grid, sub, 1, 12 * y, 12, kept, False, total_ano)
            data_row(sheet, grid, "NC SISTEMAS ISOLADOS", 1, 12 * y, 12, kept, True, total_ano)
            data_row(sheet, grid, "TOTAL BRASIL", 1, 12 * y, 12, kept, True, total_ano)
            if class_rows:
                for cls in CLASSES:
                    data_row(sheet, grid, cls, 1, 12 * y, 12, kept, False, total_ano)
        grids[sheet] = grid

    width = total_months
    for sheet, subtitle, kept, labels, aggregate in SHAPE_B:
        grid = [[sheet] + [N] * width, [subtitle] + [N] * width]
        grid += [[N] * (width + 1) for _ in range(2)]
        hdr = [N]
        for label in year_labels:
            hdr += [label] + [N] * 11
        grid.append(hdr)
        for label in labels:
            data_row(sheet, grid, label, 1, 0, width, kept, False)
        data_row(sheet, grid, aggregate, 1, 0, width, kept, True)
        grids[sheet] = grid
    return Workbook(grids, tally, months, values)


def next_drop(prev: Workbook, seed: int) -> Workbook:
    """The next monthly publication: about ``REVISE`` of the published
    cells revised, and one new month published. Only cells whose sheet
    geometry already exists are touched, so the workbook's structure
    is unchanged, as in the real republished workbook."""
    rng = random.Random(seed)
    grids = copy.deepcopy(prev.grids)
    values = dict(prev.values)
    tally = copy.copy(prev.tally)
    kept_sheets = {s for s, _, k, *_ in SHAPE_A + SHAPE_B if k}
    shape_b = {s for s, *_ in SHAPE_B}

    def put(key, v):
        sheet, r, c = key
        old = values.get(key)
        if old is not None and sheet in kept_sheets:
            tally.valor_micro -= old * 1000
        if sheet in kept_sheets:
            tally.valor_micro += v * 1000
        values[key] = v
        grids[sheet][r][c] = _text(v)

    for key in rng.sample(sorted(values), max(1, round(REVISE * len(values)))):
        put(key, _value(values[key] + rng.randrange(-5_000, 5_000) + 10_000))

    month = prev.months
    if month >= len(grids[SHAPE_B[0][0]][0]) - 1:  # header: title + months
        raise ValueError("the workbook has no unpublished month left")
    year, m = divmod(month, 12)
    for sheet, grid in grids.items():
        for r in range(len(grid)):
            if sheet in shape_b:
                if r < 5 or (sheet, r, 1) not in values:
                    continue
                col = 1 + month
            else:
                col = 1 + m
                if (sheet, r, 1) not in values or _row_year(grid, r) != year:
                    continue
            put((sheet, r, col), _value(rng.randrange(50_000, 5_000_000)))
    return Workbook(grids, tally, month + 1, values)


def _row_year(grid: list, r: int) -> int:
    """Index of the Shape-A year block that row ``r`` belongs to."""
    blocks = -1
    for row in grid[4 : r + 1]:
        if row[0] is None and row[1] is not None:
            blocks += 1
    return blocks
