"""Workbook normalization — the reference's ``tratamento_dados_epe``
(`tratamento_epe.R:80-200`) re-expressed as a lazy Spark plan builder.

Input: the ingested ``{sheet: grid}`` dict (first grid row = header,
named read_xls-style). Output: the canonical intermediate form
``atributo_1..atributo_4 string, data date, valor double``
(SURVEY §1.1). Two raw shapes (SURVEY C1):

- **Shape A** (`R:96-156`): stacked per-year blocks; months spread
  over 12 unnamed columns (13 incl. a pre-aggregated ``Total_Ano``
  that is dropped — C2); year + section markers forward-filled down
  the sheet (W1/W2).
- **Shape B** (`R:158-196`): one wide table; the first post-junk row
  carries the years, each spanning 12 month columns (P9 — the
  data-dependent-schema point, read on the driver from the grid).

The reference maps one function over the sheets and binds the results
(`R:71-72,202`). Here each SHAPE is normalized once: the driver stacks
every sheet of a shape into one frame, cut to the shape's positional
layout, with the per-sheet facts as per-row columns — sheet name →
``atributo_1``, title cell → ``atributo_2``, Shape-B year header →
``_years``. The plan therefore has one Shape-A and one Shape-B branch
whatever the sheet count. Every step is a narrow lazy op except the
Shape-A LOCF windows, which partition by sheet over the
single-partition Shape-A frame and so sort without a shuffle.
"""

from __future__ import annotations

import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from epe_data_wrangling_spark.functions.cleaning import (
    as_numeric,
    make_month_date,
    regexp_extract_na,
    sql_lit,
    str_to_title,
    typed_null,
)
from epe_data_wrangling_spark.sources import workbook
from epe_data_wrangling_spark.sources.workbook import Grid, readxl_names

PLACEHOLDER_RE = re.compile(r"^\.\.\.[0-9]+$")
SECTION_PATTERN = "REGIÃO GEOGRÁFICA|SUBSISTEMA ELÉTRICO|SUBSISTEMA"
YEAR_PATTERN = r"^[0-9]{4}(|\*)$"
MONTHS = [str(m) for m in range(1, 13)]

#: ``operators.windows.locf`` as SQL text: the last non-NULL value so
#: far down the sheet (partition = sheet, order = physical row).
_LOCF = (
    "last({}, true) OVER (PARTITION BY atributo_1 ORDER BY _row_idx"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)

_STR = pa.string()
_TAGS = [pa.field("atributo_1", _STR), pa.field("atributo_2", _STR)]


def _data_rows(grid: Grid) -> tuple[list[list], str | None]:
    """The grid's data rows as strings, padded or cut to the header
    width (the header row is consumed as column names), and the title:
    the first data row's first cell (P2, `R:88`)."""
    width = len(grid[0])
    rows = [
        [None if c is None else str(c) for c in (list(r) + [None] * width)[:width]]
        for r in grid[1:]
    ]
    return rows, (rows[0][0] if rows else None)


def _melt(ids: list[str], cols: list[str], var: str) -> list[str]:
    """R5 cast + R1/R2 unpivot as ``selectExpr`` items: the id columns
    plus ONE ``stack`` of (column number, ``as_numeric``(cell)) pairs.
    SQL text reaches the JVM in one call, where a Column built per cell
    column costs ~35 py4j round-trips on PySpark 4.1 (~1.7k for a
    3-year workbook); every step of both shapes is built the same way.
    A blank cell stays a NULL-valor row."""
    pairs = ", ".join(f"{c}, {as_numeric(f'`{c}`')}" for c in cols)
    return [*ids, f"stack({len(cols)}, {pairs}) AS ({var}, valor)"]


def normalize_shape_a(spark: SparkSession, sheets: dict[str, Grid]) -> DataFrame:
    """Shape A (`tratamento_epe.R:96-156`) over every Shape-A sheet at
    once. See module docstring."""
    stacked = []
    for sheet, grid in sheets.items():
        # P3/C2 (`R:106-129`): the unnamed `...k` columns are the months
        # 1..12, plus a pre-aggregated Total_Ano when 13 — dropped here,
        # before stacking (P5 `R:133`; the engine re-derives totals via
        # rollup/cube, SURVEY §2.5). P4: the first column becomes
        # atributo_4 (`R:131`); the year sits in column 2 (`R:98`).
        months = [i for i, n in enumerate(readxl_names(grid[0])) if PLACEHOLDER_RE.match(n)]
        if len(months) not in (12, 13):
            raise ValueError(
                f"sheet {sheet!r}: {len(months)} unnamed columns, expected 12 or 13"
            )
        keep = [0, 1, *months[:12]]
        rows, title = _data_rows(grid)
        # F1 (`R:89`): data rows 0-2 are junk; _row_idx keeps the
        # sheet's physical row order for the LOCF windows
        stacked += [(sheet, title, i, *[r[k] for k in keep]) for i, r in enumerate(rows) if i >= 3]
    schema = pa.schema(
        _TAGS
        + [pa.field("_row_idx", pa.int64()), pa.field("atributo_4", _STR), pa.field("ano", _STR)]
        + [pa.field(m, _STR) for m in MONTHS]
    )
    t = workbook.grid_to_df(spark, stacked, schema)
    month_cols = [f"`{m}`" for m in MONTHS]

    # W1 (`R:98-100`): 4-digit (optionally starred) year cell, digits
    # only, NA on miss (str_extract semantics), filled down the sheet;
    # section marker from column 1 + canonicalization (`R:102-104`).
    year = regexp_extract_na(regexp_extract_na("ano", YEAR_PATTERN), "[0-9]+")
    sec = regexp_extract_na("atributo_4", SECTION_PATTERN)
    t = t.selectExpr(
        "atributo_1", "atributo_2", "_row_idx", "atributo_4", *month_cols,
        f"{_LOCF.format(year)} AS ano",
        f"CASE WHEN {sec} RLIKE {sql_lit('SUBSISTEMA')} THEN 'SUBSISTEMA ELÉTRICO'"
        f" ELSE {sec} END AS atributo_3",
    )
    # F3+F4 (`R:136-138`): strip TOTAL/NC aggregate rows (TOTAL BRASIL
    # included) and unlabeled rows — a NULL label fails the predicate.
    t = t.filter(f"NOT atributo_4 RLIKE {sql_lit('^TOTAL|^NC ')}")
    # W2 (`R:140`): fill section markers down; F5 (`R:142`): a row is
    # data iff January is present.
    t = t.selectExpr(
        "atributo_1", "atributo_2", "_row_idx", "atributo_4", *month_cols, "ano",
        f"{_LOCF.format('atributo_3')} AS atributo_3",
    )
    t = t.filter("`1` IS NOT NULL")

    # R5 cast (`R:144`) + R1 unpivot (`R:148`).
    ids = ["atributo_1", "atributo_2", "atributo_3", "atributo_4", "ano"]
    t = t.selectExpr(*_melt(ids, MONTHS, "mes"))
    # X10 date (`R:150`) + P6 + X5/X7 string fixups (`R:152-156`) in
    # one tail projection; atributo_3's reroute reads the FIXED
    # atributo_4 (post-title-case), so the fixup expression appears in
    # both outputs — Catalyst CSE evaluates it once.
    a4_fix = (
        "CASE WHEN atributo_4 = 'C.OESTE' THEN 'Centro-Oeste'"
        f" ELSE {str_to_title('atributo_4')} END"
    )
    return t.selectExpr(
        "atributo_1",
        "atributo_2",
        f"CASE WHEN {a4_fix} RLIKE {sql_lit('Resid|Comer|Indus|Outros')} THEN 'CLASSE'"
        " ELSE atributo_3 END AS atributo_3",
        f"{a4_fix} AS atributo_4",
        f"{make_month_date('ano', 'mes')} AS data",
        "valor",
    )


def normalize_shape_b(spark: SparkSession, sheets: dict[str, Grid]) -> DataFrame:
    """Shape B (`tratamento_epe.R:158-196`) over every Shape-B sheet at
    once. The header harvest (P9, `R:162-171`) is the pipeline's one
    data-dependent planning point: each sheet's year header is read on
    the driver from its grid, and data column ``p`` (1-based) holds
    year ``_years[(p-1) div 12]``, month ``(p-1) mod 12 + 1``."""
    parsed = []
    for sheet, grid in sheets.items():
        rows, title = _data_rows(grid)
        # the year header is the first post-junk row (`R:163`)
        if len(rows) < 4:
            raise ValueError(f"sheet {sheet!r}: no header row at _row_idx 3")
        years = [
            re.sub(r"[^0-9]", "", c) for c in rows[3][1:] if re.fullmatch(r"[0-9]{4}\*?", c or "")
        ]
        if 12 * len(years) != len(grid[0]) - 1:
            raise ValueError(
                f"sheet {sheet!r}: {len(years)} years × 12 ≠ {len(grid[0]) - 1} data columns"
            )
        parsed.append((sheet, title, years, rows[3:]))
    # The stacked sheets share the widest sheet's data columns; a
    # narrower sheet's extra slots are NULL padding, cut after the
    # unpivot.
    slots = [str(p) for p in range(1, 1 + max(12 * len(y) for _, _, y, _ in parsed))]
    schema = pa.schema(
        _TAGS
        + [pa.field("_years", pa.list_(_STR)), pa.field("atributo_3", _STR)]
        + [pa.field(s, _STR) for s in slots]
    )
    stacked = [
        (sheet, title, years, *r, *[None] * (len(slots) + 1 - len(r)))
        for sheet, title, years, rows in parsed
        for r in rows
    ]
    t = workbook.grid_to_df(spark, stacked, schema)

    # F6/F7/F8 (`R:175-179`): keep real data rows (3rd column non-null
    # — this also removes the year-header row itself), labeled, and
    # not TOTAL aggregates — a NULL label fails the rlike.
    t = t.filter(f"`2` IS NOT NULL AND NOT atributo_3 RLIKE {sql_lit('^TOTAL')}")

    # R5 cast (`R:182`) + R2 unpivot (`R:185`) + R3 split (`R:187`) by
    # position; slots past the sheet's 12·|years| are padding and never
    # become rows, while a blank month inside the sheet's width stays a
    # NULL-valor row.
    ids = ["atributo_1", "atributo_2", "atributo_3", "_years"]
    t = t.selectExpr(*_melt(ids, slots, "_slot"))
    t = t.filter("_slot <= 12 * size(_years)")

    # X10 date (`R:189`) + X11 null pad (`R:192`) + P6 (`R:194`).
    year = "element_at(_years, CAST((_slot - 1) / 12 AS INT) + 1)"
    return t.selectExpr(
        "atributo_1",
        "atributo_2",
        "atributo_3",
        f"{typed_null('string')} AS atributo_4",
        f"{make_month_date(year, '(_slot - 1) % 12 + 1')} AS data",
        "valor",
    )


def normalize_workbook(
    spark: SparkSession, sheets: dict[str, Grid], split_sheet: str = "CONSUMIDORES TOTAIS"
) -> DataFrame:
    """U1 (`R:202`): normalize the workbook as one Shape-A and one
    Shape-B branch. Sheets up to and including ``split_sheet``
    (workbook order) are Shape A, the rest Shape B (C1, `R:94`)."""
    names = list(sheets)
    if split_sheet not in names:
        raise ValueError(f"split sheet {split_sheet!r} not in workbook {names}")
    cut = names.index(split_sheet) + 1
    out = normalize_shape_a(spark, {s: sheets[s] for s in names[:cut]})
    if cut < len(names):
        out = out.unionByName(normalize_shape_b(spark, {s: sheets[s] for s in names[cut:]}))
    return out
