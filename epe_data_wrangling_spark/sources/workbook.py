"""Workbook (Excel/grid) ingest — S1-S4 in SURVEY.md §2.1.

The reference's source is one messy ``.xls`` read sheet-by-sheet with
readxl (`tratamento_epe.R:57,63,71-72`): every cell as text, the
sheet's first row consumed as column names with unnamed cells getting
``...k`` placeholders, and physical row order meaningful (junk rows,
year-block headers, LOCF fills — SURVEY §4.3.1).

Spark contract implemented here:

- Sheets are read **on the driver** (they are small — thousands of
  rows; the 100 TB posture applies to the fact table *after*
  normalization, not the workbook) and stamped with ``_sheet`` and a
  0-based ``_row_idx`` **before** ``createDataFrame``, because Spark
  provides no row-order guarantee and ``monotonically_increasing_id``
  is not stable across re-planning.
- Each sheet reaches Spark as a ``pyarrow.Table``: the JVM decodes the
  Arrow batches itself, so building a frame submits no job and no
  Python worker ever serves sheet rows.
- All data cells are strings (read_xls parity); typed casts happen in
  the normalize stage with ``try_cast`` (R's as.numeric-to-NA).
- At cluster scale the same grid contract can be produced by a
  distributed Excel datasource; everything downstream only sees a
  DataFrame with (_sheet, _row_idx, named string columns).
"""

from __future__ import annotations

import urllib.request
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

Cell = str | None
Grid = Sequence[Sequence[Cell]]


def qcol(name: str):
    """Column reference for grid-derived names (``...2`` etc.):
    backtick-quoted so dots are not parsed as struct access."""
    from pyspark.sql import functions as F

    return F.col(f"`{name.replace('`', '``')}`")


def fetch(url: str, dest: str) -> str:
    """S1 — driver-side binary download (`tratamento_epe.R:39-47`).
    At scale: land source files in object storage and read from there."""
    urllib.request.urlretrieve(url, dest)
    return dest


def readxl_names(header: Sequence[Cell]) -> list[str]:
    """read_xls column naming: header cells become names; empty cells
    become ``...k`` placeholders (1-based position k) — the exact
    pattern the reference's rename targets (`tratamento_epe.R:109`)."""
    names = []
    for i, cell in enumerate(header):
        text = "" if cell is None else str(cell).strip()
        names.append(text if text else f"...{i + 1}")
    return names


def grid_to_df(spark: SparkSession, grid: Grid, sheet: str) -> DataFrame:
    """One raw sheet grid (first row = header) → string DataFrame with
    ``_sheet`` and 0-based ``_row_idx`` over the data rows (S3).

    The frame is built from a ``pyarrow.Table``: Spark parses the Arrow
    batches in the JVM (a local relation at workbook size), so the
    sheet never passes through a ``PythonRDD`` or a Python worker."""
    import pyarrow as pa

    header, *rows = grid
    names = readxl_names(header)
    width = len(names)
    schema = StructType(
        [StructField("_sheet", StringType()), StructField("_row_idx", LongType())]
        + [StructField(n, StringType()) for n in names]
    )
    data = [
        (sheet, i, *[(None if c is None else str(c)) for c in (list(r) + [None] * width)[:width]])
        for i, r in enumerate(rows)
    ]
    columns = list(zip(*data)) if data else [()] * (width + 2)
    types = [pa.string(), pa.int64()] + [pa.string()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, t) for c, t in zip(columns, types)], names=schema.names
    )
    # One partition per sheet: sheets are small by contract (§4.3.1),
    # and a single partition keeps the per-sheet LOCF window sort
    # shuffle-free while sheets still parallelize across each other.
    df = spark.createDataFrame(table, schema).coalesce(1)
    # Driver-side ingest already holds the rows, so expose them for
    # plan-time inspection (title cell, Shape-B year header — SURVEY
    # §4.3.2's inspect-then-plan points). Saves one Spark job per
    # lookup; normalize falls back to a distributed collect when the
    # frame didn't come through this ingester.
    df._epe_rows = data
    return df


def plan_time_rows(df: DataFrame) -> list[tuple] | None:
    """Raw (sheet, row_idx, *cells) tuples if ``df`` was built by
    ``grid_to_df`` on this driver, else None."""
    return getattr(df, "_epe_rows", None)


def read_workbook_grids(path: str) -> dict[str, Grid]:
    """S2+S3 — sheet discovery + per-sheet raw grids (all cells as
    text, no header interpretation; ``grid_to_df`` applies the
    read_xls naming).

    Engines, in order: pandas' ExcelFile if an Excel engine (openpyxl
    / xlrd / calamine) is installed; else the stdlib readers — OOXML
    (``sources.xlsx``) or legacy BIFF8 (``sources.xls_biff``), chosen
    by the file's MAGIC BYTES, not its extension (the reference's
    real artifact is a ``.xls`` — `tratamento_epe.R:39,63`). This
    container ships no Excel engine, so the stdlib paths are the ones
    actually exercised end-to-end by ``tests/test_epe_pipeline.py``
    and ``tests/test_xls_ingest.py``."""
    import pandas as pd  # local import: optional dependency surface

    try:
        xl = pd.ExcelFile(path)
    except ImportError:
        from epe_data_wrangling_spark.sources.xls_biff import CFB_MAGIC, read_xls_grids
        from epe_data_wrangling_spark.sources.xlsx import read_xlsx_grids

        with open(path, "rb") as f:
            magic = f.read(8)
        if magic == CFB_MAGIC:
            return read_xls_grids(path)
        return read_xlsx_grids(path)
    grids: dict[str, Grid] = {}
    for sheet in xl.sheet_names:
        pdf = xl.parse(sheet, header=None, dtype=str)
        grids[sheet] = [
            [None if pd.isna(v) else str(v) for v in row] for row in pdf.itertuples(index=False)
        ]
    return grids


def read_workbook(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """S4 — multi-sheet fan-out: named dict of lazy per-sheet frames
    (`tratamento_epe.R:71-72`). Dict order = workbook sheet order,
    which drives the Shape-A/Shape-B dispatch (SURVEY C1)."""
    return {s: grid_to_df(spark, g, s) for s, g in read_workbook_grids(path).items()}
