"""Workbook (Excel/grid) ingest — S1-S4 in SURVEY.md §2.1.

The reference's source is one messy ``.xls`` read sheet-by-sheet with
readxl (`tratamento_epe.R:57,63,71-72`): every cell as text, the
sheet's first row consumed as column names with unnamed cells getting
``...k`` placeholders, and physical row order meaningful (junk rows,
year-block headers, LOCF fills — SURVEY §4.3.1).

Spark contract implemented here:

- Sheets are read **on the driver** (they are small — thousands of
  rows; the 100 TB posture applies to the fact table *after*
  normalization, not the workbook) into an ordered ``{sheet: grid}``
  dict, the pipeline's ingested form. The normalizer stamps each row
  with its sheet and a 0-based ``_row_idx`` **before**
  ``createDataFrame``, because Spark provides no row-order guarantee
  and ``monotonically_increasing_id`` is not stable across re-planning.
- The sheets of one shape reach Spark together as ONE ``pyarrow.Table``
  (``grid_to_df``): the JVM decodes the Arrow batches itself, so
  building a frame submits no job and no Python worker ever serves
  sheet rows.
- All data cells are strings (read_xls parity); typed casts happen in
  the normalize stage with ``try_cast`` (R's as.numeric-to-NA).
- At cluster scale the same grids can be produced from the
  executor-side cell relation (``sources.spark_datasource.
  workbook_cells`` → ``grids_from_cells``);
  everything downstream only sees the ``{sheet: grid}`` dict.
"""

from __future__ import annotations

import urllib.request
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

Cell = str | None
Grid = Sequence[Sequence[Cell]]


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


def grid_to_df(spark: SparkSession, rows: Sequence[Sequence], schema: pa.Schema) -> DataFrame:
    """Driver-held rows → one DataFrame in ONE partition (S3).

    ``rows`` are tuples matching ``schema``; the normalizer passes every
    sheet of one shape as one row set. The frame is built from a
    ``pyarrow.Table``: Spark parses the Arrow batches in the JVM (a
    local relation at workbook size), so the rows never pass through a
    ``PythonRDD`` or a Python worker. One partition: sheets are small
    by contract (§4.3.1), and one partition keeps the LOCF window sort
    over the stacked sheets shuffle-free."""
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, schema)], schema=schema
    )
    return spark.createDataFrame(table).coalesce(1)


def read_workbook_grids(path: str | bytes) -> dict[str, Grid]:
    """S2-S4 — sheet discovery + per-sheet raw grids (all cells as
    text, no header interpretation; the normalizer applies the
    read_xls naming). Dict order = workbook sheet order, which drives
    the Shape-A/Shape-B dispatch (SURVEY C1).

    ``path`` is a file path or the file's bytes; bytes are how the
    monthly refresh hands over a drop that Spark's ``binaryFile``
    stream source already read (``streaming.epe_monthly``), and they
    parse to the same grids as the file they came from.

    One engine, chosen by the file's MAGIC BYTES, not its extension
    (the reference's real artifact is a ``.xls`` —
    `tratamento_epe.R:39,63`): the stdlib readers for legacy BIFF8
    (``sources.xls_biff``) and OOXML (``sources.xlsx``). No Excel
    library is needed, so the parse is the same wherever it runs.
    ``tests/test_epe_pipeline.py`` and ``tests/test_xls_ingest.py``
    exercise both end-to-end."""
    from epe_data_wrangling_spark.sources.xls_biff import CFB_MAGIC, read_xls_grids
    from epe_data_wrangling_spark.sources.xlsx import read_xlsx_grids

    if isinstance(path, str):
        with open(path, "rb") as f:
            magic = f.read(8)
    else:
        magic = path[:8]
    if magic == CFB_MAGIC:
        return read_xls_grids(path)
    return read_xlsx_grids(path)
