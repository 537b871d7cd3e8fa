"""Export sinks — S5/S6 in SURVEY §2.1.

The reference ends in ``saveRDS`` (`tratamento_epe.R:290`) and
narrates CSV/Excel/fwrite alternatives (`tratamento_epe.rmd:359`).
The scale-correct primary sink is month-partitioned parquet
(``plans.epe_pipeline.write_fact``: splittable, partition-pruned on
read), written with plain ``df.write``; this module holds the
interchange formats, CSV and JSON. Excel is driver-side only
(`toPandas`), gated to small results — it exists for parity with the
reference's narrated options, not for scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str, *, header: bool = True, mode: str = "overwrite") -> None:
    """CSV interchange sink (S6, `write.csv`/`fwrite`/`vroom_write`
    discussion in the rmd). One file per partition; coalesce first if
    a single file is required."""
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSON-lines interchange sink (S6 family)."""
    df.write.mode(mode).json(path)


def write_excel_small(df: DataFrame, path: str, *, max_rows: int = 100_000) -> None:
    """Excel export (S6, `write.xlsx`) — DRIVER-SIDE, small results
    only; refuses anything that doesn't obviously fit. Requires an
    Excel writer engine (openpyxl/xlsxwriter), which this container
    may not have — gated import. ONE action: pull max_rows+1 rows and
    refuse if the probe overflows (a separate count() would scan the
    input twice)."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(f"refusing Excel export of >{max_rows} rows")
    pdf.to_excel(path, index=False)
