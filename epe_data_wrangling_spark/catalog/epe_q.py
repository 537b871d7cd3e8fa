"""The EPE reference pipeline itself as an oracle-checked query.

The driver's star-schema tables cannot exercise the EPE
normalize/semantic path, so the catalog runs the pipeline over the
in-package demo workbook (plans.epe_demo — synthetic sheets covering
every structural feature of the reference's source) and checks it
against a frozen golden VALUES oracle (catalog/epe_expected.py, spot
checks hand-verified in tests/test_epe_pipeline.py). This makes the
full `tratamento_epe.R` behavior — ingest naming, junk slicing, LOCF
fills, 12/13-column dispatch, shape-B header harvest, unpivot, the
five semantic branches, chave_seletora — part of the hash-checked
correctness gate rather than pytest-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from epe_data_wrangling_spark.catalog import CatalogQuery, make_registrar
from epe_data_wrangling_spark.catalog.epe_expected import EXPECTED_ROWS

QUERIES: dict[str, CatalogQuery] = {}
query = make_registrar(QUERIES)


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _expected_values_sql() -> str:
    rows = ",\n      ".join(
        "(" + ", ".join([_sql_lit(c), _sql_lit(m), _sql_lit(d), _sql_lit(cl), _sql_lit(ab),
                         _sql_lit(at), f"DATE {_sql_lit(dt)}", _sql_lit(v)]) + ")"
        for c, m, d, cl, ab, at, dt, v in EXPECTED_ROWS
    )
    return f"""
    SELECT chave_seletora, mercado, dado, classe, abertura, atributo,
           CAST(data AS DATE) AS data, CAST(valor AS DOUBLE) AS valor
    FROM (VALUES
      {rows}
    ) t(chave_seletora, mercado, dado, classe, abertura, atributo, data, valor)
    """


#: Per-session memo of the demo fact plan: the pipeline output is
#: deterministic, so consumer queries (annual agg, wide
#: reconstruction) reuse one built plan instead of re-ingesting the
#: workbook and re-building the normalize plan per query.
_FACT_MEMO: dict["SparkSession", DataFrame] = {}


@query("epe_pipeline_demo", oracle=_expected_values_sql())
def epe_pipeline_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full EPE pipeline (ingest → normalize A/B → single-projection
    semantic map → selector key) over the demo workbook; sf_dir is unused —
    the workbook is the reference's own data shape, not star-schema."""
    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline

    if spark not in _FACT_MEMO:
        _FACT_MEMO[spark] = run_pipeline(spark, workbook_grids())
    return _FACT_MEMO[spark]


@query(
    "epe_annual_consumption",
    oracle=f"""
    WITH fact AS ({_expected_values_sql()})
    SELECT chave_seletora, CAST(year(data) AS INTEGER) AS ano,
           CAST(SUM(CAST(valor AS DECIMAL(18,6))) AS DOUBLE) AS valor_ano,
           COUNT(*) AS n_meses
    FROM fact GROUP BY chave_seletora, year(data)
    """,
)
def epe_annual_consumption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact table's stated purpose (`tratamento_epe.rmd:36,141`):
    re-derive the annual aggregates the reference deliberately strips
    (Total_Ano / TOTAL rows) from clean monthly atoms — filter by
    selector key, group by year (SURVEY §2.5)."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.core import dec

    fact = epe_pipeline_demo(spark, sf_dir)
    return (
        fact.groupBy("chave_seletora", F.year("data").cast("int").alias("ano"))
        .agg(F.sum(dec("valor")).alias("_s"), F.count(F.lit(1)).alias("n_meses"))
        .select(
            "chave_seletora", "ano",
            F.col("_s").cast("double").alias("valor_ano"), "n_meses",
        )
    )


@query(
    "epe_wide_reconstruction",
    oracle=f"""
    WITH fact AS ({_expected_values_sql()})
    SELECT atributo, CAST(year(data) AS INTEGER) AS ano,
           SUM(CASE WHEN month(data) = 1 THEN valor END) AS m1,
           SUM(CASE WHEN month(data) = 2 THEN valor END) AS m2,
           SUM(CASE WHEN month(data) = 3 THEN valor END) AS m3,
           SUM(CASE WHEN month(data) = 6 THEN valor END) AS m6,
           SUM(CASE WHEN month(data) = 12 THEN valor END) AS m12
    FROM fact
    WHERE mercado = 'TOTAL' AND classe = 'RESIDENCIAL' AND abertura = 'REGIÃO GEOGRÁFICA'
    GROUP BY atributo, year(data)
    """,
)
def epe_wide_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 (SURVEY §2.9): reconstruct the original wide month view from
    the tidy fact table with groupBy().pivot() — the consumer-side
    inverse of the unpivot at the heart of the reference. Explicit
    pivot values: no discovery scan (scale note in operators.reshape).
    One observation per cell ⇒ sum ≡ first; sum is what a dashboard
    reconstruction would use."""
    from pyspark.sql import functions as F

    fact = epe_pipeline_demo(spark, sf_dir)
    sel = fact.filter(
        (F.col("mercado") == "TOTAL")
        & (F.col("classe") == "RESIDENCIAL")
        & (F.col("abertura") == "REGIÃO GEOGRÁFICA")
    ).withColumn("mes_out", F.concat(F.lit("m"), F.month("data").cast("string")))
    return (
        sel.groupBy("atributo", F.year("data").cast("int").alias("ano"))
        .pivot("mes_out", ["m1", "m2", "m3", "m6", "m12"])
        .agg(F.sum("valor"))
    )


@query(
    "epe_consumption_growth",
    oracle=f"""
    WITH fact AS ({_expected_values_sql()}),
    yr AS (SELECT chave_seletora, atributo,
                  CAST(year(data) AS INTEGER) AS ano,
                  CAST(SUM(CAST(valor AS DECIMAL(18,6))) AS DOUBLE) AS valor_ano
           FROM fact GROUP BY chave_seletora, atributo, year(data)),
    prev AS (SELECT a.chave_seletora, a.atributo, a.ano, a.valor_ano,
                    b.valor_ano AS valor_prev
             FROM yr a LEFT JOIN yr b
               ON a.chave_seletora = b.chave_seletora
              AND a.atributo = b.atributo AND b.ano = a.ano - 1)
    SELECT chave_seletora, atributo, ano, valor_ano, valor_prev,
           round((valor_ano - valor_prev) / valor_prev, 6) AS yoy_growth
    FROM prev WHERE valor_prev IS NOT NULL AND valor_prev <> 0
    """,
)
def epe_consumption_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year consumption growth per (selector key, atributo)
    — the downstream analysis the reference's tidy table exists to
    serve (`tratamento_epe.rmd:36`: "fazer agregações a fim de
    computar cálculos de interesse"): exact decimal annual totals,
    previous year fetched by an equi-join on ano−1 (no ordering
    window at all), growth as one shared double tree. Zero-or-missing
    base years are excluded on both sides (ANSI-safe division).
    Certifies the port end-to-end THROUGH a consumer query: workbook
    → normalize → semantic map → fact → analytic."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.core import dec

    fact = epe_pipeline_demo(spark, sf_dir)
    yr = (
        fact.groupBy(
            "chave_seletora", "atributo", F.year("data").cast("int").alias("ano")
        )
        .agg(F.sum(dec("valor")).cast("double").alias("valor_ano"))
        .localCheckpoint(eager=True)  # driver-side small; two join sides
    )
    prev = yr.select(
        F.col("chave_seletora").alias("ck"),
        F.col("atributo").alias("at"),
        (F.col("ano") + 1).alias("anx"),
        F.col("valor_ano").alias("valor_prev"),
    )
    joined = yr.join(
        prev,
        (F.col("chave_seletora") == F.col("ck"))
        & (F.col("atributo") == F.col("at"))
        & (F.col("ano") == F.col("anx")),
        "left",
    )
    return joined.filter(
        F.col("valor_prev").isNotNull() & (F.col("valor_prev") != 0)
    ).select(
        "chave_seletora",
        "atributo",
        "ano",
        "valor_ano",
        "valor_prev",
        F.round(
            (F.col("valor_ano") - F.col("valor_prev")) / F.col("valor_prev"), 6
        ).alias("yoy_growth"),
    )


def _wb_source_expected() -> list[tuple]:
    """Golden per-(fmt, sheet) stats computed in plain Python from the
    demo grids — the independent truth the Spark DataSource read path
    must land on for BOTH container formats."""
    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids

    rows = []
    for fmt in ("xls", "xlsx"):
        for si, (sheet, grid) in enumerate(workbook_grids().items()):
            cells = [
                (r, c, str(v))
                for r, row in enumerate(grid)
                for c, v in enumerate(row)
                if v is not None
            ]
            rows.append(
                (
                    fmt,
                    si,
                    sheet,
                    len(cells),
                    sum(len(v) for _, _, v in cells),
                    max(r for r, _, _ in cells),
                    max(c for _, c, _ in cells),
                )
            )
    return rows


def _wb_source_values_sql() -> str:
    rows = ",\n      ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in _wb_source_expected()
    )
    return f"""
    SELECT fmt, sheet_idx, sheet, n_cells, total_chars, max_row_idx, max_col_idx
    FROM (VALUES
      {rows}
    ) t(fmt, sheet_idx, sheet, n_cells, total_chars, max_row_idx, max_col_idx)
    """


@query("workbook_source_cells", oracle=_wb_source_values_sql())
def workbook_source_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED workbook ingest path (S2-S4 at fleet scale):
    Spark's ``binaryFile`` source (``sources.spark_datasource.
    workbook_files``) over a landing directory holding the demo
    workbook in BOTH container formats (OOXML ``.xlsx`` + BIFF8
    ``.xls``), parsed by ``workbook_cells``' Arrow map-in-batch —
    planning lists the directory only; all parsing runs executor-side,
    a whole file per task, magic-byte format dispatch. Aggregated to
    per-(format, sheet) stats and checked against a Python-computed
    golden, so the two binary readers AND the read path must agree
    cell-for-cell with the in-memory grid truth."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
    from epe_data_wrangling_spark.sources.spark_datasource import (
        workbook_cells,
        workbook_files,
    )
    from epe_data_wrangling_spark.sources.xls_biff import write_xls
    from epe_data_wrangling_spark.sources.xlsx import write_xlsx

    # Fixed, content-deterministic drop dir: overwritten (never
    # accumulated) across sweeps — no per-run /tmp leak.
    drop = os.path.join(tempfile.gettempdir(), "epe_wb_source_demo")
    os.makedirs(drop, exist_ok=True)
    grids = workbook_grids()
    write_xlsx(os.path.join(drop, "demo.xlsx"), grids)
    write_xls(os.path.join(drop, "demo.xls"), grids)

    cells = workbook_cells(workbook_files(spark.read, drop)).where(
        F.col("row_idx") >= 0  # drop the geometry marker rows
    )
    return (
        cells.withColumn("fmt", F.element_at(F.split(F.col("file"), r"\."), -1))
        .groupBy("fmt", "sheet_idx", "sheet")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(F.length("value")).alias("total_chars"),
            F.max("row_idx").alias("max_row_idx"),
            F.max("col_idx").alias("max_col_idx"),
        )
        .orderBy("fmt", "sheet_idx")
    )


@query("epe_pipeline_via_datasource", oracle=_expected_values_sql())
def epe_pipeline_via_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL reference pipeline fed from the DISTRIBUTED ingest
    path: demo workbook → .xlsx file → ``workbook_cells(
    workbook_files(spark.read, path))`` cell relation (``binaryFile``
    plus an executor-side Arrow parse) → ``grids_from_cells`` bridge →
    the same normalize/semantic plans — checked against the SAME
    frozen golden as ``epe_pipeline_demo``. Certifies end-to-end that
    the cell relation is a lossless carrier for the real workload, not
    just for cell counts."""
    import os
    import tempfile

    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline
    from epe_data_wrangling_spark.sources.spark_datasource import (
        grids_from_cells,
        workbook_cells,
        workbook_files,
    )
    from epe_data_wrangling_spark.sources.xlsx import write_xlsx

    drop = os.path.join(tempfile.gettempdir(), "epe_wb_pipeline_demo")
    os.makedirs(drop, exist_ok=True)
    path = os.path.join(drop, "demo.xlsx")
    write_xlsx(path, workbook_grids())

    cells = workbook_cells(workbook_files(spark.read, path))
    return run_pipeline(spark, grids_from_cells(cells))
