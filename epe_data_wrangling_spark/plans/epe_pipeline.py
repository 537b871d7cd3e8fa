"""End-to-end EPE pipeline — the reference's entry point 1
(SURVEY §3): ingest → normalize (one branch per sheet shape) → semantic
map → partitioned parquet sink.

Ingest is driver-side (sheets are small, §4.3.1) and hands Spark each
sheet shape as one Arrow-built frame, so no Python worker runs. Every
transformation is lazy and the semantic map is one filter plus one
projection, so ``run_pipeline`` submits zero Spark jobs: the first job
is the sink's. The only wide operations are the Shape-A LOCF window
(shuffle-free over its single partition) and the sink's rebalance
exchange on the month. The sink partitions by month (`data`), the
natural pruning key for the monthly-refresh consumption data
(SURVEY §4.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from epe_data_wrangling_spark.plans.epe_normalize import normalize_workbook
from epe_data_wrangling_spark.plans.epe_semantic import semantic_map
from epe_data_wrangling_spark.sources.workbook import Grid


def run_pipeline(
    spark: SparkSession,
    source: str | dict[str, Grid],
    *,
    split_sheet: str = "CONSUMIDORES TOTAIS",
) -> DataFrame:
    """Full pipeline. ``source`` is a workbook path or an
    already-ingested ``{sheet: grid}`` dict (ordered), as
    ``read_workbook_grids`` and ``grids_from_cells`` return it.

    Returns a lazy plan: the normalized union feeds the single-pass
    semantic map directly, with no checkpoint or cache in between."""
    if isinstance(source, str):
        from epe_data_wrangling_spark.sources import workbook

        source = workbook.read_workbook_grids(source)
    return semantic_map(normalize_workbook(spark, source, split_sheet=split_sheet))


def write_fact(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """S5 — columnar, splittable, month-partitioned sink (the
    scale-correct analogue of `tratamento_epe.R:290`'s saveRDS).

    The rebalance hint shuffles rows by month before the write, so AQE
    sizes the write tasks: small months share one file each, and a
    skewed month is split instead of landing in one task. The file
    count tracks the months, not tasks × months."""
    df.hint("rebalance", "data").write.mode(mode).partitionBy("data").parquet(path)
