"""EPE monthly incremental refresh — the reference's real cadence,
composed end-to-end.

`tratamento_epe.rmd:30` says the source workbook is cumulative and
"atualizados mensalmente"; the reference's answer is a full re-run
per month (`tratamento_epe.R:39` re-downloads, `R:290` re-exports).
This module is the streaming-native composition the engine already
had all the parts for: the workbook landing zone, read by Spark's
built-in file stream source (``binaryFile`` through
``sources.spark_datasource.workbook_files``: each new drop arrives as
one ``(path, modificationTime, length, content)`` row of a
micro-batch, and the seen-file log lives in the query checkpoint),
feeds the CDC-retraction discipline (`streaming.ops`), maintaining
TWO standing tables per drop instead of recomputing the world:

- ``snapshot/`` — the 8-column EPE fact table's hashed image. Each
  drop is a full cumulative publication, so its normalized rows are
  diffed against the image by `_signed_image_diff` — the changelog is
  MANUFACTURED, exactly like the CDC snapshot dialect. The join key
  is a null-safe DIGEST of the 7 dimension columns
  (`_row_digest`): NULL dims are legitimate fact values (the TOTAL
  sheet's leading-null ``abertura``, excluded sheets' NULL selector
  key), so a raw-column equi join would silently drop them.
- ``view/`` — the annual-consumption aggregate
  ((chave_seletora, ano) → n_meses, Σ valor) maintained ADDITIVELY
  from the signed rows (`_additive_merge`, |groups|-row full-outer).
  ``valor`` is staged in micro-units (×10⁶, BIGINT) so incremental
  maintenance is exact integer algebra across arbitrarily many
  monthly revisions — float accumulation would drift from the
  recompute oracle precisely when the table gets old, which is the
  one regime this sink exists for.

Both tables commit in ONE atomic swap through
`streaming.ops._exactly_once_sink`; the provenance it records is the
``path`` column, the ``file:`` URI the file source reports for each
drop. The same collect brings each drop's bytes to the driver, which
parses them there (``read_workbook_grids``) in path order and hands
the grids to the step, so no job reads a drop twice and no
``input_file_name()`` distinct is needed. A drop
that REVISES a prior month retracts the old row's contribution and
inserts the new one; months that appear for the first time are pure
inserts — so after any number of drops the standing fact and annual
view hash-match a from-scratch recompute of the latest workbook,
which is exactly what the catalog queries certify against the frozen
golden.

Scale: per batch — one driver-side workbook parse + plan per drop
(the producer artifact's own size: the workbook-small contract of
SURVEY §4.3.1, and the drop's bytes are smaller than the cell rows an
executor-side parse would collect), then two writes. The last drop's
hashed image goes straight to the stage's ``snapshot/``; the
``view/`` write reads it back and runs the keyed hash-diff shuffle
against the standing image, the delta-sized signed aggregate and the
|groups|-row view merge as one plan, so nothing is checkpointed.
Drops that land together telescope into one diff (see ``_step``).
Every read names its schema (`LAYOUT`), so no job infers one. The
file source starts no Python process, and the driver-side parse
starts no executor Python worker: for a one-drop refresh either would
cost more than the parse. Drops landing together parse serially on
the driver; a fleet of them is the shape
``sources.spark_datasource.workbook_cells`` serves, which parses in
executor tasks. The EPE fact is dimension-table-sized so the plain
snapshot rewrite is the right plan here; a fact too large to rewrite
per cycle would instead land the SAME signed rows in the bucketed
op-log sinks (`cdc_oplog_foreach_batch` et al.), which this module's
changelog manufacture feeds unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from epe_data_wrangling_spark.streaming.ops import (
    _additive_merge,
    _check_layout,
    _exactly_once_sink,
    _read_sink_meta,
    _row_digest,
    _signed_image_diff,
)

FACT_DIMS = [
    "chave_seletora", "mercado", "dado", "classe", "abertura", "atributo",
    "data",
]

#: valor staging factor: micro-units keep the additive view's sums in
#: exact BIGINT algebra (the reference's values carry ≤6 decimals).
MICRO = 1_000_000

#: The two standing tables' declared schemas. Every read of them names
#: its schema instead of inferring it (an inference is one Spark job
#: per read), so the layout is committed in ``_ivm_meta.json`` and
#: checked before any read: a target written with another layout
#: raises instead of reading a missing column as NULL.
SNAPSHOT_DDL = (
    "k STRING, chave_seletora STRING, mercado STRING, dado STRING,"
    " classe STRING, abertura STRING, atributo STRING, data DATE,"
    " valor DOUBLE, rh STRING"
)
VIEW_DDL = "chave_seletora STRING, ano INT, n_meses BIGINT, valor_micro BIGINT"
LAYOUT = {"snapshot": SNAPSHOT_DDL, "view": VIEW_DDL}


def _read(spark, target_dir: str, table: str) -> DataFrame:
    return spark.read.schema(LAYOUT[table]).parquet(os.path.join(target_dir, table))


def epe_monthly_refresh(
    spark,
    drops_dir: str,
    target_dir: str,
    *,
    checkpoint_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the landing-zone stream to completion (availableNow) and
    return ``(fact, annual)`` as batch DataFrames: the standing
    8-column fact table and the incrementally-maintained annual view
    (chave_seletora, ano, valor_ano DOUBLE, n_meses). Call again
    after landing further drops with the SAME checkpoint dir — the
    file source's seen-file log in the checkpoint makes each run
    process exactly the new drops.

    A drop is what ``sources.spark_datasource.workbook_files`` counts
    as a workbook: a top-level file of ``drops_dir`` whose name ends in
    ``.xls`` or ``.xlsx`` in any letter case and does not start with
    ``.`` or ``_``. Land each drop whole: write it beside the zone and
    then rename it in. A drop listed while it is still being written
    (a 0-byte file above all) is marked seen and never read again.

    Raises before reading the target when its committed ``layout``
    differs from `LAYOUT`; a target committed before the layout was
    recorded is adopted and records it on its next commit."""
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline
    from epe_data_wrangling_spark.sources import workbook
    from epe_data_wrangling_spark.sources.spark_datasource import workbook_files

    stream = workbook_files(spark.readStream, drops_dir)

    # this batch's {drop file: {sheet: grid}}, filled by the provenance
    # collect so the step parses no drop a second time
    drops: dict[str, dict] = {}

    def _drop_files(batch_df: DataFrame) -> set[str]:
        drops.clear()
        rows = batch_df.select("path", "content").collect()
        for r in sorted(rows, key=lambda r: r.path):
            drops[r.path] = workbook.read_workbook_grids(bytes(r.content))
        return set(drops)

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        if not drops:
            return None
        _check_layout(meta, "epe_monthly", "layout", LAYOUT)
        # A batch may carry several drops (files). Each is a full
        # cumulative publication, so the signed deltas of applying them
        # in path order telescope: Σ(imgₖ − imgₖ₋₁) = img_last − img₀,
        # exact in BIGINT micro-units. Every drop is still planned, so
        # a malformed one fails the batch; only the last is diffed. The
        # stored view may then lack a group whose count would have
        # passed through zero; the returned annual (n_meses > 0) is
        # the same.
        facts = [run_pipeline(spark, grids) for grids in drops.values()]
        have = os.path.isdir(target_dir)
        snap = _read(spark, target_dir, "snapshot") if have else None
        view = _read(spark, target_dir, "view") if have else None
        # the new image goes straight to the stage; the diff reads it
        # back, so the image is computed once and nothing is cached
        facts[-1].select(
            _row_digest(FACT_DIMS).alias("k"),
            *FACT_DIMS,
            "valor",
            _row_digest(FACT_DIMS + ["valor"]).alias("rh"),
        ).write.mode("overwrite").parquet(os.path.join(stage, "snapshot"))
        img = _read(spark, stage, "snapshot")
        dview = (
            _signed_image_diff(snap, img, ["k"], FACT_DIMS + ["valor"])
            .groupBy("chave_seletora", F.expr("CAST(year(data) AS INT) AS ano"))
            .agg(
                F.expr("CAST(sum(_sign) AS BIGINT) AS n_meses"),
                F.expr(
                    f"CAST(sum(_sign * CAST(round(valor * {MICRO}) AS BIGINT))"
                    " AS BIGINT) AS valor_micro"
                ),
            )
        )
        _additive_merge(
            view, dview, ["chave_seletora", "ano"], ["n_meses", "valor_micro"]
        ).write.mode("overwrite").parquet(os.path.join(stage, "view"))
        return {"layout": LAYOUT}

    _exactly_once_sink(
        stream, target_dir, "epe_monthly", _step, provenance=_drop_files,
        checkpoint_dir=checkpoint_dir,
    )
    _check_layout(_read_sink_meta(target_dir), "epe_monthly", "layout", LAYOUT)
    fact = _read(spark, target_dir, "snapshot").select(*FACT_DIMS, "valor")
    annual = (
        _read(spark, target_dir, "view")
        .filter("n_meses > 0")
        .selectExpr(
            "chave_seletora",
            "ano",
            f"CAST(valor_micro AS DOUBLE) / {MICRO} AS valor_ano",
            "n_meses",
        )
    )
    return fact, annual
