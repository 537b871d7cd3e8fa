"""The EPE monthly incremental refresh capstone
(`streaming.epe_monthly`): three cumulative workbook drops — months
missing, months published, a prior-month figure revised — maintained
incrementally, converging exactly on the from-scratch recompute of
the final drop (the frozen golden); the landing zone read through
Spark's file stream source, and exactly-once under a fresh
checkpoint."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from epe_data_wrangling_spark.plans.epe_demo import (
    monthly_workbook_versions,
    workbook_grids,
)
from epe_data_wrangling_spark.sources.xlsx import write_xlsx
from epe_data_wrangling_spark.streaming.epe_monthly import epe_monthly_refresh


def _fact_set(df):
    return {
        (
            r["chave_seletora"], r["mercado"], r["dado"], r["classe"],
            r["abertura"], r["atributo"], str(r["data"]), r["valor"],
        )
        for r in df.collect()
    }


def test_versions_carve_backward_from_golden():
    v1, v2, v3 = monthly_workbook_versions()
    assert v3 == workbook_grids()  # final state IS the golden workbook
    # v2 differs from v3 in exactly one cell (the revised figure)
    diffs = [
        (s, i, j)
        for s in v3
        for i, row in enumerate(v3[s])
        for j, v in enumerate(row)
        if v2[s][i][j] != v
    ]
    assert diffs == [("RESIDENCIAIS", 6, 3)], diffs
    # v1 blanks cells (never alters a value) and only vs v2
    blanked = 0
    for s in v2:
        for i, row in enumerate(v2[s]):
            for j, v in enumerate(row):
                if v1[s][i][j] != v:
                    assert v1[s][i][j] is None and v is not None
                    blanked += 1
    assert blanked > 10  # the missing months are real work, not one cell


def test_monthly_refresh_converges_on_recompute(spark, tmp_path):
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline

    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    versions = monthly_workbook_versions()

    write_xlsx(os.path.join(drops, "drop_001.xlsx"), versions[0])
    fact1, annual1 = epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    f1 = _fact_set(fact1)
    # drop 1 carries the erroneous figure that drop 3 will revise
    assert any(r[-1] == 999.5 for r in f1)

    write_xlsx(os.path.join(drops, "drop_002.xlsx"), versions[1])
    fact2, _ = epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    f2 = _fact_set(fact2)
    assert any(r[-1] == 999.5 for r in f2)  # still uncorrected in drop 2

    write_xlsx(os.path.join(drops, "drop_003.xlsx"), versions[2])
    fact3, annual3 = epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    f3 = _fact_set(fact3)
    # the revision landed: the erroneous figure is gone, replaced
    assert not any(r[-1] == 999.5 for r in f3)

    # convergence: standing fact == from-scratch recompute of drop 3
    # (the golden demo workbook)
    expected = _fact_set(run_pipeline(spark, workbook_grids()))
    assert f3 == expected

    # and the incrementally-maintained annual view == recompute
    got = {
        (r["chave_seletora"], r["ano"]): (r["valor_ano"], r["n_meses"])
        for r in annual3.collect()
    }
    exp_annual = {
        (r["chave_seletora"], r["ano"]): (float(r["s"]), r["n"])
        for r in run_pipeline(spark, workbook_grids())
        .groupBy("chave_seletora", F.year("data").cast("int").alias("ano"))
        .agg(
            F.sum(F.col("valor").cast("decimal(18,6)")).cast("double").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == exp_annual

    # exactly-once: re-running with no new drop changes nothing
    fact_again, annual_again = epe_monthly_refresh(
        spark, drops, target, checkpoint_dir=ckpt
    )
    assert _fact_set(fact_again) == f3
    assert {tuple(r) for r in annual_again.collect()} == {
        tuple(r) for r in annual3.collect()
    }


def _meta(target):
    with open(os.path.join(target, "_ivm_meta.json")) as f:
        return json.load(f)


def _uri(path):
    """A drop's provenance: the ``file:`` URI Spark's file source
    reports for it."""
    return "file:" + path


def test_monthly_refresh_landing_files(spark, tmp_path):
    """The refresh reads its landing zone through Spark's own file
    stream source, and only top-level ``.xls``/``.xlsx`` files (any
    letter case) count as drops: every drop that landed together is
    applied in one batch, in path order, while a CSV, a workbook in a
    subdirectory and ``.``/``_``-prefixed workbooks are never read.
    A drop whose mtime is months older than the drop before it is
    still applied on the next refresh."""
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline
    from epe_data_wrangling_spark.sources.xls_biff import write_xls

    drops = str(tmp_path / "drops")
    os.makedirs(os.path.join(drops, "sub"))
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    v1, v2, v3 = monthly_workbook_versions()
    applied = [
        os.path.join(drops, n)
        for n in ("DROP_002.XLSX", "drop_001.xls", "drop_003.xlsx")
    ]
    write_xlsx(applied[0], v2)
    write_xls(applied[1], v1)
    write_xlsx(applied[2], v3)
    # each ignored file holds a drop that would change the result
    for name in ("sub/drop.xls", ".hidden.xls", "_partial.xls"):
        write_xls(os.path.join(drops, name), v1)
    with open(os.path.join(drops, "notes.csv"), "w") as f:
        f.write("drop,month\n1,2005-01\n")

    sources: list[str] = []

    class _Sources(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sources.extend(s.description for s in event.progress.sources)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Sources()
    spark.streams.addListener(listener)
    try:
        fact, _ = epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
        # listener events arrive asynchronously
        for _ in range(100):
            if sources:
                break
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert sources and all(d.startswith("FileStreamSource[") for d in sources), sources

    meta = _meta(target)
    assert meta["last_batch_id"] == 0  # one batch
    assert meta["applied_files"] == sorted(_uri(p) for p in applied)
    # drop_003 (the golden workbook) is last in path order
    golden = _fact_set(run_pipeline(spark, workbook_grids()))
    assert _fact_set(fact) == golden

    # a later drop carrying an mtime half a year older than drop_003's
    late = os.path.join(drops, "drop_004.xlsx")
    write_xlsx(late, v2)
    old = os.stat(applied[2]).st_mtime - 180 * 86400
    os.utime(late, (old, old))
    fact, _ = epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    meta = _meta(target)
    assert meta["last_batch_id"] == 1
    assert meta["applied_files"] == sorted(_uri(p) for p in applied + [late])
    assert _fact_set(fact) == _fact_set(run_pipeline(spark, v2))


def test_monthly_refresh_fresh_checkpoint_skips_replay_raises_on_new_drop(
    spark, tmp_path
):
    """Exactly-once over a committed target whose provenance is the
    file source's ``file:`` URIs. A fresh checkpoint replays every
    landed drop as batch 0: with no new drop that is a committed
    replay, skipped with the tables unchanged; with a new drop it
    raises, instead of applying the committed drop a second time."""
    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    target = str(tmp_path / "state")
    first = os.path.join(drops, "drop_001.xlsx")
    write_xlsx(first, workbook_grids())
    fact, annual = epe_monthly_refresh(
        spark, drops, target, checkpoint_dir=str(tmp_path / "ckpt")
    )
    committed = _meta(target)
    assert committed == {"last_batch_id": 0, "applied_files": [_uri(first)]}
    f0 = _fact_set(fact)
    a0 = {tuple(r) for r in annual.collect()}

    fact, annual = epe_monthly_refresh(
        spark, drops, target, checkpoint_dir=str(tmp_path / "ckpt_fresh")
    )
    assert _meta(target) == committed
    assert _fact_set(fact) == f0
    assert {tuple(r) for r in annual.collect()} == a0

    write_xlsx(os.path.join(drops, "drop_002.xlsx"), workbook_grids())
    with pytest.raises(Exception, match="never-applied source files"):
        epe_monthly_refresh(
            spark, drops, target, checkpoint_dir=str(tmp_path / "ckpt_fresh_2")
        )
    assert _meta(target) == committed
