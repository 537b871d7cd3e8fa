"""The EPE monthly incremental refresh capstone
(`streaming.epe_monthly`): three cumulative workbook drops — months
missing, months published, a prior-month figure revised — maintained
incrementally, converging exactly on the from-scratch recompute of
the final drop (the frozen golden)."""

import os

from pyspark.sql import functions as F

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
