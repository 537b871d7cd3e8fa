"""The EPE monthly incremental refresh capstone
(`streaming.epe_monthly`): three cumulative workbook drops — months
missing, months published, a prior-month figure revised — maintained
incrementally, converging exactly on the from-scratch recompute of
the final drop (the frozen golden); the landing zone read through
Spark's file stream source, and exactly-once under a fresh
checkpoint."""

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from epe_data_wrangling_spark.plans.epe_demo import (
    monthly_workbook_versions,
    workbook_grids,
)
from epe_data_wrangling_spark.sources.xlsx import write_xlsx
from epe_data_wrangling_spark.streaming.epe_monthly import LAYOUT, epe_monthly_refresh
from tests.crash import COMMIT_POINTS, CrashOnce, crash_commit_at


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
    assert committed == {
        "last_batch_id": 0, "applied_files": [_uri(first)], "layout": LAYOUT,
    }
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


def _annual_set(df):
    return {tuple(r) for r in df.collect()}


def _refresh_sets(spark, drops, target, ckpt):
    fact, annual = epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    return _fact_set(fact), _annual_set(annual)


@pytest.fixture(scope="module")
def two_drop_refresh(spark, tmp_path_factory):
    """Drops v1 then v2 of the demo workbook, refreshed one at a time
    without a crash: the standing ``(fact, annual)`` as row sets."""
    base = tmp_path_factory.mktemp("monthly_two_drops")
    drops = str(base / "drops")
    os.makedirs(drops)
    v1, v2, _ = monthly_workbook_versions()
    for k, v in enumerate((v1, v2), 1):
        write_xlsx(os.path.join(drops, f"drop_{k:03d}.xlsx"), v)
        got = _refresh_sets(spark, drops, str(base / "state"), str(base / "ckpt"))
    return got


@pytest.mark.parametrize("point", ["after_image_write", *COMMIT_POINTS])
def test_monthly_refresh_crash_at_every_commit_step_recovers(
    spark, tmp_path, monkeypatch, two_drop_refresh, point
):
    """The refresh's second drop crashed at each step of its write and
    commit — after the new image reached the stage's ``snapshot/`` but
    before the ``view/`` write, after the step, after the meta write,
    between `_atomic_swap`'s two renames, and after promotion but
    before the old dir's rmtree — then restarted on the SAME
    checkpoint: the returned fact and annual equal the no-crash run, no
    ``.stage-*``/``.old-*`` dir survives, and a forced replay of the
    committed batch skips."""
    import glob

    from epe_data_wrangling_spark.streaming import epe_monthly

    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    target, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    v1, v2, _ = monthly_workbook_versions()
    write_xlsx(os.path.join(drops, "drop_001.xlsx"), v1)
    _refresh_sets(spark, drops, target, ckpt)  # batch 0 commits
    write_xlsx(os.path.join(drops, "drop_002.xlsx"), v2)
    if point == "after_image_write":
        stage = f"{target}.stage-1"
        monkeypatch.setattr(epe_monthly, "_additive_merge", CrashOnce(
            epe_monthly._additive_merge,
            lambda *a: os.path.isdir(os.path.join(stage, "snapshot"))
            and not os.path.exists(os.path.join(stage, "view")),
        ))
    else:
        crash_commit_at(monkeypatch, point, target, 1)
    with pytest.raises(Exception, match="injected crash"):
        _refresh_sets(spark, drops, target, ckpt)
    monkeypatch.undo()
    assert _refresh_sets(spark, drops, target, ckpt) == two_drop_refresh
    assert not glob.glob(f"{glob.escape(target)}.stage-*")
    assert not glob.glob(f"{glob.escape(target)}.old-*")
    for f in ("1", ".1.crc"):  # un-commit batch 1 in the checkpoint
        os.remove(os.path.join(ckpt, "commits", f))
    assert _refresh_sets(spark, drops, target, ckpt) == two_drop_refresh
    assert _meta(target)["last_batch_id"] == 1


def _rewrite_meta(target, **fields):
    meta = {**_meta(target), **fields}
    with open(os.path.join(target, "_ivm_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def test_monthly_refresh_layout_guard_raises_before_any_read(
    spark, tmp_path, monkeypatch
):
    """A target committed with another ``layout`` raises before any of
    its tables is read, with or without a new drop, and the committed
    meta stays as it was."""
    from epe_data_wrangling_spark.streaming import epe_monthly

    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    target, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    v1, v2, _ = monthly_workbook_versions()
    write_xlsx(os.path.join(drops, "drop_001.xlsx"), v1)
    epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    other = {**LAYOUT, "snapshot": LAYOUT["snapshot"].replace("valor DOUBLE", "valor FLOAT")}
    committed = _rewrite_meta(target, layout=other)

    reads = []
    real_read = epe_monthly._read
    monkeypatch.setattr(
        epe_monthly, "_read", lambda *a: reads.append(a) or real_read(*a)
    )
    with pytest.raises(Exception, match="layout"):
        epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)  # no new drop
    write_xlsx(os.path.join(drops, "drop_002.xlsx"), v2)
    with pytest.raises(Exception, match="layout"):
        epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    assert reads == []
    assert _meta(target) == committed


def test_monthly_refresh_layout_guard_catches_missing_column(spark, tmp_path):
    """A target whose ``view/`` was rewritten without ``valor_micro``
    (and committed that layout) raises: read with the declared schema,
    the missing column would come back as NULL instead."""
    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    target, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    write_xlsx(os.path.join(drops, "drop_001.xlsx"), workbook_grids())
    epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    view = os.path.join(target, "view")
    narrow = str(tmp_path / "narrow")
    spark.read.parquet(view).drop("valor_micro").write.parquet(narrow)
    shutil.rmtree(view)
    os.rename(narrow, view)
    narrow_ddl = "chave_seletora STRING, ano INT, n_meses BIGINT"
    assert "valor_micro" not in spark.read.parquet(view).columns
    _rewrite_meta(target, layout={**LAYOUT, "view": narrow_ddl})
    # what an unguarded declared-schema read would return
    declared = spark.read.schema(LAYOUT["view"]).parquet(view)
    assert {r.valor_micro for r in declared.collect()} == {None}
    with pytest.raises(RuntimeError, match="layout"):
        epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)


def test_monthly_refresh_adopts_target_without_layout(spark, tmp_path):
    """A target committed before the layout was recorded (no ``layout``
    key) is read as it is, and records the layout on its next commit."""
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline

    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    target, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    v1, v2, _ = monthly_workbook_versions()
    write_xlsx(os.path.join(drops, "drop_001.xlsx"), v1)
    first = _refresh_sets(spark, drops, target, ckpt)
    meta = _meta(target)
    del meta["layout"]
    with open(os.path.join(target, "_ivm_meta.json"), "w") as f:
        json.dump(meta, f)
    assert _refresh_sets(spark, drops, target, ckpt) == first
    assert "layout" not in _meta(target)  # a run with no drop commits nothing
    write_xlsx(os.path.join(drops, "drop_002.xlsx"), v2)
    fact, _ = _refresh_sets(spark, drops, target, ckpt)
    assert _meta(target)["layout"] == LAYOUT
    assert fact == _fact_set(run_pipeline(spark, v2))


def test_monthly_refresh_drops_landed_together(spark, tmp_path):
    """Three drops landed together return the same fact and annual as
    the same drops refreshed one at a time: each drop is a cumulative
    publication, so one diff against the last drop nets out the whole
    sequence. A malformed middle drop (a Shape-A sheet with 11 unnamed
    columns) still fails its batch, and the committed meta stays as it
    was."""
    versions = monthly_workbook_versions()

    def landed(name, together):
        drops = str(tmp_path / name / "drops")
        os.makedirs(drops)
        target, ckpt = str(tmp_path / name / "state"), str(tmp_path / name / "ckpt")
        for k, v in enumerate(versions, 1):
            write_xlsx(os.path.join(drops, f"drop_{k:03d}.xlsx"), v)
            if not together:
                got = _refresh_sets(spark, drops, target, ckpt)
        if together:
            got = _refresh_sets(spark, drops, target, ckpt)
        return got, target

    one_by_one, _ = landed("one_by_one", together=False)
    together, target = landed("together", together=True)
    assert together == one_by_one
    assert _meta(target)["last_batch_id"] == 0

    drops = str(tmp_path / "bad" / "drops")
    os.makedirs(drops)
    target, ckpt = str(tmp_path / "bad" / "state"), str(tmp_path / "bad" / "ckpt")
    write_xlsx(os.path.join(drops, "drop_001.xlsx"), versions[0])
    epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    committed = _meta(target)
    # TOTAL's 12 unnamed month columns cut to 11
    bad = {s: [r[:12] for r in g] if s == "TOTAL" else g for s, g in versions[1].items()}
    write_xlsx(os.path.join(drops, "drop_002.xlsx"), versions[1])
    write_xlsx(os.path.join(drops, "drop_003.xlsx"), bad)
    write_xlsx(os.path.join(drops, "drop_004.xlsx"), versions[2])
    with pytest.raises(Exception, match="11 unnamed columns"):
        epe_monthly_refresh(spark, drops, target, checkpoint_dir=ckpt)
    assert _meta(target) == committed
