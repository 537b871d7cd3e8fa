"""The workbook reading path (sources.spark_datasource): Spark's
``binaryFile`` source (``workbook_files``) plus one Arrow parse
(``workbook_cells``), and the ``workbook`` sharded .xlsx writer.

Truth source: the in-memory grids the fixture workbooks are written
from. The Spark read path (executor-side parse → cell relation) must
reproduce every non-blank cell of every sheet, for both container
formats, for directory/glob multi-file loads and for landing-zone
streams.
"""

import os
import time

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
from epe_data_wrangling_spark.sources.spark_datasource import (
    register,
    workbook_cells,
    workbook_files,
)
from epe_data_wrangling_spark.sources.xls_biff import write_xls
from epe_data_wrangling_spark.sources.xlsx import write_xlsx


def _uri(path) -> str:
    """A workbook's ``file`` value: the ``file:`` URI Spark's file
    source reports for it."""
    return "file:" + str(path)


def _expected_cells(file: str, grids=None) -> set:
    """Truth = the stdlib reader's view of the FILE (the container
    writers legitimately trim trailing all-blank rows, so the raw
    in-memory grids are not the contract — the file is)."""
    from epe_data_wrangling_spark.sources.workbook import read_workbook_grids

    out = set()
    uri = _uri(file)
    for sheet_idx, (sheet, grid) in enumerate(read_workbook_grids(file).items()):
        n_rows = len(grid)
        n_cols = max((len(r) for r in grid), default=0)
        out.add((uri, sheet, sheet_idx, -1, -1, None, n_rows, n_cols))
        for r, row in enumerate(grid):
            for c, v in enumerate(row):
                if v is not None:
                    out.add((uri, sheet, sheet_idx, r, c, str(v), n_rows, n_cols))
    return out


@pytest.fixture(scope="module")
def workbook_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("wb_drop")
    grids = workbook_grids()
    write_xlsx(str(d / "drop_a.xlsx"), grids)
    write_xls(str(d / "drop_b.xls"), grids)
    return d, grids


def _read(spark, path):
    return workbook_cells(workbook_files(spark.read, str(path)))


def _stream_to(spark, land, out, ckpt, cells=True):
    """One availableNow run of the landing zone ``land`` into the
    parquet sink ``out``: its cells, or (``cells=False``) only the
    listed file paths. Returns everything the sink holds."""
    files = workbook_files(spark.readStream, str(land))
    df = workbook_cells(files) if cells else files.select("path")
    q = (
        df.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "availableNow run did not finish"
    return spark.read.parquet(str(out))


def test_single_xlsx_cells_match_grid_truth(spark, workbook_dir):
    d, grids = workbook_dir
    path = str(d / "drop_a.xlsx")
    got = {tuple(r) for r in _read(spark, path).collect()}
    assert got == _expected_cells(path, grids)


def test_single_xls_cells_match_grid_truth(spark, workbook_dir):
    d, grids = workbook_dir
    path = str(d / "drop_b.xls")
    got = {tuple(r) for r in _read(spark, path).collect()}
    assert got == _expected_cells(path, grids)


def test_directory_load_mixes_formats(spark, workbook_dir):
    d, grids = workbook_dir
    df = _read(spark, d)
    got = {tuple(r) for r in df.collect()}
    want = _expected_cells(str(d / "drop_a.xlsx"), grids) | _expected_cells(
        str(d / "drop_b.xls"), grids
    )
    assert got == want


def test_glob_load(spark, workbook_dir):
    d, grids = workbook_dir
    df = _read(spark, str(d / "*.xls"))
    got = {tuple(r) for r in df.collect()}
    assert got == _expected_cells(str(d / "drop_b.xls"), grids)


def test_missing_path_raises(spark, workbook_dir):
    d, _ = workbook_dir
    with pytest.raises(Exception, match="no workbook files"):
        _read(spark, str(d / "nope_dir")).collect()


def test_header_row_reconstructs_readxl_names(spark, workbook_dir):
    """Row 0 of each sheet is the header row under read_xls semantics;
    the cell relation must let downstream rebuild the exact names the
    driver-side ingester produces (``...k`` for blank header cells)."""
    from epe_data_wrangling_spark.sources.workbook import readxl_names

    d, grids = workbook_dir
    df = _read(spark, str(d / "drop_a.xlsx"))
    hdr = df.where("row_idx = 0").collect()
    by_sheet: dict[str, dict[int, str]] = {}
    for row in hdr:
        by_sheet.setdefault(row.sheet, {})[row.col_idx] = row.value
    for sheet, grid in grids.items():
        width = len(grid[0])
        cells = by_sheet.get(sheet, {})
        rebuilt = [cells.get(i) for i in range(width)]
        assert readxl_names(rebuilt) == readxl_names(grid[0])


@pytest.mark.parametrize("mode", ["read", "readStream"])
def test_workbook_files_admits_only_top_level_workbooks(spark, tmp_path, mode):
    """Batch and stream count the same files as workbooks: top-level
    names ending in .xls/.xlsx in any letter case. Other extensions,
    files in subdirectories and ``_``/``.``-prefixed names (hidden to
    Spark's file listing) are skipped."""
    land = tmp_path / "land"
    (land / "sub").mkdir(parents=True)
    admitted = ("UP.XLSX", "drop_1.xlsx", "drop_2.xls")
    for name in admitted + ("notes.csv", "sub/x.xls", "_hidden.xls", ".hidden.xlsx"):
        (land / name).write_bytes(b"x")  # listed, never parsed
    if mode == "read":
        paths = [r.path for r in workbook_files(spark.read, str(land)).collect()]
    else:
        sink = _stream_to(spark, land, tmp_path / "out", tmp_path / "ckpt", cells=False)
        paths = [r.path for r in sink.collect()]
    assert sorted(paths) == sorted(_uri(land / n) for n in admitted)


def test_streaming_landing_zone_exactly_once(spark, tmp_path):
    """Drops land between two availableNow runs over ONE checkpoint:
    each file's cells are emitted exactly once (the file source's
    seen-file log), so the cumulative sink holds both drops without
    dups. The second drop carries an mtime 20 years older than the
    first and is still read: the file source's default ``maxFileAge``
    (7 days before the newest seen file) would skip it."""
    land = tmp_path / "land"
    land.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    grids = workbook_grids()
    write_xlsx(str(land / "drop1.xlsx"), grids)
    n_cells = len(_expected_cells(str(land / "drop1.xlsx")))  # incl. markers
    assert _stream_to(spark, land, out, ckpt).count() == n_cells
    drop2 = str(land / "drop2.xls")
    write_xls(drop2, grids)  # second drop, other format
    old = os.stat(land / "drop1.xlsx").st_mtime - 20 * 365 * 86400
    os.utime(drop2, (old, old))
    sink = _stream_to(spark, land, out, ckpt)
    assert sink.count() == 2 * n_cells
    files = {
        r.file.rsplit("/", 1)[-1] for r in sink.select("file").distinct().collect()
    }
    assert files == {"drop1.xlsx", "drop2.xls"}


def test_stream_relanded_drop_is_not_reemitted(spark, tmp_path):
    """A drop removed after it was emitted (retention cleanup), then
    re-landed under the same name with a newer mtime, is not emitted
    again. Every run is a fresh query over the same checkpoint, so the
    seen-file log survives restarts: it is the file source's own, kept
    in the checkpoint."""
    land = tmp_path / "land"
    land.mkdir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "out"
    drop = str(land / "drop1.xlsx")
    grids = {"S1": [["h1", "h2"], ["a", "b"]]}
    write_xlsx(drop, grids)
    assert _stream_to(spark, land, out, ckpt).count() == 5  # marker + 4 cells
    os.remove(drop)
    assert _stream_to(spark, land, out, ckpt).count() == 5
    write_xlsx(drop, grids)
    later = time.time() + 3600
    os.utime(drop, (later, later))
    assert _stream_to(spark, land, out, ckpt).count() == 5


def test_listed_file_gone_before_its_read_raises(spark, tmp_path):
    """A workbook listed at load but removed before its task reads it
    fails the read with Spark's own missing-file error
    (``ignoreMissingFiles`` is off), instead of silently dropping it."""
    land = tmp_path / "land"
    land.mkdir()
    for name in ("a.xlsx", "b.xlsx"):
        write_xlsx(str(land / name), {"S1": [["h"], ["v"]]})
    cells = _read(spark, land)
    os.remove(land / "b.xlsx")
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        cells.collect()


def test_burst_parses_in_several_tasks(spark):
    """``streaming_workbook_burst`` lands its 8 drops before one
    availableNow run, and the file source packs them into at least two
    scan tasks, so they parse in parallel. Read from the status store:
    a stream's jobs run in a job group named by the query's run id."""
    from epe_data_wrangling_spark.catalog.streaming_q import (
        WB_BURST_DROPS,
        streaming_workbook_burst,
    )

    run_ids: list[str] = []

    class _Runs(StreamingQueryListener):
        def onQueryStarted(self, event):
            run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Runs()
    spark.streams.addListener(listener)
    try:
        rows = streaming_workbook_burst(spark, "").collect()
    finally:
        spark.streams.removeListener(listener)
    assert len(rows) == WB_BURST_DROPS * len(workbook_grids())
    [run_id] = run_ids
    tracker = spark.sparkContext.statusTracker()
    tasks = [
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup(run_id)
        for stage in tracker.getJobInfo(job).stageIds
    ]
    assert max(tasks) >= 2, tasks


def test_geometry_survives_sparse_encoding(spark, tmp_path):
    """Empty sheets and trailing all-blank rows/columns must survive
    the sparse cell encoding (the 13-column dispatch depends on an
    EMPTY 13th column still being 13th): the marker rows + carried
    dims make grids_from_cells an exact inverse."""
    from epe_data_wrangling_spark.sources.spark_datasource import grids_from_cells

    grids = {
        "S1": [["h1", "h2", None], ["a", None, None], [None, None, None]],
        "EMPTY": [[None, None]],
        "S3": [["x"]],
    }
    path = str(tmp_path / "geo.xlsx")
    write_xlsx(path, grids)
    rebuilt = grids_from_cells(_read(spark, path))
    # xlsx write/read round-trip itself trims nothing: compare to the
    # driver-side reader's view of the same file
    from epe_data_wrangling_spark.sources.workbook import read_workbook_grids

    assert rebuilt == read_workbook_grids(path)
    assert list(rebuilt) == ["S1", "EMPTY", "S3"]


def test_ragged_grid_rejected_at_emission():
    """The cell relation's sparse encoding is only lossless for
    rectangular grids (every read_workbook_grids engine emits them);
    a ragged grid must fail loudly at the emission boundary — padded
    short rows could otherwise flip the header-width Shape-A/B
    dispatch downstream (r4 advice)."""
    import pytest

    from epe_data_wrangling_spark.sources.spark_datasource import _emit_sheet_cells

    with pytest.raises(ValueError, match="ragged grid"):
        _emit_sheet_cells("f.xlsx", 0, "S1", [["h1", "h2"], ["a", "b", "JUNK"]])
    # rectangular grids (incl. all-None rows) still emit fine
    rows = _emit_sheet_cells("f.xlsx", 0, "S1", [["h1", "h2"], [None, None]])
    assert rows[0][3] == -1 and rows[0][6:] == (2, 2)


def test_workbook_writer_round_trip_and_commit_protocol(spark, tmp_path):
    """The write twin: df.write.format('workbook') must (1) publish
    one real .xlsx shard per non-empty partition with a _SUCCESS
    manifest and no _temporary leftovers (two-phase commit), and
    (2) round-trip content through the workbook READ path under the
    all-text contract."""
    import json

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.spark_datasource import grids_from_cells

    register(spark)
    out = str(tmp_path / "export")
    df = (
        spark.range(0, 20)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        )
        .repartition(3)
    )
    df.write.format("workbook").mode("overwrite").save(out)

    files = sorted(os.listdir(out))
    shards = [f for f in files if f.startswith("part-") and f.endswith(".xlsx")]
    assert shards and "_SUCCESS" in files and "_temporary" not in files
    manifest = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["n_rows"] == 20
    assert set(manifest["shards"]) == set(shards)

    # grids_from_cells reassembles ONE workbook (keyed by sheet name),
    # so read each shard separately — every shard carries the same
    # 'data' sheet by design
    rows = []
    for shard in shards:
        [grid] = grids_from_cells(_read(spark, os.path.join(out, shard))).values()
        assert grid[0] == ["k", "s"]  # header row = schema names
        rows += grid[1:]
    assert sorted(rows) == sorted([[str(i), f"v{i}"] for i in range(20)])

    # overwrite replaces prior shards, never appends to them
    df.limit(5).repartition(1).write.format("workbook").mode("overwrite").save(out)
    manifest2 = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest2["n_rows"] == 5
    shards2 = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".xlsx")]
    assert set(manifest2["shards"]) == set(shards2)

    # append numbers new shards AFTER the existing max and merges the
    # manifest — never clobbers published shards (r5 review finding)
    df.limit(3).repartition(1).write.format("workbook").mode("append").save(out)
    manifest3 = json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest3["n_rows"] == 8
    shards3 = [f for f in os.listdir(out) if f.startswith("part-") and f.endswith(".xlsx")]
    assert set(manifest3["shards"]) == set(shards3) and len(shards3) == 2
    assert set(manifest2["shards"]) < set(manifest3["shards"])


def test_workbook_writer_null_cells_round_trip(spark, tmp_path):
    """NULLs must come back as the reader's None (blank cell), not ''
    — and the header row pins the grid width even when an entire
    column is null."""
    from epe_data_wrangling_spark.sources.spark_datasource import grids_from_cells

    register(spark)
    out = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [("a", None, None), (None, "b", None), ("c", "d", None)],
        "x string, y string, all_null string",
    ).coalesce(1)
    df.write.format("workbook").mode("overwrite").save(out)
    [shard] = [f for f in os.listdir(out) if f.endswith(".xlsx")]
    [grid] = grids_from_cells(_read(spark, os.path.join(out, shard))).values()
    assert grid[0] == ["x", "y", "all_null"]
    key = lambda r: [("" if v is None else "\x01" + v) for v in r]  # noqa: E731
    assert sorted(grid[1:], key=key) == [
        [None, "b", None],
        ["a", None, None],
        ["c", "d", None],
    ]


def test_workbook_cells_runs_outside_the_repo_root(tmp_path):
    """The Python workers find the package whatever the driver's
    working directory: a fresh process started in ``tmp_path``, with
    only its own ``sys.path`` pointing at the package, parses a
    one-sheet workbook through `workbook_cells` (the parse runs in
    the workers, which do not inherit the driver's ``sys.path``)."""
    import subprocess
    import sys

    import epe_data_wrangling_spark

    root = os.path.dirname(os.path.dirname(epe_data_wrangling_spark.__file__))
    drop = tmp_path / "drop"
    drop.mkdir()
    write_xlsx(str(drop / "one.xlsx"), {"S1": [["a", "1"], ["b", None]]})
    script = f"""
import sys
sys.path.insert(0, {root!r})
from epe_data_wrangling_spark.session import get_spark
from epe_data_wrangling_spark.sources.spark_datasource import (
    workbook_cells, workbook_files,
)
spark = get_spark(app_name="cwd_probe", master="local[1]", shuffle_partitions=1)
cells = workbook_cells(workbook_files(spark.read, {str(drop)!r}))
print("cells", sorted(r.value for r in cells.collect() if r.value is not None))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert "cells ['1', 'a', 'b']" in done.stdout, done.stdout
