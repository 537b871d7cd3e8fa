"""The fork-free ``file:`` filesystem of local sessions (``session.py``,
``jvm/ForkFreeLocalFs.java``): the sink and the stream checkpoint
start no process, and the stock local filesystem's contract holds —
modes, ``.crc`` sidecars and their verification."""

from __future__ import annotations

import logging
import os
import threading

import pytest

from epe_data_wrangling_spark import session
from epe_data_wrangling_spark.plans.epe_demo import monthly_workbook_versions
from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline, write_fact
from epe_data_wrangling_spark.sources.xlsx import write_xlsx
from epe_data_wrangling_spark.streaming.epe_monthly import epe_monthly_refresh
from tests.epe_fixtures import workbook_grids

SHIM_CONFS = (
    "spark.driver.extraClassPath",
    "spark.hadoop.fs.file.impl",
    "spark.hadoop.fs.AbstractFileSystem.file.impl",
)


def _process_starts(spark, tmp, name, step) -> list[str]:
    """The commands of the processes Hadoop's code starts in the driver
    JVM while ``step()`` runs (JFR ``jdk.ProcessStart``, recorded
    through py4j): those with a Hadoop frame on their stack. Spark's own
    housekeeping, which runs on other threads whatever the step — the
    heartbeat's once-per-JVM ``getconf PAGESIZE``, the cleaner's
    ``rm -rf`` of an earlier session's artifacts — is left out."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try:
        step()
    finally:
        rec.stop()
    path = jvm.java.io.File(str(tmp / f"{name}.jfr")).toPath()
    rec.dump(path)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
    starts = []
    for e in (events.get(i) for i in range(events.size())):
        frames = e.getStackTrace().getFrames()
        classes = (frames.get(j).getMethod().getType().getName() for j in range(frames.size()))
        if any(c.startswith("org.apache.hadoop.") for c in classes):
            starts.append(e.getString("command"))
    return starts


@pytest.fixture(scope="module")
def warm(spark, tmp_path_factory):
    """A demo-workbook ``write_fact`` and a monthly-refresh drop onto a
    standing target, each recorded after an unrecorded warm-up of the
    same step, with the process starts of each."""
    tmp = tmp_path_factory.mktemp("local_fs")
    fact = run_pipeline(spark, workbook_grids())
    write_fact(fact, str(tmp / "warmup"))
    ingest = _process_starts(spark, tmp, "ingest", lambda: write_fact(fact, str(tmp / "fact")))

    drops, state, ckpt = (str(tmp / d) for d in ("drops", "state", "ckpt"))
    os.makedirs(drops)
    v1, v2, _ = monthly_workbook_versions()
    write_xlsx(os.path.join(drops, "drop_001.xlsx"), v1)
    epe_monthly_refresh(spark, drops, state, checkpoint_dir=ckpt)
    write_xlsx(os.path.join(drops, "drop_002.xlsx"), v2)
    refresh = _process_starts(
        spark, tmp, "refresh",
        lambda: epe_monthly_refresh(spark, drops, state, checkpoint_dir=ckpt),
    )
    return {"tmp": tmp, "ingest": ingest, "refresh": refresh}


def test_local_writes_start_no_process(warm):
    """Hadoop's stock local filesystem forks ``chmod`` per file, sidecar
    and directory and ``readlink`` per FileContext rename: about 80
    forks for this write and about 50 for the drop."""
    assert warm["ingest"] == [], warm["ingest"][:5]
    assert warm["refresh"] == [], warm["refresh"][:5]


def test_file_scheme_resolves_to_the_shim(spark):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.java.net.URI("file:///")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(root, hconf)
    assert fs.getClass().getName() == "epe.hadoop.ForkFreeLocalFs$FileSystem"
    assert fs.getRawFileSystem().getClass().getName() == "epe.hadoop.ForkFreeLocalFs$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(root, hconf)
    assert fc.getDefaultFileSystem().getClass().getName() == "epe.hadoop.ForkFreeLocalFs$Fs"


def test_modes_and_checksum_sidecars_are_the_stock_ones(spark, warm):
    """Every file and dir of the sink (``FileSystem``) and of the stream
    checkpoint (``FileContext``) gets Hadoop's default mode under its
    umask, and every data file has its ``.crc`` sidecar."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(hconf).toShort()
    out = str(warm["tmp"] / "fact")
    parts, months = 0, len(os.listdir(out)) - 2  # less _SUCCESS and its sidecar
    for top in (out, str(warm["tmp"] / "ckpt")):
        for d, dirs, files in os.walk(top):
            assert os.stat(d).st_mode & 0o7777 == 0o777 & ~umask, d
            for f in files:
                assert os.stat(os.path.join(d, f)).st_mode & 0o7777 == 0o666 & ~umask, f
                if f.endswith(".parquet"):
                    parts += 1
                    assert f".{f}.crc" in files, (d, f)
    assert parts >= months > 0


def test_set_permission_is_chmod(spark, tmp_path):
    """Plain modes are set in the JVM; a sticky dir keeps the stock
    path; both land on disk exactly."""
    jvm = spark._jvm
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )
    f, d = tmp_path / "f", tmp_path / "d"
    f.write_text("x")
    d.mkdir()
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(f)), FsPermission.valueOf("-rw-r-----"))
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(d)), FsPermission.valueOf("drwxrwxrwt"))
    assert os.stat(f).st_mode & 0o7777 == 0o640
    assert os.stat(d).st_mode & 0o7777 == 0o1777


def test_flipped_byte_in_snapshot_fails_the_read(spark, warm, tmp_path):
    """The checksummed wrapper still verifies reads: one flipped byte in
    a committed ``snapshot/`` part (a copy, with its sidecars) fails the
    read with a checksum error."""
    import shutil

    snap = str(tmp_path / "snapshot")
    shutil.copytree(str(warm["tmp"] / "state" / "snapshot"), snap)
    assert spark.read.parquet(snap).count() > 0
    part = next(os.path.join(snap, f) for f in sorted(os.listdir(snap)) if f.endswith(".parquet"))
    with open(part, "r+b") as fh:
        fh.seek(os.path.getsize(part) // 2)
        b = fh.read(1)
        fh.seek(-1, os.SEEK_CUR)
        fh.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="(?i)checksum"):
        spark.read.parquet(snap).collect()


def test_non_local_master_keeps_the_stock_filesystem():
    for master in ("spark://host:7077", "local-cluster[2,1,1024]", "yarn"):
        confs = session.session_confs(master)
        assert not any(k in confs for k in SHIM_CONFS), master


@pytest.mark.parametrize("broken", ["no_javac", "compile_error"])
def test_unbuildable_shim_keeps_the_stock_filesystem(broken, monkeypatch, tmp_path, caplog):
    build = tmp_path / "build"
    monkeypatch.setattr(session, "_LOCAL_FS_BUILD", str(build))
    if broken == "no_javac":
        monkeypatch.setenv("PATH", str(tmp_path))
    else:
        src = tmp_path / "ForkFreeLocalFs.java"
        src.write_text("class ForkFreeLocalFs { not java }")
        monkeypatch.setattr(session, "_LOCAL_FS_SRC", str(src))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        confs = session.session_confs("local[2]")
    assert not any(k in confs for k in SHIM_CONFS)
    assert len(caplog.records) == 1, caplog.records
    assert not build.exists() or os.listdir(build) == []


def test_shim_classpath_appends_to_the_callers(monkeypatch, tmp_path):
    """Two sessions compiling at once into an empty cache publish one
    class dir, which is appended to a caller's driver classpath."""
    monkeypatch.setattr(session, "_LOCAL_FS_BUILD", str(tmp_path / "build"))
    got = []
    threads = [
        threading.Thread(target=lambda: got.append(session._local_fs_classes()))
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert got[0] is not None and got[0] == got[1]
    assert os.listdir(tmp_path / "build") == [os.path.basename(got[0])]
    assert os.path.isfile(os.path.join(got[0], "epe", "hadoop", "ForkFreeLocalFs$Raw.class"))
    confs = session.session_confs("local[2]", extra_conf={"spark.driver.extraClassPath": "extra.jar"})
    assert confs["spark.driver.extraClassPath"] == os.pathsep.join(("extra.jar", got[0]))
    assert confs["spark.hadoop.fs.file.impl"] == "epe.hadoop.ForkFreeLocalFs$FileSystem"
