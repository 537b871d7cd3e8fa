"""SparkSession construction with scale-tuned defaults.

The reference (``tratamento_epe.R``) runs eagerly in a single R
process with zero execution configuration. Here the session is the
one place execution policy lives; every operator in the library is a
pure logical-plan builder and inherits whatever session it is given
(the test driver passes its own session — library code must therefore
never *depend* on these configs for correctness, only performance;
e.g. casts that may fail use ``try_cast`` explicitly rather than
relying on ``spark.sql.ansi.enabled=false``).

Scale posture (local[32] test box → 1000-executor cluster):

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic join-strategy demotion make the same logical plans
  survive a 100× scale-up without retuning.
- ``spark.sql.shuffle.partitions`` defaults to 2× local cores here;
  on a real cluster you'd set it to ~2-3× total executor cores and
  let AQE coalesce down.
- Arrow enabled for any pandas interchange (ingest, mapInPandas).
- The package's parent dir is on the Python workers' path
  (``spark.executorEnv.PYTHONPATH``), so a UDF or Python parse that
  imports the package runs whatever the driver's working directory.

Local filesystem (``local[…]`` masters only): Spark ships no
``libhadoop``, so Hadoop's ``RawLocalFileSystem`` forks a ``chmod``
for every file, ``.crc`` sidecar and directory it creates, and
``FileContext.rename`` forks a ``readlink`` — a few ms each: 115 in
a warm ``write_fact`` of a 3-year workbook (110 serial in its one
write task) and 49 in a monthly-refresh op (30 on the stream thread,
from the checkpoint's offset, commit and source logs).
``jvm/ForkFreeLocalFs.java`` overrides just those two calls:
``setPermission`` is ``Files.setPosixFilePermissions`` (the same
``chmod(2)``; modes with bits above 0777 keep the stock path), and
``getFileLinkStatus`` of a path that is not a symlink is its
``getFileStatus``, which is what the stock fork returns for it. The
checksummed ``LocalFileSystem`` and ``ChecksumFs`` wrap it, so
``.crc`` sidecars are written and verified, modes are the stock ones,
and symlinks get the stock answers. The source is compiled once per
source and Spark jar set with the JDK's ``javac`` into
``jvm/build/`` and put on the driver classpath; it is set as
``fs.file.impl`` and ``fs.AbstractFileSystem.file.impl`` only for a
local master, where every task runs in the driver JVM (a cluster's
data filesystem does not fork). Without ``javac``, or if the compile
fails, the session keeps Hadoop's default and logs one warning.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # R-parity: as.numeric("abc") -> NA, never an error. Library code
    # still uses try_cast explicitly so it is correct under ANSI too.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
}


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_LOCAL_FS_SRC = os.path.join(_JVM_DIR, "ForkFreeLocalFs.java")
_LOCAL_FS_BUILD = os.path.join(_JVM_DIR, "build")
_LOCAL_FS = "epe.hadoop.ForkFreeLocalFs"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")

log = logging.getLogger(__name__)


def _local_fs_classes() -> str | None:
    """The class dir of ``ForkFreeLocalFs``, compiled on first use into
    a dir keyed by the source and Spark's jar names (so its Spark and
    Hadoop versions), published by one atomic rename so concurrent
    sessions are safe. None, after one warning, when it cannot be
    built."""
    from pyspark.find_spark_home import _find_spark_home

    try:
        jars = os.path.join(_find_spark_home(), "jars")
        with open(_LOCAL_FS_SRC, "rb") as f:
            key = hashlib.sha256(f.read() + "\n".join(sorted(os.listdir(jars))).encode())
        out = os.path.join(_LOCAL_FS_BUILD, key.hexdigest()[:16])
        if os.path.isdir(out):
            return out
        javac = shutil.which("javac")
        if javac is None:
            log.warning("no javac: local writes use Hadoop's forking local filesystem")
            return None
        os.makedirs(_LOCAL_FS_BUILD, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".tmp-", dir=_LOCAL_FS_BUILD)
        try:
            done = subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", os.path.join(jars, "*"),
                 "-d", tmp, _LOCAL_FS_SRC],
                capture_output=True, text=True, timeout=300,
            )
            if done.returncode:
                log.warning(
                    "javac failed, local writes use Hadoop's forking local filesystem:\n%s",
                    done.stderr[-2000:],
                )
                return None
            try:
                os.rename(tmp, out)
            except OSError:
                if not os.path.isdir(out):  # else a concurrent session published it
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return out
    except (OSError, subprocess.SubprocessError) as e:
        log.warning("local writes use Hadoop's forking local filesystem: %s", e)
        return None


def session_confs(
    master: str,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """Every conf ``get_spark`` sets for ``master``."""
    cpus = cpu_count()
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or 2 * cpus)
    confs.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # the dir that holds the package, for the Python workers' imports
    confs["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    if extra_conf:
        confs.update(extra_conf)
    if _LOCAL_MASTER.fullmatch(master) and (classes := _local_fs_classes()):
        cp = confs.get("spark.driver.extraClassPath")
        confs["spark.driver.extraClassPath"] = os.pathsep.join(p for p in (cp, classes) if p)
        confs.setdefault("spark.hadoop.fs.file.impl", f"{_LOCAL_FS}$FileSystem")
        confs.setdefault("spark.hadoop.fs.AbstractFileSystem.file.impl", f"{_LOCAL_FS}$Fs")
    return confs


def get_spark(
    app_name: str = "epe_data_wrangling_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpu_count()}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in session_confs(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
