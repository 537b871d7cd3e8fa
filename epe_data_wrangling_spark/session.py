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
"""

from __future__ import annotations

import os

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


def get_spark(
    app_name: str = "epe_data_wrangling_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults."""
    cpus = cpu_count()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions or 2 * cpus)
    confs.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # the dir that holds the package, for the Python workers' imports
    confs["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
