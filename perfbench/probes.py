"""Frozen ambient-noise probes, copied unchanged from ``bench.py``.

They run once per benchmark run, outside the timed region, as
diagnostics with no bound: when a run reads slow, a slow probe says
the host was busy, and a normal probe says the program changed.
``bench.py`` scans the seed-42 ``lineitem`` table, which lives
outside the checkout; here the same plans scan a fixed synthetic
``lineitem`` with the columns they read, at the sf0.1 row count. Its
contents never depend on the run's seed, so readings compare across
runs and commits.
"""

from __future__ import annotations

import os
import time

LINEITEM_ROWS = 600_000


def write_lineitem(spark, sf_dir: str) -> None:
    """``sf_dir/lineitem.parquet``: 150k orders of 4 lines, 1,000
    suppliers, quantities 1-50, return flags A/N/R."""
    from pyspark.sql import functions as F

    h = F.xxhash64("id")
    (
        spark.range(LINEITEM_ROWS, numPartitions=1)
        .select(
            (F.col("id") / 4).cast("long").alias("l_orderkey"),
            (F.abs(h % 1000) + 1).alias("l_suppkey"),
            (F.abs(F.xxhash64(h) % 50) + 1).cast("double").alias("l_quantity"),
            (F.abs(h % 10_000_000) / 100 + 900).alias("l_extendedprice"),
            F.element_at(F.array(*map(F.lit, "ANR")), (F.abs(h % 3) + 1).cast("int"))
            .alias("l_returnflag"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(sf_dir, "lineitem.parquet"))
    )


def calibration_probe(spark, sf_dir: str) -> float:
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    t0 = time.perf_counter()
    (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_quantity").alias("q"),
            F.sum("l_extendedprice").alias("p"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def calibration_probe_shuffle(spark, sf_dir: str) -> float:
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    t0 = time.perf_counter()
    (
        li.repartition(32, "l_orderkey")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def read_probes(spark, sf_dir: str) -> dict[str, float]:
    """One reading of each probe. There is no untimed compile pass:
    each reading includes the plan's code generation, which is CPU
    work as sensitive to a busy host as the rest."""
    write_lineitem(spark, sf_dir)
    return {
        "probe.scan_s": calibration_probe(spark, sf_dir),
        "probe.shuffle_s": calibration_probe_shuffle(spark, sf_dir),
    }
