"""Streaming sources over the driver's `events` table.

The reference has no streaming semantics at all — it is a monthly
batch refresh (`tratamento_epe.rmd:30`); this package is the
north-star extension surface (SURVEY §2.11). The design rule that
keeps it honest: every streaming query is the SAME logical
transformation as an oracle-checked batch query, applied to a
``readStream`` input instead of ``read`` — which is exactly the
Structured Streaming contract (one DataFrame program, two execution
modes).

``events.parquet``'s ``ts`` encoding varies by driver data generation
(TIMESTAMP(NANOS) or TIMESTAMP(MICROS) NTZ — see
``sources.tables.load_table``): the stream source reads with an
explicit schema (streaming scans cannot infer) and normalizes ``ts``
to a session-tz TIMESTAMP exactly like the batch reader, so batch and
stream run the same logical plan on the same type.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _as_stream_dir(parquet_file: str) -> str:
    """The file stream source requires a *directory* (its listing is
    what defines 'new files arrived'). The test corpus is one parquet
    file, so stage a temp directory containing a symlink to it —
    zero-copy, read-only on the source."""
    d = tempfile.mkdtemp(prefix="stream_src_")
    os.symlink(parquet_file, os.path.join(d, os.path.basename(parquet_file)))
    return d


def land_single_file(df: DataFrame, landing: str, name: str, order: int) -> None:
    """Write ``df`` as ONE parquet file named ``name`` in ``landing``
    with mtime bumped by ``order`` seconds — the landing contract
    every generation-ordered file stream relies on (file-source
    discovery order equals generation order). The before/after glob
    diff + rename + utime sequence is subtle enough to exist exactly
    once: fixture-side landers (`catalog.streaming_q._land_generations`,
    tools/supp, tests) all call this. ``maxRecordsPerFile`` is switched
    off for the write, so a session-wide cap cannot split the file."""
    import glob as globmod

    os.makedirs(landing, exist_ok=True)
    before = set(globmod.glob(os.path.join(landing, "*.parquet")))
    df.coalesce(1).write.mode("append").option("maxRecordsPerFile", 0).parquet(
        landing
    )
    new = set(globmod.glob(os.path.join(landing, "*.parquet"))) - before
    if len(new) != 1:
        raise RuntimeError(
            f"landing {name!r} wrote {len(new)} files into {landing}, not one"
        )
    path = os.path.join(landing, name)
    os.rename(new.pop(), path)
    t = os.path.getmtime(path)
    os.utime(path, (t + order, t + order))


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over the events parquet with the batch reader's
    schema and timestamp semantics.

    At cluster scale the same call points at an object-store
    directory that ingest keeps appending to; the file source tracks
    processed files in the checkpoint, giving exactly-once over an
    append-only landing zone.
    """
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(_as_stream_dir(path))
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # Current corpora store TIMESTAMP(MICROS, isAdjustedToUTC=false);
        # watermarks require LTZ. UTC session tz makes this value-preserving.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

