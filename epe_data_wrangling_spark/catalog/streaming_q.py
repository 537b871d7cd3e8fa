"""Structured Streaming suite (SURVEY §2.11 — extension surface; the
reference is batch-only).

Each query builds a real ``readStream`` plan over the events table,
executes it to completion (availableNow → memory sink via
``streaming.ops.run_to_memory``), and returns the materialized
result, so the driver's collect-and-compare contract applies to
streaming exactly as to batch. The oracles are the same SQL as the
batch twins — the point: one logical plan, two execution modes,
identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from epe_data_wrangling_spark.catalog import CatalogQuery, make_registrar
from epe_data_wrangling_spark.operators.kmeans import SPREAD_SAMPLE_CAP
from epe_data_wrangling_spark.streaming import ops
from epe_data_wrangling_spark.streaming.ops import STREAM_TIMEOUT_SEC
from epe_data_wrangling_spark.streaming.sources import stream_events

QUERIES: dict[str, CatalogQuery] = {}
query = make_registrar(QUERIES)


def _await_or_stop(q, tag: str) -> None:
    """`awaitTermination` with the return value CHECKED — the idiom
    `streaming.ops._run_foreach_batch` uses, shared by the catalog
    queries that drive a query handle directly: a hung stream must
    raise, not silently fall through to reading partial output as the
    certified result. Stops the query either way."""
    try:
        if not q.awaitTermination(STREAM_TIMEOUT_SEC):
            raise TimeoutError(
                f"{tag} stream still running after {STREAM_TIMEOUT_SEC}s"
            )
    finally:
        q.stop()


def _land_generations(landing: str, gens, prefix: str = "g"):
    """Write each generation DataFrame as ONE parquet file into the
    landing dir with strictly increasing mtimes, so file-source
    discovery order equals generation order — the ordering contract
    the snapshot sinks enforce. Returns the landed files' schema.

    All generations land from ONE Spark job (r17): the tagged union
    writes ``partitionBy("_gen")`` with each generation range-pinned
    to a single task (so exactly one file per generation), and the
    files rename into the landing exactly as the per-generation
    loop produced them — same schema (the partition column never
    reaches the file), same rows, same name/mtime contract. The
    former loop paid one job + single-task write + commit per
    generation (measured r17: 4.6 s of the distinct-oplog headline's
    landing was 3 serialized jobs). An empty generation (no
    ``_gen=i`` dir) falls back to the shared single-file lander.
    Both writes switch ``maxRecordsPerFile`` off, so a session-wide
    cap cannot split a generation into several files."""
    import glob as globmod
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.sources import land_single_file

    gens = list(gens)
    os.makedirs(landing, exist_ok=True)
    if not gens:
        return None
    if len(gens) == 1:
        land_single_file(gens[0], landing, f"{prefix}1.parquet", 1)
        return gens[0].schema
    cols = gens[0].columns
    u = None
    for i, g in enumerate(gens, start=1):
        t = g.select(*cols).withColumn("_gen", F.lit(i))
        u = t if u is None else u.unionByName(t)
    # tmp beside (not inside) the landing: same filesystem for the
    # renames, invisible to the landing glob
    tmp = tempfile.mkdtemp(
        prefix="_land-", dir=os.path.dirname(os.path.abspath(landing))
    )
    try:
        (
            # range partitioning: each _gen VALUE gets its own partition
            # (hash could collide all generations into one task and
            # serialize the whole write again)
            u.repartitionByRange(len(gens), "_gen")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 0)
            .partitionBy("_gen")
            .parquet(tmp)
        )
        for i, g in enumerate(gens, start=1):
            gdir = os.path.join(tmp, f"_gen={i}")
            files = (
                sorted(globmod.glob(os.path.join(gdir, "*.parquet")))
                if os.path.isdir(gdir)
                else []
            )
            dest = os.path.join(landing, f"{prefix}{i}.parquet")
            if len(files) == 1:
                os.rename(files[0], dest)
            else:
                # empty generation, or a write that split unexpectedly
                land_single_file(g, landing, f"{prefix}{i}.parquet", i)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # one normalization pass AFTER every file exists: mtimes strictly
    # increase in generation order regardless of which path landed a
    # file (the discovery-order contract land_single_file states)
    base = max(
        os.path.getmtime(os.path.join(landing, f"{prefix}{i}.parquet"))
        for i in range(1, len(gens) + 1)
    )
    for i in range(1, len(gens) + 1):
        p = os.path.join(landing, f"{prefix}{i}.parquet")
        os.utime(p, (base + i, base + i))
    return u.drop("_gen").schema


def _landed_stream_run(spark: SparkSession, gens, run) -> DataFrame:
    """The harness every landed-generation standing-sink query runs
    on: land ``gens`` in a fresh work dir (`_land_generations`, one
    file per generation), open a file stream over them with the landed
    schema and ONE file per micro-batch (one generation per batch, in
    generation order), hand it to ``run(stream, target, checkpoint)``
    — which drives the sink into ``target`` and returns the result
    frame — and materialize that frame on the driver before the work
    dir is removed."""
    import os
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="landed_stream_")
    try:
        landing = os.path.join(work, "landing")
        stream = (
            spark.readStream.schema(_land_generations(landing, gens))
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        out = run(stream, os.path.join(work, "state"), os.path.join(work, "ckpt"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _live(view: DataFrame, *keep: str, **renames: str) -> DataFrame:
    """A maintained view's live groups (``n > 0``: a group whose count
    fell to zero is retracted, not reported), projected to ``keep``
    and then each ``new=old`` rename."""
    from pyspark.sql import functions as F

    return view.filter(F.col("n") > 0).select(
        *keep, *[F.col(old).alias(new) for new, old in renames.items()]
    )


@query(
    "streaming_tumbling_window",
    headline=True,
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(round((value) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → watermark → 1h tumbling agg → availableNow →
    memory sink. Same oracle as batch ``tumbling_window_events``."""
    return ops.run_to_memory(
        ops.tumbling_counts(stream_events(spark, sf_dir)), "s_tumbling"
    )


@query(
    "streaming_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts) - o.off * INTERVAL '30 minutes' AS window_start,
           COUNT(*) AS n,
           CAST(SUM(CAST(round((value) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
    FROM events, (VALUES (0), (1)) o(off)
    GROUP BY 1
    """,
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream 1h/30m sliding windows; twin of
    ``sliding_window_events``."""
    return ops.run_to_memory(
        ops.sliding_counts(stream_events(spark, sf_dir)), "s_sliding"
    )


@query(
    "streaming_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000 THEN 1
                  WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                  ELSE 0 END AS new_session
      FROM events),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, session_no
    """,
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful session_window over the stream (30-minute gap); twin
    of batch ``sessionize_events`` and the same gaps-and-islands
    oracle."""
    return ops.run_to_memory(
        ops.session_counts(stream_events(spark, sf_dir)), "s_sessions"
    )


@query(
    "streaming_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over the stream — watermark-
    bounded first-seen dedup state, projected to the key set (which is
    order-independent and therefore oracle-checkable). The sink is
    re-distinct'd: if the source ever splits into enough micro-batches
    that watermark eviction lets an old key re-emit, the appended
    duplicate must not break the set-equality oracle."""
    return ops.run_to_memory(
        ops.dedup_keys_within_watermark(
            stream_events(spark, sf_dir), ["user_id", "event_type"]
        ),
        "s_dedup",
        output_mode="append",
    ).distinct()


@query(
    "streaming_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT join (streaming.ops.static_enrich): each
    streamed event enriched with the customer dimension, broadcast
    per micro-batch. Stateless — the streaming form of the batch
    star-schema dimension join."""
    from epe_data_wrangling_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer")
    return ops.run_to_memory(
        ops.static_enrich(
            stream_events(spark, sf_dir), dim, "user_id", "c_custkey",
            ["event_id", "user_id", "c_mktsegment"],
        ).withColumnRenamed("c_mktsegment", "segment"),
        "s_enrich",
        output_mode="append",
    )


@query(
    "streaming_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join
    (streaming.ops.purchase_click_attribution): purchases × same-user
    clicks in the preceding 30 minutes. Event-time bounds on both
    watermarked inputs keep join state O(window), the unbounded-
    stream requirement; the oracle is the identical interval join in
    batch."""
    return ops.run_to_memory(
        ops.purchase_click_attribution(
            stream_events(spark, sf_dir), stream_events(spark, sf_dir)
        ),
        "s_pc_join",
        output_mode="append",
    )


@query(
    "streaming_user_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS max_ts
    FROM events GROUP BY user_id
    """,
)
def streaming_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful per-user totals via applyInPandasWithState
    (arbitrary-state operator). Update mode emits one row per user
    per micro-batch and the memory sink appends them, so the sink is
    collapsed to the LATEST emission per user (every emitted stat is
    monotone non-decreasing, so max == last). This keeps the oracle
    equality independent of how many micro-batches the source splits
    the input into (e.g. multiple files or maxFilesPerTrigger)."""
    from pyspark.sql import functions as F

    sink = ops.run_to_memory(
        ops.user_stats_stateful(stream_events(spark, sf_dir)).select(
            "user_id", "n_events", "max_ts"
        ),
        "s_user_stats",
        output_mode="update",
    )
    return sink.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_ts").alias("max_ts")
    )


@query(
    "streaming_upsert_latest",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value FROM (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1
    """,
)
def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → foreachBatch MERGE into a keyed parquet target
    (latest event per user, copy-on-write + atomic swap per
    micro-batch) → read the target back. The CDC-apply sink pattern;
    incremental two-batch semantics are pinned by
    tests/test_streaming.py. Oracle = latest-per-key over the whole
    log (idempotent merge ⇒ batch-count-independent)."""
    import tempfile as _tf

    target = f"{_tf.mkdtemp(prefix='upsert_tgt_')}/latest"
    out = ops.upsert_latest_foreach_batch(
        stream_events(spark, sf_dir).select(
            "user_id", "event_id", "ts", "event_type", "value"
        ),
        target,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
    )
    return out.select("user_id", "event_id", "ts", "event_type", "value")


@query(
    "streaming_stream_join_outer",
    oracle="""
    WITH p AS (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'purchase'),
    c AS (SELECT event_id, ts, user_id FROM events
          WHERE event_type = 'click'),
    cut AS (SELECT max(ts) - INTERVAL '2 hours 30 minutes' AS cut
            FROM events)
    SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
           c.event_id AS click_id, p.user_id AS user_id
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts
    CROSS JOIN cut
    WHERE p.ts <= cut.cut
    """,
)
def streaming_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream-stream join (last-touch
    attribution with explicit nulls for organic purchases), compared
    over the CLOSED event-time region: null rows exist only where the
    final watermark proves no late click can match, so both engines
    restrict to ts ≤ max_ts − watermark − lookback (the open tail is
    still legitimately pending in the stream). Verified
    symmetric-difference-empty against batch in the closed region."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table

    res = ops.run_to_memory(
        ops.purchase_click_attribution_outer(
            stream_events(spark, sf_dir), stream_events(spark, sf_dir)
        ),
        "s_loj_attr",
        output_mode="append",
    )
    cutoff = load_table(spark, sf_dir, "events").agg(
        (F.max("ts") - F.expr("interval 2 hours 30 minutes")).alias("cut")
    )
    return (
        res.crossJoin(F.broadcast(cutoff))
        .filter(F.col("purchase_ts") <= F.col("cut"))
        .drop("cut")
    )


@query(
    "streaming_record_highs",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM events)
    SELECT user_id, ts, value,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS BIGINT) AS record_idx
    FROM seq
    WHERE prev_max IS NULL OR value > prev_max
    """,
)
def streaming_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user record-high transitions via transformWithStateInPandas
    (the Spark 4 arbitrary-state API — ValueState + flatMap-with-state
    emission, see streaming.ops.record_highs_stateful). Append mode:
    every emitted row is an immutable fact, so the memory sink needs
    no collapsing and the oracle is the batch running-max filter over
    the same log."""
    mode = "append" if ops.has_tws_runtime() else "update"
    return ops.run_to_memory(
        ops.record_highs_stateful(stream_events(spark, sf_dir)),
        "s_record_highs",
        output_mode=mode,
    )


INC_CHUNKS = 4  #: landing-zone arrivals (sorted sources, contiguous)


@query(
    "streaming_incremental_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
    src AS (SELECT DISTINCT source FROM d),
    ck AS (SELECT s.source,
                  CAST((SELECT COUNT(*) FROM src o WHERE o.source < s.source)
                       * {INC_CHUNKS} // (SELECT COUNT(*) FROM src)
                       AS INTEGER) AS c
           FROM src s),
    dd AS (SELECT d.doc_id, d.source, d.h, ck.c FROM d JOIN ck USING (source)),
    flags AS (
      SELECT doc_id, source, h, c,
             EXISTS (SELECT 1 FROM dd o WHERE o.h = dd.h AND o.c < dd.c)
               AS dve,
             EXISTS (SELECT 1 FROM dd o WHERE o.h = dd.h AND o.c = dd.c
                       AND o.doc_id < dd.doc_id) AS dww
      FROM dd)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN dve THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_vs_existing,
           CAST(SUM(CASE WHEN NOT dve AND dww THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_within,
           CAST(SUM(CASE WHEN NOT dve AND NOT dww THEN 1 ELSE 0 END) AS BIGINT)
             AS n_accepted
    FROM flags GROUP BY source
    """,
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming nightly-ingest dedup (streaming.ops.
    incremental_dedup_runs): the corpus arrives as {INC_CHUNKS}
    successive landing-zone drops (sorted sources, contiguous
    chunks — chunk = rank×{INC_CHUNKS} DIV n, the same rule the
    oracle computes relationally), each processed by restarting ONE
    file-source stream with availableNow against ONE checkpoint
    (exactly-once across restarts) and foreachBatch-deduplicated
    against the PERSISTENT fingerprint index that previous drops
    built. Per-source accounting: incoming / dup-vs-index /
    dup-within-drop / accepted. The oracle states the end-state
    algebraically (h seen in an earlier chunk ⇔ it was accepted into
    the index before this drop, because every fingerprint's first
    occurrence is accepted); the streaming run must land on exactly
    those counts — certifying checkpoint reuse, index persistence
    and the within-batch first-wins rule together."""
    import tempfile

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sources = sorted(r[0] for r in docs.select("source").distinct().collect())
    n = len(sources)
    groups: dict[int, list[str]] = {}
    for i, s in enumerate(sources):
        groups.setdefault(i * INC_CHUNKS // n, []).append(s)
    increments = [
        (f"chunk{c}", docs.filter(F.col("source").isin(*groups[c])))
        for c in sorted(groups)
    ]
    work = tempfile.mkdtemp(prefix="inc_dedup_")
    try:
        audit = ops.incremental_dedup_runs(spark, increments, work_dir=work)
        # materialize before cleanup: the returned frame reads the
        # audit parquet lazily, and the work dir holds a full corpus
        # copy (landing + index + checkpoint) that must not leak into
        # /tmp on every certification sweep
        rows = audit.collect()
        return spark.createDataFrame(rows, audit.schema)
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)


def _wb_landing_expected_sql() -> str:
    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids

    rows = []
    for fname in ("drop1.xlsx", "drop2.xls"):
        for sheet, grid in workbook_grids().items():
            n = sum(1 for row in grid for v in row if v is not None)
            rows.append(f"('{fname}', '{sheet}', {n})")
    values = ",\n      ".join(rows)
    return f"""
    SELECT fname, sheet, CAST(n_cells AS BIGINT) AS n_cells
    FROM (VALUES
      {values}
    ) t(fname, sheet, n_cells)
    """


@query("streaming_workbook_landing", oracle=_wb_landing_expected_sql)
def streaming_workbook_landing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's real operating mode, streaming-native: a
    landing zone where a workbook drop appears each cycle
    (`tratamento_epe.R:39` re-downloads the same monthly-republished
    .xls), watched by Spark's ``binaryFile`` file stream source
    (``sources.spark_datasource.workbook_files(spark.readStream, …)``
    — the seen-file log lives in the checkpoint) and parsed by
    ``workbook_cells``' Arrow map-in-batch on the EXECUTORS. TWO
    availableNow runs over ONE checkpoint with a drop landing between
    them (second drop in the OTHER container format): the parquet sink
    must hold each file's cells exactly once — certifying the
    checkpointed seen-file log across a restart and the streaming
    read path against the Python-computed grid truth."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
    from epe_data_wrangling_spark.sources.spark_datasource import (
        workbook_cells,
        workbook_files,
    )
    from epe_data_wrangling_spark.sources.xls_biff import write_xls
    from epe_data_wrangling_spark.sources.xlsx import write_xlsx

    work = tempfile.mkdtemp(prefix="wb_landing_")
    land = os.path.join(work, "land")
    os.makedirs(land)
    out = os.path.join(work, "cells")
    ckpt = os.path.join(work, "ckpt")
    grids = workbook_grids()
    try:
        stream = workbook_cells(workbook_files(spark.readStream, land))

        def run_pass() -> None:
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            _await_or_stop(q, "workbook_landing")

        write_xlsx(os.path.join(land, "drop1.xlsx"), grids)
        run_pass()
        write_xls(os.path.join(land, "drop2.xls"), grids)
        run_pass()

        agg = (
            spark.read.parquet(out)
            .where(F.col("row_idx") >= 0)  # drop geometry marker rows
            .groupBy(
                F.element_at(F.split(F.col("file"), "/"), -1).alias("fname"),
                "sheet",
            )
            .agg(F.count(F.lit(1)).alias("n_cells"))
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


WB_BURST_DROPS = 8  #: concurrent drops in the burst variant


def _wb_burst_expected_sql() -> str:
    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids

    rows = []
    for i in range(1, WB_BURST_DROPS + 1):
        ext = "xls" if i % 2 == 0 else "xlsx"
        for sheet, grid in workbook_grids().items():
            n = sum(1 for row in grid for v in row if v is not None)
            rows.append(f"('drop_{i}.{ext}', '{sheet}', {n})")
    values = ",\n      ".join(rows)
    return f"""
    SELECT fname, sheet, CAST(n_cells AS BIGINT) AS n_cells
    FROM (VALUES
      {values}
    ) t(fname, sheet, n_cells)
    """


@query(
    "streaming_workbook_burst",
    oracle=_wb_burst_expected_sql,
    headline=True,  # guards the burst's parallel parse round-over-round:
    # the file source packs the 8 drops into ≥ 2 parse tasks (asserted
    # through the status store in tests/test_spark_datasource.py); a
    # burst collapsing to one serial parse task shows up in BENCH_r*
)
def streaming_workbook_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fleet-of-drops burst: {WB_BURST_DROPS} workbook drops
    (alternating OOXML / BIFF8 container formats) land BEFORE the
    stream runs, and ONE availableNow pass parses all of them
    executor-side in parallel: ``workbook_files`` lists them in one
    micro-batch, Spark packs the small files into several scan tasks
    (a whole file per task), and ``workbook_cells`` parses each task's
    files in its own Python worker. Output is the per-(file, sheet)
    cell count against the Python-computed grid truth; as a HEADLINE
    query its timing lands in every BENCH_r*, so a burst collapsing to
    one serial parse task shows up as a step change round-over-round."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
    from epe_data_wrangling_spark.sources.spark_datasource import (
        workbook_cells,
        workbook_files,
    )
    from epe_data_wrangling_spark.sources.xls_biff import write_xls
    from epe_data_wrangling_spark.sources.xlsx import write_xlsx

    work = tempfile.mkdtemp(prefix="wb_burst_")
    land = os.path.join(work, "land")
    os.makedirs(land)
    out = os.path.join(work, "cells")
    ckpt = os.path.join(work, "ckpt")
    grids = workbook_grids()
    try:
        for i in range(1, WB_BURST_DROPS + 1):
            if i % 2 == 0:
                write_xls(os.path.join(land, f"drop_{i}.xls"), grids)
            else:
                write_xlsx(os.path.join(land, f"drop_{i}.xlsx"), grids)
        q = (
            workbook_cells(workbook_files(spark.readStream, land))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_stop(q, "workbook_burst")
        agg = (
            spark.read.parquet(out)
            .where(F.col("row_idx") >= 0)  # drop geometry marker rows
            .groupBy(
                F.element_at(F.split(F.col("file"), "/"), -1).alias("fname"),
                "sheet",
            )
            .agg(F.count(F.lit(1)).alias("n_cells"))
        )
        rows = agg.collect()
        return spark.createDataFrame(rows, agg.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "streaming_state_introspection",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def streaming_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The State Data Source (Spark 4, SPARK-45511): after draining
    the event stream through a per-user streaming COUNT (availableNow
    → noop sink), the operator's internal state store is read BACK
    from the checkpoint with ``spark.read.format("statestore")`` and
    flattened to (user_id, n_events). The oracle is the plain BATCH
    aggregate over the same events — for a fully-drained stream the
    keyed state must equal the batch answer exactly, certifying the
    streaming aggregation, checkpoint commit, and the state reader
    in one differential. This is the debugging/ops surface a 100 TB
    streaming deployment needs: state inspected offline, no query
    restart, no state dump code."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.sources import stream_events

    work = tempfile.mkdtemp(prefix="state_introspect_")
    ckpt = os.path.join(work, "ckpt")
    try:
        src = stream_events(spark, sf_dir)
        agg = src.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
        q = (
            agg.writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_stop(q, "state_introspection")
        state = (
            spark.read.format("statestore")
            .load(ckpt)
            .select(
                F.col("key.user_id").alias("user_id"),
                F.col("value.count").alias("n_events"),
            )
        )
        rows = state.collect()
        return spark.createDataFrame(rows, state.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "streaming_ivm_agg_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice, 2) AS DECIMAL(18,2)))
                AS DOUBLE) AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    headline=True,  # r8: IVM refresh cost tracked round-over-round
)
def streaming_ivm_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE incremental view maintenance, streamed: orders arrive as
    FOUR micro-batches (the table staged as four files,
    maxFilesPerTrigger=1) and a foreachBatch sink maintains one
    additive partial-state row per o_orderpriority — each refresh
    aggregates ONLY its delta and merges via a |groups|-row
    full-outer add, with the applied batch_id committed inside the
    same atomic swap as the state so crash replay can never
    double-count (``streaming.ops.ivm_agg_foreach_batch``). The
    oracle recomputes the aggregate directly over everything, so the
    hash check certifies four-refresh-incremental ≡ recompute(full) —
    closing the loop that the batch ``ivm_incremental_agg_merge``
    query opens (it proves one merge step; this proves the standing
    refresh loop). Count + decimal(18,2)-staged sum are exact
    associative-commutative states, so the result is independent of
    how rows land in batches. 100 TB: per refresh the work is one
    partial agg over the delta and a groups-sized join; the base is
    never rescanned."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    work = tempfile.mkdtemp(prefix="ivm_stream_")
    src = os.path.join(work, "orders_landing")
    target = os.path.join(work, "state")
    try:
        o.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def partial(df: DataFrame) -> DataFrame:
            return df.groupBy("o_orderpriority").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(
                    F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)")
                ).alias("s"),
            )

        state = ops.ivm_agg_foreach_batch(
            stream, target, group_cols=["o_orderpriority"], partial_agg=partial
        )
        rows = state.select(
            "o_orderpriority",
            "n_orders",
            F.col("s").cast("double").alias("total_price"),
        ).collect()
        return spark.createDataFrame(rows, "o_orderpriority STRING, n_orders BIGINT, total_price DOUBLE")
    finally:
        shutil.rmtree(work, ignore_errors=True)


@query(
    "streaming_cdc_retraction_pipeline",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    v2 AS (
      SELECT o_orderkey, cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM v3 GROUP BY o_orderstatus
    """,
)
def streaming_cdc_retraction_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC END-TO-END, no table format: THREE full snapshot versions
    of orders (the shared deterministic carving — v1 drops keys ≡3
    mod 7; v2 restores them, drops ≡5 mod 11, flips status to 'X' on
    ≡0 mod 13; v3 further drops ≡1 mod 17, flips to 'Y' on ≡0 mod 19,
    bumps cents on ≡0 mod 23) land as a file stream, one version per
    micro-batch, and ``streaming.ops.cdc_retraction_foreach_batch``
    diffs each inside its batch against the last-applied image and
    applies SIGNED deltas (−1 old image / +1 new) to an additive
    per-status view — composing the separately-certified
    ``snapshot_diff_keyed`` + ``ivm_apply_changeset`` +
    ``ivm_agg_foreach_batch`` pieces into one standing pipeline.
    Image and view commit together in one atomic swap (a crash can
    never apply a version to only one), with batch-id + source-file
    provenance inside the swap for exactly-once. The oracle
    recomputes v3's aggregate DIRECTLY, so the hash certifies
    diff→signed-apply→merge over three generations ≡ recompute(final)
    — deletes, cross-group updates, and value-only updates all in
    play. Integer cents end-to-end; landing files get strictly
    increasing mtimes so file-source discovery order is version
    order. Scale: per version one narrow keyed diff join (unchanged
    keys die in the join) + a |groups|-row merge; the view is never
    recomputed from scratch."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, sf_dir, "orders"))
    v3 = _snapshot_version3(v2)

    def run(stream, target, ckpt):
        view = ops.cdc_retraction_foreach_batch(
            stream,
            target,
            key_cols=["o_orderkey"],
            version_col="snapshot_version",
            group_cols=["o_orderstatus"],
            sum_cols=["cents"],
            checkpoint_dir=ckpt,
        )
        return _live(view, "o_orderstatus", n_orders="n", total_cents="sum_cents")

    return _landed_stream_run(
        spark,
        [
            vdf.select("o_orderkey", "o_orderstatus", "cents").withColumn(
                "snapshot_version", F.lit(i)
            )
            for i, vdf in ((1, v1), (2, v2), (3, v3))
        ],
        run,
    )


@query(
    "streaming_distinct_count_view_maintenance",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    v2 AS (
      SELECT o_orderkey, o_custkey, cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
    FROM v3 GROUP BY o_orderstatus
    """,
)
def streaming_distinct_count_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING COUNT(DISTINCT) maintenance — the duplicate-sensitive
    aggregate composed into the standing-sink family: the batch form
    (``ivm_distinct_count_support``) certifies one refresh of the
    support-table algebra; here THREE full snapshot generations of the
    shared orders carving land as a file stream (one per micro-batch)
    and ``streaming.ops.distinct_count_view_foreach_batch`` maintains
    a per-status (COUNT(*), COUNT(DISTINCT o_custkey)) view through a
    two-level state — the additive (status, custkey → cnt) support
    table absorbing signed diffs, the view's distinct count moving
    only on support 0↔positive transitions — with snapshot + support
    + view committed in ONE atomic swap per batch (a crash can never
    leave the levels inconsistent). The carving's deletes and
    cross-group status flips make both transition directions
    load-bearing: a customer's last order leaving a status must drop
    that group's distinct count, a first order arriving must raise
    it, and surviving duplicates must move nothing. The oracle
    recomputes v3's COUNT(DISTINCT) directly — the hash certifies
    three generations of two-level maintenance ≡ recompute(final).
    Batch-split invariance and a 0↔positive round-trip are
    pytest-pinned. Scale: per version one keyed diff + a delta-sized
    support-delta agg + a touched-support join + |groups|-row merges;
    the corpus is never re-aggregated."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import _snapshot_versions
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, sf_dir, "orders"))
    # v3 reuses the shared third-generation carving MINUS the cents
    # bump (cents is irrelevant to a distinct-count view; the status
    # flip and delete are what move support counts)
    v3 = v2.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 19 == 0, "Y").otherwise(
            F.col("o_orderstatus")
        ),
    ).filter(F.col("o_orderkey") % 17 != 1)

    def run(stream, target, ckpt):
        view = ops.distinct_count_view_foreach_batch(
            stream,
            target,
            key_cols=["o_orderkey"],
            version_col="snapshot_version",
            group_col="o_orderstatus",
            value_col="o_custkey",
            checkpoint_dir=ckpt,
        )
        return _live(view, "o_orderstatus", n_orders="n", n_distinct_cust="d")

    return _landed_stream_run(
        spark,
        [
            vdf.select("o_orderkey", "o_custkey", "o_orderstatus").withColumn(
                "snapshot_version", F.lit(i)
            )
            for i, vdf in ((1, v1), (2, v2), (3, v3))
        ],
        run,
    )


def _orders_specs(cols: list[str]):
    """Carving specs over the RAW orders base for the three fixture
    generations every orders-fed changelog pipeline shares, mirroring
    `evolve_q._snapshot_versions` (v1, v2) + `_snapshot_version3` (v3)
    EXACTLY: presence v1 = key%7≠3, v2 = key%11≠5, v3 = v2 ∧ key%17≠1;
    o_orderstatus flips to 'X' on %13 (v2) then 'Y' on %19 (v3);
    cents = round(o_totalprice·100) bumps +500 on %23 in v3;
    o_custkey / o_orderpriority ride unchanged.

    Restricted to ``cols`` ⊆ {o_custkey, cents, o_orderstatus,
    o_orderpriority}; returns ``(raw_cols, [spec1, spec2, spec3])``
    where each spec is the ``(presence_predicate, {col: value_expr})``
    shape `_carved_oplog`/`_carved_tombstone_log` consume. Hoisted so
    the pipelines AND their differential tests import ONE carving
    (r16 advice: hand-duplicated specs let the pipeline drift from the
    test's pin) and every landing is ONE projection over ONE base scan
    instead of a keyed full-outer self-diff (2 exchanges + 2 sorts per
    generation)."""
    from pyspark.sql import functions as F

    k = F.col("o_orderkey")
    st1 = F.col("o_orderstatus")
    st2 = F.when(k % 13 == 0, "X").otherwise(st1)
    st3 = F.when(k % 19 == 0, "Y").otherwise(st2)
    c12 = F.round(F.col("o_totalprice") * 100).cast("bigint")
    c3 = F.when(k % 23 == 0, c12 + 500).otherwise(c12)
    vals = {
        "o_custkey": (F.col("o_custkey"),) * 3,
        "o_orderstatus": (st1, st2, st3),
        "cents": (c12, c12, c3),
        "o_orderpriority": (F.col("o_orderpriority"),) * 3,
    }
    raw_of = {
        "o_custkey": "o_custkey",
        "o_orderstatus": "o_orderstatus",
        "cents": "o_totalprice",
        "o_orderpriority": "o_orderpriority",
    }
    presence = (k % 7 != 3, k % 11 != 5, (k % 11 != 5) & (k % 17 != 1))
    raw_cols = ["o_orderkey"] + [raw_of[c] for c in cols]
    specs = [
        (p, {c: vals[c][i] for c in cols}) for i, p in enumerate(presence)
    ]
    return raw_cols, specs


def _orders_carved_base(spark: SparkSession, sf_dir: str, cols: list[str]):
    """`_orders_specs` plus the raw base scan: ``(base, [spec1, spec2,
    spec3])`` ready for `_carved_oplog` / `_carved_tombstone_log`."""
    from epe_data_wrangling_spark.sources.tables import load_table

    raw_cols, specs = _orders_specs(cols)
    return load_table(spark, sf_dir, "orders").select(*raw_cols), specs


def _customer_carved_base(spark: SparkSession, sf_dir: str):
    """Customer-dim twin of `_orders_carved_base`, mirroring
    `evolve_q._dim_versions` exactly: presence s1 = key%9≠2,
    s2 = key%9≠5; c_mktsegment moves to 'MACHINERY' on %8 in s2.
    Returns ``(base, [spec_s1, spec_s2])`` over cols
    ``["c_mktsegment"]``."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table

    ck = F.col("c_custkey")
    seg1 = F.col("c_mktsegment")
    seg2 = F.when(ck % 8 == 0, "MACHINERY").otherwise(seg1)
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return base, [
        (ck % 9 != 2, {"c_mktsegment": seg1}),
        (ck % 9 != 5, {"c_mktsegment": seg2}),
    ]


def _carved_tombstone_log(
    base, key: str, cols: list[str], old_spec, new_spec, seq_base: int
):
    """Row-wise twin of `_tombstone_rel_log` (the compacted-topic
    emitter: 'U' upserts carry only the after-image, 'D' tombstones
    only the key) for carvings of ONE keyed base — same presence/spec
    algebra as `_carved_oplog`, same bit-identical-row-set contract
    (pytest-pinned differential), one base scan instead of a keyed
    full-outer self-join per generation. ``old_spec is None`` =
    bootstrap (all 'U')."""
    from pyspark.sql import functions as F

    if old_spec is None:
        p_new, new_cols = new_spec
        return base.filter(p_new).select(
            key,
            (F.lit(seq_base) + F.col(key)).alias("seq"),
            F.lit("U").alias("op"),
            *[new_cols[c].alias(c) for c in cols],
        )
    p_old, old_cols = old_spec
    p_new, new_cols = new_spec
    a_abs, b_abs = ~p_old, ~p_new
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~old_cols[c].eqNullSafe(new_cols[c])
    return base.filter((p_old | p_new) & (a_abs | b_abs | changed)).select(
        key,
        (F.lit(seq_base) + F.col(key)).alias("seq"),
        F.when(b_abs, "D").otherwise("U").alias("op"),
        *[F.when(p_new, new_cols[c]).alias(c) for c in cols],
    )


def _oplog_from_versions(old, new, seq_base: int):
    """Orders-shaped op-log emitter — thin wrapper over the generic
    null-safe `_rel_oplog` (one change-detection implementation; a
    value↔NULL change must emit, which a plain != would drop)."""
    return _rel_oplog(old, new, "o_orderkey", ["o_orderstatus", "cents"], seq_base)


def _orders_log_gens(spark: SparkSession, sf_dir: str, cols: list[str], emit):
    """The three changelog generations of the shared orders carving
    (`_orders_carved_base`): the v1 bootstrap, v1→v2 and v2→v3, each
    emitted by ``emit`` (`_carved_oplog` or `_carved_tombstone_log`)
    with seq base ``i·10¹⁰`` for generation ``i``."""
    base, specs = _orders_carved_base(spark, sf_dir, cols)
    return [
        emit(base, "o_orderkey", cols, old, new, i * 10**10)
        for i, (old, new) in enumerate(zip([None, *specs], specs), start=1)
    ]


@query(
    "streaming_distinct_count_oplog_pipeline",
    headline=True,  # r12: guards the manifest commit/read path round-over-round
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    v2 AS (
      SELECT o_orderkey, o_custkey, cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
    FROM v3 GROUP BY o_orderstatus
    """,
)
def streaming_distinct_count_oplog_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRUE-DELTA COUNT(DISTINCT) maintenance — the op-log input shape
    composed into the support-table algebra (same carving, SAME oracle
    as the snapshot-fed ``streaming_distinct_count_view_maintenance``,
    so the two pipelines must hash identically): the upstream emits a
    before-image changelog (I/U/D, after-images on I/U, ``prev_<c>``
    on U/D, strictly increasing seq) and
    ``streaming.ops.distinct_count_oplog_foreach_batch`` applies the
    signed rows straight to the two-level state — the additive
    (status, custkey → cnt) support table, stored PARTITIONED by
    hash(group, value) bucket with touched-bucket lookups/rewrites and
    manifest-carried untouched buckets, and the per-status (COUNT(*),
    COUNT(DISTINCT)) view whose distinct count moves only on support
    0↔positive transitions. No snapshot is ever landed and no keyed
    diff ever runs: this removes the two snapshot-sized costs SCALE.md
    records for the snapshot-fed twin (landing I/O + diff), leaving
    per-batch work delta-sized + touched-bucket-sized + a |groups|-row
    merge. Three changelog generations (bootstrap inserts; the v1→v2
    log with deletes ≡5 mod 11 and status flips ≡0 mod 13; the v2→v3
    log with deletes ≡1 mod 17 and flips ≡0 mod 19) land as a file
    stream; the oracle recomputes v3's COUNT(DISTINCT) directly, so
    the hash certifies three generations of pure-delta two-level
    maintenance ≡ recompute(final), with both transition directions
    and cross-group customer migrations load-bearing. Batch-split
    invariance, the 1→0→1 round trip, and the negative-support
    divergence guard are pytest-pinned."""
    # The three generations are `_snapshot_versions`/v3 carvings of
    # ONE keyed base, so the changelogs are emitted row-wise by
    # `_carved_oplog` (identical row sets to the former
    # `_rel_oplog(v1, v2, …)` full-outer diffs — pytest-pinned
    # differential `test_carved_oplog_matches_rel_oplog` — without
    # the two snapshot-sized join exchanges per generation). The
    # carving specs are the SHARED `_orders_specs` (r17) the
    # differential test imports too, mirroring this query's oracle
    # verbatim.
    cols = ["o_custkey", "o_orderstatus"]

    def run(stream, target, ckpt):
        view = ops.distinct_count_oplog_foreach_batch(
            stream,
            target,
            op_col="op",
            seq_col="seq",
            group_col="o_orderstatus",
            value_col="o_custkey",
            checkpoint_dir=ckpt,
        )
        return _live(view, "o_orderstatus", n_orders="n", n_distinct_cust="d")

    return _landed_stream_run(
        spark, _orders_log_gens(spark, sf_dir, cols, _carved_oplog), run
    )


@query(
    "streaming_cdc_oplog_pipeline",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    v2 AS (
      SELECT o_orderkey, cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM v3 GROUP BY o_orderstatus
    """,
)
def streaming_cdc_oplog_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-DELTA CDC over an OPERATION LOG — the scale shape the
    full-snapshot pipeline (``streaming_cdc_retraction_pipeline``,
    same carving, SAME oracle) admits it cannot reach: there, landing
    I/O and the per-batch diff track snapshot size; here the upstream
    emits a Debezium-style changelog (rows tagged I/U/D, before-images
    on U/D, after-images on I/U, strictly increasing ``seq``), so
    every per-batch cost tracks the CHANGE volume. Three generations
    land as a file stream — gen 1 the v1 bootstrap (all inserts),
    gen 2 the v1→v2 log (inserts ≡3 mod 7 restored, deletes ≡5 mod
    11, status flips ≡0 mod 13), gen 3 the v2→v3 log (deletes ≡1 mod
    17, flips ≡0 mod 19, cents bumps ≡0 mod 23) — and
    ``streaming.ops.cdc_oplog_foreach_batch`` applies the signed
    expansion (I → +after, D → −before, U → both) straight to the
    additive per-status view. NO standing image exists anywhere: the
    before-images replace the diff-against-snapshot, the target holds
    only the view, and the signed math is commutative, so batch-split
    invariance holds algebraically (pytest-pinned along with the
    seq-regression, duplicate-seq, and unknown-op guards). The oracle
    recomputes v3's aggregate directly — the hash certifies three
    generations of pure-delta application ≡ recompute(final), with
    deletes, cross-group updates, and value-only updates all in play.
    Scale: per batch one delta-sized validation agg + one delta
    partial agg + a |groups|-row merge and view rewrite — nothing is
    ever snapshot-sized (SCALE.md carries the 10× row vs the snapshot
    pipeline's honest 2.3× floor)."""
    # carved landing (r17): the generations are `_orders_specs`
    # carvings of one keyed base — row-wise `_carved_oplog`
    # projections (row sets pytest-pinned identical to the former
    # `_oplog_from_versions` full-outer diffs) instead of 2 exchanges
    # + 2 sorts per generation
    cols = ["o_orderstatus", "cents"]

    def run(stream, target, ckpt):
        view = ops.cdc_oplog_foreach_batch(
            stream,
            target,
            op_col="op",
            seq_col="seq",
            group_cols=["o_orderstatus"],
            sum_cols=["cents"],
            checkpoint_dir=ckpt,
        )
        return _live(view, "o_orderstatus", n_orders="n", total_cents="sum_cents")

    return _landed_stream_run(
        spark, _orders_log_gens(spark, sf_dir, cols, _carved_oplog), run
    )


@query(
    "streaming_minmax_view_maintenance",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    v2 AS (
      SELECT o_orderkey, cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM v3 GROUP BY o_orderstatus
    """,
)
def streaming_minmax_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MIN/MAX maintenance from the op log — the last
    aggregate class composed into the standing-sink family (batch twin
    ``ivm_minmax_support`` certifies one refresh; this certifies the
    standing loop over the op-log input): deletions can EVICT a
    group's current extremum, and the replacement must be re-derived
    from the support multiset γ(status, cents → cnt) that
    ``streaming.ops.minmax_view_oplog_foreach_batch`` maintains
    PARTITIONED by group-hash bucket — each batch merges its net
    support deltas into only the touched buckets (untouched buckets
    carry through the atomic commit as manifest rows) and recomputes MIN/MAX for
    exactly the touched groups, whose support is complete in those
    buckets by construction. Three before-image changelog generations
    of the shared orders carving land as a file stream (the same
    carving and measure as the CDC trilogy — deletes ≡5 mod 11 and
    ≡1 mod 17 evict extrema, status flips ≡0 mod 13 / ≡0 mod 19
    migrate rows across groups, cents bumps ≡0 mod 23 move values);
    the oracle recomputes v3's MIN/MAX directly, so the hash
    certifies three generations of support-multiset maintenance ≡
    recompute(final) — a refresh that kept one stale extremum cannot
    hash green. Extremum eviction, batch-split invariance, the
    empty-group round trip, and the negative-support divergence guard
    are pytest-pinned. Scale: per batch, delta-sized partial aggs +
    touched-group-bucket support I/O + a |groups|-row view merge —
    the corpus is never re-aggregated and untouched groups' extrema
    are never even read."""
    # carved landing (r17) — see streaming_cdc_oplog_pipeline
    cols = ["o_orderstatus", "cents"]

    def run(stream, target, ckpt):
        view = ops.minmax_view_oplog_foreach_batch(
            stream,
            target,
            op_col="op",
            seq_col="seq",
            group_cols=["o_orderstatus"],
            value_col="cents",
            checkpoint_dir=ckpt,
        )
        return _live(
            view, "o_orderstatus", n_orders="n", min_cents="mn", max_cents="mx"
        )

    return _landed_stream_run(
        spark, _orders_log_gens(spark, sf_dir, cols, _carved_oplog), run
    )


@query(
    "streaming_topk_view_maintenance",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    v2 AS (
      SELECT o_orderkey, o_custkey, cents
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, cents
    FROM (
      SELECT o_custkey, o_orderkey, cents,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY cents DESC, o_orderkey) AS rnk
      FROM v3) t
    WHERE rnk <= 3
    """,
)
def streaming_topk_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TOP-K maintenance from the op log — the affected-
    group-recompute class composed into the standing-sink family,
    completing the aggregate taxonomy (additive → COUNT(DISTINCT) →
    MIN/MAX → top-k; batch twin ``ivm_topk_affected_groups`` certifies
    one refresh, this certifies the standing loop): a per-customer
    top-3-orders-by-cents view where deletes can EVICT a ranked row
    (the replacement is the #4 the view no longer holds) and cents
    bumps can PROMOTE one in.
    ``streaming.ops.topk_view_oplog_foreach_batch`` therefore keeps
    the groups' full base rows as a standing image bucketed by GROUP
    hash — each batch reads and rewrites only the buckets its before/
    after groups hash to, re-ranks exactly the touched groups (whose
    rows are complete in those buckets by construction), and passes
    every untouched group's view rows through UNREAD because the view
    itself is bucketed and touched-bucket-rewritten too (at 100 TB,
    k·|groups| is too large to rewrite per commit). Three before-image
    changelog generations of the shared orders carving land as a file
    stream (deletes ≡5 mod 11 / ≡1 mod 17 evict ranked rows, cents
    bumps ≡0 mod 23 promote rows); the oracle recomputes v3's ranked
    top-3 directly with the deterministic (cents DESC, o_orderkey)
    tie-break, so the hash certifies three generations of
    affected-group maintenance ≡ recompute(final) — a single stale
    rank row anywhere cannot hash green. Eviction, promotion,
    batch-split invariance, group-migration updates, and the
    divergence guard (image digests + exact key index) are
    pytest-pinned. Scale: per batch — delta-sized validation/dedup,
    touched-group-bucket I/O on image and view, a rank window over
    |touched groups| × |group size|, ONE manifest write per store;
    nothing is ever corpus-sized."""
    # carved landing (r17) — see streaming_cdc_oplog_pipeline
    cols = ["o_custkey", "cents"]

    def run(stream, target, ckpt):
        view = ops.topk_view_oplog_foreach_batch(
            stream,
            target,
            key_cols=["o_orderkey"],
            op_col="op",
            seq_col="seq",
            group_cols=["o_custkey"],
            value_col="cents",
            k=3,
            checkpoint_dir=ckpt,
        )
        return view.select("o_custkey", "rnk", "o_orderkey", "cents")

    return _landed_stream_run(
        spark, _orders_log_gens(spark, sf_dir, cols, _carved_oplog), run
    )


def _tombstone_rel_log(old, new, key: str, cols: list[str], seq_base: int):
    """Generic fixture-side compacted-changelog emitter: upserts carry
    ONLY the after-image ('U' — the producer does not distinguish
    insert from update), deletes are key-only tombstones ('D'),
    change detection is null-safe per column (a value↔NULL transition
    must emit; a plain != yields NULL and the filter would drop it).
    ``old is None`` = bootstrap (all rows 'U')."""
    from pyspark.sql import functions as F

    if old is None:
        return new.select(
            key,
            (F.lit(seq_base) + F.col(key)).alias("seq"),
            F.lit("U").alias("op"),
            *cols,
        )
    a, b = old.alias("a"), new.alias("b")
    j = a.join(b, F.col(f"a.{key}") == F.col(f"b.{key}"), "full_outer")
    a_abs = F.col(f"a.{key}").isNull()
    b_abs = F.col(f"b.{key}").isNull()
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    return j.filter(a_abs | b_abs | changed).select(
        F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}")).alias(key),
        (
            F.lit(seq_base) + F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}"))
        ).alias("seq"),
        F.when(b_abs, "D").otherwise("U").alias("op"),
        *[F.col(f"b.{c}").alias(c) for c in cols],
    )


def _tombstone_log_from_versions(old, new, seq_base: int):
    """Orders-shaped compacted-changelog emitter — thin wrapper over
    the generic `_tombstone_rel_log`."""
    return _tombstone_rel_log(
        old, new, "o_orderkey", ["o_orderstatus", "cents"], seq_base
    )


@query(
    "streaming_distinct_count_tombstone_pipeline",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    v2 AS (
      SELECT o_orderkey, o_custkey, cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
    FROM v3 GROUP BY o_orderstatus
    """,
)
def streaming_distinct_count_tombstone_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """COUNT(DISTINCT) from a compacted topic — the THIRD input
    dialect over the same carving and SAME oracle as
    ``streaming_distinct_count_view_maintenance`` (full snapshots) and
    ``streaming_distinct_count_oplog_pipeline`` (before-image log), so
    all three pipelines must hash identically: upserts carry only the
    after-image and deletes only the key, and
    ``streaming.ops.distinct_count_tombstone_foreach_batch``
    manufactures every retraction value from the key-hash-bucketed
    standing image it maintains (touched-bucket lookup and rewrite,
    manifest-carried untouched buckets — the ``cdc_tombstone`` machinery)
    before handing the signed rows to the SAME shared two-level
    refresh as the op-log dialect (bucketed support table, 0↔positive
    transitions). Three tombstone-changelog generations land as a file
    stream; the oracle recomputes v3's COUNT(DISTINCT) directly. The
    matrix point: input dialect and aggregate algebra compose
    orthogonally — the dialect decides how retractions are obtained
    (before-images / manufactured from an image / snapshot diffs),
    the algebra is one implementation shared across all three.
    Scale: per batch — delta-sized dedup/validation + touched
    key-bucket image I/O + touched support-bucket I/O + a
    |groups|-row merge; no snapshot ever lands."""
    # carved landing (r17): same shared `_orders_specs` carving, the
    # compacted-topic emitter `_carved_tombstone_log` (row sets
    # pytest-pinned identical to `_tombstone_rel_log` diffs)
    cols = ["o_custkey", "o_orderstatus"]

    def run(stream, target, ckpt):
        view = ops.distinct_count_tombstone_foreach_batch(
            stream,
            target,
            key_cols=["o_orderkey"],
            op_col="op",
            seq_col="seq",
            group_col="o_orderstatus",
            value_col="o_custkey",
            checkpoint_dir=ckpt,
        )
        return _live(view, "o_orderstatus", n_orders="n", n_distinct_cust="d")

    return _landed_stream_run(
        spark, _orders_log_gens(spark, sf_dir, cols, _carved_tombstone_log), run
    )


@query(
    "streaming_minmax_tombstone_pipeline",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    v2 AS (
      SELECT o_orderkey, cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM v3 GROUP BY o_orderstatus
    """,
)
def streaming_minmax_tombstone_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIN/MAX from a compacted topic — the SECOND input dialect over
    the same carving and SAME oracle as
    ``streaming_minmax_view_maintenance`` (before-image log), so both
    pipelines must hash identically: upserts carry only the
    after-image and deletes only the key, and
    ``streaming.ops.minmax_view_tombstone_foreach_batch`` manufactures
    every retraction (status, cents) pair from the key-hash-bucketed
    standing image it maintains (the ``cdc_tombstone`` machinery
    behind the manifest store) before handing the signed rows to the
    SAME shared refresh as the op-log dialect
    (``_minmax_state_refresh``: group-hash-bucketed support multiset,
    touched-group extremum re-derivation). With this cell the input
    dialect × aggregate matrix closes further: tombstones now feed the
    additive, COUNT(DISTINCT), AND MIN/MAX classes through one image
    mechanism and one per-class algebra — the carving's deletes
    (≡5 mod 11, ≡1 mod 17) EVICT extrema whose replacements the
    tombstones never carry, which is exactly what the manufactured
    retractions must reconstruct. Scale: per batch — delta-sized
    dedup/validation + touched key-bucket image I/O + touched
    group-bucket support I/O + a |groups|-row merge; no snapshot ever
    lands and the corpus is never re-aggregated."""
    # carved landing (r17) — see streaming_distinct_count_tombstone_pipeline
    cols = ["o_orderstatus", "cents"]

    def run(stream, target, ckpt):
        view = ops.minmax_view_tombstone_foreach_batch(
            stream,
            target,
            key_cols=["o_orderkey"],
            op_col="op",
            seq_col="seq",
            group_cols=["o_orderstatus"],
            value_col="cents",
            checkpoint_dir=ckpt,
        )
        return _live(
            view, "o_orderstatus", n_orders="n", min_cents="mn", max_cents="mx"
        )

    return _landed_stream_run(
        spark, _orders_log_gens(spark, sf_dir, cols, _carved_tombstone_log), run
    )


@query(
    "streaming_topk_tombstone_pipeline",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    v2 AS (
      SELECT o_orderkey, o_custkey, cents
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey, cents
    FROM (
      SELECT o_custkey, o_orderkey, cents,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY cents DESC, o_orderkey) AS rnk
      FROM v3) t
    WHERE rnk <= 3
    """,
)
def streaming_topk_tombstone_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TOP-K from a compacted topic — the SECOND input dialect over
    the same carving and SAME oracle as
    ``streaming_topk_view_maintenance`` (before-image log), closing
    the input-dialect × aggregate matrix: tombstones now feed all four
    aggregate classes. The cell's structural content: the image is
    bucketed by GROUP hash (complete-group recompute) but a tombstone
    names only a KEY, so
    ``streaming.ops.topk_view_tombstone_foreach_batch`` promotes the
    key-index sidecar to a LOCATOR — a standing key → image-bucket
    map, bucketed by key hash, resolved at touched-key-bucket cost
    before any image I/O; locator and image are each other's
    divergence witness (count mismatch RAISES). Deletes here EVICT
    ranked rows whose replacements the tombstones never carry — the
    re-rank must reconstruct them from the located image buckets.
    Scale: per batch — delta-sized dedup/validation, touched
    key-bucket locator I/O, touched group-bucket image+view I/O, a
    rank window over |affected groups| × |group size|; no snapshot
    ever lands and the producer never supplies before-images (the
    shape a compacted key-value topic actually provides)."""
    # carved landing (r17) — see streaming_distinct_count_tombstone_pipeline
    cols = ["o_custkey", "cents"]

    def run(stream, target, ckpt):
        view = ops.topk_view_tombstone_foreach_batch(
            stream,
            target,
            key_cols=["o_orderkey"],
            op_col="op",
            seq_col="seq",
            group_cols=["o_custkey"],
            value_col="cents",
            k=3,
            checkpoint_dir=ckpt,
        )
        return view.select("o_custkey", "rnk", "o_orderkey", "cents")

    return _landed_stream_run(
        spark, _orders_log_gens(spark, sf_dir, cols, _carved_tombstone_log), run
    )


@query(
    "streaming_cdc_tombstone_pipeline",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders),
    v2 AS (
      SELECT o_orderkey, cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM base WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM v3 GROUP BY o_orderstatus
    """,
)
def streaming_cdc_tombstone_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC from a changelog WITHOUT before-images — the compacted-
    topic shape, completing the trilogy of real-world CDC inputs over
    ONE carving and ONE oracle (full snapshots →
    ``streaming_cdc_retraction_pipeline``; before-image op log →
    ``streaming_cdc_oplog_pipeline``; this): upserts carry only the
    after-image, deletes only the key, so
    ``streaming.ops.cdc_tombstone_foreach_batch`` must manufacture
    every retraction from the standing keyed image it maintains —
    stored bucketed by key hash behind a manifest-committed store
    (``streaming.manifest``), looked up by reading exactly the
    touched buckets' data files, and REWRITTEN only where touched
    (untouched buckets carry through the commit as manifest rows —
    the offline build of a table format re-pointing unchanged
    files). Three log
    generations (bootstrap upserts; the v1→v2 and v2→v3 changelogs
    with deletes, cross-group updates, and value-only updates) land
    as a file stream; the oracle recomputes v3's aggregate directly,
    so the hash certifies image-lookup → signed apply → partial
    rewrite over three generations ≡ recompute(final). Batch-split
    invariance, delete-then-reinsert, tombstones for absent keys, and
    the untouched-bucket manifest-entry identity are pytest-pinned.
    Scale: per batch, delta-sized dedup/validation + touched-bucket
    image I/O + a |groups|-row merge + ONE manifest write — image cost
    tracks the keys the batch actually touches."""
    # carved landing (r17) — see streaming_distinct_count_tombstone_pipeline
    cols = ["o_orderstatus", "cents"]

    def run(stream, target, ckpt):
        view = ops.cdc_tombstone_foreach_batch(
            stream,
            target,
            key_cols=["o_orderkey"],
            op_col="op",
            seq_col="seq",
            group_cols=["o_orderstatus"],
            sum_cols=["cents"],
            checkpoint_dir=ckpt,
        )
        return _live(view, "o_orderstatus", n_orders="n", total_cents="sum_cents")

    return _landed_stream_run(
        spark, _orders_log_gens(spark, sf_dir, cols, _carved_tombstone_log), run
    )


def _join_view_run(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Shared body of the snapshot-fed join-view queries (inner and
    left-outer differ only in ``how``): generation 1 carries orders v1
    + dim s1, generation 2 orders v2 only (the dim is absent =
    unchanged), generation 3 orders v3 + dim s2, each one micro-batch
    into ``ops.join_view_foreach_batch``."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _dim_versions,
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, sf_dir, "orders"))
    v3 = _snapshot_version3(v2)
    s1, s2 = _dim_versions(load_table(spark, sf_dir, "customer"))

    def tag_r(vdf: DataFrame, i: int) -> DataFrame:
        return vdf.select(
            F.lit("R").alias("rel"),
            F.lit(i).alias("snapshot_version"),
            "o_orderkey",
            "o_custkey",
            "cents",
            "o_orderstatus",
            F.lit(None).cast("bigint").alias("c_custkey"),
            F.lit(None).cast("string").alias("c_mktsegment"),
        )

    def tag_s(sdf: DataFrame, i: int) -> DataFrame:
        return sdf.select(
            F.lit("S").alias("rel"),
            F.lit(i).alias("snapshot_version"),
            F.lit(None).cast("bigint").alias("o_orderkey"),
            F.lit(None).cast("bigint").alias("o_custkey"),
            F.lit(None).cast("bigint").alias("cents"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            "c_custkey",
            "c_mktsegment",
        )

    def run(stream, target, ckpt):
        view = ops.join_view_foreach_batch(
            stream,
            target,
            rel_col="rel",
            version_col="snapshot_version",
            r_tag="R",
            s_tag="S",
            r_key=["o_orderkey"],
            s_key=["c_custkey"],
            r_join="o_custkey",
            s_join="c_custkey",
            r_cols=["o_custkey", "cents", "o_orderstatus"],
            s_cols=["c_custkey", "c_mktsegment"],
            group_cols=["c_mktsegment", "o_orderstatus"],
            sum_cols=["cents"],
            how=how,
            checkpoint_dir=ckpt,
        )
        return _live(
            view, "c_mktsegment", "o_orderstatus", n_rows="n", cents_sum="sum_cents"
        )

    gens = (
        tag_r(v1, 1).unionByName(tag_s(s1, 1)),
        tag_r(v2, 2),  # dim absent: unchanged this generation
        tag_r(v3, 3).unionByName(tag_s(s2, 3)),
    )
    return _landed_stream_run(spark, gens, run)


@query(
    "streaming_join_view_maintenance",
    oracle="""
    WITH v2 AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS st
      FROM orders WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE st END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1),
    s2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 8 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 9 != 5)
    SELECT s2.c_mktsegment, v3.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v3.cents) AS BIGINT) AS cents_sum
    FROM v3 JOIN s2 ON v3.o_custkey = s2.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of a JOIN view — the streaming twin of
    ``ivm_join_delta_maintenance`` and the composition step above
    ``streaming_cdc_retraction_pipeline`` (γ(R) → γ(R ⋈ S)): THREE
    generations land as a file stream, one per micro-batch —
    generation 1 carries full images of BOTH relations (orders v1 +
    customer-dim s1), generation 2 carries ONLY orders v2 (the dim is
    absent = unchanged, the slowly-changing-dim shape), generation 3
    carries orders v3 + dim s2 — and
    ``streaming.ops.join_view_foreach_batch`` diffs each side against
    its last-applied image and refreshes the view through the signed
    bilinear expansion ΔR⋈S_old + R_old⋈ΔS + ΔR⋈ΔS, with both images
    and the view committed in one atomic swap (batch-id + file
    provenance inside for exactly-once). The carvings move rows
    across BOTH group dimensions (status flips on the fact; segment
    moves on the dim) and bump values, so a missed retraction, a
    wrong sign product, or a new-image Δ-term cannot cancel. The
    oracle recomputes γ(v3 ⋈ s2) directly from parquet — the hash
    certifies three generations of incremental join maintenance ≡
    recompute(final). Scale: per generation, keyed diffs + three
    delta-sized equi-joins + a |groups|-row merge; neither standing
    image is ever re-joined wholesale."""
    return _join_view_run(spark, sf_dir, "inner")


def _carved_oplog(base, key: str, cols: list[str], old_spec, new_spec, seq_base: int):
    """Row-wise twin of `_rel_oplog` for the fixture case where BOTH
    versions are deterministic carvings of the SAME keyed base
    relation (the `_snapshot_versions` family): a version spec is
    ``(presence_predicate, {col: value_expr})``, each over ``base``'s
    columns, and the I/U/D classification runs as ONE projection over
    ONE base scan — no keyed full-outer self-join (two snapshot-sized
    exchanges + sorts) to re-discover a diff the carving rules
    already state. ``old_spec is None`` = bootstrap (all 'I').

    Emits bit-identical ROW SETS to ``_rel_oplog(old, new, …)`` for
    the same carvings (pytest-pinned differential): same null-safe
    ``changed`` (a value↔NULL flip emits), same op classification,
    same ``seq = seq_base + key``, NULL after-images on D and NULL
    ``prev_`` on I. Only row order within the landed file differs —
    immaterial to the sinks (signed application is order-free) and to
    the validation agg."""
    from pyspark.sql import functions as F

    if old_spec is None:
        p_new, new_cols = new_spec
        return base.filter(p_new).select(
            key,
            (F.lit(seq_base) + F.col(key)).alias("seq"),
            F.lit("I").alias("op"),
            *[new_cols[c].alias(c) for c in cols],
            *[
                F.when(F.lit(False), new_cols[c]).alias(f"prev_{c}")
                for c in cols
            ],
        )
    p_old, old_cols = old_spec
    p_new, new_cols = new_spec
    a_abs, b_abs = ~p_old, ~p_new
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~old_cols[c].eqNullSafe(new_cols[c])
    return base.filter((p_old | p_new) & (a_abs | b_abs | changed)).select(
        key,
        (F.lit(seq_base) + F.col(key)).alias("seq"),
        F.when(a_abs, "I").when(b_abs, "D").otherwise("U").alias("op"),
        *[F.when(p_new, new_cols[c]).alias(c) for c in cols],
        *[F.when(p_old, old_cols[c]).alias(f"prev_{c}") for c in cols],
    )


def _rel_oplog(old, new, key: str, cols: list[str], seq_base: int):
    """Generic fixture-side changelog emitter for one relation: keyed
    diff old→new classified I/U/D, after-images on I/U, ``prev_<c>``
    before-images on U/D, seq = ``seq_base`` + key. ``old is None`` =
    bootstrap (all 'I')."""
    from pyspark.sql import functions as F

    if old is None:
        return new.select(
            key,
            (F.lit(seq_base) + F.col(key)).alias("seq"),
            F.lit("I").alias("op"),
            *cols,
            *[
                F.lit(None).cast(dict(new.dtypes)[c]).alias(f"prev_{c}")
                for c in cols
            ],
        )
    a, b = old.alias("a"), new.alias("b")
    j = a.join(b, F.col(f"a.{key}") == F.col(f"b.{key}"), "full_outer")
    a_abs = F.col(f"a.{key}").isNull()
    b_abs = F.col(f"b.{key}").isNull()
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    return j.filter(a_abs | b_abs | changed).select(
        F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}")).alias(key),
        (
            F.lit(seq_base) + F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}"))
        ).alias("seq"),
        F.when(a_abs, "I").when(b_abs, "D").otherwise("U").alias("op"),
        *[F.col(f"b.{c}").alias(c) for c in cols],
        *[F.col(f"a.{c}").alias(f"prev_{c}") for c in cols],
    )


def _join_view_oplog_run(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Shared body of the op-log-fed join-view queries (inner and
    left-outer differ only in ``how``): one operation log covers both
    relations with a shared LSN-style seq — gen 1 bootstraps orders v1
    + dim s1 as inserts, gen 2 carries only the orders v1→v2
    changelog, gen 3 the orders v2→v3 AND dim s1→s2 changelogs — into
    ``ops.join_view_oplog_foreach_batch``."""
    from pyspark.sql import functions as F

    # carved landings (r17): both relations' generations are carvings
    # of their keyed bases (shared `_orders_specs` /
    # `_customer_carved_base`) — row-wise `_carved_oplog` projections,
    # pytest-pinned row-set-identical to the former `_rel_oplog`
    # full-outer self-diffs; the shared-LSN interleaving is just the
    # per-relation seq offsets riding the same tag/union as before
    R_COLS = ["o_custkey", "cents", "o_orderstatus"]
    S_COLS = ["c_mktsegment"]
    rbase, (rp1, rp2, rp3) = _orders_carved_base(spark, sf_dir, R_COLS)
    sbase, (ssp1, ssp2) = _customer_carved_base(spark, sf_dir)

    def tag_r(log):
        return log.select(
            F.lit("R").alias("rel"),
            "seq",
            "op",
            "o_orderkey",
            *R_COLS,
            *[f"prev_{c}" for c in R_COLS],
            F.lit(None).cast("bigint").alias("c_custkey"),
            F.lit(None).cast("string").alias("c_mktsegment"),
            F.lit(None).cast("string").alias("prev_c_mktsegment"),
        )

    def tag_s(log):
        return log.select(
            F.lit("S").alias("rel"),
            "seq",
            "op",
            F.lit(None).cast("bigint").alias("o_orderkey"),
            *[F.lit(None).cast(t).alias(c) for c, t in
              (("o_custkey", "bigint"), ("cents", "bigint"),
               ("o_orderstatus", "string"))],
            *[F.lit(None).cast(t).alias(f"prev_{c}") for c, t in
              (("o_custkey", "bigint"), ("cents", "bigint"),
               ("o_orderstatus", "string"))],
            "c_custkey",
            *S_COLS,
            *[f"prev_{c}" for c in S_COLS],
        )

    def run(stream, target, ckpt):
        view = ops.join_view_oplog_foreach_batch(
            stream,
            target,
            rel_col="rel",
            r_tag="R",
            s_tag="S",
            op_col="op",
            seq_col="seq",
            r_key=["o_orderkey"],
            s_key=["c_custkey"],
            r_join="o_custkey",
            s_join="c_custkey",
            r_cols=R_COLS,
            s_cols=S_COLS,
            group_cols=["c_mktsegment", "o_orderstatus"],
            sum_cols=["cents"],
            how=how,
            checkpoint_dir=ckpt,
        )
        return _live(
            view, "c_mktsegment", "o_orderstatus", n_rows="n", cents_sum="sum_cents"
        )

    G = 10**10
    gens = (
        tag_r(
            _carved_oplog(rbase, "o_orderkey", R_COLS, None, rp1, 1 * G)
        ).unionByName(
            tag_s(
                _carved_oplog(
                    sbase, "c_custkey", S_COLS, None, ssp1, 1 * G + 5 * 10**9
                )
            )
        ),
        tag_r(_carved_oplog(rbase, "o_orderkey", R_COLS, rp1, rp2, 2 * G)),
        tag_r(
            _carved_oplog(rbase, "o_orderkey", R_COLS, rp2, rp3, 3 * G)
        ).unionByName(
            tag_s(
                _carved_oplog(
                    sbase, "c_custkey", S_COLS, ssp1, ssp2, 3 * G + 5 * 10**9
                )
            )
        ),
    )
    return _landed_stream_run(spark, gens, run)


@query(
    "streaming_join_view_oplog_pipeline",
    oracle="""
    WITH v2 AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS st
      FROM orders WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE st END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1),
    s2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 8 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 9 != 5)
    SELECT s2.c_mktsegment, v3.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v3.cents) AS BIGINT) AS cents_sum
    FROM v3 JOIN s2 ON v3.o_custkey = s2.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_join_view_oplog_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE-DELTA JOIN-view maintenance — the r9 capstone, composing
    the op-log input (no snapshot diffs), the bilinear Δ-expansion,
    bucket-partitioned standing images with PRUNED counterpart scans,
    touched-bucket partial rewrites, and the before-image divergence
    guard into one standing sink
    (``streaming.ops.join_view_oplog_foreach_batch``). Same carving
    and SAME oracle as the snapshot-fed ``streaming_join_view_maintenance``:
    one operation log covers BOTH relations (a shared LSN-style seq),
    three generations land as a file stream — gen 1 bootstraps orders
    v1 + dim s1 as inserts, gen 2 carries only the orders v1→v2
    changelog (the dim is silent = unchanged), gen 3 carries the
    orders v2→v3 AND dim s1→s2 changelogs — and each batch refreshes
    γ(R ⋈ S) via ΔR⋈S_old + R_old⋈ΔS + ΔR⋈ΔS with the deltas taken
    straight from the log. Each Δ-term's counterpart image scan is
    partition-pruned to the delta's join-key buckets and the delta is
    broadcast; image rewrites touch only the buckets the batch's keys
    occupy (untouched buckets carry through the atomic commit as manifest rows);
    the earliest op per key is cross-checked against the committed
    image so a diverged log RAISES instead of corrupting the view.
    The oracle recomputes γ(v3 ⋈ s2) directly — the hash certifies
    three generations of pure-delta join maintenance ≡
    recompute(final). Scale: per batch, delta-sized validation and
    deltas, touched-bucket image I/O on lookup and rewrite, three
    broadcast delta joins, a |groups|-row merge — nothing
    relation-sized except the buckets the change actually lands in."""
    return _join_view_oplog_run(spark, sf_dir, "inner")


@query(
    "streaming_outer_join_view_oplog_pipeline",
    oracle="""
    WITH v2 AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS st
      FROM orders WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE st END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1),
    s2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 8 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 9 != 5)
    SELECT COALESCE(s2.c_mktsegment, '(none)') AS c_mktsegment,
           v3.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v3.cents) AS BIGINT) AS cents_sum
    FROM v3 LEFT JOIN s2 ON v3.o_custkey = s2.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_outer_join_view_oplog_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OUTER-join view maintenance from the op-log — the counting
    problem evaluated entirely from the changelog, with every term
    still bucket-pruned (``join_view_oplog_foreach_batch`` with
    ``how="left_outer"``; same carving and SAME oracle as the
    snapshot-fed ``streaming_outer_join_view_maintenance``): ΔR rows
    landing outside the batch-FINAL dim key set take '(none)' — K₂
    computed only on ΔR's touched buckets (pruned old keys ∖ batch
    deletes ∪ batch upserts), never a full dim scan — and R_old rows
    of dim keys whose net presence changed migrate between the
    ∅-group and matched groups, scanning the same ΔS-bucket-pruned
    fact image as the bilinear term. The three generations put both
    migration directions in play (dim keys ≡2 mod 9 ENTER between s1
    and s2, ≡5 mod 9 LEAVE) and the dim-silent generation 2 must
    cause no spurious migrations. Bootstrap needs no special case:
    gen 1's unmatched fact inserts fall out as ΔR∖K₂. The oracle
    recomputes γ(v3 ⟕ s2) directly — the hash certifies three
    generations of pure-delta outer maintenance ≡ recompute(final)."""
    return _join_view_oplog_run(spark, sf_dir, "left_outer")


@query(
    "streaming_outer_join_view_maintenance",
    oracle="""
    WITH v2 AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderkey % 13 = 0 THEN 'X'
                  ELSE o_orderstatus END AS st
      FROM orders WHERE o_orderkey % 11 != 5),
    v3 AS (
      SELECT o_custkey,
             CASE WHEN o_orderkey % 23 = 0 THEN cents + 500
                  ELSE cents END AS cents,
             CASE WHEN o_orderkey % 19 = 0 THEN 'Y'
                  ELSE st END AS o_orderstatus
      FROM v2 WHERE o_orderkey % 17 != 1),
    s2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 8 = 0 THEN 'MACHINERY'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM customer WHERE c_custkey % 9 != 5)
    SELECT COALESCE(s2.c_mktsegment, '(none)') AS c_mktsegment,
           v3.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v3.cents) AS BIGINT) AS cents_sum
    FROM v3 LEFT JOIN s2 ON v3.o_custkey = s2.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_outer_join_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming maintenance of an OUTER-join view — the counting
    problem (``ivm_outer_join_maintenance``) composed into the
    standing sink (``join_view_foreach_batch`` with
    ``how="left_outer"``): the same three generations as the inner
    twin — orders v1+dim s1, orders v2 only (dim absent = unchanged),
    orders v3+dim s2 — but every unmatched fact row lives in the
    '(none)' group, and each generation's refresh must move rows
    between the ∅-group and matched groups exactly as dim keys
    appear/disappear (keys ≡2 mod 9 ENTER the dim between s1 and s2;
    ≡5 mod 9 LEAVE it — both migration directions load-bearing, and
    the dim-absent generation must produce NO spurious migrations).
    The oracle recomputes γ(v3 ⟕ s2) directly; the hash certifies
    three generations of incremental outer-join maintenance ≡
    recompute(final). Scale: the inner sink's per-generation cost
    plus two key-transition joins built from the dim CHANGE and one
    anti-join of ΔR against the dim key set."""
    return _join_view_run(spark, sf_dir, "left_outer")


# ---- the reference's monthly use case, end-to-end incremental --------

#: Per-session memo: both monthly-refresh queries certify the SAME
#: three-drop run (fact + annual view from one standing state), so the
#: landing/stream/refresh work runs once per session.
_EPE_MONTHLY_MEMO: dict[SparkSession, tuple[DataFrame, DataFrame]] = {}


def _epe_monthly_run(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    import os
    import shutil
    import tempfile

    if spark in _EPE_MONTHLY_MEMO:
        return _EPE_MONTHLY_MEMO[spark]
    from epe_data_wrangling_spark.plans.epe_demo import monthly_workbook_versions
    from epe_data_wrangling_spark.sources.xlsx import write_xlsx
    from epe_data_wrangling_spark.streaming.epe_monthly import epe_monthly_refresh

    work = tempfile.mkdtemp(prefix="epe_monthly_")
    drops = os.path.join(work, "drops")
    os.makedirs(drops)
    target = os.path.join(work, "state")
    ckpt = os.path.join(work, "ckpt")
    try:
        for i, grids in enumerate(monthly_workbook_versions(), start=1):
            # one drop lands, one availableNow run applies it — the
            # monthly cycle, three times, over ONE checkpoint (the
            # file source's seen-file log carries across runs)
            write_xlsx(os.path.join(drops, f"drop_{i:03d}.xlsx"), grids)
            fact, annual = epe_monthly_refresh(
                spark, drops, target, checkpoint_dir=ckpt
            )
        # materialize before cleanup: both frames read the standing
        # state lazily and the work dir must not leak per sweep
        fact_rows = fact.collect()
        annual_rows = annual.collect()
        out = (
            spark.createDataFrame(fact_rows, fact.schema),
            spark.createDataFrame(annual_rows, annual.schema),
        )
        _EPE_MONTHLY_MEMO[spark] = out
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _epe_monthly_fact_oracle() -> str:
    from epe_data_wrangling_spark.catalog.epe_q import _expected_values_sql

    return _expected_values_sql()


def _epe_monthly_annual_oracle() -> str:
    from epe_data_wrangling_spark.catalog.epe_q import _expected_values_sql

    return f"""
    WITH fact AS ({_expected_values_sql()})
    SELECT chave_seletora, CAST(year(data) AS INTEGER) AS ano,
           CAST(SUM(CAST(valor AS DECIMAL(18,6))) AS DOUBLE) AS valor_ano,
           COUNT(*) AS n_meses
    FROM fact GROUP BY chave_seletora, year(data)
    """


@query("streaming_epe_monthly_fact", oracle=_epe_monthly_fact_oracle)
def streaming_epe_monthly_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's monthly cadence (`tratamento_epe.rmd:30`)
    composed end-to-end and INCREMENTAL: three cumulative workbook
    drops land in a watched dir (months missing in drop 1, published
    in drop 2, and one prior-month figure REVISED by drop 3), the
    file stream source delivers each new drop, and
    `streaming.epe_monthly.epe_monthly_refresh` maintains the
    standing 8-column fact table by keyed snapshot diff — never
    recomputing prior drops. The final fact must hash-match the SAME
    frozen golden as the batch `epe_pipeline_demo`, which is the
    from-scratch recompute of drop 3: certifies that bootstrap +
    publish + revision (retraction load-bearing) converge exactly."""
    return _epe_monthly_run(spark)[0]


@query("streaming_epe_monthly_refresh", oracle=_epe_monthly_annual_oracle)
def streaming_epe_monthly_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The downstream half of the monthly capstone: the
    annual-consumption view ((chave_seletora, ano) → valor_ano,
    n_meses) maintained ADDITIVELY from the drops' manufactured
    changelog — micro-unit integer sums merged |groups|-at-a-time per
    drop, the standing aggregate never recomputed from the fact. The
    oracle recomputes the aggregate from the golden fact directly, so
    the hash certifies bootstrap + new-month inserts + the drop-3
    revision (a signed retraction reaching the view through
    `_additive_merge`) land on exact equality with the batch
    `epe_annual_consumption` semantics."""
    return _epe_monthly_run(spark)[1]


# ---- incremental ANN index maintenance (IVF refresh, no retrain) -----

AIDX_CELLS = 8   #: trained coarse cells (mirrors KMEANS_K)
AIDX_ITERS = 2   #: Lloyd iterations at bootstrap (mirrors KMEANS_ITERS)
AIDX_NQ = 20     #: queries served
AIDX_PROBE = 4   #: probed cells per query
AIDX_K = 3       #: neighbors per query


def _spread_init_ctes(k: int, sample_cap: int = SPREAD_SAMPLE_CAP) -> str:
    """Unrolled FARTHEST-FIRST seeding over ``tv`` (the Gonzalez
    traversal `operators.kmeans.farthest_first_seeds` runs Spark-side,
    step for step): ``tvs`` = the deterministic md5-ranked sample the
    traversal is bounded to (the ``sample_cap`` rows with the lowest
    (md5(CAST(vec_id AS VARCHAR)), vec_id) — identity whenever the
    corpus is smaller than the cap, which holds at every
    certification scale); fs0 = the sample's lowest id's row; fs(i) =
    the sample row maximizing its accumulated min dist² to
    fs0..fs(i-1) (ties by lowest id), the min accumulated pairwise
    via LEAST exactly as Spark's flat F.least (min is exact, so flat
    vs chained agree bit-for-bit). Ends at ``c0l`` (cid = pick order,
    c) — a drop-in replacement for the lowest-id init block in
    `_gen1_coarse_ctes(init_ctes=...)`. Every step is ``AS
    MATERIALIZED``: each fs(i)/fm(i) reads the one before it, and an
    inlined chain is re-expanded at every reference (DuckDB 1.0 spent
    ~190 s of the spread-rebuild oracle there); materialized, each
    step runs once. Rows are unchanged."""
    steps = [
        "tvs AS MATERIALIZED (SELECT vec_id, v, vv FROM tv\n"
        f"        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id"
        f" LIMIT {sample_cap})",
        "fs0 AS MATERIALIZED (SELECT vec_id, v, vv FROM tvs ORDER BY vec_id LIMIT 1)",
    ]
    for i in range(1, k):
        if i == 1:
            steps.append(
                "fm1 AS MATERIALIZED (SELECT t.vec_id, t.v, t.vv,\n"
                "        (t.vv - 2 * list_dot_product(t.v, s.v)) + s.vv AS d\n"
                "        FROM tvs t, fs0 s)"
            )
        else:
            steps.append(
                f"fm{i} AS MATERIALIZED (SELECT m.vec_id, m.v, m.vv,\n"
                f"        LEAST(m.d, (m.vv - 2 * list_dot_product(m.v, s.v))"
                f" + s.vv) AS d\n"
                f"        FROM fm{i - 1} m, fs{i - 1} s)"
            )
        steps.append(
            f"fs{i} AS MATERIALIZED (SELECT vec_id, v, vv FROM fm{i}\n"
            f"        ORDER BY d DESC, vec_id LIMIT 1)"
        )
    union = "\n        UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS cid, v AS c FROM fs{i}"
        for i in range(k)
    )
    steps.append(f"c0l AS MATERIALIZED ({union})")
    return ",\n    ".join(steps)


def _gen1_coarse_ctes(
    after_e: str = "", train_sql: str | None = None,
    init_ctes: str | None = None,
) -> str:
    """Shared WITH-prefix of the incremental-ANN-index oracles: the
    coarse quantizer trained on ``train_sql``'s rows (default: the
    BOOTSTRAP generation, vec_id % 3 = 0 — the sinks' frozen stage;
    same staging as mlprep_q._kmeans_oracle, mirrored from
    `operators.kmeans.lloyd_means`), ending at ``cent`` (cid, c, cc)
    and ``av`` (every vector + its norm). ``after_e`` injects CTEs
    between ``e`` and the training relation (the retrain oracle puts
    the live-corpus CTEs there and trains on them); ``init_ctes``
    overrides the lowest-id Lloyd init with a CTE chain ending at
    ``c0l`` (cid, c) — the spread-retrain oracle passes
    `_spread_init_ctes`. Exists once so the Lloyd staging cannot
    drift between the oracles."""
    mean = (
        "CAST(SUM(CAST(round(x * 1000000000.0) AS BIGINT)) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE) / 1000000000.0"
    )

    def assign(cents: str, out: str) -> str:
        return f"""
    {out} AS (SELECT vec_id, v, cid FROM (
        SELECT tv.vec_id, tv.v, c.cid,
               row_number() OVER (PARTITION BY tv.vec_id
                 ORDER BY (tv.vv - 2 * list_dot_product(tv.v, c.c)) + c.cc,
                          c.cid) AS rn
        FROM tv CROSS JOIN {cents} c) t
      WHERE rn = 1)"""

    def update(assigned: str, out: str) -> str:
        return f"""
    {out}x AS (SELECT cid, CAST(u.i - 1 AS INTEGER) AS dim, v[u.i] AS x
        FROM {assigned}, LATERAL unnest(generate_series(1, len(v))) u(i)),
    {out} AS (SELECT cid, dim, {mean} AS mean_val
              FROM {out}x GROUP BY cid, dim)"""

    def to_cent(means: str, out: str) -> str:
        return f"""
    {out}l AS (SELECT cid, list(mean_val ORDER BY dim) AS c
               FROM {means} GROUP BY cid),
    {out} AS (SELECT cid, c, list_dot_product(c, c) AS cc FROM {out}l)"""

    train = train_sql or (
        "SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e "
        "WHERE vec_id % 3 = 0"
    )
    after = f"{after_e}," if after_e else ""
    init = init_ctes or (
        f"""c0l AS (SELECT vec_id AS cid, v AS c FROM tv
            ORDER BY vec_id LIMIT {AIDX_CELLS})"""
    )
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {after}
    tv AS ({train}),
    {init},
    c0 AS (SELECT cid, c, list_dot_product(c, c) AS cc FROM c0l),
    {assign("c0", "a1")},
    {update("a1", "m1")},
    {to_cent("m1", "c1")},
    {assign("c1", "a2")},
    {update("a2", "m2")},
    {to_cent("m2", "cent")},
    av AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e)"""


def _live_corpus_ctes() -> str:
    """CTEs of the LIVE corpus after the upsert-variant change batch
    (shared by the raw and PQ upsert oracles): landed ids (gen 1+2)
    minus the deleted cohort (vec_id%5=4), upserted ids (vec_id%5=2)
    carrying their re-embedded (negated) vectors, gen 3 inserted
    as-is. Ends at ``lvv`` with av-compatible columns (vec_id, v,
    vv) so the shared serve CTEs swap corpora verbatim."""
    return """live AS (SELECT vec_id,
                    CASE WHEN vec_id % 3 <> 2 AND vec_id % 5 = 2
                         THEN list_transform(v, x -> -x)
                         ELSE v END AS v
             FROM e
             WHERE NOT (vec_id % 3 <> 2 AND vec_id % 5 = 4)),
    lvv AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM live)"""


def _ann_index_oracle(
    corpus: str = "av", extra_ctes: str = "", coarse: str | None = None
) -> str:
    """Recompute of the final index state: Lloyd trained on the
    BOOTSTRAP generation only (vec_id % 3 = 0 — the sink's frozen
    quantizer), the ``corpus`` CTE's vectors assigned against the
    frozen centroids, probed serve with BIGINT-staged distances.
    Queries are always the ORIGINAL embeddings (external query
    vectors are not index rows). Mirrors
    `operators.kmeans.lloyd_means` operation tree for operation
    tree (same staging as mlprep_q._kmeans_oracle). Coarse-quantizer
    CTEs shared with the PQ twin via `_gen1_coarse_ctes`; the upsert
    variant passes the `_live_corpus_ctes` corpus."""
    d2a = "(a.vv - 2 * list_dot_product(a.v, c.c)) + c.cc"
    d2q = "(q.vv - 2 * list_dot_product(q.v, c.c)) + c.cc"
    d2x = "(p.qq - 2 * list_dot_product(p.qv, a.vx)) + a.vv"
    extra = f"{extra_ctes}," if extra_ctes else ""
    return f"""
    WITH {coarse or _gen1_coarse_ctes()},
    {extra}
    assigned AS (SELECT vid, vx, vv, cell FROM (
        SELECT a.vec_id AS vid, a.v AS vx, a.vv, c.cid AS cell,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY {d2a}, c.cid) AS rn
        FROM {corpus} a CROSS JOIN cent c) t
      WHERE rn = 1),
    probes AS (SELECT query_id, qv, qq, cell FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, q.vv AS qq, c.cid AS cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {d2q}, c.cid) AS rn
        FROM av q CROSS JOIN cent c WHERE q.vec_id < {AIDX_NQ}) t
      WHERE rn <= {AIDX_PROBE}),
    cand AS (SELECT p.query_id, a.vid AS neighbor_id,
               CAST(round(({d2x}) * 1000000000.0) AS BIGINT) AS d2_r
             FROM probes p JOIN assigned a USING (cell)
             WHERE p.query_id <> a.vid)
    SELECT query_id, neighbor_id, rank,
           round(CAST(d2_r AS DOUBLE) / 1000000000.0, 6) AS l2_dist
    FROM (SELECT query_id, neighbor_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY d2_r, neighbor_id) AS INTEGER) AS rank, d2_r
          FROM cand) t
    WHERE rank <= {AIDX_K}
    """


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus the ANN index queries land and serve."""
    from epe_data_wrangling_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def _ann_queries(e: DataFrame, nq: int) -> DataFrame:
    """The first ``nq`` corpus vectors as serve queries."""
    from pyspark.sql import functions as F

    return e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )


def _ann_vectors(e: DataFrame) -> DataFrame:
    """The exact-re-rank vectors table of the PQ serve (and rebuild)."""
    from pyspark.sql import functions as F

    return e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))


@query("streaming_ann_index_refresh", oracle=_ann_index_oracle())
def streaming_ann_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance — IVF refresh WITHOUT
    retrain (`streaming.ann_index`): the embeddings corpus lands in
    THREE generations (vec_id mod 3), the bootstrap batch trains the
    coarse quantizer ({AIDX_CELLS} cells, {AIDX_ITERS} Lloyd
    iterations via the SAME `operators.kmeans.lloyd_means` the batch
    trainer certifies), and each later generation's vectors are
    assigned against the FROZEN centroids and appended into the
    cell-bucketed manifest store — never touching prior vectors'
    cells beyond the file-level copy-on-write of the cells the batch
    lands in. Serve: {AIDX_NQ} queries probe {AIDX_PROBE}/{AIDX_CELLS}
    cells and read ONLY those cells' files (manifest bucket pruning).
    The oracle recomputes the FINAL state from scratch (train on
    generation 1, assign all, probe, rank), so the hash certifies
    that three generations of append-only maintenance land exactly on
    recompute — the vector-database ingestion contract. Scale: per
    ingestion batch the work is delta × K broadcast argmin +
    touched-cell rewrite + manifest commit; a query scans
    ~{AIDX_PROBE}/{AIDX_CELLS} of the corpus. Replay skips, duplicate
    ids raise, k_cells drift raises (pytest-pinned)."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.ann_index import (
        ivf_index_foreach_batch,
        ivf_index_topk,
    )

    e = _embeddings(spark, sf_dir)

    def run(stream, target, ckpt):
        ivf_index_foreach_batch(
            stream, target,
            k_cells=AIDX_CELLS, train_iters=AIDX_ITERS, checkpoint_dir=ckpt,
        )
        return ivf_index_topk(
            spark, target, _ann_queries(e, AIDX_NQ), probe=AIDX_PROBE, k=AIDX_K
        )

    return _landed_stream_run(
        spark, [e.filter(F.col("vec_id") % 3 == i) for i in range(3)], run
    )


AIDXQ_NQ = 10     #: queries served by the PQ-coded index
AIDXQ_PROBE = 4
AIDXQ_CAND = 50   #: ADC candidates before exact re-rank
AIDXQ_K = 5
AIDXQ_M = 4       #: PQ subspaces (64 dims -> 16 each)
AIDXQ_SUB = 16
AIDXQ_CBK = 32    #: residual codebook entries per subspace


def _ivfpq_index_oracle(
    corpus: str = "av", extra_ctes: str = "", coarse: str | None = None,
    train_is_corpus: bool = False,
) -> str:
    """Recompute of the PQ-coded index's final state: coarse
    quantizer AND residual codebooks trained on the BOOTSTRAP
    generation only (vec_id % 3 = 0 ORIGINAL vectors — the sink's
    frozen stages, independent of any later upsert/delete), the
    ``corpus`` CTE's vectors residual-encoded against them, probed
    ADC + exact re-rank against the same corpus (the caller's
    vectors table — the system of record). Queries stay ORIGINAL
    embeddings. Mirrors `operators.kmeans.lloyd_means` +
    `operators.pq` operation tree for operation tree (same staging
    as mlprep_q's _kmeans_oracle/_ivfpq_oracle). Coarse-quantizer
    CTEs shared with the raw-vector twin via `_gen1_coarse_ctes`
    (``coarse`` overrides them — the rebuild oracle trains on the
    live corpus, exactly as the retrain oracle does);
    ``train_is_corpus`` short-circuits the codebook-training residual
    chain to the corpus residuals themselves (rebuild: the training
    corpus IS the encoded corpus, so tsub = rsub verbatim — same
    dedup the ``corpus == 'av'`` branch applies to the default).
    The PQ-specific ``mean`` staging below is the codebook round."""
    mean = (
        "CAST(SUM(CAST(round(x * 1000000000.0) AS BIGINT)) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE) / 1000000000.0"
    )
    extra = f"{extra_ctes}," if extra_ctes else ""
    if train_is_corpus:
        # rebuild-from-source: both stages train on the live corpus —
        # the training residuals ARE the corpus residuals
        tchain = "tsub AS (SELECT * FROM rsub),"
    elif corpus == "av":
        # tv ⊆ av: the corpus residuals already contain the training
        # generation's — filter, don't recompute
        tchain = "tsub AS (SELECT * FROM rsub WHERE vec_id % 3 = 0),"
    else:
        # the corpus diverged from the originals (upserts/deletes):
        # the frozen codebooks still train on ORIGINAL gen-1 residuals
        tchain = f"""tasg AS (SELECT vec_id, v, cell, cv FROM (
        SELECT a.vec_id, a.v, c.cid AS cell, c.c AS cv,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY (a.vv - 2 * list_dot_product(a.v, c.c)) + c.cc,
                          c.cid) AS rn
        FROM tv a CROSS JOIN cent c) t WHERE rn = 1),
    tres AS (SELECT vec_id, cell,
                    list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS r
             FROM tasg),
    tsub0 AS (SELECT vec_id, cell, u.m AS m,
                     r[u.m * {AIDXQ_SUB} + 1 : (u.m + 1) * {AIDXQ_SUB}] AS rv
              FROM tres, LATERAL unnest(generate_series(0, {AIDXQ_M - 1})) u(m)),
    tsub AS (SELECT vec_id, cell, m, rv, list_dot_product(rv, rv) AS rvv
             FROM tsub0),"""
    return f"""
    WITH {coarse or _gen1_coarse_ctes()},
    {extra}
    asg AS (SELECT vec_id, v, cell, cv FROM (
        SELECT a.vec_id, a.v, c.cid AS cell, c.c AS cv,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY (a.vv - 2 * list_dot_product(a.v, c.c)) + c.cc,
                          c.cid) AS rn
        FROM {corpus} a CROSS JOIN cent c) t WHERE rn = 1),
    res AS (SELECT vec_id, cell,
                   list_transform(range(1, len(v) + 1), i -> v[i] - cv[i]) AS r
            FROM asg),
    rsub0 AS (SELECT vec_id, cell, u.m AS m,
                     r[u.m * {AIDXQ_SUB} + 1 : (u.m + 1) * {AIDXQ_SUB}] AS rv
              FROM res, LATERAL unnest(generate_series(0, {AIDXQ_M - 1})) u(m)),
    rsub AS (SELECT vec_id, cell, m, rv, list_dot_product(rv, rv) AS rvv
             FROM rsub0),
    {tchain}
    init AS (SELECT m, vec_id AS cid, rv AS c FROM (
               SELECT m, vec_id, rv,
                      row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
               FROM tsub) t WHERE rn <= {AIDXQ_CBK}),
    cb0 AS (SELECT m, cid, c, list_dot_product(c, c) AS cc FROM init),
    b1 AS (SELECT vec_id, m, rv, cid FROM (
             SELECT s.vec_id, s.m, s.rv, c.cid,
                    row_number() OVER (PARTITION BY s.vec_id, s.m
                      ORDER BY (s.rvv - 2 * list_dot_product(s.rv, c.c)) + c.cc,
                               c.cid) AS rn
             FROM tsub s JOIN cb0 c ON s.m = c.m) t WHERE rn = 1),
    n1x AS (SELECT m, cid, CAST(u.i - 1 AS INTEGER) AS dim, rv[u.i] AS x
            FROM b1, LATERAL unnest(generate_series(1, len(rv))) u(i)),
    n1 AS (SELECT m, cid, dim, {mean} AS mean_val
           FROM n1x GROUP BY m, cid, dim),
    cb1l AS (SELECT m, cid, list(mean_val ORDER BY dim) AS c
             FROM n1 GROUP BY m, cid),
    cb1 AS (SELECT m, cid, c, list_dot_product(c, c) AS cc FROM cb1l),
    codes AS (SELECT vec_id, cell, m, cid FROM (
                SELECT s.vec_id, s.cell, s.m, c.cid,
                       row_number() OVER (PARTITION BY s.vec_id, s.m
                         ORDER BY (s.rvv - 2 * list_dot_product(s.rv, c.c))
                                  + c.cc, c.cid) AS rn
                FROM rsub s JOIN cb1 c ON s.m = c.m) t WHERE rn = 1),
    probes AS (SELECT query_id, qv, qq, cell, cv FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, q.vv AS qq,
               c.cid AS cell, c.c AS cv,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY (q.vv - 2 * list_dot_product(q.v, c.c)) + c.cc,
                          c.cid) AS rn
        FROM av q CROSS JOIN cent c WHERE q.vec_id < {AIDXQ_NQ}) t
      WHERE rn <= {AIDXQ_PROBE}),
    qres AS (SELECT query_id, cell,
                    list_transform(range(1, len(qv) + 1),
                                   i -> qv[i] - cv[i]) AS r
             FROM probes),
    qsub0 AS (SELECT query_id, cell, u.m AS m,
                     r[u.m * {AIDXQ_SUB} + 1 : (u.m + 1) * {AIDXQ_SUB}] AS rv
              FROM qres, LATERAL unnest(generate_series(0, {AIDXQ_M - 1})) u(m)),
    qsub AS (SELECT query_id, cell, m, rv, list_dot_product(rv, rv) AS rvv
             FROM qsub0),
    dtab AS (SELECT s.query_id, s.cell, s.m, c.cid,
                    CAST(round(((s.rvv - 2 * list_dot_product(s.rv, c.c))
                                + c.cc) * 1000000000.0) AS BIGINT) AS d2_r
             FROM qsub s JOIN cb1 c ON s.m = c.m),
    adc AS (SELECT d.query_id, k.vec_id, SUM(d.d2_r) AS adc_r
            FROM codes k
            JOIN dtab d ON k.cell = d.cell AND k.m = d.m AND k.cid = d.cid
            WHERE d.query_id <> k.vec_id
            GROUP BY d.query_id, k.vec_id),
    cand AS (SELECT query_id, vec_id FROM (
               SELECT query_id, vec_id,
                      row_number() OVER (PARTITION BY query_id
                        ORDER BY adc_r, vec_id) AS rn
               FROM adc) t WHERE rn <= {AIDXQ_CAND}),
    exact AS (SELECT c.query_id, c.vec_id AS neighbor_id,
                     CAST(round(((q.vv - 2 * list_dot_product(q.v, x.v))
                                 + x.vv) * 1000000000.0) AS BIGINT) AS d2_r
              FROM cand c
              JOIN av q ON q.vec_id = c.query_id
              JOIN {corpus} x ON x.vec_id = c.vec_id)
    SELECT query_id, neighbor_id, rank,
           round(CAST(d2_r AS DOUBLE) / 1000000000.0, 6) AS l2_dist
    FROM (SELECT query_id, neighbor_id, d2_r,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY d2_r, neighbor_id) AS INTEGER) AS rank
          FROM exact) t
    WHERE rank <= {AIDXQ_K}
    """


@query("streaming_ivfpq_index_refresh", oracle=_ivfpq_index_oracle())
def streaming_ivfpq_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-CODED incremental ANN index — the billion-scale ingestion
    form of `streaming_ann_index_refresh` (FAISS IVFPQ maintained
    incrementally): the bootstrap generation trains the coarse
    quantizer AND the residual codebooks (both via the shared
    trainers, so batch `ann_ivfpq_topk` and this sink cannot drift),
    both freeze, and each later generation's vectors are
    residual-encoded to {AIDXQ_M} one-byte codes and appended into
    the cell-bucketed manifest store — the index holds CODES only
    (~{AIDXQ_SUB}× smaller than the float vectors; raw vectors stay
    in the source table, which serve-time exact re-rank reads as a
    |queries|×{AIDXQ_CAND} point-lookup). Serve: {AIDXQ_NQ} queries
    probe {AIDXQ_PROBE}/{AIDX_CELLS} cells, score the probed cells'
    codes by broadcast ADC tables, exact-re-rank the top
    {AIDXQ_CAND}. The oracle recomputes the FINAL state from scratch
    (train both stages on generation 1, encode all, probe, ADC,
    re-rank), so the hash certifies that append-only PQ-coded
    maintenance lands exactly on recompute. Scale: per ingestion
    batch = delta × K argmin + delta-residual encode against
    broadcast codebooks + touched-cell rewrite of CODE rows; a query
    scans ~{AIDXQ_PROBE}/{AIDX_CELLS} of the corpus as codes."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.ann_index import (
        ivfpq_index_foreach_batch,
        ivfpq_index_topk,
    )

    e = _embeddings(spark, sf_dir)

    def run(stream, target, ckpt):
        ivfpq_index_foreach_batch(
            stream, target,
            k_cells=AIDX_CELLS, train_iters=AIDX_ITERS,
            pq_m=AIDXQ_M, pq_sub=AIDXQ_SUB, cbk=AIDXQ_CBK,
            checkpoint_dir=ckpt,
        )
        return ivfpq_index_topk(
            spark, target, _ann_queries(e, AIDXQ_NQ), _ann_vectors(e),
            probe=AIDXQ_PROBE, cand=AIDXQ_CAND, k=AIDXQ_K,
        )

    return _landed_stream_run(
        spark, [e.filter(F.col("vec_id") % 3 == i) for i in range(3)], run
    )


def _upsert_change_batches(e):
    """The index-CDC queries' SHARED change plan (Python twin of
    `_live_corpus_ctes` — the four certified queries that land it must
    construct IDENTICAL batches, and r14's advice pass caught one copy
    drifting on a cast, so it exists once now): three landing drops —
    generation 1 (vec_id%3=0) bootstraps, generation 2 inserts, and a
    MIXED batch inserts generation 3 while UPSERTING re-embedded
    (negated) vectors for landed ids with vec_id%5=2 and DELETING
    landed ids with vec_id%5=4."""
    from pyspark.sql import functions as F

    landed = F.col("vec_id") % 3 != 2
    ins = [
        e.filter(F.col("vec_id") % 3 == i).select(
            F.lit("I").alias("op"), "vec_id", "embedding"
        )
        for i in range(3)
    ]
    ups = e.filter(landed & (F.col("vec_id") % 5 == 2)).select(
        F.lit("U").alias("op"),
        "vec_id",
        F.transform("embedding", lambda x: -x).cast("array<float>").alias(
            "embedding"
        ),
    )
    dels = e.filter(landed & (F.col("vec_id") % 5 == 4)).select(
        F.lit("D").alias("op"),
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    return [ins[0], ins[1], ins[2].union(ups).union(dels)]


def _live_corpus_df(e):
    """The LIVE corpus after `_upsert_change_batches` lands (Python
    twin of the oracle-side `_live_corpus_ctes`): landed ids minus the
    deleted cohort, upserted ids carrying their re-embedded (negated)
    vectors, generation 3 as-is."""
    from pyspark.sql import functions as F

    landed = F.col("vec_id") % 3 != 2
    return (
        e.filter(landed & (F.col("vec_id") % 5 != 4))
        .withColumn(
            "embedding",
            F.when(
                F.col("vec_id") % 5 == 2,
                F.transform("embedding", lambda x: -x).cast("array<float>"),
            ).otherwise(F.col("embedding")),
        )
        .union(e.filter(F.col("vec_id") % 3 == 2))
    )


def _ann_index_upsert_oracle() -> str:
    """`_ann_index_oracle` over the LIVE corpus (deletes excluded,
    upserts re-embedded) — the quantizer still trains on the original
    bootstrap generation (the frozen stage); queries stay the
    ORIGINAL embeddings."""
    return _ann_index_oracle(corpus="lvv", extra_ctes=_live_corpus_ctes())


@query("streaming_ann_index_upsert", oracle=_ann_index_upsert_oracle())
def streaming_ann_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN index's UNLEARN path (`streaming.ann_index.
    ivf_index_changes_foreach_batch`): three change batches land —
    generation 1 bootstraps (op=I, trains the frozen quantizer),
    generation 2 inserts, and a MIXED batch inserts generation 3
    while UPSERTING re-embedded (negated) vectors for landed ids with
    vec_id%5=2 and DELETING landed ids with vec_id%5=4 (the dedup-
    casualty / GDPR / re-embedding contract a production vector index
    must honor). Deletes and superseded upserts never touch standing
    rows: they append cell-bucketed tombstones located via the (id →
    cell) locator sidecar (bucketed by id hash — a change batch
    reads/rewrites only the key buckets its ids hash to), and serve
    filters the probed cells' tombstones via a broadcast max-tgen
    join. `ivf_index_vacuum` then physically drops the dead rows
    (copy-on-write of exactly the tombstoned cells) and the SAME
    queries are served from the vacuumed index — so the certified
    hash covers the tombstone semantics AND the vacuum's physical
    rewrite in one pass. The oracle recomputes the final state from
    scratch over the LIVE corpus (deletes excluded, upserts
    re-embedded) under the bootstrap-trained quantizer. Scale: a
    change batch costs the batch (append + touched-key-bucket locator
    rewrite + tombstone append); vacuum costs the tombstoned cells;
    serve scans ~probe/K of the corpus. Replay/duplicate/
    insert-over-present/delete-unknown/locator-drift witnesses and
    serve-plan pruning are pytest-pinned (tests/test_ann_index.py)."""
    from epe_data_wrangling_spark.streaming.ann_index import (
        ivf_index_changes_foreach_batch,
        ivf_index_topk,
        ivf_index_vacuum,
    )

    e = _embeddings(spark, sf_dir)

    def run(stream, target, ckpt):
        ivf_index_changes_foreach_batch(
            stream, target,
            k_cells=AIDX_CELLS, train_iters=AIDX_ITERS, checkpoint_dir=ckpt,
        )
        if ivf_index_vacuum(spark, target) == 0:
            raise RuntimeError(
                "ann_index_upsert: vacuum found nothing dead — the change "
                "batch's deletes/upserts never tombstoned"
            )
        return ivf_index_topk(
            spark, target, _ann_queries(e, AIDX_NQ), probe=AIDX_PROBE, k=AIDX_K
        )

    return _landed_stream_run(spark, _upsert_change_batches(e), run)


def _ivfpq_index_upsert_oracle() -> str:
    """`_ivfpq_index_oracle` over the LIVE corpus (deletes excluded,
    upserts re-embedded): the coarse quantizer and residual codebooks
    still train on the original bootstrap generation (the frozen
    stages); codes encode the live corpus; exact re-rank reads the
    live vectors table; queries stay the ORIGINAL embeddings."""
    return _ivfpq_index_oracle(corpus="lvv", extra_ctes=_live_corpus_ctes())


@query("streaming_ivfpq_index_upsert", oracle=_ivfpq_index_upsert_oracle())
def streaming_ivfpq_index_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNLEARN path of the PQ-coded index
    (`streaming.ann_index.ivfpq_index_changes_foreach_batch`) — the
    billion-scale twin of `streaming_ann_index_upsert`, driven by the
    same change plan (bootstrap I, insert I, then a mixed batch
    upserting re-embedded negated vectors for landed vec_id%5=2 and
    deleting landed vec_id%5=4): deletes/superseded upserts tombstone
    their (id → cell) locator entry, serve filters probed-cell
    tombstones BEFORE the ADC so retired codes are never scored,
    `ivfpq_index_vacuum` physically drops the dead code rows, and the
    exact re-rank reads the LIVE vectors table (the system of record
    the index's codes-only store defers to). The oracle recomputes
    from scratch with the frozen stages trained on the ORIGINAL
    bootstrap generation and the live corpus encoded — certifying
    that tombstoned PQ maintenance + vacuum land exactly on
    recompute. Witnesses and serve-plan pruning shared with the raw
    CDC sink (one implementation) and pytest-pinned."""
    from epe_data_wrangling_spark.streaming.ann_index import (
        ivfpq_index_changes_foreach_batch,
        ivfpq_index_topk,
        ivfpq_index_vacuum,
    )

    e = _embeddings(spark, sf_dir)

    def run(stream, target, ckpt):
        ivfpq_index_changes_foreach_batch(
            stream, target,
            k_cells=AIDX_CELLS, train_iters=AIDX_ITERS,
            pq_m=AIDXQ_M, pq_sub=AIDXQ_SUB, cbk=AIDXQ_CBK,
            checkpoint_dir=ckpt,
        )
        if ivfpq_index_vacuum(spark, target) == 0:
            raise RuntimeError(
                "ivfpq_index_upsert: vacuum found nothing dead — the change "
                "batch's deletes/upserts never tombstoned"
            )
        return ivfpq_index_topk(
            spark, target, _ann_queries(e, AIDXQ_NQ),
            _ann_vectors(_live_corpus_df(e)),
            probe=AIDXQ_PROBE, cand=AIDXQ_CAND, k=AIDXQ_K,
        )

    return _landed_stream_run(spark, _upsert_change_batches(e), run)


def _ann_index_retrain_oracle() -> str:
    """Recompute of the post-RETRAIN index state: the quantizer is
    trained on the LIVE corpus itself (Lloyd init = its k lowest
    ids — exactly `ivf_index_retrain`'s contract), every live vector
    assigned against the new centroids, probed serve. Queries stay
    the ORIGINAL embeddings."""
    return _ann_index_oracle(
        corpus="lvv",
        coarse=_gen1_coarse_ctes(
            after_e=_live_corpus_ctes(),
            train_sql="SELECT vec_id, v, vv FROM lvv",
        ),
    )


def _retrain_run(spark: SparkSession, sf_dir: str, init: str) -> DataFrame:
    """Shared body of the two retrain certifications: land the I/U/D
    change plan, retrain the standing index on its live corpus with
    the given seeding, serve from the NEW cells."""
    from epe_data_wrangling_spark.streaming.ann_index import (
        ivf_index_changes_foreach_batch,
        ivf_index_retrain,
        ivf_index_topk,
    )

    e = _embeddings(spark, sf_dir)

    def run(stream, target, ckpt):
        ivf_index_changes_foreach_batch(
            stream, target,
            k_cells=AIDX_CELLS, train_iters=AIDX_ITERS, checkpoint_dir=ckpt,
        )
        n = ivf_index_retrain(
            spark, target, k_cells=AIDX_CELLS, train_iters=AIDX_ITERS,
            init=init,
        )
        if n <= 0:
            raise RuntimeError("ann_index_retrain: retrain re-assigned 0 rows")
        return ivf_index_topk(
            spark, target, _ann_queries(e, AIDX_NQ), probe=AIDX_PROBE, k=AIDX_K
        )

    return _landed_stream_run(spark, _upsert_change_batches(e), run)


@query("streaming_ann_index_retrain", oracle=_ann_index_retrain_oracle())
def streaming_ann_index_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift loop's remediation step (`streaming.ann_index.
    ivf_index_retrain`), certified end-to-end: the upsert plan's three
    change batches land (bootstrap I, insert I, mixed I/U/D), then the
    index is RE-TRAINED on its current live corpus — new dense-cid
    centroids from the SAME shared Lloyd trainer (init = the k lowest
    live ids), every live row re-assigned, tombstoned rows dropped in
    the same pass, tombstones cleared, the locator rewritten to the
    new cells, occupancy counters rebuilt — all in one atomic swap.
    Serve then probes the NEW cells. The oracle recomputes from
    scratch with the quantizer trained on the LIVE corpus (not the
    bootstrap generation — that is the entire point of retrain), so
    the hash certifies that the corpus-sized re-partitioning lands
    exactly where a fresh build over the live data would. Scale: the
    one deliberately corpus-sized maintenance op in the index family,
    run at drift cadence (the occupancy advisory's trigger), not per
    batch; everything else stays delta-sized."""
    return _retrain_run(spark, sf_dir, "lowest")


def _ann_index_retrain_spread_oracle() -> str:
    """The retrain oracle with the Lloyd init swapped for the unrolled
    farthest-first chain (`_spread_init_ctes`) — everything else
    (live-corpus training, assignment, probed serve) identical."""
    return _ann_index_oracle(
        corpus="lvv",
        coarse=_gen1_coarse_ctes(
            after_e=_live_corpus_ctes(),
            train_sql="SELECT vec_id, v, vv FROM lvv",
            init_ctes=_spread_init_ctes(AIDX_CELLS),
        ),
    )


@query(
    "streaming_ann_index_retrain_spread",
    oracle=_ann_index_retrain_spread_oracle(),
)
def streaming_ann_index_retrain_spread(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`streaming_ann_index_retrain` with FARTHEST-FIRST seeding
    (`init='spread'`, `operators.kmeans.farthest_first_seeds`) — the
    remediation that works where lowest-id retrain structurally
    cannot: the lowest live ids are by construction the OLDEST rows,
    so on a drifted multi-cluster corpus every default seed starts in
    the original cluster and plain Lloyd cannot migrate a seed across
    a cluster gap at ANY k or iteration count (measured, SCALE.md r15:
    after 6 drifted generations at sf0.1, lowest-id retrain leaves
    skew 2.6 at k=8 and 6.9 at k=16; spread seeding restores balance —
    and `test_ann_index_retrain_spread_rebalances_clustered_drift`
    pins the clustered witness). The Gonzalez traversal is
    deterministic (ties by lowest id) and exactly mirrorable in SQL,
    so THIS query hash-certifies the whole chain: the oracle unrolls
    the same {AIDX_CELLS}-step farthest-first seed selection, the same
    {AIDX_ITERS} Lloyd iterations over the live corpus, and the same
    probed serve (including the md5-sample CTE — identity below the
    {SPREAD_SAMPLE_CAP}-row cap, which every certification corpus is).
    Scale: seeding costs one TakeOrdered corpus pass + k−1 scans of
    the ≤{SPREAD_SAMPLE_CAP}-row sample (r16; was k−1 full-corpus
    scans) — a retrain-cadence cost, never on the ingest path."""
    return _retrain_run(spark, sf_dir, "spread")

def _ivfpq_index_rebuild_oracle() -> str:
    """Recompute of the post-REBUILD PQ index state: BOTH frozen
    stages (coarse quantizer and residual codebooks) trained on the
    LIVE corpus itself — `ivfpq_index_rebuild`'s contract — the live
    corpus re-encoded, probed ADC + exact re-rank against the live
    vectors table. Queries stay the ORIGINAL embeddings."""
    return _ivfpq_index_oracle(
        corpus="lvv",
        coarse=_gen1_coarse_ctes(
            after_e=_live_corpus_ctes(),
            train_sql="SELECT vec_id, v, vv FROM lvv",
        ),
        train_is_corpus=True,
    )


@query("streaming_ivfpq_index_rebuild", oracle=_ivfpq_index_rebuild_oracle())
def streaming_ivfpq_index_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index's drift remediation (`streaming.ann_index.
    ivfpq_index_rebuild`) — closing the one gap `ivf_index_retrain`
    left: a PQ target's codes store holds no vectors, so its retrain
    must go back to the SYSTEM OF RECORD. The upsert plan's three
    change batches land (bootstrap I, insert I, mixed I/U/D), then the
    index is REBUILT: the live id set comes from the index's own codes
    minus tombstones, their vectors come from the caller's vectors
    table, and BOTH frozen stages re-train on that live corpus via the
    shared trainers (coarse Lloyd init = the k lowest live ids;
    codebooks on the live residuals) — so the rebuilt target is
    indistinguishable from a fresh bootstrap over the live corpus
    (pytest-pinned), tombstones clear, the locator rewrites to the new
    cells, occupancy counters rebuild, one atomic swap. Serve then
    probes the NEW cells with NEW ADC tables. The oracle recomputes
    from scratch with both stages trained on the LIVE corpus (not the
    bootstrap generation — the entire point of rebuild). Scale: the
    one deliberately corpus-sized op in the PQ index family, run at
    drift cadence; the source-table read is an id-join (live-ids ×
    vector row lookup), and everything else stays delta-sized."""
    return _rebuild_run(spark, sf_dir, "lowest")


def _rebuild_run(spark: SparkSession, sf_dir: str, init: str) -> DataFrame:
    """Shared body of the PQ rebuild certifications (the lowest-id
    one above and the spread variant staged for r16): land the I/U/D
    change plan, rebuild the PQ target from the system-of-record
    vectors table with the given coarse seeding, serve from the NEW
    cells with NEW ADC tables."""
    from epe_data_wrangling_spark.streaming.ann_index import (
        ivfpq_index_changes_foreach_batch,
        ivfpq_index_rebuild,
        ivfpq_index_topk,
    )

    e = _embeddings(spark, sf_dir)
    vectors = _ann_vectors(_live_corpus_df(e))

    def run(stream, target, ckpt):
        ivfpq_index_changes_foreach_batch(
            stream, target,
            k_cells=AIDX_CELLS, train_iters=AIDX_ITERS,
            pq_m=AIDXQ_M, pq_sub=AIDXQ_SUB, cbk=AIDXQ_CBK,
            checkpoint_dir=ckpt,
        )
        n = ivfpq_index_rebuild(spark, target, vectors, init=init)
        if n <= 0:
            raise RuntimeError(
                "ivfpq_index_rebuild: rebuild re-encoded 0 rows"
            )
        return ivfpq_index_topk(
            spark, target, _ann_queries(e, AIDXQ_NQ), vectors,
            probe=AIDXQ_PROBE, cand=AIDXQ_CAND, k=AIDXQ_K,
        )

    return _landed_stream_run(spark, _upsert_change_batches(e), run)


def _ivfpq_index_rebuild_spread_oracle() -> str:
    """`_ivfpq_index_rebuild_oracle` with the coarse Lloyd init
    swapped for the unrolled farthest-first chain — registered r16;
    the same differential also runs every round as
    tests/test_ann_index.py::test_ivfpq_rebuild_spread_matches_duckdb."""
    return _ivfpq_index_oracle(
        corpus="lvv",
        coarse=_gen1_coarse_ctes(
            after_e=_live_corpus_ctes(),
            train_sql="SELECT vec_id, v, vv FROM lvv",
            init_ctes=_spread_init_ctes(AIDX_CELLS),
        ),
        train_is_corpus=True,
    )


@query(
    "streaming_ivfpq_index_rebuild_spread",
    oracle=_ivfpq_index_rebuild_spread_oracle(),
)
def ivfpq_index_rebuild_spread_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`streaming_ivfpq_index_rebuild` with farthest-first coarse
    seeding (`init='spread'`) — the PQ analogue of
    `streaming_ann_index_retrain_spread`, completing the remediation
    matrix (raw/PQ × lowest/spread): on a drifted multi-cluster
    corpus the lowest-id coarse seeds are all born in the OLDEST
    cluster and plain Lloyd cannot migrate them, so the PQ rebuild
    needs the same Gonzalez traversal the raw retrain got (measured
    rebalance: tests/test_ann_index.py::
    test_ivfpq_index_rebuild_spread_rebalances_clustered_drift).
    The oracle unrolls the identical k-step farthest-first seed
    selection, trains BOTH frozen stages on the live corpus, and
    re-encodes + serves via ADC + exact re-rank. Scale: seeding costs
    one TakeOrdered corpus pass + k−1 scans of the ≤{SPREAD_SAMPLE_CAP}
    -row md5 sample (r16 — identity at certification scale, so the
    oracle's sample CTE keeps the hash), at rebuild cadence — never on
    the ingest path."""
    return _rebuild_run(spark, sf_dir, "spread")



def _maintained_quality_oracle(
    candidate_oracle: str, nq: int, k: int, method: str
) -> str:
    """Shared oracle builder for the maintained-index quality
    reports: the candidate list is a CERTIFIED upsert oracle embedded
    verbatim as a subquery (zero drift from the certified serve), the
    truth is the exact-l2 top-``k`` over the LIVE corpus for the
    first ``nq`` queries, and MRR / mean binary NDCG@k aggregate
    through exact BIGINT sums (`similarity_q.staged_rank_weights` —
    one double division per metric at the end)."""
    from epe_data_wrangling_spark.catalog.similarity_q import (
        staged_rank_weights,
    )

    dcg, rr, idcg = staged_rank_weights(k)
    dcg_w = ", ".join(str(w) for w in dcg)
    rr_w = ", ".join(str(w) for w in rr)
    return f"""
    WITH approx AS (SELECT query_id, neighbor_id, rank
                    FROM ({candidate_oracle}) s),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_live_corpus_ctes()},
    qv AS (SELECT vec_id, v, list_dot_product(v, v) AS vv FROM e
           WHERE vec_id < {nq}),
    ed AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  (q.vv - 2 * list_dot_product(q.v, c.v)) + c.vv AS d2
           FROM qv q JOIN lvv c ON q.vec_id <> c.vec_id),
    exact AS (SELECT query_id, neighbor_id FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY d2, neighbor_id) AS rank
      FROM ed) t WHERE rank <= {k}),
    scored AS (SELECT a.query_id, a.rank,
                      CASE WHEN x.neighbor_id IS NULL THEN 0 ELSE 1 END AS rel
               FROM approx a LEFT JOIN exact x
                 ON a.query_id = x.query_id
                AND a.neighbor_id = x.neighbor_id),
    per_q AS (SELECT query_id,
                     SUM(rel * list_extract(CAST([{dcg_w}] AS BIGINT[]),
                                            rank)) AS dcg_r,
                     MAX(rel * list_extract(CAST([{rr_w}] AS BIGINT[]),
                                            rank)) AS rr_r
              FROM scored GROUP BY query_id)
    SELECT '{method}' AS method,
           CAST({nq} AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_answered,
           round(CAST(SUM(rr_r) AS DOUBLE)
                 / ({nq} * 1000000000.0), 6) AS mrr,
           round(CAST(SUM(dcg_r) AS DOUBLE)
                 / ({nq} * {idcg}.0), 6) AS mean_ndcg
    FROM per_q
    """


def _index_quality_oracle() -> str:
    """DuckDB mirror of `index_quality_report_query` — the raw-index
    form of `_maintained_quality_oracle` over the certified
    `streaming_ann_index_upsert` oracle."""
    return _maintained_quality_oracle(
        _ann_index_upsert_oracle(), AIDX_NQ, AIDX_K, "ivf_maintained"
    )


def _ivfpq_index_quality_oracle() -> str:
    """DuckDB mirror of `ivfpq_index_quality_report_query` — the
    PQ-index form over the certified `streaming_ivfpq_index_upsert`
    oracle (ADC shortlist + exact re-rank)."""
    return _maintained_quality_oracle(
        _ivfpq_index_upsert_oracle(), AIDXQ_NQ, AIDXQ_K,
        "ivfpq_maintained",
    )


def _maintained_quality_report(
    spark: SparkSession, sf_dir: str, approx: DataFrame,
    nq: int, k: int, method: str,
) -> DataFrame:
    """Shared Spark body of the maintained-index quality reports:
    exact-l2 top-``k`` truth over the LIVE corpus for the first
    ``nq`` queries, binary relevance against the ``approx``
    (query_id, neighbor_id, rank) candidates, MRR + mean binary
    NDCG@k through the staged-BIGINT weights. Divides by the FULL
    evaluated query count — an unanswered query is a retrieval
    failure; ``n_answered`` < ``n_queries`` is the visible tell."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.similarity_q import (
        staged_rank_weights,
    )
    from epe_data_wrangling_spark.functions import vectors as V

    dcg, rr, idcg = staged_rank_weights(k)
    e = _embeddings(spark, sf_dir)
    qv = e.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q"),
    ).withColumn("qq", V.dot(F.col("q"), F.col("q")))
    corpus = _live_corpus_df(e).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    ).withColumn("cc", V.dot(F.col("cv"), F.col("cv")))
    d2 = (F.col("qq") - 2 * V.dot(F.col("q"), F.col("cv"))) + F.col("cc")
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        qv.crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("d2", d2)
        .withColumn("xrank", F.row_number().over(w))
        .filter(F.col("xrank") <= k)
        .select("query_id", "neighbor_id", F.lit(1).alias("rel"))
    )
    dcg_w = F.element_at(F.array(*[F.lit(x) for x in dcg]), F.col("rank"))
    rr_w = F.element_at(F.array(*[F.lit(x) for x in rr]), F.col("rank"))
    per_q = (
        approx.join(exact, ["query_id", "neighbor_id"], "left")
        .withColumn("rel", F.coalesce(F.col("rel"), F.lit(0)))
        .groupBy("query_id")
        .agg(
            F.sum(F.col("rel") * dcg_w).alias("dcg_r"),
            F.max(F.col("rel") * rr_w).alias("rr_r"),
        )
    )
    return per_q.agg(
        F.lit(method).alias("method"),
        F.lit(nq).cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).alias("n_answered"),
        F.round(
            F.sum("rr_r").cast("double") / (F.lit(nq) * F.lit(1e9)), 6
        ).alias("mrr"),
        F.round(
            F.sum("dcg_r").cast("double") / (F.lit(nq) * F.lit(float(idcg))),
            6,
        ).alias("mean_ndcg"),
    )


@query("index_quality_report", oracle=_index_quality_oracle())
def index_quality_report_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retrieval quality of the
    MAINTAINED index: the complement to `retrieval_quality_report`
    (which grades the batch-TRAINED chain). The candidate list IS the
    certified `streaming_ann_index_upsert` flow, called directly (the
    change plan lands, tombstones apply, vacuum runs, the COMMITTED
    index serves top-{AIDX_K} at probe {AIDX_PROBE}/{AIDX_CELLS}) —
    reusing the certified function means the quality report can never
    drift from the serve it grades, on either engine (the oracle
    embeds that query's certified oracle verbatim as its candidate
    subquery). MRR + mean binary NDCG@{AIDX_K} are then computed
    against the exact-l2 ground truth over the LIVE corpus with
    hash-certifiable BIGINT-staged weights. This is the drift loop's
    missing READOUT: the occupancy-skew advisory is a structural
    proxy, while this reports the quantity a production vector index
    is actually judged on — recall quality of what is SERVED. Scale:
    truth is the expensive leg (exact top-k — run on an evaluation
    sample at 100 TB); the serve leg reads ~{AIDX_PROBE}/{AIDX_CELLS}
    of the corpus through manifest bucket pruning."""
    approx = streaming_ann_index_upsert(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    return _maintained_quality_report(
        spark, sf_dir, approx, AIDX_NQ, AIDX_K, "ivf_maintained"
    )


@query("ivfpq_index_quality_report", oracle=_ivfpq_index_quality_oracle())
def ivfpq_index_quality_report_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PQ twin of
    `index_quality_report_query`: retrieval quality of the MAINTAINED
    PQ-coded index, candidates from the certified
    `streaming_ivfpq_index_upsert` flow called directly (ADC
    shortlist of {AIDXQ_CAND} + exact re-rank, top-{AIDXQ_K} at probe
    {AIDXQ_PROBE}/{AIDX_CELLS}), truth the exact-l2 top-{AIDXQ_K}
    over the live corpus. The recall accounting for the codes-only
    index form, where quantization loss joins probe loss as a recall
    channel and a dashboard needs BOTH measured from the committed
    state (observed at sf0.01: NDCG 0.673 vs the raw twin's 0.765
    with MRR 1.0 on both — quantization loss beyond the exact
    re-ranked top-1). Scale: as the raw twin; serve reads ~probe/K of
    the codes (~16× smaller than vectors) + the shortlist's exact
    vectors."""
    approx = streaming_ivfpq_index_upsert(spark, sf_dir).select(
        "query_id", "neighbor_id", "rank"
    )
    return _maintained_quality_report(
        spark, sf_dir, approx, AIDXQ_NQ, AIDXQ_K, "ivfpq_maintained"
    )
