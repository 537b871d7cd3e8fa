"""Streaming ≡ batch: each streaming operator applied to the same
events data as a readStream must produce exactly the rows of its
batch twin (one logical plan, two execution modes)."""

from __future__ import annotations

import pytest

from epe_data_wrangling_spark.sources.tables import load_table
from epe_data_wrangling_spark.streaming import ops
from epe_data_wrangling_spark.streaming.sources import stream_events
from tests.crash import COMMIT_POINTS, crash_commit_at

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _temp_root(monkeypatch, tmp_path):
    """Point ``tempfile``'s default dir at a fresh dir, so a test can
    see what a run leaves behind in it."""
    import tempfile

    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def test_tumbling_stream_matches_batch(spark, monkeypatch, tmp_path):
    tmp = _temp_root(monkeypatch, tmp_path)
    batch = ops.tumbling_counts(load_table(spark, SF_DIR, "events"))
    stream = ops.run_to_memory(
        ops.tumbling_counts(stream_events(spark, SF_DIR)), "t_tumbling"
    )
    assert _rows(stream) == _rows(batch)
    # the run's own checkpoint is gone once the result is in memory
    assert not list(tmp.glob("ckpt_*"))


def test_session_stream_matches_batch(spark):
    batch = ops.session_counts(load_table(spark, SF_DIR, "events"))
    stream = ops.run_to_memory(
        ops.session_counts(stream_events(spark, SF_DIR)), "t_sessions"
    )
    assert _rows(stream) == _rows(batch)


def test_dedup_stream_matches_batch(spark):
    events = load_table(spark, SF_DIR, "events")
    batch = ops.dedup_keys_within_watermark(events, ["user_id", "event_type"])
    stream = ops.run_to_memory(
        ops.dedup_keys_within_watermark(
            stream_events(spark, SF_DIR), ["user_id", "event_type"]
        ),
        "t_dedup",
        output_mode="append",
    )
    assert _rows(stream) == _rows(batch)


def test_stateful_user_stats_matches_groupby(spark):
    from pyspark.sql import functions as F

    events = load_table(spark, SF_DIR, "events")
    batch = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("max_ts")
    )
    stream = ops.run_to_memory(
        ops.user_stats_stateful(stream_events(spark, SF_DIR)).select(
            "user_id", "n_events", "max_ts"
        ),
        "t_user_stats",
        output_mode="update",
    )
    assert _rows(stream) == _rows(batch)


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Exactly-once incremental ingest: restarting a file-source query
    on the same checkpoint skips files already committed and processes
    only newly arrived ones."""
    import os

    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    events_file = os.path.join(SF_DIR, "events.parquet")
    os.symlink(events_file, src / "e1.parquet")

    out = str(tmp_path / "out")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_file).schema

    def run_once() -> int:
        stream = spark.readStream.schema(schema).parquet(str(src)).select("event_id")
        q = (
            stream.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return spark.read.parquet(out).count()

    n_total = spark.read.parquet(events_file).count()
    assert run_once() == n_total  # first run: everything

    os.symlink(events_file, src / "e2.parquet")  # a "new" file arrives
    # second run, same checkpoint: only the new file is appended
    # (2N, not 3N — e1 is committed in the checkpoint and skipped)
    assert run_once() == 2 * n_total


def test_foreach_batch_upsert_is_incremental(spark, tmp_path):
    """Two micro-batches of the event log MERGEd one after the other
    must produce exactly the latest-per-user table of the full log —
    the incremental CDC-apply contract (and its idempotence: keys
    re-sent in batch 2 overwrite batch 1's rows, never duplicate)."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table
    from epe_data_wrangling_spark.streaming.ops import upsert_latest_foreach_batch

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)

    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "latest")
    first.coalesce(1).write.parquet(str(src / "b1.parquet"))

    schema = first.schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        return upsert_latest_foreach_batch(
            stream, target, key_cols=["user_id"], order_cols=["ts", "event_id"]
        )

    # NOTE: each call uses a fresh checkpoint, so batch 2 re-reads b1 —
    # deliberately: re-merging an applied batch must be a no-op
    got1 = run_once()
    assert got1.count() == first.select("user_id").distinct().count()

    second.coalesce(1).write.parquet(str(src / "b2.parquet"))
    got2 = run_once().select("user_id", "event_id")

    w = __import__("pyspark").sql.Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expect = (
        events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id")
    )
    assert got2.exceptAll(expect).count() == 0
    assert expect.exceptAll(got2).count() == 0


def test_foreach_batch_upsert_restart_without_new_data(spark, tmp_path):
    """Restarting the upsert stream on the SAME checkpoint with no new
    files must leave the target untouched (no duplicate merge, no
    empty-overwrite)."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table
    from epe_data_wrangling_spark.streaming.ops import upsert_latest_foreach_batch

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "latest")
    events.coalesce(1).write.parquet(str(src / "b1.parquet"))
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(events.schema).parquet(str(src) + "/*")
        )
        return upsert_latest_foreach_batch(
            stream, target, key_cols=["user_id"], order_cols=["ts", "event_id"],
            checkpoint_dir=ckpt,
        )

    first = run_once().collect()
    second = run_once().collect()  # no new files: zero-batch restart
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_record_highs_matches_running_max_filter(spark):
    """record_highs_stateful (flatMap-with-state) must equal the batch
    running-max window filter, including the per-user record index."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_max = F.max("value").over(w.rowsBetween(Window.unboundedPreceding, -1))
    batch = (
        events.withColumn("prev_max", prev_max)
        .filter(F.col("prev_max").isNull() | (F.col("value") > F.col("prev_max")))
        .withColumn("record_idx", F.row_number().over(w).cast("long"))
        .select("user_id", "ts", "value", "record_idx")
    )
    mode = "append" if ops.has_tws_runtime() else "update"
    stream = ops.run_to_memory(
        ops.record_highs_stateful(stream_events(spark, SF_DIR)),
        "t_record_highs",
        output_mode=mode,
    )
    assert _rows(stream) == _rows(batch)


class _FakeValueState:
    """Stand-in for the TWS ValueState API surface the processor uses
    (exists() / get() -> tuple / update(tuple))."""

    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _FakeValueState())


def test_tws_processor_logic_without_runtime():
    """The transformWithStateInPandas branch is unreachable in this
    container (no protobuf — has_tws_runtime() is False), so its
    per-key logic is executed DIRECTLY here against a faithful fake
    of the ValueState surface: init() state wiring, the exists()/
    get() tuple unpack, emission shape, and cross-micro-batch state
    carry-over all run for real (ADVICE r3: the Spark-4 branch was
    otherwise never executed by the suite)."""
    import pandas as pd

    from epe_data_wrangling_spark.streaming.ops import (
        _RecordHighsProcessor,
        has_tws_runtime,
    )

    assert not has_tws_runtime(), (
        "protobuf appeared in this env: drop this direct-logic test "
        "in favor of running the real TWS streaming path"
    )
    p = _RecordHighsProcessor()
    p.init(_FakeHandle())
    b1 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:02", "2024-01-01 10:00"]),
         "event_id": [2, 1], "value": [5.0, 7.0]}
    )
    out1 = list(p.handleInputRows((42,), iter([b1]), None))
    # sorted by ts: 7.0 (10:00) then 5.0 (10:02) -> only 7.0 is a record
    assert len(out1) == 1 and list(out1[0]["value"]) == [7.0]
    assert list(out1[0]["record_idx"]) == [1]
    assert list(out1[0]["user_id"]) == [42]
    # next micro-batch: state carries (7.0, 1); 6.0 is not a record, 9.0 is
    b2 = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 11:00", "2024-01-01 12:00"]),
         "event_id": [3, 4], "value": [6.0, 9.0]}
    )
    out2 = list(p.handleInputRows((42,), iter([b2]), None))
    assert list(out2[0]["value"]) == [9.0] and list(out2[0]["record_idx"]) == [2]


def test_record_scan_accumulates_chunks_before_sorting():
    """Regression for the ADVICE r3 chunk-order bug: a key's rows
    arrive as MULTIPLE Arrow chunks in no guaranteed order. The scan
    must concat all chunks and sort ONCE — per-chunk sorting emits a
    wrong record when a later chunk holds earlier events."""
    import pandas as pd

    from epe_data_wrangling_spark.streaming.ops import _record_scan

    # chunk A holds the LATER events, chunk B the earlier ones
    a = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:10"]), "event_id": [10], "value": [5.0]}
    )
    b = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:00"]), "event_id": [1], "value": [9.0]}
    )
    max_value, n, out_ts, out_val, out_idx = _record_scan(iter([a, b]), None, 0)
    # correct order: 9.0 at 10:00 is the only record (5.0 at 10:10 is not);
    # the old per-chunk scan would have emitted 5.0 first and then 9.0
    assert (max_value, n) == (9.0, 1)
    assert out_val == [9.0] and out_idx == [1]


def test_tws_branch_gate_reflects_environment():
    """Document which record_highs branch this suite exercised: the
    applyInPandasWithState fallback (integration-tested above via
    test_record_highs_matches_running_max_filter) when protobuf is
    absent, the TWS path when present."""
    from epe_data_wrangling_spark.streaming.ops import has_tws_runtime

    branch = "transformWithStateInPandas" if has_tws_runtime() else "applyInPandasWithState"
    assert branch == "applyInPandasWithState", (
        "env gained protobuf: record_highs now takes the TWS branch; "
        "update the suite to exercise it end-to-end"
    )


def test_incremental_dedup_index_persists_across_runs(spark, tmp_path):
    """The fingerprint index must carry ACROSS availableNow restarts:
    a text accepted in drop 1 is dup-vs-existing in drop 2, and
    within-drop copies dedup first-doc_id-wins."""
    docs1 = spark.createDataFrame(
        [(1, "s1", "alpha"), (2, "s1", "beta"), (3, "s1", "alpha")],
        "doc_id long, source string, text string",
    )
    docs2 = spark.createDataFrame(
        [(10, "s2", "alpha"), (11, "s2", "gamma"), (12, "s2", "gamma")],
        "doc_id long, source string, text string",
    )
    audit = ops.incremental_dedup_runs(
        spark,
        [("d1", docs1), ("d2", docs2)],
        work_dir=str(tmp_path / "work"),
    )
    got = {r.source: (r.n_incoming, r.n_dup_vs_existing, r.n_dup_within, r.n_accepted)
           for r in audit.collect()}
    # drop 1: alpha accepted (doc 1), beta accepted, doc 3 dup-within
    assert got["s1"] == (3, 0, 1, 2)
    # drop 2: alpha now dup vs the persisted index; gamma accepted
    # once, its second copy dup-within
    assert got["s2"] == (3, 1, 1, 1)


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """The watermark claim in ops.__doc__ ('late data older than the
    delay is dropped and its state evicted'), proven end-to-end in
    APPEND mode across two availableNow restarts of one checkpoint:
    run 1 advances the watermark past a window and emits it; run 2
    delivers an event INSIDE that closed window (later than the
    10-minute delay) plus a fresh event — the late event must not
    re-emit or alter the closed window, the fresh one must appear."""
    import pandas as pd
    from pyspark.sql import functions as F

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            str(land / name)
        )

    schema = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(land))
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    # run 1: two events in the 10:00 window, then one at 12:30 that
    # advances the watermark to 12:20 — the 10:00 window closes+emits
    write_file("f1", [(1, "2024-01-01 10:05", 1.0),
                      (1, "2024-01-01 10:50", 1.0),
                      (1, "2024-01-01 12:30", 1.0)])
    run_once()
    first = {(r.ws.isoformat(), r.n) for r in spark.read.parquet(out).collect()}
    assert ("2024-01-01T10:00:00", 2) in first

    # run 2: a LATE event back in the closed 10:00 window + a fresh
    # 14:10 event that closes the 12:00 window
    write_file("f2", [(1, "2024-01-01 10:20", 1.0),
                      (1, "2024-01-01 14:10", 1.0)])
    run_once()
    final = {(r.ws.isoformat(), r.n) for r in spark.read.parquet(out).collect()}
    # closed window unchanged (late event dropped, no duplicate emit)
    assert ("2024-01-01T10:00:00", 2) in final
    assert ("2024-01-01T10:00:00", 3) not in final
    assert ("2024-01-01T10:00:00", 1) not in final
    # the 12:00 window emitted once the run-2 watermark passed it
    assert ("2024-01-01T12:00:00", 1) in final


def test_tws_gated_api_surface_exists_in_installed_spark():
    """The gate's premise, checked against the INSTALLED Spark (r5
    verdict item 8): has_tws_runtime() gates a branch that calls
    pyspark.sql.streaming.stateful_processor.StatefulProcessor and
    GroupedData.transformWithStateInPandas — if a Spark bump renames
    either, the gated branch would break silently (it is unreachable
    here without protobuf). Import the class and resolve the method
    for real, and pin that the protobuf requirement still holds by
    importing the TWS server module that carries it."""
    import importlib.util

    from pyspark.sql.group import GroupedData
    from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
        StatefulProcessor,
    )

    assert callable(getattr(GroupedData, "transformWithStateInPandas", None))
    # the worker-protocol module the gate exists FOR: it must still
    # import protobuf (if Spark drops that dependency, the gate is
    # obsolete and the real TWS path should be enabled instead)
    spec = importlib.util.find_spec(
        "pyspark.sql.streaming.proto.StateMessage_pb2"
    )
    assert spec is not None, (
        "Spark no longer ships the protobuf TWS worker protocol - "
        "audit has_tws_runtime(): the gate may be obsolete"
    )


def test_foreach_batch_ivm_matches_full_recompute(spark, tmp_path, monkeypatch):
    """Multi-batch additive IVM must equal the direct aggregate over
    the whole table, and the maintained state must be groups-sized
    (one partial-state row per group — the structural evidence the
    sink merges states instead of re-aggregating rows). Run without a
    ``checkpoint_dir``, the sink leaves no temporary checkpoint."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table
    from epe_data_wrangling_spark.streaming.ops import ivm_agg_foreach_batch

    tmp = _temp_root(monkeypatch, tmp_path)
    o = load_table(spark, SF_DIR, "orders").select("o_orderpriority", "o_totalprice")
    src = tmp_path / "landing"
    o.repartition(3).write.parquet(str(src))
    target = str(tmp_path / "state")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("s"),
        )

    stream = (
        spark.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    state = ivm_agg_foreach_batch(
        stream, target, group_cols=["o_orderpriority"], partial_agg=partial
    )
    got = {r["o_orderpriority"]: (r["n"], r["s"]) for r in state.collect()}
    expect = {r["o_orderpriority"]: (r["n"], r["s"]) for r in partial(o).collect()}
    assert got == expect
    assert len(got) == o.select("o_orderpriority").distinct().count()
    assert not list(tmp.glob("ckpt_*"))


def test_foreach_batch_ivm_replay_does_not_double_count(spark, tmp_path):
    """+= state is NOT naturally idempotent, so the sink's batch-id
    commit (inside the same atomic swap as the state) must make both
    replay shapes no-ops: (a) a fresh-checkpoint re-run over already
    applied files, and (b) a same-checkpoint restart with no new
    data."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table
    from epe_data_wrangling_spark.streaming.ops import ivm_agg_foreach_batch

    o = load_table(spark, SF_DIR, "orders").select("o_orderpriority", "o_totalprice")
    src = tmp_path / "landing"
    o.coalesce(1).write.parquet(str(src))
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))

    def run_once(checkpoint):
        stream = spark.readStream.schema(o.schema).parquet(str(src))
        return ivm_agg_foreach_batch(
            stream, target, group_cols=["o_orderpriority"], partial_agg=partial,
            checkpoint_dir=checkpoint,
        )

    first = {r["o_orderpriority"]: r["n"] for r in run_once(ckpt).collect()}
    # (a) fresh checkpoint: source replays everything as batch 0, but
    # the target has already committed batch 0 — must be skipped
    replayed = {r["o_orderpriority"]: r["n"] for r in run_once(None).collect()}
    # (b) same checkpoint, no new files: zero batches fire
    restarted = {r["o_orderpriority"]: r["n"] for r in run_once(ckpt).collect()}
    assert first == replayed == restarted
    expect = {r["o_orderpriority"]: r["n"] for r in partial(o).collect()}
    assert first == expect


def test_foreach_batch_ivm_state_invariant_to_batch_split(spark, tmp_path):
    """The additive-state contract: the final state table must be
    IDENTICAL whether the log arrives as 1, 3, or 5 micro-batches
    (count + decimal sums are associative-commutative, and the
    first-batch-creates-target edge must not special-case results)."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table
    from epe_data_wrangling_spark.streaming.ops import ivm_agg_foreach_batch

    o = load_table(spark, SF_DIR, "orders").select("o_orderpriority", "o_totalprice")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)")).alias("s"),
        )

    results = []
    for i, n_files in enumerate((1, 3, 5)):
        src = tmp_path / f"landing{i}"
        o.repartition(n_files).write.parquet(str(src))
        stream = (
            spark.readStream.schema(o.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        state = ivm_agg_foreach_batch(
            stream,
            str(tmp_path / f"state{i}"),
            group_cols=["o_orderpriority"],
            partial_agg=partial,
        )
        results.append({r["o_orderpriority"]: (r["n"], r["s"]) for r in state.collect()})
    assert results[0] == results[1] == results[2]


@pytest.fixture(scope="module")
def ivm_two_file_landing(spark, tmp_path_factory):
    """Two order files landed ONCE for the crash matrix below — batch 0
    bootstraps the target, batch 1 is the one each case crashes — plus
    the no-crash expected state."""
    from pyspark.sql import functions as F

    o = load_table(spark, SF_DIR, "orders").select("o_orderpriority", "o_totalprice")
    src = str(tmp_path_factory.mktemp("ivm_crash") / "landing")
    o.filter(F.col("o_totalprice") < 100000).coalesce(1).write.parquet(src)
    o.filter(F.col("o_totalprice") >= 100000).coalesce(1).write.parquet(
        src, mode="append"
    )
    expect = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return o.schema, src, expect


@pytest.mark.parametrize("point", COMMIT_POINTS)
def test_foreach_batch_ivm_crash_at_every_commit_step_recovers(
    spark, tmp_path, monkeypatch, ivm_two_file_landing, point
):
    """The exactly-once commit (`ops._exactly_once_sink`) crashed at each
    of its steps — after the step wrote the stage, after the meta write,
    between `_atomic_swap`'s two renames, and after promotion but
    before the old dir's rmtree — then restarted on the SAME
    checkpoint: the state equals the no-crash run (nothing lost,
    nothing merged twice), no ``.stage-*``/``.old-*`` dir survives,
    and a forced replay of the committed batch skips."""
    import glob
    import os

    from pyspark.sql import functions as F

    schema, src, expect = ivm_two_file_landing
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))

    def run_once():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        state = ops.ivm_agg_foreach_batch(
            stream, target, group_cols=["o_orderpriority"], partial_agg=partial,
            checkpoint_dir=ckpt,
        )
        return {r["o_orderpriority"]: r["n"] for r in state.collect()}

    crash_commit_at(monkeypatch, point, target, 1)
    with pytest.raises(Exception, match="injected crash"):
        run_once()  # batch 0 commits, batch 1 crashes at `point`
    monkeypatch.undo()
    assert run_once() == expect  # restart: batch 1 re-applies (or skips)
    assert not glob.glob(f"{glob.escape(target)}.stage-*")
    assert not glob.glob(f"{glob.escape(target)}.old-*")
    for f in ("1", ".1.crc"):  # un-commit batch 1 in the checkpoint
        os.remove(os.path.join(ckpt, "commits", f))
    assert run_once() == expect  # redelivered batch 1 skips as a replay


def test_foreach_batch_ivm_fresh_checkpoint_new_data_raises(spark, tmp_path):
    """Fresh checkpoint => batch ids restart at 0 <= committed; if the
    replayed batch carries a NEVER-applied source file the sink must
    raise, not silently drop the new data (the r7 ADVICE finding).
    Pure replays of applied files still skip (pinned by
    test_foreach_batch_ivm_replay_does_not_double_count)."""
    import pytest
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table
    from epe_data_wrangling_spark.streaming.ops import ivm_agg_foreach_batch

    o = load_table(spark, SF_DIR, "orders").select("o_orderpriority", "o_totalprice")
    src = tmp_path / "landing"
    o.coalesce(1).write.parquet(str(src))
    target = str(tmp_path / "state")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))

    def run_once():
        stream = spark.readStream.schema(o.schema).parquet(str(src))
        return ivm_agg_foreach_batch(
            stream, target, group_cols=["o_orderpriority"], partial_agg=partial,
        )

    run_once()  # fresh checkpoint each call (checkpoint_dir=None)
    o.limit(100).coalesce(1).write.parquet(str(src), mode="append")
    # the sink's RuntimeError surfaces wrapped in StreamingQueryException
    with pytest.raises(Exception, match="never-applied source files"):
        run_once()  # batch 0 <= committed 0 but contains a new file


def _cdc_fixture(spark, tmp_path, n_files_per_version=1):
    """Landing dir holding three snapshot versions of orders (the
    shared deterministic carving), mtime-ordered so file-source
    discovery order is version order."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = _snapshot_version3(v2)
    landing = tmp_path / "landing"
    for i, vdf in ((1, v1), (2, v2), (3, v3)):
        sub = str(landing / f"v{i}")
        (
            vdf.select("o_orderkey", "o_orderstatus", "cents")
            .withColumn("snapshot_version", F.lit(i))
            .repartition(n_files_per_version)
            .write.parquet(sub)
        )
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                p = os.path.join(sub, f)
                t = os.path.getmtime(p)
                os.utime(p, (t + i, t + i))
    return str(landing), v3


def _cdc_run(spark, landing, target, ckpt, max_files):
    from epe_data_wrangling_spark.streaming.ops import cdc_retraction_foreach_batch

    schema = (
        "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT, "
        "snapshot_version INT"
    )
    reader = spark.readStream.schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return cdc_retraction_foreach_batch(
        stream,
        target,
        key_cols=["o_orderkey"],
        version_col="snapshot_version",
        group_cols=["o_orderstatus"],
        sum_cols=["cents"],
        checkpoint_dir=ckpt,
    )


def test_cdc_retraction_view_invariant_to_batch_split(spark, tmp_path):
    """The composed CDC sink's contract: final view identical whether
    the three snapshot versions arrive as one batch (all diffs applied
    in-version-order inside it) or one version per batch — and both
    must equal a direct recompute of the final version."""
    from pyspark.sql import functions as F

    landing, v3 = _cdc_fixture(spark, tmp_path)
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _cdc_run(
            spark, landing, str(tmp_path / f"state{i}"),
            str(tmp_path / f"ckpt{i}"), max_files,
        )
        results.append(
            {r["o_orderstatus"]: (r["n"], r["sum_cents"])
             for r in view.filter(F.col("n") > 0).collect()}
        )
    expect = {
        r["o_orderstatus"]: (r["n"], r["s"])
        for r in v3.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    assert results[0] == results[1] == expect


def test_cdc_retraction_replay_and_new_data_guard(spark, tmp_path):
    """The composed sink inherits the module's exactly-once rules:
    a fresh-checkpoint replay over already-applied files is a no-op,
    and previously-unseen files under a low batch id raise."""
    import pytest
    from pyspark.sql import functions as F

    landing, _ = _cdc_fixture(spark, tmp_path)
    target = str(tmp_path / "state")
    first = {
        r["o_orderstatus"]: (r["n"], r["sum_cents"])
        for r in _cdc_run(spark, landing, target, str(tmp_path / "ck1"), 1).collect()
    }
    replay = {
        r["o_orderstatus"]: (r["n"], r["sum_cents"])
        for r in _cdc_run(spark, landing, target, str(tmp_path / "ck2"), None).collect()
    }
    assert first == replay
    # a 4th, never-applied version under a fresh checkpoint must raise
    spark.createDataFrame(
        [(999999999, "Z", 1, 4)],
        "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT, snapshot_version INT",
    ).coalesce(1).write.parquet(str(tmp_path / "landing" / "v4"))
    with pytest.raises(Exception, match="never-applied source files"):
        _cdc_run(spark, landing, target, str(tmp_path / "ck3"), None)


def _join_view_fixture(spark, tmp_path):
    """Landing dir with three mtime-ordered generations for the
    join-view sink: g1 = orders v1 + dim s1, g2 = orders v2 ONLY
    (absent dim = unchanged), g3 = orders v3 + dim s2. Returns the
    landing path and the final (v3, s2) images for direct recompute."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _dim_versions,
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = _snapshot_version3(v2)
    s1, s2 = _dim_versions(load_table(spark, SF_DIR, "customer"))

    def tag_r(vdf, i):
        return vdf.select(
            F.lit("R").alias("rel"), F.lit(i).alias("snapshot_version"),
            "o_orderkey", "o_custkey", "cents", "o_orderstatus",
            F.lit(None).cast("bigint").alias("c_custkey"),
            F.lit(None).cast("string").alias("c_mktsegment"),
        )

    def tag_s(sdf, i):
        return sdf.select(
            F.lit("S").alias("rel"), F.lit(i).alias("snapshot_version"),
            F.lit(None).cast("bigint").alias("o_orderkey"),
            F.lit(None).cast("bigint").alias("o_custkey"),
            F.lit(None).cast("bigint").alias("cents"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            "c_custkey", "c_mktsegment",
        )

    landing = tmp_path / "landing"
    gens = (
        tag_r(v1, 1).unionByName(tag_s(s1, 1)),
        tag_r(v2, 2),
        tag_r(v3, 3).unionByName(tag_s(s2, 3)),
    )
    for i, gdf in enumerate(gens, start=1):
        sub = str(landing / f"g{i}")
        gdf.coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                p = os.path.join(sub, f)
                t = os.path.getmtime(p)
                os.utime(p, (t + i, t + i))
    return str(landing), v3, s2


_JOIN_VIEW_SCHEMA = (
    "rel STRING, snapshot_version INT, o_orderkey BIGINT, o_custkey BIGINT, "
    "cents BIGINT, o_orderstatus STRING, c_custkey BIGINT, c_mktsegment STRING"
)


def _join_view_run(spark, landing, target, ckpt, max_files,
                   r_join="o_custkey", s_join="c_custkey"):
    from epe_data_wrangling_spark.streaming.ops import join_view_foreach_batch

    reader = spark.readStream.schema(_JOIN_VIEW_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return join_view_foreach_batch(
        stream,
        target,
        rel_col="rel",
        version_col="snapshot_version",
        r_tag="R",
        s_tag="S",
        r_key=["o_orderkey"],
        s_key=["c_custkey"],
        r_join=r_join,
        s_join=s_join,
        r_cols=["o_custkey", "cents", "o_orderstatus"],
        s_cols=["c_custkey", "c_mktsegment"],
        group_cols=["c_mktsegment", "o_orderstatus"],
        sum_cols=["cents"],
        checkpoint_dir=ckpt,
    )


def _join_view_direct(v3, s2):
    from pyspark.sql import functions as F

    return {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["s"])
        for r in v3.join(s2, v3.o_custkey == s2.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }


def test_join_view_invariant_to_batch_split(spark, tmp_path):
    """The join-view sink's contract: the final view must be identical
    whether the three generations arrive as ONE batch (all versions
    applied in-order inside it) or one generation per batch — and both
    must equal a direct recompute of γ(v3 ⋈ s2). Exercises the
    absent-dim generation (g2 carries no S rows) on both paths."""
    from pyspark.sql import functions as F

    landing, v3, s2 = _join_view_fixture(spark, tmp_path)
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _join_view_run(
            spark, landing, str(tmp_path / f"state{i}"),
            str(tmp_path / f"ckpt{i}"), max_files,
        )
        results.append(
            {(r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
             for r in view.filter(F.col("n") > 0).collect()}
        )
    expect = _join_view_direct(v3, s2)
    assert results[0] == results[1] == expect


def test_join_view_replay_is_noop(spark, tmp_path):
    """Non-idempotent-sink discipline carried over: a fresh-checkpoint
    re-run over already-applied generation files must change nothing
    (every signed delta would otherwise double-apply)."""
    from pyspark.sql import functions as F

    landing, v3, s2 = _join_view_fixture(spark, tmp_path)
    target = str(tmp_path / "state")

    def collect(view):
        return {(r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
                for r in view.filter(F.col("n") > 0).collect()}

    first = collect(_join_view_run(spark, landing, target, None, 1))
    replayed = collect(_join_view_run(spark, landing, target, None, 1))
    assert first == replayed == _join_view_direct(v3, s2)


def test_join_view_rejects_image_bucketing_drift(spark, tmp_path):
    """The join-view sinks bucket their standing images by the JOIN
    column's hash; resuming a target with DIFFERENT r_join/s_join
    would prune the WRONG buckets in the bilinear Δ-terms (matches
    silently go missing — nothing the value-level guards can see), so
    the committed columns are recorded in the meta and a mismatch
    must RAISE at batch start."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    landing, v3, s2 = _join_view_fixture(spark, tmp_path)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _join_view_run(spark, landing, target, ck, None)
    with open(os.path.join(target, "_ivm_meta.json")) as f:
        assert json.load(f)["image_bucketing"] == ["o_custkey", "c_custkey"]
    # land g4: the same final R image re-presented as version 4 (a
    # no-change snapshot), so the re-run has an uncommitted batch to
    # apply and the guard actually gets exercised
    sub = str(tmp_path / "landing" / "g4")
    (
        v3.select(
            F.lit("R").alias("rel"), F.lit(4).alias("snapshot_version"),
            "o_orderkey", "o_custkey", "cents", "o_orderstatus",
            F.lit(None).cast("bigint").alias("c_custkey"),
            F.lit(None).cast("string").alias("c_mktsegment"),
        )
        .coalesce(1)
        .write.parquet(sub)
    )
    for f in os.listdir(sub):
        if f.endswith(".parquet"):
            p = os.path.join(sub, f)
            t = os.path.getmtime(p)
            os.utime(p, (t + 10, t + 10))
    with pytest.raises(Exception, match="bucketed by"):
        _join_view_run(spark, landing, target, ck, None,
                       r_join="o_orderkey")
    # the matching configuration still applies cleanly (g4 is a
    # no-change image: digests match every bucket, the diff is empty,
    # and the view is untouched)
    view = _join_view_run(spark, landing, target, ck, None)
    got = {(r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
           for r in view.filter(F.col("n") > 0).collect()}
    assert got == _join_view_direct(v3, s2)


def test_join_view_first_version_must_carry_both_relations(spark, tmp_path):
    """A bootstrap generation missing one relation is a contract
    violation (the view cannot be seeded from half a join) — the sink
    must raise, not commit a half-seeded state."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import _snapshot_versions
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, _ = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    landing = tmp_path / "landing"
    sub = str(landing / "g1")
    (
        v1.select(
            F.lit("R").alias("rel"), F.lit(1).alias("snapshot_version"),
            "o_orderkey", "o_custkey", "cents", "o_orderstatus",
            F.lit(None).cast("bigint").alias("c_custkey"),
            F.lit(None).cast("string").alias("c_mktsegment"),
        )
        .coalesce(1)
        .write.parquet(sub)
    )
    with _pytest.raises(Exception, match="must carry BOTH"):
        _join_view_run(spark, str(landing), str(tmp_path / "state"), None, None)
    assert not os.path.isdir(str(tmp_path / "state"))  # nothing half-committed


def test_outer_join_view_invariant_to_batch_split(spark, tmp_path):
    """The outer-mode sink: final view identical whether generations
    arrive as one batch or one per batch, equal to a direct
    γ(v3 ⟕ s2) recompute — ∅-group migrations included (dim keys
    enter AND leave between s1 and s2), and the dim-absent generation
    must produce no spurious migrations."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.ops import join_view_foreach_batch

    landing, v3, s2 = _join_view_fixture(spark, tmp_path)

    def run(target, ckpt, max_files):
        reader = spark.readStream.schema(_JOIN_VIEW_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
        return join_view_foreach_batch(
            stream, target,
            rel_col="rel", version_col="snapshot_version",
            r_tag="R", s_tag="S",
            r_key=["o_orderkey"], s_key=["c_custkey"],
            r_join="o_custkey", s_join="c_custkey",
            r_cols=["o_custkey", "cents", "o_orderstatus"],
            s_cols=["c_custkey", "c_mktsegment"],
            group_cols=["c_mktsegment", "o_orderstatus"],
            sum_cols=["cents"],
            how="left_outer",
            checkpoint_dir=ckpt,
        )

    results = []
    for i, max_files in enumerate((None, 1)):
        view = run(str(tmp_path / f"ostate{i}"), str(tmp_path / f"ockpt{i}"), max_files)
        results.append(
            {(r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
             for r in view.filter(F.col("n") > 0).collect()}
        )
    expect = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["s"])
        for r in v3.join(s2, v3.o_custkey == s2.c_custkey, "left")
        .groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("(none)")).alias("c_mktsegment"),
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    assert results[0] == results[1] == expect
    assert any(k[0] == "(none)" for k in expect)  # ∅-group load-bearing


def test_replay_rule_without_provenance(spark):
    """Non-file sources yield no provenance; the only distinguishable
    replay there is the crash redelivery of the LAST committed
    batch_id — an older id must raise, never silently skip (it is
    indistinguishable from fresh-checkpoint new data)."""
    import pytest

    from epe_data_wrangling_spark.streaming.ops import _is_committed_replay

    meta = {"last_batch_id": 2, "applied_files": ["f1"]}
    assert _is_committed_replay(meta, set(), 2, "t") is True
    assert _is_committed_replay(meta, set(), 3, "t") is False
    with pytest.raises(RuntimeError, match="no file\\s+provenance"):
        _is_committed_replay(meta, set(), 1, "t")


def test_cdc_sink_rejects_out_of_order_versions(spark, tmp_path):
    """A later batch carrying an OLDER snapshot version than the one
    already applied (equal/inverted landing mtimes) must raise — the
    sink would otherwise diff backwards and silently regress the
    view."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.sources.tables import load_table
    from epe_data_wrangling_spark.streaming.ops import cdc_retraction_foreach_batch

    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    landing = tmp_path / "landing"
    # land version 2 FIRST (earlier mtime), version 1 second
    for order, v in ((1, 2), (2, 1)):
        sub = str(landing / f"v{v}")
        o.withColumn("snapshot_version", F.lit(v)).coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                pth = os.path.join(sub, f)
                t = os.path.getmtime(pth)
                os.utime(pth, (t + order, t + order))
    schema = (
        "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT, "
        "snapshot_version INT"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(landing) + "/*")
    )
    with pytest.raises(Exception, match="monotonic version contract"):
        cdc_retraction_foreach_batch(
            stream,
            str(tmp_path / "state"),
            key_cols=["o_orderkey"],
            version_col="snapshot_version",
            group_cols=["o_orderstatus"],
            sum_cols=["cents"],
        )


def test_outer_join_view_rejects_s_sourced_sum_cols(spark):
    """left_outer maintenance with an S-sourced measure would coerce
    the sum column to a string sentinel on the ∅-terms and silently
    drop contributions — the sink must reject the configuration."""
    import pytest

    from epe_data_wrangling_spark.streaming.ops import join_view_foreach_batch

    stream = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="sum_cols"):
        join_view_foreach_batch(
            stream,
            "/tmp/never-used",
            rel_col="rel", version_col="v", r_tag="R", s_tag="S",
            r_key=["rk"], s_key=["sk"], r_join="jk", s_join="sk",
            r_cols=["jk", "val"], s_cols=["sk", "weight"],
            group_cols=["grp"], sum_cols=["weight"],
            how="left_outer",
        )


def test_cdc_retraction_key_also_group_col(spark, tmp_path):
    """Grouping the view BY the key itself (a common shape: per-key
    latest-state view) puts the key column in both key_cols and
    group_cols — the sink must carry the name once, not select it
    twice and die on an ambiguous reference. Certify against a direct
    recompute of the final version."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.ops import cdc_retraction_foreach_batch

    v1 = [(1, 100), (2, 200), (3, 300)]
    v2 = [(1, 150), (3, 300), (4, 400)]  # update 1, delete 2, insert 4
    landing = tmp_path / "landing"
    for i, rows in ((1, v1), (2, v2)):
        sub = str(landing / f"v{i}")
        (
            spark.createDataFrame(rows, "k BIGINT, cents BIGINT")
            .withColumn("snapshot_version", F.lit(i))
            .coalesce(1)
            .write.parquet(sub)
        )
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                p = os.path.join(sub, f)
                t = os.path.getmtime(p)
                os.utime(p, (t + i, t + i))
    stream = (
        spark.readStream.schema("k BIGINT, cents BIGINT, snapshot_version INT")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(landing) + "/*")
    )
    view = cdc_retraction_foreach_batch(
        stream,
        str(tmp_path / "state"),
        key_cols=["k"],
        version_col="snapshot_version",
        group_cols=["k"],  # key IS the group column
        sum_cols=["cents"],
    )
    live = {
        r["k"]: (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert live == {1: (1, 150), 3: (1, 300), 4: (1, 400)}


def _oplog_fixture(spark, tmp_path):
    """Three op-log generations over the shared orders carving, landed
    with mtime-ordered files (discovery order = generation order)."""
    import os

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.catalog.streaming_q import _oplog_from_versions
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = _snapshot_version3(v2)
    sel = lambda df: df.select("o_orderkey", "o_orderstatus", "cents")  # noqa: E731
    v1, v2, v3 = sel(v1), sel(v2), sel(v3)
    landing = tmp_path / "landing"
    os.makedirs(landing)
    gens = (
        _oplog_from_versions(None, v1, 1_0000000000),
        _oplog_from_versions(v1, v2, 2_0000000000),
        _oplog_from_versions(v2, v3, 3_0000000000),
    )
    for i, g in enumerate(gens, start=1):
        p = str(landing / f"log{i}")
        g.coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    return str(landing), v3


_OPLOG_SCHEMA = (
    "o_orderkey BIGINT, seq BIGINT, op STRING, o_orderstatus STRING, "
    "cents BIGINT, prev_o_orderstatus STRING, prev_cents BIGINT"
)


def _oplog_run(spark, landing, target, ckpt, max_files):
    from epe_data_wrangling_spark.streaming.ops import cdc_oplog_foreach_batch

    reader = spark.readStream.schema(_OPLOG_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return cdc_oplog_foreach_batch(
        stream,
        target,
        op_col="op",
        seq_col="seq",
        group_cols=["o_orderstatus"],
        sum_cols=["cents"],
        checkpoint_dir=ckpt,
    )


def test_oplog_view_invariant_to_batch_split(spark, tmp_path):
    """Signed op application is commutative, so the final view must be
    identical whether the three log generations arrive as one batch or
    one per batch — and both must equal a direct recompute of the
    final version (the same identity the snapshot CDC sink certifies,
    reached here with zero standing images)."""
    from pyspark.sql import functions as F

    landing, v3 = _oplog_fixture(spark, tmp_path)
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _oplog_run(
            spark, landing, str(tmp_path / f"state{i}"),
            str(tmp_path / f"ckpt{i}"), max_files,
        )
        results.append(
            {r["o_orderstatus"]: (r["n"], r["sum_cents"])
             for r in view.filter(F.col("n") > 0).collect()}
        )
    expect = {
        r["o_orderstatus"]: (r["n"], r["s"])
        for r in v3.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    assert results[0] == results[1] == expect


def test_oplog_replay_skips_and_seq_regression_raises(spark, tmp_path):
    """Exactly-once discipline: a fresh-checkpoint replay over
    already-applied files is a no-op; re-delivering the SAME ops as
    new files (new provenance, regressed sequence numbers) must raise
    instead of double-applying."""
    import os
    import shutil

    import pytest

    landing, _ = _oplog_fixture(spark, tmp_path)
    target = str(tmp_path / "state")
    first = {
        r["o_orderstatus"]: (r["n"], r["sum_cents"])
        for r in _oplog_run(spark, landing, target, str(tmp_path / "ck1"), 1).collect()
    }
    replay = {
        r["o_orderstatus"]: (r["n"], r["sum_cents"])
        for r in _oplog_run(spark, landing, target, str(tmp_path / "ck2"), None).collect()
    }
    assert replay == first
    # copy gen-3's file under a new name: a resumed run discovers it
    # as a genuinely NEW batch (provenance passes), so the sequence
    # high-water guard is what must stop the double-apply
    src = [f for f in os.listdir(landing + "/log3") if f.endswith(".parquet")][0]
    shutil.copy(
        os.path.join(landing, "log3", src),
        os.path.join(landing, "log3", "redelivered.parquet"),
    )
    with pytest.raises(Exception, match="duplicate delivery"):
        _oplog_run(spark, landing, target, str(tmp_path / "ck1"), None)
    # under a FRESH checkpoint the same redelivery is caught one layer
    # earlier, by file provenance — either way nothing double-applies
    with pytest.raises(Exception, match="never-applied source files"):
        _oplog_run(spark, landing, target, str(tmp_path / "ck3"), None)


def test_oplog_rejects_bad_ops_and_duplicate_seq(spark, tmp_path):
    """An op tag outside {I,U,D} and a duplicated sequence number must
    both fail the batch loudly — a guessed sign or a double-applied op
    corrupts the view silently otherwise."""
    import pytest

    from pyspark.sql import functions as F

    rows = [
        (1, 10, "I", "O", 100, None, None),
        (2, 11, "Z", "O", 200, None, None),  # unknown op
    ]
    df = spark.createDataFrame(rows, _OPLOG_SCHEMA)
    bad_dir = tmp_path / "bad"
    df.coalesce(1).write.parquet(str(bad_dir))
    stream = spark.readStream.schema(_OPLOG_SCHEMA).parquet(str(bad_dir))
    from epe_data_wrangling_spark.streaming.ops import cdc_oplog_foreach_batch

    with pytest.raises(Exception, match="op tag"):
        cdc_oplog_foreach_batch(
            stream, str(tmp_path / "s1"),
            op_col="op", seq_col="seq",
            group_cols=["o_orderstatus"], sum_cols=["cents"],
        )
    rows = [
        (1, 10, "I", "O", 100, None, None),
        (2, 10, "I", "O", 200, None, None),  # duplicate seq
    ]
    dup_dir = tmp_path / "dup"
    spark.createDataFrame(rows, _OPLOG_SCHEMA).coalesce(1).write.parquet(str(dup_dir))
    stream = spark.readStream.schema(_OPLOG_SCHEMA).parquet(str(dup_dir))
    with pytest.raises(Exception, match="distinct"):
        cdc_oplog_foreach_batch(
            stream, str(tmp_path / "s2"),
            op_col="op", seq_col="seq",
            group_cols=["o_orderstatus"], sum_cols=["cents"],
        )


def _distinct_view_run(spark, landing, target, ckpt, max_files, schema):
    from epe_data_wrangling_spark.streaming.ops import (
        distinct_count_view_foreach_batch,
    )

    reader = spark.readStream.schema(schema)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return distinct_count_view_foreach_batch(
        stream,
        target,
        key_cols=["o_orderkey"],
        version_col="snapshot_version",
        group_col="o_orderstatus",
        value_col="o_custkey",
        checkpoint_dir=ckpt,
    )


def test_distinct_count_view_invariant_to_batch_split(spark, tmp_path):
    """Two-level COUNT(DISTINCT) maintenance must yield the same view
    whether the three snapshot generations arrive in one batch (the
    in-batch version loop threads support state forward) or one per
    batch (support state round-trips through parquet) — and both must
    equal a direct recompute of the final version."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import _snapshot_versions
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = v2.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 19 == 0, "Y").otherwise(
            F.col("o_orderstatus")
        ),
    ).filter(F.col("o_orderkey") % 17 != 1)
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for i, vdf in ((1, v1), (2, v2), (3, v3)):
        p = str(landing / f"v{i}")
        (
            vdf.select("o_orderkey", "o_custkey", "o_orderstatus")
            .withColumn("snapshot_version", F.lit(i))
            .coalesce(1)
            .write.parquet(p)
        )
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "snapshot_version INT"
    )
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _distinct_view_run(
            spark, str(landing), str(tmp_path / f"state{i}"),
            str(tmp_path / f"ckpt{i}"), max_files, schema,
        )
        results.append(
            {r["o_orderstatus"]: (r["n"], r["d"])
             for r in view.filter(F.col("n") > 0).collect()}
        )
    expect = {
        r["o_orderstatus"]: (r["n"], r["d"])
        for r in v3.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("o_custkey")).alias("d"),
        )
        .collect()
    }
    assert results[0] == results[1] == expect


def test_distinct_count_zero_positive_round_trip(spark, tmp_path):
    """The transition rule's both directions on one (group, value):
    customer 7's LAST row in group 'A' is deleted in v2 (support 1→0,
    d must drop) and a row returns in v3 (support 0→1, d must rise) —
    while customer 8's duplicate rows shed one copy (2→1, d must NOT
    move). A sink that conflated 'support fell' with 'support hit
    zero' fails here."""
    import os

    from pyspark.sql import functions as F

    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "snapshot_version INT"
    )
    v1 = [(1, 7, "A"), (2, 8, "A"), (3, 8, "A")]
    v2 = [(2, 8, "A"), (3, 8, "A")]            # cust 7: 1→0
    v3 = [(2, 8, "A"), (5, 7, "A")]            # cust 7: 0→1; cust 8: 2→1
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for i, rows in ((1, v1), (2, v2), (3, v3)):
        p = str(landing / f"v{i}")
        (
            spark.createDataFrame(
                rows, "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING"
            )
            .withColumn("snapshot_version", F.lit(i))
            .coalesce(1)
            .write.parquet(p)
        )
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    # generations ARRIVE one at a time (same checkpoint throughout —
    # each new file is a genuinely new batch), checking d after each
    import shutil

    from epe_data_wrangling_spark.streaming.ops import (
        distinct_count_view_foreach_batch,
    )

    live = tmp_path / "live"
    os.makedirs(live)
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    seen = []
    for gen in (1, 2, 3):
        src_dir = str(landing / f"v{gen}")
        [f] = [x for x in os.listdir(src_dir) if x.endswith(".parquet")]
        shutil.copy(os.path.join(src_dir, f), str(live / f"g{gen}.parquet"))
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(live))
        )
        view = distinct_count_view_foreach_batch(
            stream,
            target,
            key_cols=["o_orderkey"],
            version_col="snapshot_version",
            group_col="o_orderstatus",
            value_col="o_custkey",
            checkpoint_dir=ckpt,
        )
        [row] = view.filter(F.col("n") > 0).collect()
        seen.append((row["n"], row["d"]))
    assert seen == [(3, 2), (2, 1), (2, 2)]


_TOMB_SCHEMA = (
    "o_orderkey BIGINT, seq BIGINT, op STRING, o_orderstatus STRING, "
    "cents BIGINT"
)


def _tombstone_fixture(spark, tmp_path):
    import os

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.catalog.streaming_q import (
        _tombstone_log_from_versions,
    )
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = _snapshot_version3(v2)
    sel = lambda df: df.select("o_orderkey", "o_orderstatus", "cents")  # noqa: E731
    v1, v2, v3 = sel(v1), sel(v2), sel(v3)
    landing = tmp_path / "landing"
    os.makedirs(landing)
    gens = (
        _tombstone_log_from_versions(None, v1, 1_0000000000),
        _tombstone_log_from_versions(v1, v2, 2_0000000000),
        _tombstone_log_from_versions(v2, v3, 3_0000000000),
    )
    for i, g in enumerate(gens, start=1):
        p = str(landing / f"log{i}")
        g.coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    return str(landing), v3


def _tombstone_run(spark, landing, target, ckpt, max_files, n_buckets=16):
    from epe_data_wrangling_spark.streaming.ops import cdc_tombstone_foreach_batch

    reader = spark.readStream.schema(_TOMB_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return cdc_tombstone_foreach_batch(
        stream,
        target,
        key_cols=["o_orderkey"],
        op_col="op",
        seq_col="seq",
        group_cols=["o_orderstatus"],
        sum_cols=["cents"],
        n_buckets=n_buckets,
        checkpoint_dir=ckpt,
    )


def test_tombstone_view_invariant_to_batch_split(spark, tmp_path):
    """No-before-image CDC: the final view must be identical whether
    the three changelog generations arrive as one batch (last-op-per-
    key dedup collapses cross-generation op chains) or one per batch
    (retractions manufactured from the committed image) — and equal a
    direct recompute of the final version."""
    from pyspark.sql import functions as F

    landing, v3 = _tombstone_fixture(spark, tmp_path)
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _tombstone_run(
            spark, landing, str(tmp_path / f"state{i}"),
            str(tmp_path / f"ckpt{i}"), max_files,
        )
        results.append(
            {r["o_orderstatus"]: (r["n"], r["sum_cents"])
             for r in view.filter(F.col("n") > 0).collect()}
        )
    expect = {
        r["o_orderstatus"]: (r["n"], r["s"])
        for r in v3.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    assert results[0] == results[1] == expect


def test_tombstone_partial_rewrite_and_semantics(spark, tmp_path):
    """The bucketed-image contract, on a hand-built log: (a) at
    production bucket sizing (every bucket above the packing target)
    a second batch touching ONE bucket leaves every other bucket's
    manifest entry byte-identical (same immutable pool files carried
    forward — file names are never reused, so name identity IS data
    identity; below the target, file-level CoW applies instead,
    pinned in tests/test_manifest.py); (b) delete-then-reinsert lands
    the reinserted value; (c) a tombstone for a key that never
    existed retracts nothing."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.manifest import (
        TARGET_MIN_FILE_ROWS,
        pool_store_dir,
        read_manifest,
    )
    from epe_data_wrangling_spark.streaming.ops import cdc_tombstone_foreach_batch

    landing = tmp_path / "landing"
    os.makedirs(landing)

    def land(gen, rows):
        p = str(landing / f"g{gen}")
        spark.createDataFrame(rows, _TOMB_SCHEMA).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + gen, t + gen))

    def run(ckpt):
        stream = (
            spark.readStream.schema(_TOMB_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(landing) + "/*")
        )
        return cdc_tombstone_foreach_batch(
            stream,
            str(tmp_path / "state"),
            key_cols=["o_orderkey"],
            op_col="op",
            seq_col="seq",
            group_cols=["o_orderstatus"],
            sum_cols=["cents"],
            n_buckets=8,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    # gen1: keys spread over all 8 buckets, 2x the packing target per
    # bucket on average so nothing packs
    n_keys = 8 * 2 * TARGET_MIN_FILE_ROWS
    land(1, [(k, 100 + k, "U", "A", 10) for k in range(n_keys)])
    view = run("ckpt")
    assert {(r["o_orderstatus"], r["n"], r["sum_cents"]) for r in view.collect()} == {
        ("A", n_keys, 10 * n_keys)
    }
    target = str(tmp_path / "state")
    m_before = read_manifest(target, "image")
    assert m_before is not None and m_before["buckets"]
    all_names = [n for ns in m_before["buckets"].values() for n in ns]
    assert len(set(all_names)) == len(all_names)  # nothing packed
    # gen2: delete key 3, reinsert it at a new value, update key 3's
    # bucket only; plus a tombstone for a key that never existed —
    # all four ops hash into a small set of buckets
    land(
        2,
        [
            (3, 1_000_000, "D", None, None),
            (3, 1_000_001, "U", "B", 99),    # delete-then-reinsert, new group
            (999_999_999, 1_000_002, "D", None, None),  # never existed: no-op
        ],
    )
    view = run("ckpt")
    got = {
        r["o_orderstatus"]: (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {"A": (n_keys - 1, 10 * (n_keys - 1)), "B": (1, 99)}
    # untouched buckets: identical manifest entries through the commit
    # (the same immutable pool files, still present)
    from pyspark.sql import functions as FF

    touched_buckets = {
        r["b"]
        for r in spark.createDataFrame(
            [(3,), (999_999_999,)], "o_orderkey BIGINT"
        )
        .select(FF.pmod(FF.hash("o_orderkey"), FF.lit(8)).alias("b"))
        .collect()
    }
    m_after = read_manifest(target, "image")
    pool = pool_store_dir(target, "image")
    untouched_checked = 0
    for b, names in m_before["buckets"].items():
        if int(b) in touched_buckets:
            continue
        assert m_after["buckets"][b] == names, b
        for n in names:
            assert os.path.isfile(os.path.join(pool, n)), n
        untouched_checked += 1
    assert untouched_checked > 0  # the partial-rewrite claim was exercised


_JVLOG_SCHEMA = (
    "rel STRING, seq BIGINT, op STRING, o_orderkey BIGINT, "
    "o_custkey BIGINT, cents BIGINT, o_orderstatus STRING, "
    "prev_o_custkey BIGINT, prev_cents BIGINT, prev_o_orderstatus STRING, "
    "c_custkey BIGINT, c_mktsegment STRING, prev_c_mktsegment STRING"
)


def _jvlog_run(spark, landing, target, ckpt, max_files, verify=True, how="inner"):
    from epe_data_wrangling_spark.streaming.ops import (
        join_view_oplog_foreach_batch,
    )

    reader = spark.readStream.schema(_JVLOG_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return join_view_oplog_foreach_batch(
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
        r_cols=["o_custkey", "cents", "o_orderstatus"],
        s_cols=["c_mktsegment"],
        group_cols=["c_mktsegment", "o_orderstatus"],
        sum_cols=["cents"],
        how=how,
        n_buckets=8,
        verify_before_images=verify,
        checkpoint_dir=ckpt,
    )


def _land_jvlog(spark, landing, gen, rows):
    import os

    p = str(landing / f"g{gen}")
    spark.createDataFrame(rows, _JVLOG_SCHEMA).coalesce(1).write.parquet(p)
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            fp = os.path.join(p, f)
            t = os.path.getmtime(fp)
            os.utime(fp, (t + gen, t + gen))


def _r_op(seq, op, key, cust, cents, st, pcust=None, pcents=None, pst=None):
    return ("R", seq, op, key, cust, cents, st, pcust, pcents, pst, None, None, None)


def _s_op(seq, op, key, seg, pseg=None):
    return ("S", seq, op, None, None, None, None, None, None, None, key, seg, pseg)


def test_join_view_oplog_bucket_moves_and_semantics(spark, tmp_path):
    """Hand-built log exercising the cases the big carving cannot
    isolate: an UPDATE that moves a fact row between join-key buckets
    (custkey change — the image row must relocate and the view must
    migrate the contribution between dim groups), a dim attribute
    update, a delete, and a late-arriving dim key that picks up facts
    inserted before it existed (the no-bootstrap-special-case
    algebra)."""
    import os

    from pyspark.sql import functions as F

    landing = tmp_path / "landing"
    os.makedirs(landing)
    # gen1: dims c1=SEG_A, c2=SEG_B; facts o1->c1 (10), o2->c1 (20)
    _land_jvlog(spark, landing, 1, [
        _s_op(1, "I", 1, "SEG_A"),
        _s_op(2, "I", 2, "SEG_B"),
        _r_op(3, "I", 101, 1, 10, "O"),
        _r_op(4, "I", 102, 1, 20, "O"),
        _r_op(5, "I", 103, 7, 70, "O"),  # c7 does not exist yet
    ])
    target = str(tmp_path / "state")
    view = _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    got = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {("SEG_A", "O"): (2, 30)}  # o103 unmatched: inner join
    # gen2: move o102 to c2 (bucket + group migration), bump cents;
    # dim c1 renames segment; late dim key c7 arrives
    _land_jvlog(spark, landing, 2, [
        _r_op(10, "U", 102, 2, 25, "O", 1, 20, "O"),
        _s_op(11, "U", 1, "SEG_A2", "SEG_A"),
        _s_op(12, "I", 7, "SEG_C"),
    ])
    view = _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    got = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {
        ("SEG_A2", "O"): (1, 10),   # o101 under the renamed segment
        ("SEG_B", "O"): (1, 25),    # o102 migrated and re-priced
        ("SEG_C", "O"): (1, 70),    # o103 picked up by the late dim key
    }
    # image_r: o102 now lives in c2's bucket
    from epe_data_wrangling_spark.streaming.manifest import read_store
    img = read_store(spark, target, "image_r")
    [row] = img.filter(F.col("o_orderkey") == 102).collect()
    assert row["o_custkey"] == 2 and row["cents"] == 25
    # gen3: delete o101
    _land_jvlog(spark, landing, 3, [_r_op(20, "D", 101, None, None, None, 1, 10, "O")])
    view = _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    got = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {("SEG_B", "O"): (1, 25), ("SEG_C", "O"): (1, 70)}


def test_join_view_oplog_divergence_guard(spark, tmp_path):
    """A log that disagrees with the committed image must RAISE, not
    corrupt the view: (a) a before-image whose values differ from the
    stored row; (b) an insert over a key the image already holds;
    (c) an update of a key the image does not hold."""
    import os

    import pytest

    landing = tmp_path / "landing"
    os.makedirs(landing)
    _land_jvlog(spark, landing, 1, [
        _s_op(1, "I", 1, "SEG_A"),
        _r_op(2, "I", 101, 1, 10, "O"),
    ])
    target = str(tmp_path / "state")
    _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    cases = [
        _r_op(10, "U", 101, 1, 11, "O", 1, 999, "O"),  # prev cents wrong
        _r_op(10, "I", 101, 1, 11, "O"),               # I over existing
        _r_op(10, "U", 555, 1, 11, "O", 1, 10, "O"),   # U of absent key
    ]
    for i, bad in enumerate(cases):
        bad_landing = tmp_path / f"bad{i}"
        os.makedirs(bad_landing)
        # copy gen1 then append the bad op as gen2
        import shutil

        shutil.copytree(str(landing / "g1"), str(bad_landing / "g1"))
        _land_jvlog(spark, bad_landing, 2, [bad])
        t = str(tmp_path / f"state{i}")
        with pytest.raises(Exception, match="DIVERGES"):
            _jvlog_run(
                spark, str(bad_landing), t, str(tmp_path / f"ckb{i}"), 1
            )


import pytest as _pytest


@_pytest.mark.parametrize("how", ["inner", "left_outer"])
def test_join_view_oplog_invariant_to_batch_split(spark, tmp_path, how):
    """The within-batch algebra (no view dedup, last-op-per-key image,
    net-delta bilinearity — plus, in outer mode, the counting-problem
    terms with K₂ evaluated per batch) must give the same view whether
    all three log generations arrive in ONE batch or one per batch —
    both equal to a direct recompute of γ(v3 ⋈/⟕ s2). In outer mode
    the '(none)' group must be present and load-bearing."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _dim_versions,
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.catalog.streaming_q import _rel_oplog
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = _snapshot_version3(v2)
    sel = lambda d: d.select(  # noqa: E731
        "o_orderkey", "o_custkey", "cents", "o_orderstatus"
    )
    v1, v2, v3 = sel(v1), sel(v2), sel(v3)
    s1, s2 = _dim_versions(load_table(spark, SF_DIR, "customer"))
    R_COLS = ["o_custkey", "cents", "o_orderstatus"]

    def tag_r(log):
        return log.select(
            F.lit("R").alias("rel"), "seq", "op", "o_orderkey",
            *R_COLS, *[f"prev_{c}" for c in R_COLS],
            F.lit(None).cast("bigint").alias("c_custkey"),
            F.lit(None).cast("string").alias("c_mktsegment"),
            F.lit(None).cast("string").alias("prev_c_mktsegment"),
        )

    def tag_s(log):
        nulls_r = [
            F.lit(None).cast(t).alias(c)
            for c, t in (("o_custkey", "bigint"), ("cents", "bigint"),
                         ("o_orderstatus", "string"))
        ]
        nulls_pr = [
            F.lit(None).cast(t).alias(f"prev_{c}")
            for c, t in (("o_custkey", "bigint"), ("cents", "bigint"),
                         ("o_orderstatus", "string"))
        ]
        return log.select(
            F.lit("S").alias("rel"), "seq", "op",
            F.lit(None).cast("bigint").alias("o_orderkey"),
            *nulls_r, *nulls_pr,
            "c_custkey", "c_mktsegment", "prev_c_mktsegment",
        )

    G = 10**10
    gens = (
        tag_r(_rel_oplog(None, v1, "o_orderkey", R_COLS, G)).unionByName(
            tag_s(_rel_oplog(None, s1, "c_custkey", ["c_mktsegment"], G + 5 * 10**9))
        ),
        tag_r(_rel_oplog(v1, v2, "o_orderkey", R_COLS, 2 * G)),
        tag_r(_rel_oplog(v2, v3, "o_orderkey", R_COLS, 3 * G)).unionByName(
            tag_s(_rel_oplog(s1, s2, "c_custkey", ["c_mktsegment"], 3 * G + 5 * 10**9))
        ),
    )
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for i, g in enumerate(gens, start=1):
        p = str(landing / f"g{i}")
        g.coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _jvlog_run(
            spark, str(landing), str(tmp_path / f"state{i}"),
            str(tmp_path / f"ck{i}"), max_files, how=how,
        )
        results.append(
            {
                (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
                for r in view.filter(F.col("n") > 0).collect()
            }
        )
    if how == "inner":
        direct = v3.join(s2, v3.o_custkey == s2.c_custkey)
        seg = F.col("c_mktsegment")
    else:
        direct = v3.join(s2, v3.o_custkey == s2.c_custkey, "left")
        seg = F.coalesce(F.col("c_mktsegment"), F.lit("(none)"))
    expect = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["s"])
        for r in direct.groupBy(seg.alias("c_mktsegment"), "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()
    }
    assert results[0] == results[1] == expect
    if how == "left_outer":
        assert any(k[0] == "(none)" for k in expect), "∅-group not load-bearing"


def test_distinct_count_null_values_follow_sql_semantics(spark, tmp_path):
    """COUNT(DISTINCT) ignores NULL values (SQL), and the support
    lookup must be null-safe: NULL-valued rows contribute to n but
    never to d, and repeated deltas over a NULL-valued group must not
    re-transition it 0→1 each refresh."""
    import os

    from pyspark.sql import functions as F

    schema = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "snapshot_version INT"
    )
    v1 = [(1, None, "A"), (2, 7, "A")]
    v2 = [(1, None, "A"), (2, 7, "A"), (3, None, "A")]  # another NULL arrives
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for i, rows in ((1, v1), (2, v2)):
        p = str(landing / f"v{i}")
        (
            spark.createDataFrame(
                rows, "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING"
            )
            .withColumn("snapshot_version", F.lit(i))
            .coalesce(1)
            .write.parquet(p)
        )
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    view = _distinct_view_run(
        spark, str(landing), str(tmp_path / "state"),
        str(tmp_path / "ckpt"), 1, schema,
    )
    [row] = view.filter(F.col("n") > 0).collect()
    # 3 rows, but only customer 7 is a countable distinct value
    assert (row["o_orderstatus"], row["n"], row["d"]) == ("A", 3, 1)


def test_cdc_oplog_and_tombstone_on_randomized_op_sequences(spark, tmp_path):
    """The log-apply algebra beyond the one catalog carving: seeded
    pseudo-random op sequences over a small keyspace — inserts,
    updates, deletes, delete-then-reinsert, and multi-op chains on one
    key within a generation — emitted in BOTH changelog dialects
    (before-image op log; after-image + tombstones) and applied one
    generation per batch. Each sink's view must equal a direct
    recompute of the final table state. Catches sign errors,
    last-op-per-key mistakes, and image/retraction drift that the
    fixed carving might not."""
    import os
    import random

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.ops import (
        cdc_oplog_foreach_batch,
        cdc_tombstone_foreach_batch,
    )

    statuses = ["A", "B", "C"]
    for seed in (11, 37):
        rng = random.Random(seed)
        truth: dict[int, tuple[str, int]] = {}
        seq = 0
        gens_oplog, gens_tomb = [], []
        for gen in range(3):
            ops_o, ops_t = [], []
            keys = list(range(1, 40))
            rng.shuffle(keys)
            for k in keys:
                # up to 2 chained ops per key per generation
                for _ in range(1 + (rng.random() < 0.25)):
                    seq += 1
                    exists = k in truth
                    if not exists:
                        if rng.random() < 0.5:
                            continue  # key stays absent this op
                        img = (rng.choice(statuses), rng.randrange(100, 999))
                        truth[k] = img
                        ops_o.append((k, seq, "I", img[0], img[1], None, None))
                        ops_t.append((k, seq, "U", img[0], img[1]))
                    else:
                        r = rng.random()
                        if r < 0.3:
                            prev = truth.pop(k)
                            ops_o.append((k, seq, "D", None, None, prev[0], prev[1]))
                            ops_t.append((k, seq, "D", None, None))
                        elif r < 0.8:
                            prev = truth[k]
                            img = (rng.choice(statuses), rng.randrange(100, 999))
                            truth[k] = img
                            ops_o.append(
                                (k, seq, "U", img[0], img[1], prev[0], prev[1])
                            )
                            ops_t.append((k, seq, "U", img[0], img[1]))
                        # else: key untouched by this op slot
            gens_oplog.append(ops_o)
            gens_tomb.append(ops_t)

        expect: dict[str, tuple[int, int]] = {}
        for st, cents in truth.values():
            n, s = expect.get(st, (0, 0))
            expect[st] = (n + 1, s + cents)

        def land(rows_per_gen, schema, sub):
            landing = tmp_path / f"s{seed}_{sub}"
            os.makedirs(landing)
            for i, rows in enumerate(rows_per_gen, start=1):
                p = str(landing / f"g{i}")
                spark.createDataFrame(rows, schema).coalesce(1).write.parquet(p)
                for f in os.listdir(p):
                    if f.endswith(".parquet"):
                        fp = os.path.join(p, f)
                        t = os.path.getmtime(fp)
                        os.utime(fp, (t + i, t + i))
            return str(landing)

        # before-image op log
        ol = land(gens_oplog, _OPLOG_SCHEMA, "oplog")
        stream = (
            spark.readStream.schema(_OPLOG_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(ol + "/*")
        )
        view = cdc_oplog_foreach_batch(
            stream,
            str(tmp_path / f"s{seed}_oplog_state"),
            op_col="op",
            seq_col="seq",
            group_cols=["o_orderstatus"],
            sum_cols=["cents"],
        )
        got = {
            r["o_orderstatus"]: (r["n"], r["sum_cents"])
            for r in view.filter(F.col("n") > 0).collect()
        }
        assert got == expect, (seed, "oplog", got, expect)

        # tombstone log (no before-images; the sink's image supplies them)
        tl = land(gens_tomb, _TOMB_SCHEMA, "tomb")
        stream = (
            spark.readStream.schema(_TOMB_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(tl + "/*")
        )
        view = cdc_tombstone_foreach_batch(
            stream,
            str(tmp_path / f"s{seed}_tomb_state"),
            key_cols=["o_orderkey"],
            op_col="op",
            seq_col="seq",
            group_cols=["o_orderstatus"],
            sum_cols=["cents"],
            n_buckets=8,
        )
        got = {
            r["o_orderstatus"]: (r["n"], r["sum_cents"])
            for r in view.filter(F.col("n") > 0).collect()
        }
        assert got == expect, (seed, "tombstone", got, expect)


def test_join_view_oplog_null_join_values(spark, tmp_path):
    """NULL join VALUES are real rows (routine FKs in the left_outer
    regime) and must round-trip the standing image: they store in
    bucket pmod(hash(NULL)=42, n), the touched set must load that
    bucket on a later U/D (previously the isNotNull guards skipped it,
    so the delete spuriously tripped the divergence guard), and in
    outer mode their contribution lives in the '(none)' group."""
    import os

    from pyspark.sql import functions as F

    landing = tmp_path / "landing"
    os.makedirs(landing)
    _land_jvlog(spark, landing, 1, [
        _s_op(1, "I", 1, "SEG_A"),
        _r_op(2, "I", 101, 1, 10, "O"),
        _r_op(3, "I", 102, None, 20, "O"),   # NULL FK
    ])
    target = str(tmp_path / "state")
    view = _jvlog_run(
        spark, str(landing), target, str(tmp_path / "ck"), None,
        how="left_outer",
    )
    got = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {("SEG_A", "O"): (1, 10), ("(none)", "O"): (1, 20)}
    # U over the NULL-FK row: before-image join value is NULL — the
    # touched set must include its bucket or the guard raises ud_missing
    _land_jvlog(spark, landing, 2, [
        _r_op(10, "U", 102, None, 25, "O", None, 20, "O"),
    ])
    view = _jvlog_run(
        spark, str(landing), target, str(tmp_path / "ck"), None,
        how="left_outer",
    )
    got = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {("SEG_A", "O"): (1, 10), ("(none)", "O"): (1, 25)}
    # D removes it: image must not keep a stale NULL-FK row
    _land_jvlog(spark, landing, 3, [
        _r_op(20, "D", 102, None, None, None, None, 25, "O"),
    ])
    view = _jvlog_run(
        spark, str(landing), target, str(tmp_path / "ck"), None,
        how="left_outer",
    )
    got = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {("SEG_A", "O"): (1, 10)}
    from epe_data_wrangling_spark.streaming.manifest import read_store
    img = read_store(spark, target, "image_r")
    assert img.filter(F.col("o_orderkey") == 102).count() == 0


def test_join_view_oplog_dim_net_violation_raises(spark, tmp_path):
    """A contract-violating log whose dim key nets |2| in one batch
    (duplicate I with the verifier off) must RAISE in outer mode, not
    silently skip the ∅-group migration."""
    import os

    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    landing = tmp_path / "landing"
    os.makedirs(landing)
    _land_jvlog(spark, landing, 1, [
        _s_op(1, "I", 1, "SEG_A"),
        _r_op(2, "I", 101, 2, 10, "O"),      # unmatched fact -> (none)
    ])
    target = str(tmp_path / "state")
    _jvlog_run(
        spark, str(landing), target, str(tmp_path / "ck"), None,
        verify=False, how="left_outer",
    )
    _land_jvlog(spark, landing, 2, [
        _s_op(10, "I", 2, "SEG_B"),
        _s_op(11, "I", 2, "SEG_B"),          # duplicate insert: net +2
    ])
    with pytest.raises(Exception, match="net presence"):
        _jvlog_run(
            spark, str(landing), target, str(tmp_path / "ck"), None,
            verify=False, how="left_outer",
        )


def test_join_view_oplog_cross_bucket_insert_raises(spark, tmp_path):
    """The key-index sidecar makes insert-over-present EXACT: an I for
    a key the image already holds, claiming a join value that hashes
    to a DIFFERENT bucket, is invisible to the image-side guard (the
    stored bucket is never loaded) but must raise via keyidx_r."""
    import os

    import pytest
    from pyspark.sql import functions as F

    def bucket_of(v):
        return spark.range(1).select(
            F.pmod(F.hash(F.lit(v).cast("bigint")), F.lit(8)).alias("b")
        ).collect()[0]["b"]

    j1 = 1
    j2 = next(v for v in range(2, 64) if bucket_of(v) != bucket_of(j1))

    landing = tmp_path / "landing"
    os.makedirs(landing)
    _land_jvlog(spark, landing, 1, [
        _s_op(1, "I", j1, "SEG_A"),
        _r_op(2, "I", 101, j1, 10, "O"),
    ])
    target = str(tmp_path / "state")
    _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    from epe_data_wrangling_spark.streaming.manifest import read_manifest
    assert read_manifest(target, "keyidx_r") is not None
    # same primary key 101, join value in another bucket
    _land_jvlog(spark, landing, 2, [
        _r_op(10, "I", 101, j2, 11, "O"),
    ])
    with pytest.raises(Exception, match="key index"):
        _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)


def test_join_view_oplog_reinsert_after_delete_ok(spark, tmp_path):
    """The key index must FORGET deleted keys: I -> D -> I on one key
    across batches is a legal log and must not trip the
    insert-over-present check, even when the reinsert claims a join
    value in a different bucket."""
    import os

    from pyspark.sql import functions as F

    def bucket_of(v):
        return spark.range(1).select(
            F.pmod(F.hash(F.lit(v).cast("bigint")), F.lit(8)).alias("b")
        ).collect()[0]["b"]

    j1 = 1
    j2 = next(v for v in range(2, 64) if bucket_of(v) != bucket_of(j1))
    landing = tmp_path / "landing"
    os.makedirs(landing)
    _land_jvlog(spark, landing, 1, [
        _s_op(1, "I", j1, "SEG_A"),
        _s_op(2, "I", j2, "SEG_B"),
        _r_op(3, "I", 101, j1, 10, "O"),
    ])
    target = str(tmp_path / "state")
    _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    _land_jvlog(spark, landing, 2, [
        _r_op(10, "D", 101, None, None, None, j1, 10, "O"),
    ])
    _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    _land_jvlog(spark, landing, 3, [
        _r_op(20, "I", 101, j2, 30, "O"),
    ])
    view = _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    got = {
        (r["c_mktsegment"], r["o_orderstatus"]): (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {("SEG_B", "O"): (1, 30)}


def test_bucket_compaction_bounds_file_count(spark, tmp_path):
    """An externally-fragmented untouched bucket (more manifest data
    files than COMPACT_FILE_THRESHOLD) is COMPACTED to one pool file
    inside the next commit instead of carried — with the view and the
    bucket's rows unchanged — so per-bucket file counts are bounded no
    matter how the state arrived; the superseded fragments become
    orphans and are swept by the batch after that."""
    import json
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.manifest import (
        pool_store_dir,
        read_manifest,
        read_store,
    )
    from epe_data_wrangling_spark.streaming.ops import (
        cdc_tombstone_foreach_batch,
    )

    landing = tmp_path / "landing"
    os.makedirs(landing)

    def land(gen, rows):
        p = str(landing / f"g{gen}")
        spark.createDataFrame(rows, _TOMB_SCHEMA).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + gen, t + gen))

    def run():
        stream = (
            spark.readStream.schema(_TOMB_SCHEMA)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(landing) + "/*")
        )
        return cdc_tombstone_foreach_batch(
            stream,
            str(tmp_path / "state"),
            key_cols=["o_orderkey"],
            op_col="op",
            seq_col="seq",
            group_cols=["o_orderstatus"],
            sum_cols=["cents"],
            n_buckets=4,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )

    land(1, [(k, 100 + k, "U", "A", 10) for k in range(32)])
    run()
    target = str(tmp_path / "state")
    pool = pool_store_dir(target, "image")

    # pick a bucket and FRAGMENT it in place: same rows, many files
    def bucket_of(k):
        return spark.range(1).select(
            F.pmod(F.hash(F.lit(k).cast("bigint")), F.lit(4)).alias("b")
        ).collect()[0]["b"]

    frag_b = next(b for b in range(4) if b != bucket_of(3))
    m = read_manifest(target, "image")
    rows = read_store(spark, target, "image", buckets=[frag_b], manifest=m)
    expected = rows.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    ).collect()[0]
    tmp_out = str(tmp_path / "frag")
    rows.repartition(12).write.parquet(tmp_out)
    frag_names = []
    for f in sorted(os.listdir(tmp_out)):
        if f.endswith(".parquet"):
            name = f"b{frag_b}-frag-{len(frag_names):03d}.parquet"
            os.rename(os.path.join(tmp_out, f), os.path.join(pool, name))
            frag_names.append(name)
    assert len(frag_names) > 8  # above COMPACT_FILE_THRESHOLD
    # point the committed manifest at the fragments (simulating a
    # fragmented arrival; the replaced file becomes an orphan)
    m["buckets"][str(frag_b)] = frag_names
    with open(os.path.join(target, "_manifest_image.json"), "w") as fh:
        json.dump(m, fh)

    # next commit touches ONLY key 3's bucket — the fragmented bucket
    # is untouched and must come out compacted, not carried
    land(2, [(3, 1000, "U", "B", 99)])
    view = run()
    got = {
        r["o_orderstatus"]: (r["n"], r["sum_cents"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {"A": (31, 310), "B": (1, 99)}
    m2 = read_manifest(target, "image")
    assert len(m2["buckets"][str(frag_b)]) == 1, m2["buckets"][str(frag_b)]
    # the compacted bucket holds exactly the same rows
    after = (
        read_store(spark, target, "image", buckets=[frag_b], manifest=m2)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
        .collect()[0]
    )
    assert (after["n"], after["s"]) == (expected["n"], expected["s"])
    # one more commit: the superseded fragments are swept as orphans
    land(3, [(3, 2000, "U", "B", 100)])
    run()
    left = set(os.listdir(pool))
    assert not (set(frag_names) & left), set(frag_names) & left


def test_bucketed_image_file_count_bounded_over_many_refreshes(spark, tmp_path):
    """The small-files story end-to-end: 12 single-op refreshes against
    a 4-bucket standing image leave every bucket with ~one manifest
    data file (touched buckets are rewritten whole, untouched ones
    carry the same immutable pool file through each commit) — and the
    POOL itself stays bounded because every batch sweeps the previous
    commit's superseded files."""
    import os

    from pyspark.sql import functions as F  # noqa: F401

    from epe_data_wrangling_spark.streaming.manifest import (
        pool_store_dir,
        read_manifest,
    )
    from epe_data_wrangling_spark.streaming.ops import (
        cdc_tombstone_foreach_batch,
    )

    landing = tmp_path / "landing"
    os.makedirs(landing)
    rows0 = [(k, 100 + k, "U", "A", 10) for k in range(16)]
    p = str(landing / "g000")
    spark.createDataFrame(rows0, _TOMB_SCHEMA).coalesce(1).write.parquet(p)
    seq = 1000
    for gen in range(1, 13):  # 12 follow-up single-op generations
        seq += 1
        k = gen % 16
        rows = [(k, seq, "U", "A", 10 + gen)]
        p = str(landing / f"g{gen:03d}")
        spark.createDataFrame(rows, _TOMB_SCHEMA).coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + gen, t + gen))
    stream = (
        spark.readStream.schema(_TOMB_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(landing) + "/*")
    )
    cdc_tombstone_foreach_batch(
        stream,
        str(tmp_path / "state"),
        key_cols=["o_orderkey"],
        op_col="op",
        seq_col="seq",
        group_cols=["o_orderstatus"],
        sum_cols=["cents"],
        n_buckets=4,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    target = str(tmp_path / "state")
    m = read_manifest(target, "image")
    counts = {b: len(names) for b, names in m["buckets"].items()}
    assert counts and all(c <= 2 for c in counts.values()), counts
    # pool bounded: referenced files + at most the last commit's
    # not-yet-swept leftovers
    pool_files = [
        f
        for f in os.listdir(pool_store_dir(target, "image"))
        if f.endswith(".parquet")
    ]
    assert len(pool_files) <= sum(counts.values()) + 8, pool_files


_DLOG_SCHEMA = (
    "o_orderkey BIGINT, seq BIGINT, op STRING, o_custkey BIGINT, "
    "o_orderstatus STRING, prev_o_custkey BIGINT, prev_o_orderstatus STRING"
)


def _dlog_land(spark, landing, gen, rows):
    import os

    p = str(landing / f"g{gen:03d}")
    spark.createDataFrame(rows, _DLOG_SCHEMA).coalesce(1).write.parquet(p)
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            fp = os.path.join(p, f)
            t = os.path.getmtime(fp)
            os.utime(fp, (t + gen, t + gen))


def _dlog_run(spark, landing, target, ckpt, max_files, n_buckets=8):
    from epe_data_wrangling_spark.streaming.ops import (
        distinct_count_oplog_foreach_batch,
    )

    reader = spark.readStream.schema(_DLOG_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return distinct_count_oplog_foreach_batch(
        stream,
        target,
        op_col="op",
        seq_col="seq",
        group_col="o_orderstatus",
        value_col="o_custkey",
        n_buckets=n_buckets,
        checkpoint_dir=ckpt,
    )


def test_distinct_oplog_view_invariant_to_batch_split(spark, tmp_path):
    """The op-log distinct-count sink must give the same (n, d) view
    whether the three changelog generations arrive in one batch or one
    per batch — both equal to a direct recompute of the final state —
    because transitions are a function of the COMMITTED old count and
    the batch's NET support delta."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import _snapshot_versions
    from epe_data_wrangling_spark.catalog.streaming_q import _rel_oplog
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = v2.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 19 == 0, "Y").otherwise(
            F.col("o_orderstatus")
        ),
    ).filter(F.col("o_orderkey") % 17 != 1)
    sel = lambda d: d.select("o_orderkey", "o_custkey", "o_orderstatus")  # noqa: E731
    v1, v2, v3 = sel(v1), sel(v2), sel(v3)
    cols = ["o_custkey", "o_orderstatus"]
    G = 10**10
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for i, log in enumerate(
        (
            _rel_oplog(None, v1, "o_orderkey", cols, G),
            _rel_oplog(v1, v2, "o_orderkey", cols, 2 * G),
            _rel_oplog(v2, v3, "o_orderkey", cols, 3 * G),
        ),
        start=1,
    ):
        p = str(landing / f"g{i:03d}")
        log.coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _dlog_run(
            spark, str(landing), str(tmp_path / f"state{i}"),
            str(tmp_path / f"ck{i}"), max_files,
        )
        results.append(
            {
                r["o_orderstatus"]: (r["n"], r["d"])
                for r in view.filter(F.col("n") > 0).collect()
            }
        )
    expect = {
        r["o_orderstatus"]: (r["n"], r["d"])
        for r in v3.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("o_custkey").alias("d"),
        )
        .collect()
    }
    assert results[0] == results[1] == expect


def test_distinct_oplog_one_zero_one_round_trip(spark, tmp_path):
    """A value's support going 1→0→1 across commits must move d down
    then back up — the dropped-zero-row convention must behave exactly
    like an absent row — and NULL values must feed n but never d."""
    import os

    from pyspark.sql import functions as F

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _dlog_land(spark, landing, 1, [
        (1, 101, "I", 7, "A", None, None),
        (2, 102, "I", None, "A", None, None),   # NULL value: n only
    ])
    view = _dlog_run(spark, str(landing), target, ck, None)
    [row] = view.filter(F.col("n") > 0).collect()
    assert (row["o_orderstatus"], row["n"], row["d"]) == ("A", 2, 1)
    _dlog_land(spark, landing, 2, [
        (1, 201, "D", None, None, 7, "A"),      # last support of 7 leaves
    ])
    view = _dlog_run(spark, str(landing), target, ck, None)
    [row] = view.filter(F.col("n") > 0).collect()
    assert (row["o_orderstatus"], row["n"], row["d"]) == ("A", 1, 0)
    _dlog_land(spark, landing, 3, [
        (1, 301, "I", 7, "A", None, None),      # 7 returns: 0 -> 1 again
    ])
    view = _dlog_run(spark, str(landing), target, ck, None)
    [row] = view.filter(F.col("n") > 0).collect()
    assert (row["o_orderstatus"], row["n"], row["d"]) == ("A", 2, 1)
    # support hygiene: no zero-count rows are stored
    from epe_data_wrangling_spark.streaming.manifest import read_store
    sup = read_store(spark, target, "support")
    assert sup.filter(F.col("cnt") <= 0).count() == 0


def test_distinct_oplog_negative_support_raises(spark, tmp_path):
    """Retracting a (group, value) the support never held means the
    log diverged — the sink must RAISE, not store a negative count."""
    import pytest

    landing = tmp_path / "landing"
    import os

    os.makedirs(landing)
    target = str(tmp_path / "state")
    _dlog_land(spark, landing, 1, [(1, 101, "I", 7, "A", None, None)])
    _dlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    _dlog_land(spark, landing, 2, [
        (9, 201, "D", None, None, 8, "A"),      # value 8 never inserted
    ])
    with pytest.raises(Exception, match="NEGATIVE"):
        _dlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)


def test_distinct_oplog_support_partial_rewrite(spark, tmp_path):
    """The bucketed support table is a standing image like any other:
    at production bucket sizing (every bucket at/above the packing
    target, so nothing shares a file) a commit touching one
    (group, value) bucket must CARRY every untouched bucket's manifest
    entry byte-identically (same immutable pool files) rather than
    rewrite it. Below the target the manifest layer's file-level CoW
    applies instead — pinned in tests/test_manifest.py."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.manifest import (
        TARGET_MIN_FILE_ROWS,
        read_manifest,
    )

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    # 2x the packing target per (group, value) bucket on average: hash
    # variance across 8 buckets cannot pull any below the target
    n_vals = 8 * 2 * TARGET_MIN_FILE_ROWS
    _dlog_land(spark, landing, 1, [
        (k, 100 + k, "I", k, "A", None, None) for k in range(n_vals)
    ])
    _dlog_run(spark, str(landing), target, ck, None)
    m_before = read_manifest(target, "support")
    all_names = [n for ns in m_before["buckets"].values() for n in ns]
    assert len(set(all_names)) == len(all_names)  # nothing packed
    # touch exactly one value (seq above the bootstrap's high-water mark)
    _dlog_land(spark, landing, 2, [(3, 999999, "D", None, None, 3, "A")])
    view = _dlog_run(spark, str(landing), target, ck, None)
    [row] = view.filter(F.col("n") > 0).collect()
    assert (row["n"], row["d"]) == (n_vals - 1, n_vals - 1)
    [tb] = spark.range(1).select(
        F.pmod(
            F.hash(F.lit("A"), F.lit(3).cast("bigint")), F.lit(8)
        ).alias("b")
    ).collect()
    m_after = read_manifest(target, "support")
    untouched_checked = 0
    for b, names in m_before["buckets"].items():
        if int(b) != tb["b"]:
            assert m_after["buckets"][b] == names, b
            untouched_checked += 1
    assert untouched_checked == 7


_MMLOG_SCHEMA = (
    "o_orderkey BIGINT, seq BIGINT, op STRING, o_orderstatus STRING, "
    "cents BIGINT, prev_o_orderstatus STRING, prev_cents BIGINT"
)


def _mmlog_land(spark, landing, gen, rows):
    import os

    p = str(landing / f"g{gen:03d}")
    spark.createDataFrame(rows, _MMLOG_SCHEMA).coalesce(1).write.parquet(p)
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            fp = os.path.join(p, f)
            t = os.path.getmtime(fp)
            os.utime(fp, (t + gen, t + gen))


def _mmlog_run(spark, landing, target, ckpt, max_files, n_buckets=8):
    from epe_data_wrangling_spark.streaming.ops import (
        minmax_view_oplog_foreach_batch,
    )

    reader = spark.readStream.schema(_MMLOG_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return minmax_view_oplog_foreach_batch(
        stream,
        target,
        op_col="op",
        seq_col="seq",
        group_cols=["o_orderstatus"],
        value_col="cents",
        n_buckets=n_buckets,
        checkpoint_dir=ckpt,
    )


def test_minmax_oplog_eviction_and_round_trip(spark, tmp_path):
    """The cases only the support multiset can answer: deleting the
    row holding a group's MAX re-derives the next-best survivor;
    deleting a DUPLICATED extremum value moves nothing (multiset
    count, not set membership); a group emptied of rows persists as
    (n=0, NULL, NULL) and resurrects cleanly; NULL values feed n but
    never the extrema."""
    import os  # noqa: F401

    from pyspark.sql import functions as F

    landing = tmp_path / "landing"
    import os

    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _mmlog_land(spark, landing, 1, [
        (1, 101, "I", "A", 10, None, None),
        (2, 102, "I", "A", 50, None, None),   # the max
        (3, 103, "I", "A", 30, None, None),
        (4, 104, "I", "A", 30, None, None),   # duplicated value
        (5, 105, "I", "A", None, None, None),  # NULL value
        (6, 106, "I", "B", 7, None, None),
    ])
    view = _mmlog_run(spark, str(landing), target, ck, None)
    got = {
        r["o_orderstatus"]: (r["n"], r["mn"], r["mx"])
        for r in view.collect()
    }
    assert got == {"A": (5, 10, 50), "B": (1, 7, 7)}
    # evict the max: survivor 30 must take over (not 50, not NULL)
    _mmlog_land(spark, landing, 2, [
        (2, 201, "D", None, None, "A", 50),
    ])
    view = _mmlog_run(spark, str(landing), target, ck, None)
    got = {r["o_orderstatus"]: (r["n"], r["mn"], r["mx"]) for r in view.collect()}
    assert got == {"A": (4, 10, 30), "B": (1, 7, 7)}
    # delete ONE copy of the duplicated 30: extrema unchanged
    _mmlog_land(spark, landing, 3, [
        (3, 301, "D", None, None, "A", 30),
    ])
    view = _mmlog_run(spark, str(landing), target, ck, None)
    got = {r["o_orderstatus"]: (r["n"], r["mn"], r["mx"]) for r in view.collect()}
    assert got == {"A": (3, 10, 30), "B": (1, 7, 7)}
    # empty group B entirely, then resurrect it
    _mmlog_land(spark, landing, 4, [
        (6, 401, "D", None, None, "B", 7),
    ])
    view = _mmlog_run(spark, str(landing), target, ck, None)
    got = {r["o_orderstatus"]: (r["n"], r["mn"], r["mx"]) for r in view.collect()}
    assert got == {"A": (3, 10, 30), "B": (0, None, None)}
    _mmlog_land(spark, landing, 5, [
        (7, 501, "I", "B", 99, None, None),
    ])
    view = _mmlog_run(spark, str(landing), target, ck, None)
    got = {r["o_orderstatus"]: (r["n"], r["mn"], r["mx"]) for r in view.collect()}
    assert got == {"A": (3, 10, 30), "B": (1, 99, 99)}
    # support hygiene: no zero/negative counts stored
    from epe_data_wrangling_spark.streaming.manifest import read_store
    sup = read_store(spark, target, "support")
    assert sup.filter(F.col("cnt") <= 0).count() == 0


def test_minmax_oplog_invariant_to_batch_split(spark, tmp_path):
    """Same view whether the three carving generations arrive in one
    batch or one per batch — both equal to a direct recompute of v3's
    per-status COUNT/MIN/MAX."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.catalog.streaming_q import (
        _oplog_from_versions,
    )
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = _snapshot_version3(v2)
    sel = lambda d: d.select("o_orderkey", "o_orderstatus", "cents")  # noqa: E731
    v1, v2, v3 = sel(v1), sel(v2), sel(v3)
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for i, log in enumerate(
        (
            _oplog_from_versions(None, v1, 10**10),
            _oplog_from_versions(v1, v2, 2 * 10**10),
            _oplog_from_versions(v2, v3, 3 * 10**10),
        ),
        start=1,
    ):
        p = str(landing / f"g{i:03d}")
        log.coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _mmlog_run(
            spark, str(landing), str(tmp_path / f"state{i}"),
            str(tmp_path / f"ck{i}"), max_files,
        )
        results.append(
            {
                r["o_orderstatus"]: (r["n"], r["mn"], r["mx"])
                for r in view.filter(F.col("n") > 0).collect()
            }
        )
    expect = {
        r["o_orderstatus"]: (r["n"], r["mn"], r["mx"])
        for r in v3.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )
        .collect()
    }
    assert results[0] == results[1] == expect


def test_minmax_oplog_negative_support_raises(spark, tmp_path):
    """Retracting a value the support never held must RAISE."""
    import os

    import pytest

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    _mmlog_land(spark, landing, 1, [(1, 101, "I", "A", 10, None, None)])
    _mmlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    _mmlog_land(spark, landing, 2, [
        (9, 201, "D", None, None, "A", 11),   # 11 never inserted
    ])
    with pytest.raises(Exception, match="NEGATIVE"):
        _mmlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)


def test_minmax_oplog_support_partial_rewrite(spark, tmp_path):
    """Support buckets of untouched GROUPS carry their manifest entry
    (same immutable pool files) through a commit that only touches
    another group's bucket — at production sizing (every group-hash
    bucket above the packing target; below it, file-level CoW applies,
    pinned in tests/test_manifest.py)."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.manifest import (
        TARGET_MIN_FILE_ROWS,
        read_manifest,
    )

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    # 16 groups spread over the 8 group-hash buckets; every group gets
    # TARGET_MIN_FILE_ROWS distinct values, so even a bucket holding a
    # single group sits at the packing target and nothing packs
    n_rows = 16 * TARGET_MIN_FILE_ROWS
    _mmlog_land(spark, landing, 1, [
        (k, 100 + k, "I", f"G{k % 16}", 10 * k, None, None)
        for k in range(n_rows)
    ])
    _mmlog_run(spark, str(landing), target, ck, None)
    m_before = read_manifest(target, "support")
    all_names = [n for ns in m_before["buckets"].values() for n in ns]
    assert len(set(all_names)) == len(all_names)  # nothing packed
    _mmlog_land(spark, landing, 2, [
        (999, 10_000_000, "I", "G3", 5, None, None),
    ])
    _mmlog_run(spark, str(landing), target, ck, None)
    [tb] = spark.range(1).select(
        F.pmod(F.hash(F.lit("G3")), F.lit(8)).alias("b")
    ).collect()
    m_after = read_manifest(target, "support")
    untouched_checked = 0
    for b, names in m_before["buckets"].items():
        if int(b) != tb["b"]:
            assert m_after["buckets"][b] == names, b
            untouched_checked += 1
    assert untouched_checked > 0


def test_join_view_oplog_keyidx_backfills_after_unverified_batches(spark, tmp_path):
    """Flipping verify_before_images on mid-lifetime must work: the
    atomic swap drops the key index while verification is off, so the
    first verified batch BACKFILLS it from the committed image — and
    the backfilled index immediately catches a cross-bucket
    insert-over-present."""
    import os

    import pytest
    from pyspark.sql import functions as F

    def bucket_of(v):
        return spark.range(1).select(
            F.pmod(F.hash(F.lit(v).cast("bigint")), F.lit(8)).alias("b")
        ).collect()[0]["b"]

    j1 = 1
    j2 = next(v for v in range(2, 64) if bucket_of(v) != bucket_of(j1))
    landing = tmp_path / "landing"
    os.makedirs(landing)
    _land_jvlog(spark, landing, 1, [
        _s_op(1, "I", j1, "SEG_A"),
        _r_op(2, "I", 101, j1, 10, "O"),
    ])
    target = str(tmp_path / "state")
    # unverified bootstrap: no key index is written
    _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None,
               verify=False)
    from epe_data_wrangling_spark.streaming.manifest import read_manifest
    assert read_manifest(target, "keyidx_r") is None
    # verified batch with a legit op: backfill happens, index appears
    _land_jvlog(spark, landing, 2, [
        _r_op(10, "U", 101, j1, 11, "O", j1, 10, "O"),
    ])
    _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    from epe_data_wrangling_spark.streaming.manifest import read_manifest
    assert read_manifest(target, "keyidx_r") is not None
    # and the (re)backfilled index catches the cross-bucket insert
    _land_jvlog(spark, landing, 3, [
        _r_op(20, "I", 101, j2, 12, "O"),
    ])
    with pytest.raises(Exception, match="key index"):
        _jvlog_run(spark, str(landing), target, str(tmp_path / "ck"), None)


_TKLOG_SCHEMA = (
    "o_orderkey BIGINT, seq BIGINT, op STRING, o_custkey BIGINT, "
    "cents BIGINT, prev_o_custkey BIGINT, prev_cents BIGINT"
)


def _tklog_land(spark, landing, gen, rows):
    import os

    p = str(landing / f"g{gen:03d}")
    spark.createDataFrame(rows, _TKLOG_SCHEMA).coalesce(1).write.parquet(p)
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            fp = os.path.join(p, f)
            t = os.path.getmtime(fp)
            os.utime(fp, (t + gen, t + gen))


def _tklog_run(spark, landing, target, ckpt, max_files, k=2, n_buckets=8,
               verify=True):
    from epe_data_wrangling_spark.streaming.ops import (
        topk_view_oplog_foreach_batch,
    )

    reader = spark.readStream.schema(_TKLOG_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return topk_view_oplog_foreach_batch(
        stream,
        target,
        key_cols=["o_orderkey"],
        op_col="op",
        seq_col="seq",
        group_cols=["o_custkey"],
        value_col="cents",
        k=k,
        n_buckets=n_buckets,
        verify_before_images=verify,
        checkpoint_dir=ckpt,
    )


def _tk_view(view):
    return {
        (r["o_custkey"], r["rnk"]): (r["o_orderkey"], r["cents"])
        for r in view.collect()
    }


def test_topk_oplog_eviction_promotion_and_migration(spark, tmp_path):
    """The cases only the standing base rows can answer: deleting the
    current #1 promotes the #3 the VIEW no longer held; a value bump
    promotes a row INTO the top-k; an update that moves a row between
    GROUPS re-ranks both the old and the new group; an emptied group
    leaves the view."""
    import os

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    # group 1: cents 50 > 40 > 30 > 20; group 2: one row
    _tklog_land(spark, landing, 1, [
        (101, 1, "I", 1, 50, None, None),
        (102, 2, "I", 1, 40, None, None),
        (103, 3, "I", 1, 30, None, None),
        (104, 4, "I", 1, 20, None, None),
        (201, 5, "I", 2, 9, None, None),
    ])
    view = _tklog_run(spark, str(landing), target, ck, None)
    assert _tk_view(view) == {
        (1, 1): (101, 50), (1, 2): (102, 40),
        (2, 1): (201, 9),
    }
    # delete the #1: 30 (key 103) must be promoted from the base
    _tklog_land(spark, landing, 2, [
        (101, 10, "D", None, None, 1, 50),
    ])
    view = _tklog_run(spark, str(landing), target, ck, None)
    assert _tk_view(view) == {
        (1, 1): (102, 40), (1, 2): (103, 30),
        (2, 1): (201, 9),
    }
    # bump key 104 to 45: promotes INTO the top-2
    _tklog_land(spark, landing, 3, [
        (104, 20, "U", 1, 45, 1, 20),
    ])
    view = _tklog_run(spark, str(landing), target, ck, None)
    assert _tk_view(view) == {
        (1, 1): (104, 45), (1, 2): (102, 40),
        (2, 1): (201, 9),
    }
    # migrate key 102 to group 2: both groups re-rank
    _tklog_land(spark, landing, 4, [
        (102, 30, "U", 2, 40, 1, 40),
    ])
    view = _tklog_run(spark, str(landing), target, ck, None)
    assert _tk_view(view) == {
        (1, 1): (104, 45), (1, 2): (103, 30),
        (2, 1): (102, 40), (2, 2): (201, 9),
    }
    # empty group 2 entirely: it leaves the view
    _tklog_land(spark, landing, 5, [
        (102, 40, "D", None, None, 2, 40),
        (201, 41, "D", None, None, 2, 9),
    ])
    view = _tklog_run(spark, str(landing), target, ck, None)
    assert _tk_view(view) == {(1, 1): (104, 45), (1, 2): (103, 30)}


def test_topk_oplog_invariant_to_batch_split(spark, tmp_path):
    """Same ranked view whether the three carving generations arrive
    in one batch or one per batch — both equal to a direct rank-window
    recompute of v3 (deterministic cents DESC, key tie-break)."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from epe_data_wrangling_spark.catalog.evolve_q import (
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.catalog.streaming_q import _rel_oplog
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = _snapshot_version3(v2)
    sel = lambda d: d.select("o_orderkey", "o_custkey", "cents")  # noqa: E731
    v1, v2, v3 = sel(v1), sel(v2), sel(v3)
    cols = ["o_custkey", "cents"]
    G = 10**10
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for i, log in enumerate(
        (
            _rel_oplog(None, v1, "o_orderkey", cols, G),
            _rel_oplog(v1, v2, "o_orderkey", cols, 2 * G),
            _rel_oplog(v2, v3, "o_orderkey", cols, 3 * G),
        ),
        start=1,
    ):
        p = str(landing / f"g{i:03d}")
        log.coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _tklog_run(
            spark, str(landing), str(tmp_path / f"state{i}"),
            str(tmp_path / f"ck{i}"), max_files, k=3,
        )
        results.append(_tk_view(view))
    w = W.partitionBy("o_custkey").orderBy(
        F.desc_nulls_last("cents"), "o_orderkey"
    )
    expect = _tk_view(
        v3.select(
            "o_custkey",
            F.row_number().over(w).cast("bigint").alias("rnk"),
            "o_orderkey",
            "cents",
        ).filter(F.col("rnk") <= 3)
    )
    assert results[0] == results[1] == expect


def test_topk_oplog_divergence_guard(spark, tmp_path):
    """A log disagreeing with the standing image must RAISE: wrong
    before-image digest, update of an absent key, and (via the key
    index) an insert over a present key whose claimed group hashes to
    a different bucket."""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    def bucket_of(v):
        return spark.range(1).select(
            F.pmod(F.hash(F.lit(v).cast("bigint")), F.lit(8)).alias("b")
        ).collect()[0]["b"]

    g1 = 1
    g2 = next(v for v in range(2, 64) if bucket_of(v) != bucket_of(g1))
    landing = tmp_path / "landing"
    os.makedirs(landing)
    _tklog_land(spark, landing, 1, [
        (101, 1, "I", g1, 10, None, None),
    ])
    target = str(tmp_path / "state")
    _tklog_run(spark, str(landing), target, str(tmp_path / "ck"), None)
    cases = [
        ((101, 10, "U", g1, 11, g1, 999), "DIVERGES from the standing"),
        ((555, 10, "U", g1, 11, g1, 10), "DIVERGES from the standing"),
        ((101, 10, "I", g2, 11, None, None), "key index"),
    ]
    for i, (bad, match) in enumerate(cases):
        bad_landing = tmp_path / f"bad{i}"
        os.makedirs(bad_landing)
        shutil.copytree(str(landing / "g001"), str(bad_landing / "g001"))
        _tklog_land(spark, bad_landing, 2, [bad])
        with pytest.raises(Exception, match=match):
            _tklog_run(
                spark, str(bad_landing), str(tmp_path / f"state{i}"),
                str(tmp_path / f"ckb{i}"), 1,
            )


def test_incremental_dedup_index_file_count_bounded(spark, tmp_path):
    """The fingerprint index appends one L0 file per nightly
    increment; past COMPACT_FILE_THRESHOLD a level's files merge into
    ONE next-level file (size-tiered, crash-safe dir swap) so file
    counts stay bounded at ~threshold x levels across many runs —
    with dedup semantics unchanged and WITHOUT rewriting the whole
    index per compaction."""
    import glob
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.ops import (
        COMPACT_FILE_THRESHOLD,
        incremental_dedup_runs,
    )

    def docs(lo, hi, source):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.lit(source).alias("source"),
            F.concat(F.lit("text-"), F.col("id").cast("string")).alias("text"),
        )

    # 12 increments: unique docs + one increment repeating older text
    increments = [(f"inc{i}", docs(i * 10, i * 10 + 10, f"s{i}")) for i in range(11)]
    increments.append(("replay", docs(0, 10, "s_replay")))
    audit = incremental_dedup_runs(
        spark, increments, work_dir=str(tmp_path / "work")
    )
    got = {
        r["source"]: (r["n_incoming"], r["n_dup_vs_existing"], r["n_accepted"])
        for r in audit.collect()
    }
    assert got["s_replay"] == (10, 10, 0)   # all dups vs the standing index
    assert got["s5"] == (10, 0, 10)
    n_files = len(
        glob.glob(os.path.join(str(tmp_path / "work" / "index"), "*.parquet"))
    )
    assert n_files <= COMPACT_FILE_THRESHOLD + 2, n_files
    # tiering left a merged L1 behind rather than rewriting everything
    names = {
        os.path.basename(p)
        for p in glob.glob(
            os.path.join(str(tmp_path / "work" / "index"), "*.parquet")
        )
    }
    assert any(n.startswith("L1-") for n in names), names
    # index holds exactly the 110 distinct fingerprints
    assert (
        spark.read.parquet(str(tmp_path / "work" / "index")).distinct().count()
        == 110
    )


_DTLOG_SCHEMA = (
    "o_orderkey BIGINT, seq BIGINT, op STRING, o_custkey BIGINT, "
    "o_orderstatus STRING"
)


def _dtlog_land(spark, landing, gen, rows):
    import os

    p = str(landing / f"g{gen:03d}")
    spark.createDataFrame(rows, _DTLOG_SCHEMA).coalesce(1).write.parquet(p)
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            fp = os.path.join(p, f)
            t = os.path.getmtime(fp)
            os.utime(fp, (t + gen, t + gen))


def _dtlog_run(spark, landing, target, ckpt, max_files, n_buckets=8):
    from epe_data_wrangling_spark.streaming.ops import (
        distinct_count_tombstone_foreach_batch,
    )

    reader = spark.readStream.schema(_DTLOG_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return distinct_count_tombstone_foreach_batch(
        stream,
        target,
        key_cols=["o_orderkey"],
        op_col="op",
        seq_col="seq",
        group_col="o_orderstatus",
        value_col="o_custkey",
        n_buckets=n_buckets,
        checkpoint_dir=ckpt,
    )


def test_distinct_tombstone_semantics_and_round_trip(spark, tmp_path):
    """The manufactured-retraction cases: an upsert that REPLACES a
    row must retract the stored value (group AND value may change); a
    tombstone for the last support of a value drops d; a tombstone for
    an ABSENT key is a no-op; re-upserting after a delete raises d
    back (1→0→1 via the image, not before-images)."""
    import os  # noqa: F401

    from pyspark.sql import functions as F  # noqa: F401

    landing = tmp_path / "landing"
    import os

    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _dtlog_land(spark, landing, 1, [
        (1, 101, "U", 7, "A"),
        (2, 102, "U", 7, "A"),     # second support of (A, 7)
        (3, 103, "U", 9, "B"),
    ])
    view = _dtlog_run(spark, str(landing), target, ck, None)
    got = {r["o_orderstatus"]: (r["n"], r["d"]) for r in view.collect()}
    assert got == {"A": (2, 1), "B": (1, 1)}
    # upsert key 1 to a new group+value: retract (A,7), insert (B,9);
    # (A,7) still supported by key 2, (B,9) now doubly supported
    _dtlog_land(spark, landing, 2, [
        (1, 201, "U", 9, "B"),
        (999, 202, "D", None, None),   # absent key: no-op
    ])
    view = _dtlog_run(spark, str(landing), target, ck, None)
    got = {r["o_orderstatus"]: (r["n"], r["d"]) for r in view.collect()}
    assert got == {"A": (1, 1), "B": (2, 1)}
    # tombstone key 2: (A,7) loses its LAST support -> A leaves
    _dtlog_land(spark, landing, 3, [
        (2, 301, "D", None, None),
    ])
    view = _dtlog_run(spark, str(landing), target, ck, None)
    got = {
        r["o_orderstatus"]: (r["n"], r["d"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {"B": (2, 1)}
    # re-upsert: A returns with a fresh support
    _dtlog_land(spark, landing, 4, [
        (2, 401, "U", 7, "A"),
    ])
    view = _dtlog_run(spark, str(landing), target, ck, None)
    got = {
        r["o_orderstatus"]: (r["n"], r["d"])
        for r in view.filter(F.col("n") > 0).collect()
    }
    assert got == {"A": (1, 1), "B": (2, 1)}


def test_distinct_tombstone_invariant_to_batch_split(spark, tmp_path):
    """Same view whether the three tombstone-changelog generations
    arrive in one batch or one per batch — both equal to a direct
    recompute of the final state."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.evolve_q import _snapshot_versions
    from epe_data_wrangling_spark.catalog.streaming_q import _tombstone_rel_log
    from epe_data_wrangling_spark.sources.tables import load_table

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = v2.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 19 == 0, "Y").otherwise(
            F.col("o_orderstatus")
        ),
    ).filter(F.col("o_orderkey") % 17 != 1)
    sel = lambda d: d.select("o_orderkey", "o_custkey", "o_orderstatus")  # noqa: E731
    v1, v2, v3 = sel(v1), sel(v2), sel(v3)
    cols = ["o_custkey", "o_orderstatus"]
    G = 10**10
    landing = tmp_path / "landing"
    os.makedirs(landing)
    for i, log in enumerate(
        (
            _tombstone_rel_log(None, v1, "o_orderkey", cols, G),
            _tombstone_rel_log(v1, v2, "o_orderkey", cols, 2 * G),
            _tombstone_rel_log(v2, v3, "o_orderkey", cols, 3 * G),
        ),
        start=1,
    ):
        p = str(landing / f"g{i:03d}")
        log.coalesce(1).write.parquet(p)
        for f in os.listdir(p):
            if f.endswith(".parquet"):
                fp = os.path.join(p, f)
                t = os.path.getmtime(fp)
                os.utime(fp, (t + i, t + i))
    results = []
    for i, max_files in enumerate((None, 1)):
        view = _dtlog_run(
            spark, str(landing), str(tmp_path / f"state{i}"),
            str(tmp_path / f"ck{i}"), max_files,
        )
        results.append(
            {
                r["o_orderstatus"]: (r["n"], r["d"])
                for r in view.filter(F.col("n") > 0).collect()
            }
        )
    expect = {
        r["o_orderstatus"]: (r["n"], r["d"])
        for r in v3.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("o_custkey").alias("d"),
        )
        .collect()
    }
    assert results[0] == results[1] == expect


def test_bucketed_sinks_reject_n_buckets_drift(spark, tmp_path):
    """Resuming a bucketed-state target with a DIFFERENT n_buckets
    would silently misread the committed _kb layout (wrong
    touched-bucket filters, spurious 0→1 transitions — nothing the
    value-level guards can see), so the committed layout is recorded
    in the meta and a mismatch must RAISE at batch start."""
    import os

    import pytest

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    _dlog_land(spark, landing, 1, [(1, 101, "I", 7, "A", None, None)])
    _dlog_run(spark, str(landing), target, str(tmp_path / "ck"), None,
              n_buckets=8)
    _dlog_land(spark, landing, 2, [(2, 201, "I", 8, "A", None, None)])
    with pytest.raises(Exception, match="n_buckets"):
        _dlog_run(spark, str(landing), target, str(tmp_path / "ck"), None,
                  n_buckets=4)
    # the matching value still applies cleanly
    view = _dlog_run(spark, str(landing), target, str(tmp_path / "ck"), None,
                     n_buckets=8)
    [row] = view.collect()
    assert (row["n"], row["d"]) == (2, 2)


_MMTLOG_SCHEMA = (
    "o_orderkey BIGINT, seq BIGINT, op STRING, g BIGINT, cents BIGINT"
)


def _mmtlog_land(spark, landing, gen, rows):
    import os

    p = str(landing / f"g{gen:03d}")
    spark.createDataFrame(rows, _MMTLOG_SCHEMA).coalesce(1).write.parquet(p)
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            fp = os.path.join(p, f)
            t = os.path.getmtime(fp)
            os.utime(fp, (t + gen, t + gen))


def _mmtlog_run(spark, landing, target, ckpt, max_files, n_buckets=8):
    from epe_data_wrangling_spark.streaming.ops import (
        minmax_view_tombstone_foreach_batch,
    )

    reader = spark.readStream.schema(_MMTLOG_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return minmax_view_tombstone_foreach_batch(
        stream,
        target,
        key_cols=["o_orderkey"],
        op_col="op",
        seq_col="seq",
        group_cols=["g"],
        value_col="cents",
        n_buckets=n_buckets,
        checkpoint_dir=ckpt,
    )


def test_minmax_tombstone_eviction_and_round_trip(spark, tmp_path):
    """Tombstone-fed MIN/MAX: a tombstone that evicts a group's
    extremum carries NO replacement — the sink must reconstruct the
    retraction from its keyed image and re-derive the new extremum
    from the support multiset. Also: upsert-moves between groups,
    absent-key tombstones, and the emptied-group round trip."""
    import os

    from pyspark.sql import functions as F

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _mmtlog_land(spark, landing, 1, [
        (1, 101, "U", 7, 10),
        (2, 102, "U", 7, 50),   # group 7's max
        (3, 103, "U", 9, 30),
    ])
    view = _mmtlog_run(spark, str(landing), target, ck, None)
    got = {r["g"]: (r["n"], r["mn"], r["mx"]) for r in view.collect()}
    assert got == {7: (2, 10, 50), 9: (1, 30, 30)}
    # tombstone the max holder: replacement must come from support
    _mmtlog_land(spark, landing, 2, [
        (2, 201, "D", None, None),
        (999, 202, "D", None, None),   # absent key: no-op
    ])
    view = _mmtlog_run(spark, str(landing), target, ck, None)
    got = {r["g"]: (r["n"], r["mn"], r["mx"])
           for r in view.filter(F.col("n") > 0).collect()}
    assert got == {7: (1, 10, 10), 9: (1, 30, 30)}
    # upsert key 3 into group 7 with a new min; group 9 empties
    _mmtlog_land(spark, landing, 3, [
        (3, 301, "U", 7, 5),
    ])
    view = _mmtlog_run(spark, str(landing), target, ck, None)
    got = {r["g"]: (r["n"], r["mn"], r["mx"])
           for r in view.filter(F.col("n") > 0).collect()}
    assert got == {7: (2, 5, 10)}
    # re-populate the emptied group
    _mmtlog_land(spark, landing, 4, [
        (4, 401, "U", 9, 77),
    ])
    view = _mmtlog_run(spark, str(landing), target, ck, None)
    got = {r["g"]: (r["n"], r["mn"], r["mx"])
           for r in view.filter(F.col("n") > 0).collect()}
    assert got == {7: (2, 5, 10), 9: (1, 77, 77)}


def test_minmax_tombstone_invariant_to_batch_split(spark, tmp_path):
    """Same view whether the generations arrive in one batch or one
    per batch — dialect-level batch-split invariance over the image
    lookup + shared minmax refresh."""
    import os

    from pyspark.sql import functions as F

    gens = [
        [(k, 100 + k, "U", k % 3, 10 * k) for k in range(24)],
        [(3, 201, "D", None, None), (5, 202, "U", 1, 999),
         (23, 203, "D", None, None)],
        [(5, 301, "U", 2, 1), (0, 302, "D", None, None)],
    ]
    results = []
    for mode, max_files in (("split", 1), ("one", None)):
        landing = tmp_path / f"landing_{mode}"
        os.makedirs(landing)
        target = str(tmp_path / f"state_{mode}")
        ck = str(tmp_path / f"ck_{mode}")
        for i, rows in enumerate(gens, start=1):
            _mmtlog_land(spark, landing, i, rows)
        view = _mmtlog_run(spark, str(landing), target, ck, max_files)
        results.append({
            r["g"]: (r["n"], r["mn"], r["mx"])
            for r in view.filter(F.col("n") > 0).collect()
        })
    # direct recompute of the final state
    final = {}
    for rows in gens:
        for k, _seq, op, g, c in rows:
            if op == "D":
                final.pop(k, None)
            else:
                final[k] = (g, c)
    expect = {}
    for g, c in final.values():
        n, mn, mx = expect.get(g, (0, None, None))
        expect[g] = (n + 1, c if mn is None else min(mn, c),
                     c if mx is None else max(mx, c))
    assert results[0] == results[1] == expect


_TKTLOG_SCHEMA = (
    "o_orderkey BIGINT, seq BIGINT, op STRING, g BIGINT, cents BIGINT"
)


def _tktlog_land(spark, landing, gen, rows):
    import os

    p = str(landing / f"g{gen:03d}")
    spark.createDataFrame(rows, _TKTLOG_SCHEMA).coalesce(1).write.parquet(p)
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            fp = os.path.join(p, f)
            t = os.path.getmtime(fp)
            os.utime(fp, (t + gen, t + gen))


def _tktlog_run(spark, landing, target, ckpt, max_files, k=2, n_buckets=8):
    from epe_data_wrangling_spark.streaming.ops import (
        topk_view_tombstone_foreach_batch,
    )

    reader = spark.readStream.schema(_TKTLOG_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    stream = reader.option("pathGlobFilter", "*.parquet").parquet(landing + "/*")
    return topk_view_tombstone_foreach_batch(
        stream,
        target,
        key_cols=["o_orderkey"],
        op_col="op",
        seq_col="seq",
        group_cols=["g"],
        value_col="cents",
        k=k,
        n_buckets=n_buckets,
        checkpoint_dir=ckpt,
    )


def _tkt_view(view):
    return {
        (r["g"], r["rnk"]): (r["o_orderkey"], r["cents"])
        for r in view.collect()
    }


def test_topk_tombstone_eviction_promotion_and_locator(spark, tmp_path):
    """Tombstone-fed top-k: a tombstone evicting a ranked row carries
    no replacement — the LOCATOR must find the stored row's group
    bucket, and the re-rank must promote the former #k+1 from the
    located image. Also: upsert-moves between groups (the locator
    re-points), absent-key tombstones, emptied groups leaving the
    view."""
    import os

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _tktlog_land(spark, landing, 1, [
        (1, 101, "U", 7, 30),
        (2, 102, "U", 7, 20),
        (3, 103, "U", 7, 10),   # the #3 that promotion must recover
        (4, 104, "U", 9, 50),
    ])
    view = _tktlog_run(spark, str(landing), target, ck, None)
    assert _tkt_view(view) == {
        (7, 1): (1, 30), (7, 2): (2, 20), (9, 1): (4, 50),
    }
    # evict group 7's #1 with a bare tombstone: #3 must be promoted
    # from the image the locator resolves
    _tktlog_land(spark, landing, 2, [
        (1, 201, "D", None, None),
        (999, 202, "D", None, None),   # absent key: no-op
    ])
    view = _tktlog_run(spark, str(landing), target, ck, None)
    assert _tkt_view(view) == {
        (7, 1): (2, 20), (7, 2): (3, 10), (9, 1): (4, 50),
    }
    # upsert key 4 into group 7 (locator re-points across buckets);
    # group 9 empties and must leave the view
    _tktlog_land(spark, landing, 3, [
        (4, 301, "U", 7, 25),
    ])
    view = _tktlog_run(spark, str(landing), target, ck, None)
    assert _tkt_view(view) == {
        (7, 1): (4, 25), (7, 2): (2, 20),
    }


def test_topk_tombstone_invariant_to_batch_split(spark, tmp_path):
    """Same view whether the generations arrive in one batch or one
    per batch — both equal a direct recompute of the final state."""
    import os

    gens = [
        [(kk, 100 + kk, "U", kk % 3, (kk * 37) % 100) for kk in range(24)],
        [(3, 201, "D", None, None), (5, 202, "U", 1, 999),
         (23, 203, "D", None, None)],
        [(5, 301, "U", 2, 1), (0, 302, "D", None, None)],
    ]
    results = []
    for mode, max_files in (("split", 1), ("one", None)):
        landing = tmp_path / f"landing_{mode}"
        os.makedirs(landing)
        target = str(tmp_path / f"state_{mode}")
        ck = str(tmp_path / f"ck_{mode}")
        for i, rows in enumerate(gens, start=1):
            _tktlog_land(spark, landing, i, rows)
        view = _tktlog_run(spark, str(landing), target, ck, max_files)
        results.append(_tkt_view(view))
    final = {}
    for rows in gens:
        for kk, _seq, op, g, c in rows:
            if op == "D":
                final.pop(kk, None)
            else:
                final[kk] = (g, c)
    expect = {}
    by_g = {}
    for kk, (g, c) in final.items():
        by_g.setdefault(g, []).append((-c, kk))
    for g, rows_g in by_g.items():
        for rnk, (negc, kk) in enumerate(sorted(rows_g)[:2], start=1):
            expect[(g, rnk)] = (kk, -negc)
    assert results[0] == results[1] == expect


def test_topk_tombstone_locator_divergence_raises(spark, tmp_path):
    """A STALE locator (a key's row re-pointed at an image bucket that
    does not hold it) must RAISE on the next batch touching that key —
    the located keys and the pruned image's stored rows are counted
    against each other. (The symmetric corruption — a locator row
    silently MISSING — is invisible at touched-bucket cost by design;
    that is exactly why the locator commits in the same atomic swap
    as the image.)"""
    import os
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.manifest import (
        read_manifest,
        read_store,
        write_store_delta,
    )

    landing = tmp_path / "landing"
    os.makedirs(landing)
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _tktlog_land(spark, landing, 1, [
        (1, 101, "U", 7, 30),
        (2, 102, "U", 9, 20),
    ])
    _tktlog_run(spark, str(landing), target, ck, None)
    # corrupt: re-point every locator row one bucket over (the image
    # itself is untouched)
    m = read_manifest(target, "keyloc")
    loc = read_store(spark, target, "keyloc", manifest=m)
    bad = loc.withColumn(
        "img_kb", ((F.col("img_kb") + 1) % 8).cast("int")
    )
    touched = [int(r["b"]) for r in loc.select(F.col("_kb").alias("b")).distinct().collect()]
    stage = f"{target}.stage-corrupt"
    write_store_delta(
        spark, bad, target, "keyloc", stage,
        batch_id=99, touched=touched, manifest=m,
    )
    os.replace(
        os.path.join(stage, "_manifest_keyloc.json"),
        os.path.join(target, "_manifest_keyloc.json"),
    )
    shutil.rmtree(stage, ignore_errors=True)
    _tktlog_land(spark, landing, 2, [
        (1, 201, "D", None, None),
    ])
    with pytest.raises(Exception, match="DIVERGE"):
        _tktlog_run(spark, str(landing), target, ck, None)


def test_digest_pruned_image_diffs_digestless_bucket_disappearance(
    spark, tmp_path
):
    """A committed bucket WITHOUT a digest (a past commit did not
    re-supply one) whose rows all vanish from the incoming snapshot
    must still be diffed — the sentinel seeding makes 'no digest'
    compare as changed in BOTH directions, including total
    disappearance (previously that direction emitted no retraction)."""
    import os

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.streaming.manifest import write_store_delta
    from epe_data_wrangling_spark.streaming.ops import (
        _DigestPrunedImage,
        _atomic_swap,
        _row_digest,
    )

    target = str(tmp_path / "t")
    kb = F.pmod(F.hash("k"), F.lit(8))

    def _img(rows):
        return spark.createDataFrame(rows, "k BIGINT, v BIGINT").select(
            "k", "v", _row_digest(["v"]).alias("rh")
        )

    # commit an image WITHOUT digests (the supported lose-your-digest path)
    stage = f"{target}.stage-0"
    write_store_delta(
        spark, _img([(1, 10), (2, 20)]).withColumn("_kb", kb), target,
        "snapimg", stage, batch_id=0, touched=list(range(8)), manifest=None,
    )
    _atomic_swap(stage, target, 0)
    # next snapshot: EVERYTHING gone — the diff must retract both rows
    dpi = _DigestPrunedImage(
        spark, target, "snapimg", ["k"], ["k", "v"], kb,
        legacy_subdir="snapshot",
    )
    signed = dpi.diff(_img([]))
    got = {(r["k"], r["v"], r["_sign"]) for r in signed.collect()}
    assert got == {(1, 10, -1), (2, 20, -1)}
    # and a one-row survivor version retracts only the other row
    dpi2 = _DigestPrunedImage(
        spark, target, "snapimg", ["k"], ["k", "v"], kb,
        legacy_subdir="snapshot",
    )
    signed2 = dpi2.diff(_img([(1, 10)]))
    got2 = {(r["k"], r["v"], r["_sign"]) for r in signed2.collect()}
    assert got2 == {(2, 20, -1)}


def test_carved_oplog_matches_rel_oplog(spark):
    """The row-wise changelog emitters (`_carved_oplog` r16,
    `_carved_tombstone_log` r17 — one base scan, no keyed full-outer
    self-join) must emit the SAME ROW SET as the join-based
    `_rel_oplog` / `_tombstone_rel_log` over the evolve_q version
    carvings, for EVERY (emitter, column set) the pipelines land
    (r17: all eight non-headline oplog/tombstone landings moved to
    the carved form; the specs come from the SHARED `_orders_specs` /
    `_customer_carved_base` the pipelines themselves import, so query
    and differential cannot drift apart — the reference side derives
    independently from evolve_q's versions). Includes the D rows'
    NULL after-images, the I rows' NULL before-images, and the
    tombstone dialect's key-only deletes. Order is not compared: the
    sinks' signed application and the validation agg are order-free.
    """
    from epe_data_wrangling_spark.catalog.evolve_q import (
        _dim_versions,
        _snapshot_version3,
        _snapshot_versions,
    )
    from epe_data_wrangling_spark.catalog.streaming_q import (
        _carved_oplog,
        _carved_tombstone_log,
        _customer_carved_base,
        _orders_carved_base,
        _rel_oplog,
        _tombstone_rel_log,
    )

    v1, v2 = _snapshot_versions(load_table(spark, SF_DIR, "orders"))
    v3 = _snapshot_version3(v2)

    def differential(cases):
        for name, joined, carved in cases:
            assert joined.columns == carved.columns, name
            assert [f.dataType for f in joined.schema.fields] == [
                f.dataType for f in carved.schema.fields
            ], name
            a = {tuple(r) for r in joined.collect()}
            b = {tuple(r) for r in carved.collect()}
            assert a == b, f"{name}: {len(a)} join rows vs {len(b)} carved"
            assert a, f"{name} emitted nothing — vacuous differential"

    G = 10**10
    col_sets = [
        ["o_custkey", "o_orderstatus"],   # distinct dialects
        ["o_orderstatus", "cents"],       # cdc + minmax dialects
        ["o_custkey", "cents"],           # topk dialects
        ["o_custkey", "cents", "o_orderstatus"],  # join-view R side
    ]
    for cols in col_sets:
        sel = lambda d: d.select("o_orderkey", *cols)  # noqa: E731
        w1, w2, w3 = sel(v1), sel(v2), sel(v3)
        base, (sp1, sp2, sp3) = _orders_carved_base(spark, SF_DIR, cols)
        tag = "+".join(cols)
        differential([
            (f"oplog[{tag}] g1",
             _rel_oplog(None, w1, "o_orderkey", cols, 1 * G),
             _carved_oplog(base, "o_orderkey", cols, None, sp1, 1 * G)),
            (f"oplog[{tag}] g2",
             _rel_oplog(w1, w2, "o_orderkey", cols, 2 * G),
             _carved_oplog(base, "o_orderkey", cols, sp1, sp2, 2 * G)),
            (f"oplog[{tag}] g3",
             _rel_oplog(w2, w3, "o_orderkey", cols, 3 * G),
             _carved_oplog(base, "o_orderkey", cols, sp2, sp3, 3 * G)),
            (f"tomb[{tag}] g1",
             _tombstone_rel_log(None, w1, "o_orderkey", cols, 1 * G),
             _carved_tombstone_log(base, "o_orderkey", cols, None, sp1, 1 * G)),
            (f"tomb[{tag}] g2",
             _tombstone_rel_log(w1, w2, "o_orderkey", cols, 2 * G),
             _carved_tombstone_log(base, "o_orderkey", cols, sp1, sp2, 2 * G)),
            (f"tomb[{tag}] g3",
             _tombstone_rel_log(w2, w3, "o_orderkey", cols, 3 * G),
             _carved_tombstone_log(base, "o_orderkey", cols, sp2, sp3, 3 * G)),
        ])

    # customer dim side of the join-view pipelines
    s1, s2 = _dim_versions(load_table(spark, SF_DIR, "customer"))
    sbase, (ssp1, ssp2) = _customer_carved_base(spark, SF_DIR)
    S_COLS = ["c_mktsegment"]
    differential([
        ("dim g1",
         _rel_oplog(None, s1, "c_custkey", S_COLS, 1 * G),
         _carved_oplog(sbase, "c_custkey", S_COLS, None, ssp1, 1 * G)),
        ("dim g3",
         _rel_oplog(s1, s2, "c_custkey", S_COLS, 3 * G),
         _carved_oplog(sbase, "c_custkey", S_COLS, ssp1, ssp2, 3 * G)),
    ])


def test_land_generations_one_file_per_generation(spark, tmp_path):
    """`catalog.streaming_q._land_generations` lands every generation
    from one job: one file per generation (the empty one included, via
    the single-file fallback), the same schema and rows the per-
    generation `land_single_file` produces, and strictly increasing
    mtimes in generation order — the discovery-order contract the
    snapshot sinks depend on. The second case sets the session's
    ``maxRecordsPerFile`` to 1, which must not split a generation,
    and no ``_land-*`` tmp dir may be left beside the landing."""
    import os

    from epe_data_wrangling_spark.catalog.streaming_q import _land_generations
    from epe_data_wrangling_spark.streaming.sources import land_single_file

    def gen(rows):
        return spark.createDataFrame(rows, "k BIGINT, v STRING")

    gens = [gen([(1, "a"), (2, "b")]), gen([]), gen([(3, None), (4, "d")])]
    names = [f"g{i}.parquet" for i in range(1, len(gens) + 1)]
    conf = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(conf)
    for case, max_records in (("default", prev), ("capped", "1")):
        root = tmp_path / case
        landing, ref = str(root / "landing"), str(root / "ref")
        spark.conf.set(conf, max_records)
        try:
            schema = _land_generations(landing, gens)
            for i, g in enumerate(gens, start=1):
                land_single_file(g, ref, f"g{i}.parquet", i)
        finally:
            spark.conf.set(conf, prev)
        assert sorted(os.listdir(root)) == ["landing", "ref"], case
        assert sorted(
            f for f in os.listdir(landing) if f.endswith(".parquet")
        ) == names, case
        for n in names:
            got = spark.read.parquet(os.path.join(landing, n))
            want = spark.read.parquet(os.path.join(ref, n))
            assert got.schema == want.schema
            assert _rows(got) == _rows(want)
        assert [f.name for f in schema.fields] == ["k", "v"]
        mtimes = [os.path.getmtime(os.path.join(landing, n)) for n in names]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
