"""Streaming operators (SURVEY §2.11 extension surface).

Each transformation takes an events DataFrame — batch OR streaming —
and returns the same logical plan for both, so the DuckDB oracle that
checks the batch form also pins the streaming semantics. Streaming
execution is exercised through ``run_to_memory`` (availableNow
trigger → memory sink), which is how the catalog's ``streaming_*``
queries return a plain DataFrame to the driver.

Watermarks: ``withWatermark`` is applied on the streaming path to
bound state (late data older than the delay is dropped and its state
evicted — the 100 TB requirement for unbounded streams). The
window aggregations run in *complete* output mode in the test
harness so results are independent of watermark-driven flush timing;
in production append/update mode plus the same watermark is the
latency-oriented choice.

Exactly-once sinks: every stateful ``*_foreach_batch`` sink here, in
``streaming.ann_index`` and in ``streaming.epe_monthly`` commits
through ONE protocol, owned by `_exactly_once_sink` — open the target
(`_open_target`: repair a torn swap, drop stale stages, reclaim
orphaned pool files, read the committed meta), check the bucket
layout, apply the replay/handoff rule (`_is_committed_replay`) to the
batch's source-file provenance, run the sink's step into a staging
dir, and commit (`_commit_target`: ``_ivm_meta.json`` into the stage,
then `_atomic_swap`). A sink is therefore just its step: one
changelog producer (`_snapshot_changes`, `_oplog_changes`,
`_tombstone_changes`) feeding one state refresh (additive
`_sum_view_refresh`, `_distinct_state_refresh`,
`_minmax_state_refresh`, or a sink-specific top-k / join / IVF
refresh). The maintenance entry points (vacuum, retrain, rebuild) use
the open and commit halves directly.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from epe_data_wrangling_spark.catalog.core import stage6, unstage6
from epe_data_wrangling_spark.streaming.manifest import (
    COMPACT_FILE_THRESHOLD,
    carry_store,
    read_manifest,
    read_store,
    store_has_files,
    sweep_orphans,
    write_store_delta,
)

#: Default wall-clock bound for driving a bounded (availableNow)
#: stream to completion. One constant, not per-site 300 s literals:
#: the r15 driver round proved a fixed 300 s is an AMBIENT gate, not
#: a correctness gate — a ~2× noisy-neighbor host timed out a
#: multi-batch CDC landing whose identical twin certified green a
#: round earlier. 900 s keeps genuine hangs detectable (availableNow
#: streams here finish in seconds on a quiet host) while leaving
#: margin for a loud one; override with EPE_STREAM_TIMEOUT_SEC when a
#: harness needs tighter or looser bounds.
STREAM_TIMEOUT_SEC: int = int(os.environ.get("EPE_STREAM_TIMEOUT_SEC", "900"))

#: Column prefix of the before-image on an op-log row (``prev_<c>``).
PREV_PREFIX = "prev_"

#: Group value an outer join view gives the S-sourced group columns of
#: an R row with no S match.
NULL_GROUP = "(none)"

#: Stateful shuffle partitions of a `run_to_memory` query (see there).
STATE_PARTITIONS = 8


def with_watermark(events: DataFrame, delay: str) -> DataFrame:
    """Event-time watermark on the streaming path; no-op for batch
    (mirrors Spark, which ignores watermarks in batch queries)."""
    return events.withWatermark("ts", delay) if events.isStreaming else events


def tumbling_counts(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """1-hour tumbling count/sum per event_type — the streaming twin
    of catalog ``tumbling_window_events`` (same oracle)."""
    return (
        with_watermark(events, watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(stage6("value")).alias("_s"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            unstage6("_s").alias("sum_value"),
        )
    )


def sliding_counts(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """1h/30m sliding count/sum — streaming twin of
    ``sliding_window_events``."""
    return (
        with_watermark(events, watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(stage6("value")).alias("_s"))
        .select(
            F.col("w.start").alias("window_start"),
            "n",
            unstage6("_s").alias("sum_value"),
        )
    )


def session_counts(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session-window aggregation (30-minute inactivity gap) —
    streaming twin of ``sessionize_events``. session_window is the
    native stateful merge-on-overlap operator; state per open session,
    evicted once the watermark passes session_end + gap."""
    return (
        with_watermark(events, watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def dedup_keys_within_watermark(
    events: DataFrame, keys: list[str], *, watermark: str = "2 hours"
) -> DataFrame:
    """First-seen key dedup. Streaming: dropDuplicatesWithinWatermark
    (state bounded by the watermark — the streaming analogue of the
    batch exact-dedup operator). Batch: plain dropDuplicates.
    Projects to the key columns so the result is a deterministic set
    (which *row* is first is processing-order-dependent; which *keys*
    exist is not)."""
    deduped = (
        events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
        if events.isStreaming
        else events.dropDuplicates(keys)
    )
    return deduped.select(*keys)


#: Output schema of `user_stats_stateful` — kept module-level so the
#: oracle/test side can reference it.
USER_STATS_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE, max_ts TIMESTAMP"
_STATE_SCHEMA = "n BIGINT, total DOUBLE, max_us BIGINT"


def _user_stats_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum(value), max(ts)) with explicit
    GroupState — emits the updated totals once per micro-batch."""
    n, total, max_us = state.get if state.exists else (0, 0.0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        if len(pdf):
            max_us = max(max_us, int(pdf["ts"].max().value // 1000))
    state.update((n, total, max_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_ts": [pd.Timestamp(max_us * 1000)],
        }
    )


def user_stats_stateful(events: DataFrame, *, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful per-user aggregate via applyInPandasWithState —
    the arbitrary-state escape hatch for operators session_window
    can't express (SURVEY §2.11). State is one small tuple per user;
    Arrow-batched, grouped shuffle on user_id only."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_stats_fn,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def static_enrich(events: DataFrame, dim: DataFrame, on_left: str, on_right: str,
                  select_cols: list[str]) -> DataFrame:
    """Stream-static LEFT join: enrich each event with dimension
    attributes. The static side is re-broadcast per micro-batch —
    stateless (no watermark needed), the streaming analogue of the
    broadcast dimension join in the batch star schema."""
    return events.join(
        F.broadcast(dim), events[on_left] == dim[on_right], "left"
    ).select(*select_cols)


def purchase_click_attribution(
    purchases: DataFrame, clicks: DataFrame, *, lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER join with event-time bounds: every purchase
    paired with the same user's clicks in the preceding ``lookback``
    window (last-touch attribution). Both sides carry watermarks and
    the join condition bounds event time on both inputs, so Spark can
    evict join state once the watermark passes ts+lookback — the
    requirement for an unbounded stream-stream join (state is
    O(lookback·rate), not O(stream)). Works identically in batch:
    the same plan is the oracle's interval join."""
    p = with_watermark(purchases.filter(F.col("event_type") == "purchase"), watermark).alias("p")
    c = with_watermark(clicks.filter(F.col("event_type") == "click"), watermark).alias("c")
    return p.join(
        c,
        F.expr(
            f"p.user_id = c.user_id AND c.ts >= p.ts - interval {lookback} AND c.ts <= p.ts"
        ),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.user_id").alias("user_id"),
    )


def run_to_memory(
    result: DataFrame,
    name: str,
    *,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a streaming plan to completion with availableNow and
    return the materialized result as a batch DataFrame.

    This is the bridge that lets streaming queries participate in the
    driver's collect-and-compare contract: process everything
    available, one final state flush, read the memory sink back.

    `STATE_PARTITIONS` sizes the stateful shuffle for THIS query
    (applied to ``spark.sql.shuffle.partitions`` around start and
    restored): streaming has no AQE, the state-store partition count
    is frozen into the first checkpoint, and every partition pays
    per-micro-batch store/commit overhead — so a production job sizes
    it to expected KEY CARDINALITY at submission. The harness corpora
    carry thousands of state keys at most, where 8 right-sizes
    (measured at sf0.1: 32 partitions cost ~2× the wall-time of 8 on
    the tumbling query, all of it fixed per-partition state
    overhead). Results are partition-count-invariant either way. The
    set/restore mutates the SHARED session conf: safe for the
    sequential harness/driver, not for queries run concurrently on
    one session. The run's checkpoint is a temporary dir, removed
    once the query has stopped (the memory sink holds the result)."""
    spark = result.sparkSession
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(STREAM_TIMEOUT_SEC):
                # never hand back a partially-filled sink as if complete
                raise TimeoutError(
                    f"streaming query {name!r} still running after "
                    f"{STREAM_TIMEOUT_SEC}s"
                )
        finally:
            q.stop()
    finally:
        # restore only after the query is fully done: micro-batch
        # planning reads the conf asynchronously after start()
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(checkpoint, ignore_errors=True)
    return result.sparkSession.table(name)


def upsert_latest_foreach_batch(
    events: DataFrame,
    target_dir: str,
    *,
    key_cols: list[str],
    order_cols: list[str],
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming upsert (CDC-apply) via ``foreachBatch``: each
    micro-batch is MERGEd into a keyed parquet target, keeping the
    latest row per key by ``order_cols`` (descending, last name is
    the uniqueness tie-break). The merge is copy-on-write: union the
    target with the batch, window to rank per key, rewrite to a
    staging dir, atomically swap — the Delta-style OPTIMIZE-free
    upsert loop expressed with nothing but the DataFrame API and a
    directory rename. On object storage the swap step is what a table
    format's transaction log replaces; the plan shape (one shuffle on
    the merge key per batch, target scanned narrowly) is identical.

    Returns the final target as a batch DataFrame. Restartable: the
    checkpoint tracks consumed files, the swap is atomic, and re-
    merging an already-applied batch is idempotent (latest-per-key is
    a set operation) — so this sink uses only the open half of the
    `_exactly_once_sink` protocol and swaps without a meta record.
    """
    order = [F.col(c).desc() for c in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _open_target(target_dir)
        exists = os.path.isdir(target_dir)
        merged = (
            spark.read.parquet(target_dir).unionByName(batch_df)
            if exists
            else batch_df
        )
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        stage = f"{target_dir}.stage-{batch_id}"
        latest.write.mode("overwrite").parquet(stage)  # full materialize first
        _atomic_swap(stage, target_dir, batch_id)

    _run_foreach_batch(events, _apply, checkpoint_dir, "upsert")
    return events.sparkSession.read.parquet(target_dir)


def _recover_swap(target_dir: str) -> None:
    """Crash recovery for `_atomic_swap`'s two-rename window: a crash
    between rename(target→old) and rename(stage→target) leaves no
    target but a committed ``<target>.old-<id>`` dir — restore the
    newest one so prior state is never silently lost (without this,
    the IVM sink's `_applied_batch` would read -1 and a replayed
    batch would merge against an empty base). A crash AFTER promotion
    leaves a superseded old dir; delete it. MUST run before any read
    of the target and before the next swap (`_open_target`)."""
    import glob as _glob

    olds = sorted(
        _glob.glob(f"{_glob.escape(target_dir)}.old-*"),
        key=lambda p: int(p.rsplit("-", 1)[1]),
    )
    if not olds:
        return
    if not os.path.isdir(target_dir):
        os.rename(olds[-1], target_dir)  # mid-swap crash: restore committed state
        olds = olds[:-1]
    for p in olds:
        shutil.rmtree(p)  # post-promotion crash: finish the deferred cleanup


def _clean_stale_stages(target_dir: str) -> None:
    """Delete orphaned ``<target>.stage-*`` dirs: a crash between the
    stage write and the swap leaves a full state copy that is never
    reused if the batch is later skipped as a committed replay.
    Called at apply START — before this batch creates its own stage,
    and foreachBatch applies serially, so anything matching is
    superseded by definition."""
    import glob as _glob

    for p in _glob.glob(f"{_glob.escape(target_dir)}.stage-*"):
        shutil.rmtree(p, ignore_errors=True)


def _row_digest(cols: list[str]) -> F.Column:
    """Field- and NULL-safe md5 row digest for snapshot diffing: each
    column is digested individually (NULL gets a sentinel digest),
    then the fixed-width digests concatenate. A ``concat_ws`` digest
    would be wrong twice over — it SKIPS null columns (so a value
    sliding between adjacent nullable columns hashes identically) and
    a delimiter character inside a value shifts field boundaries.
    Built as one SQL expression: one py4j call, not a dozen per
    column."""
    parts = ", ".join(
        f"coalesce(md5(CAST(`{c}` AS STRING)), '{'0' * 32}')" for c in cols
    )
    return F.expr(f"md5(concat({parts}))")


def _additive_merge(
    view: DataFrame | None,
    dview: DataFrame,
    group_cols: list[str],
    state_cols: list[str],
) -> DataFrame:
    """The |groups|-row full-outer coalesced add every additive-state
    sink shares (typed zero literals so decimal state keeps its
    precision). The join is NULL-SAFE on the group key: a NULL group
    value is a legitimate group (SQL GROUP BY semantics), and a plain
    equality join would never match it against its stored row —
    silently accumulating one duplicate state row per refresh.
    ``view is None`` = bootstrap: the delta IS the state. The join
    condition and projection are SQL text (one py4j call each)."""
    if view is None:
        return dview
    types = dict(view.dtypes)
    on = " AND ".join(f"vw.`{c}` <=> d.`{c}`" for c in group_cols) or "true"
    return view.alias("vw").join(dview.alias("d"), F.expr(on), "full_outer").selectExpr(
        *[f"coalesce(vw.`{c}`, d.`{c}`) AS `{c}`" for c in group_cols],
        *[
            f"CAST(coalesce(vw.`{c}`, CAST(0 AS {types[c]}))"
            f" + coalesce(d.`{c}`, CAST(0 AS {types[c]})) AS {types[c]}) AS `{c}`"
            for c in state_cols
        ],
    )


def _signed_image_diff(
    snap: DataFrame | None, img: DataFrame, keys: list[str], cols: list[str]
) -> DataFrame:
    """new − old as signed rows (``cols`` + ``_sign``) over hashed
    images (keys + business columns + ``rh`` from `_row_digest`):
    removed/changed rows emit the OLD image with −1, added/changed
    the NEW image with +1; unchanged keys die inside the join. One
    keyed shuffle per side, change detection via the one narrow hash
    column. Bootstrap (``snap is None``) = every row an insertion."""
    if snap is None:
        return img.selectExpr(*[f"`{c}`" for c in cols], "1 AS _sign")
    on = " AND ".join(f"a.`{k}` = b.`{k}`" for k in keys)
    a_absent, b_absent = f"a.`{keys[0]}` IS NULL", f"b.`{keys[0]}` IS NULL"
    changed = "a.rh != b.rh"
    j = snap.alias("a").join(img.alias("b"), F.expr(on), "full_outer").filter(
        f"{a_absent} OR {b_absent} OR {changed}"
    )
    retract = j.filter(f"NOT {a_absent} AND ({b_absent} OR {changed})").selectExpr(
        *[f"a.`{c}` AS `{c}`" for c in cols], "-1 AS _sign"
    )
    insert = j.filter(f"NOT {b_absent} AND ({a_absent} OR {changed})").selectExpr(
        *[f"b.`{c}` AS `{c}`" for c in cols], "1 AS _sign"
    )
    return retract.unionByName(insert)


def _collect_image_digests(img_kb: DataFrame, key_cols: list[str]) -> dict:
    """Per-bucket content digest of a hashed image carrying ``_kb``:
    {bucket: [row_count, row_hash_sum]} from ONE partial+final agg
    (bucket-count rows collected). The per-row hash covers the keys
    AND the business row-hash ``rh``, summed as decimal(38,0) so the
    aggregate is order-free and cannot overflow under ANSI; count+sum
    together make an accidental collision ~2^-64 — and a collision
    only ever SKIPS a bucket diff, it can never corrupt applied state
    the divergence guards would miss silently forever (the next real
    change to the bucket re-diffs it)."""
    rows = (
        img_kb.groupBy("_kb")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                F.xxhash64(*[F.col(k) for k in key_cols], F.col("rh")).cast(
                    "decimal(38,0)"
                )
            ).alias("s"),
        )
        .collect()
    )
    return {str(int(r["_kb"])): [int(r["c"]), str(int(r["s"]))] for r in rows}


class _DigestPrunedImage:
    """Per-store digest-pruned snapshot-diff state across a batch's
    versions — the machinery the snapshot-fed sinks share, factored so
    a sink maintaining SEVERAL standing images (the join-view sink's
    R and S) threads one instance per store. Lifecycle per batch:
    construct (reads the committed manifest; RAISES on the pre-digest
    plain-dir layout), then per version `diff(img)` (per-bucket digest
    scan → driver-side compare → `_signed_image_diff` over only the
    buckets whose digest moved), `old_pruned(pre_diff_capture,
    buckets)` for the bilinear join terms (the counterpart image
    restricted to the delta's join-key buckets), and one `commit()`
    into the caller's stage (touched buckets + their digests; the
    untouched majority carries as manifest rows)."""

    def __init__(self, spark, target_dir, store, key_cols, cols, kb,
                 legacy_subdir):
        self.spark = spark
        self.target_dir = target_dir
        self.store = store
        self.key_cols = key_cols
        self.cols = cols
        self.kb = kb
        self.manifest = read_manifest(target_dir, store)
        if self.manifest is None and os.path.isdir(
            os.path.join(target_dir, legacy_subdir)
        ):
            raise RuntimeError(
                f"target {target_dir} holds a pre-digest '{legacy_subdir}/' "
                "image with no manifest store — this build keeps snapshot "
                "images manifest-committed with per-bucket digests; rebuild "
                "the target from the stream"
            )
        self.prev_digs = dict(self.manifest.get("digests", {})) if self.manifest else {}
        if self.manifest is not None:
            # a committed bucket with no digest (a past commit did not
            # re-supply one) must compare as CHANGED in BOTH directions
            # — including total disappearance, where the incoming
            # version contributes no digest row for it at all — so seed
            # a sentinel no real digest can equal
            for b in self.manifest["buckets"]:
                self.prev_digs.setdefault(b, ["?", "?"])
        self.prev_img = None
        self.touched: set[int] = set()

    def has_image(self):
        return self.prev_img is not None or self.manifest is not None

    def old_pruned(self, old_prev, buckets) -> DataFrame | None:
        """The pre-diff image restricted to ``buckets`` — ``old_prev``
        is the caller's CAPTURE of ``prev_img`` taken BEFORE this
        version's `diff` calls advanced the state (the bilinear-term
        off-by-one rule: deltas join the counterpart's OLD image).
        None when neither an in-batch image nor committed files back
        the selection."""
        if old_prev is not None:
            return old_prev.filter(
                F.col("_kb").isin([int(b) for b in buckets])
            ).drop("_kb")
        rs = read_store(
            self.spark, self.target_dir, self.store,
            buckets=sorted(buckets), manifest=self.manifest,
        )
        return rs.drop("_kb") if rs is not None else None

    def diff(self, img_plain: DataFrame) -> DataFrame:
        """Signed rows (``cols`` + ``_sign``) of this version's image
        vs the current one, joined over ONLY digest-moved buckets."""
        img = img_plain.withColumn("_kb", self.kb)
        digs = _collect_image_digests(img, self.key_cols)
        changed = sorted(
            {int(b) for b in digs if self.prev_digs.get(b) != digs[b]}
            | {int(b) for b in self.prev_digs if b not in digs}
        )
        if changed:
            # Adaptive bypass for the dense-carve regime: when EVERY
            # bucket either side knows about moved (changed-fraction
            # = 1 — e.g. a version that rewrites the whole relation),
            # pruning buys nothing and the `_kb IN (...)` filters are
            # pure per-row overhead — diff the whole image directly.
            # Same rows reach `_signed_image_diff` either way; the
            # digests were still collected (the commit needs them) and
            # the NEXT version's sparse carve prunes as before.
            dense = len(changed) == len(
                {int(b) for b in digs} | {int(b) for b in self.prev_digs}
            )
            if self.prev_img is None:
                old = read_store(
                    self.spark, self.target_dir, self.store,
                    buckets=None if dense else changed,
                    manifest=self.manifest,
                )
                old_side = old.drop("_kb") if old is not None else None
            elif dense:
                old_side = self.prev_img.drop("_kb")
            else:
                old_side = self.prev_img.filter(
                    F.col("_kb").isin(changed)
                ).drop("_kb")
            img_ch = (
                img_plain
                if dense
                else img.filter(F.col("_kb").isin(changed)).drop("_kb")
            )
            signed = _signed_image_diff(old_side, img_ch, self.key_cols, self.cols)
            self.touched.update(changed)
        else:
            signed = img_plain.select(
                *self.cols, F.lit(1).alias("_sign")
            ).filter(F.lit(False))
        self.prev_img, self.prev_digs = img, digs
        return signed

    def commit(self, stage: str, batch_id: int) -> None:
        if self.prev_img is None:
            # no version of this batch carried the relation: the whole
            # store carries forward as one manifest copy
            carry_store(self.target_dir, self.store, stage)
            return
        touched = sorted(self.touched)
        write_store_delta(
            self.spark,
            self.prev_img.filter(F.col("_kb").isin(touched))
            if touched
            else self.prev_img.filter(F.lit(False)),
            self.target_dir,
            self.store,
            stage,
            batch_id=batch_id,
            touched=touched,
            manifest=self.manifest,
            digests={
                str(b): self.prev_digs[str(b)]
                for b in touched
                if str(b) in self.prev_digs
            },
        )


def _snapshot_versions(batch_df: DataFrame, version_col: str, meta: dict):
    """The snapshot sinks' version list: sorted distinct versions of a
    non-empty batch (``None`` for an empty one — nothing to commit),
    checked against the committed ``last_version`` so a landing that
    violates the monotonic version contract raises instead of
    applying a diff backwards."""
    if batch_df.isEmpty():
        return None
    versions = sorted(
        r["v"]
        for r in batch_df.select(F.col(version_col).alias("v"))
        .distinct()
        .collect()
    )
    last_v = meta.get("last_version")
    if last_v is not None and versions and min(versions) <= last_v:
        raise RuntimeError(
            f"sink: version {min(versions)} arrived after version "
            f"{last_v} was applied — the landing violated the "
            "monotonic version contract (equal/inverted file mtimes?); "
            "refusing to apply a diff backwards"
        )
    return versions


def _snapshot_changes(
    spark,
    target_dir: str,
    batch_df: DataFrame,
    meta: dict,
    *,
    key_cols: list[str],
    version_col: str,
    business: list[str],
    n_buckets: int,
):
    """Snapshot-version-diff changelog producer (the single-image
    snapshot sinks): per version, bucket the hashed image by key hash,
    compare per-bucket digests against the previous image's (the
    committed manifest's for the first version — stored at commit
    time, so an untouched bucket is pruned from the diff by a
    DRIVER-side compare, never a join), and run `_signed_image_diff`
    over ONLY the buckets whose digest moved. At 100 TB this turns the
    per-version diff from a corpus×corpus keyed join into a
    changed-bucket join: the full snapshot is still SCANNED (it is the
    input), but unchanged buckets never shuffle.

    Returns ``(signed, fields, dpi)`` — the union of all versions'
    signed rows (``business`` + ``_sign``), the ``last_version`` meta
    field, and the `_DigestPrunedImage` whose ``commit(stage,
    batch_id)`` writes the ``snapimg`` store — or ``None`` for an
    empty batch."""
    versions = _snapshot_versions(batch_df, version_col, meta)
    if versions is None:
        return None
    # a key column may also be a business column; carry each name once
    extra = [c for c in business if c not in key_cols]
    kb = F.pmod(F.hash(*[F.col(k) for k in key_cols]), F.lit(n_buckets))
    dpi = _DigestPrunedImage(
        spark, target_dir, "snapimg", key_cols, business, kb,
        legacy_subdir="snapshot",
    )
    signed = None
    for v in versions:
        img = batch_df.filter(F.col(version_col) == v).select(
            *key_cols, *extra, _row_digest(business).alias("rh")
        )
        sv = dpi.diff(img)
        signed = sv if signed is None else signed.unionByName(sv)
    return signed, {"last_version": versions[-1]}, dpi


def _read_sink_meta(target_dir: str) -> dict:
    """Read the exactly-once commit record a stateful foreachBatch
    sink stores INSIDE its target (written in the same atomic swap as
    the data). Absent target → a virgin sink."""
    meta = os.path.join(target_dir, "_ivm_meta.json")
    if not os.path.isfile(meta):
        return {"last_batch_id": -1, "applied_files": []}
    with open(meta) as f:
        return json.load(f)


def _batch_provenance(batch_df: DataFrame) -> set[str]:
    """Source files backing a micro-batch, via a distributed
    ``input_file_name()`` distinct (``DataFrame.inputFiles()`` is
    empty on micro-batch plans) — one delta-scan-sized metadata job,
    file-count rows collected. Non-file sources yield no paths."""
    return {
        r["f"]
        for r in batch_df.select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
        if r["f"]
    }


def _is_committed_replay(
    meta: dict, batch_files: set[str], batch_id: int, tag: str,
    adopt: bool = False,
) -> bool:
    """The skip-vs-raise rule for non-idempotent (+=) sinks. Same
    checkpoint + already-committed batch_id → replay, skip. A FRESH
    checkpoint restarts batch ids at 0, so a low batch_id carrying
    ANY never-applied source file is genuinely new data — raise
    instead of silently dropping it. A NON-file source yields no
    provenance at all: there the only distinguishable replay is the
    same-checkpoint crash redelivery of the LAST committed batch_id;
    an OLDER batch_id without provenance is indistinguishable from
    fresh-checkpoint new data and must raise, never skip.

    ``adopt`` admits one more case, the declared CHECKPOINT HANDOFF: a
    target adopted by a new stream (a fresh checkpoint over a fresh
    landing dir — how a plain-append index graduates to its CDC sink)
    legitimately arrives with a low batch_id, and a batch whose files
    are ALL never-applied cannot be a replay — apply it. Without the
    declaration the same signature describes a MISWIRED job (the
    wrong landing dir pointed at an existing target), which only the
    operator can tell apart, so adoption is opt-in. A batch MIXING
    applied and fresh files raises either way."""
    if batch_id > meta["last_batch_id"]:
        return False
    applied = set(meta.get("applied_files", []))
    if adopt and batch_files and not batch_files & applied:
        return False
    if not batch_files:
        if batch_id == meta["last_batch_id"]:
            return True  # crash redelivery of the just-committed batch
        raise RuntimeError(
            f"{tag} sink: batch_id {batch_id} < committed "
            f"{meta['last_batch_id']} and the source reports no file "
            "provenance — cannot distinguish a replay from new data "
            "under a fresh checkpoint; resume with the original "
            "checkpoint, use a file-based source, or point at a new "
            "target dir"
        )
    fresh = batch_files - applied
    if fresh:
        raise RuntimeError(
            f"{tag} sink: batch_id {batch_id} <= committed "
            f"{meta['last_batch_id']} but the batch contains {len(fresh)} "
            "never-applied source files (fresh checkpoint over new data?) — "
            "refusing to silently drop them; resume with the original "
            "checkpoint or use a new target dir"
        )
    return True


def _atomic_swap(stage: str, target_dir: str, batch_id: int) -> None:
    """Promote a fully-materialized staging dir to the target via
    directory rename — the copy-on-write commit every sink shares. NOT
    a single atomic step: it is rename(target→old), rename(stage→
    target), rmtree(old), and a crash between the two renames is
    repaired by `_recover_swap` at the next `_open_target`. Requires
    stage/target/old on ONE filesystem — os.rename cannot cross
    devices. On object storage this pair is what a table format's
    transaction log replaces; everything before it is restartable."""
    if os.path.isdir(target_dir):
        old = f"{target_dir}.old-{batch_id}"
        os.rename(target_dir, old)
        os.rename(stage, target_dir)
        shutil.rmtree(old)
    else:
        os.rename(stage, target_dir)


def _open_target(target_dir: str) -> dict:
    """The commit protocol's opening half, run before anything reads
    the target: restore a target a crash left mid-swap, delete stages
    a crashed batch left behind, delete pool files no committed
    manifest references (a single ``isdir`` when the target keeps no
    pool), and return the committed meta. The order is load-bearing —
    the orphan sweep must see the recovered manifests, and all of it
    must precede this batch's own stage and pool writes."""
    _recover_swap(target_dir)
    _clean_stale_stages(target_dir)
    sweep_orphans(target_dir)
    return _read_sink_meta(target_dir)


def _commit_target(stage: str, target_dir: str, batch_id: int, meta: dict) -> None:
    """The commit protocol's closing half: write ``meta`` as the
    stage's ``_ivm_meta.json``, then promote the stage by
    `_atomic_swap` — data and commit record move together."""
    os.makedirs(stage, exist_ok=True)
    with open(os.path.join(stage, "_ivm_meta.json"), "w") as f:
        json.dump(meta, f)
    _atomic_swap(stage, target_dir, batch_id)


def _run_foreach_batch(stream, apply_fn, checkpoint_dir, tag: str) -> None:
    """Drive a foreachBatch sink to completion under availableNow.
    Without a ``checkpoint_dir`` the run checkpoints into a temporary
    dir that is removed afterwards: its path is never handed out, so
    nothing could resume from it."""
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix=f"ckpt_{tag}_")
    try:
        q = (
            stream.writeStream.foreachBatch(apply_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(STREAM_TIMEOUT_SEC):
                raise TimeoutError(f"{tag} stream still running after {STREAM_TIMEOUT_SEC}s")
        finally:
            q.stop()
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(checkpoint, ignore_errors=True)


def _exactly_once_sink(
    stream: DataFrame,
    target_dir: str,
    tag: str,
    step: Callable,
    *,
    n_buckets: int | None = None,
    adopt: bool = False,
    provenance: Callable[[DataFrame], set] = _batch_provenance,
    checkpoint_dir: str | None,
) -> None:
    """THE exactly-once commit protocol for every non-idempotent
    foreachBatch sink — the one place it lives. Per micro-batch:

    1. `_open_target` (recover a torn swap, clean stale stages, sweep
       orphaned pool files, read the committed meta);
    2. `_check_layout` of ``n_buckets`` when the sink keeps bucketed
       state;
    3. ``provenance(batch_df)`` (source files; the default is the
       distributed ``input_file_name()`` distinct) and the replay /
       handoff rule `_is_committed_replay` — a replay of committed
       data skips, new data under a fresh checkpoint raises;
    4. ``step(batch_df, batch_id, meta, stage)`` materializes the
       batch's new state into ``stage`` (plans may still read the
       committed target) and returns its sink-specific meta fields,
       or ``None`` when there is nothing to commit;
    5. `_commit_target` with ``last_batch_id`` = max(batch_id,
       committed) — a checkpoint handoff restarts ids at 0 and the
       high-water mark must not regress; outside a handoff a batch
       only commits above the committed id — and ``applied_files`` =
       committed ∪ this batch's files, plus ``n_buckets`` and the
       step's fields.

    Because the batch id and provenance commit INSIDE the target in
    the same swap as the data, a crash anywhere before the swap's
    second rename replays the batch against the old state, and a
    crash after it replays into a skip."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        meta = _open_target(target_dir)
        if n_buckets is not None:
            _check_layout(meta, tag, "n_buckets", n_buckets)
        files = provenance(batch_df)
        if _is_committed_replay(meta, files, batch_id, tag, adopt):
            return  # re-applying committed data would double-count
        stage = f"{target_dir}.stage-{batch_id}"
        fields = step(batch_df, batch_id, meta, stage)
        if fields is None:
            return
        record = {
            "last_batch_id": max(batch_id, meta["last_batch_id"]),
            "applied_files": sorted(set(meta.get("applied_files", [])) | files),
        }
        if n_buckets is not None:
            record["n_buckets"] = n_buckets
        _commit_target(stage, target_dir, batch_id, {**record, **fields})

    _run_foreach_batch(stream, _apply, checkpoint_dir, tag)


def _committed_view(spark, target_dir: str) -> DataFrame | None:
    """The committed ``view/`` of a view-maintaining sink (None before
    its first commit)."""
    view_dir = os.path.join(target_dir, "view")
    return spark.read.parquet(view_dir) if os.path.isdir(view_dir) else None


def _merge_signed_sums(
    view: DataFrame | None,
    signed: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Signed rows (``_sign`` ±1) → one (``n``, ``sum_<c>``) delta row
    per group (exact bigint algebra) → `_additive_merge` into
    ``view``."""
    dview = signed.groupBy(*group_cols).agg(
        F.sum("_sign").cast("bigint").alias("n"),
        *[
            F.sum(F.col("_sign") * F.col(c)).cast("bigint").alias(f"sum_{c}")
            for c in sum_cols
        ],
    )
    return _additive_merge(
        view, dview, list(group_cols), ["n"] + [f"sum_{c}" for c in sum_cols]
    )


def _sum_view_refresh(
    spark,
    target_dir: str,
    stage: str,
    signed: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
) -> None:
    """The additive state refresh: the committed view plus the signed
    rows' (``n``, ``sum_<c>``) delta → ``view/`` in the stage."""
    _merge_signed_sums(
        _committed_view(spark, target_dir), signed, group_cols, sum_cols
    ).write.mode("overwrite").parquet(os.path.join(stage, "view"))


def ivm_agg_foreach_batch(
    stream: DataFrame,
    target_dir: str,
    *,
    group_cols: list[str],
    partial_agg: Callable[[DataFrame], DataFrame],
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """TRUE incremental view maintenance over a stream: the target
    parquet dir holds one row of ADDITIVE partial state per group
    (every non-group column of ``partial_agg``'s output must merge by
    ``+`` — count, decimal-staged sum, sum-of-squares …), and each
    micro-batch contributes ``partial_agg(batch)`` via a full-outer
    join + coalesced add. The base data is NEVER re-aggregated: per
    refresh the work is one partial agg over the delta plus a
    |groups|-row merge — the streaming twin of the batch
    ``ivm_incremental_agg_merge`` query, which certifies the same
    contract (merge(partial, delta) ≡ recompute(full)) against the
    DuckDB oracle.

    Unlike the latest-per-key upsert (a set operation, naturally
    idempotent), ``+=`` state double-counts on re-application, so the
    sink commits through `_exactly_once_sink`: batch id and source-file
    provenance ride the same atomic swap as the state, a crash replay
    merges exactly once, and a fresh checkpoint over never-applied
    files raises instead of silently dropping them.

    Returns the final state table as a batch DataFrame; callers
    finalize (e.g. cast decimal sums to double) downstream.
    """

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        delta = partial_agg(batch_df)
        state_cols = [c for c in delta.columns if c not in group_cols]
        base = (
            batch_df.sparkSession.read.parquet(target_dir)
            if os.path.isdir(target_dir)
            else None
        )
        _additive_merge(base, delta, list(group_cols), state_cols).write.mode(
            "overwrite"
        ).parquet(stage)
        return {}

    _exactly_once_sink(
        stream, target_dir, "ivm", _step,
        checkpoint_dir=checkpoint_dir,
    )
    return stream.sparkSession.read.parquet(target_dir)


def cdc_retraction_foreach_batch(
    snapshots: DataFrame,
    target_dir: str,
    *,
    key_cols: list[str],
    version_col: str,
    group_cols: list[str],
    sum_cols: list[str],
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """END-TO-END CDC with RETRACTIONS, no table format: the stream
    carries FULL snapshot images of a keyed table (each tagged with a
    monotonically increasing ``version_col``; a batch may hold one or
    several versions), and each version is diffed INSIDE the batch
    against the last-applied image, its changeset applied to an
    additive aggregate view as signed rows (old image −1, new image
    +1 — an update is a retraction plus an insertion). This composes
    the three separately-certified pieces — ``snapshot_diff_keyed``
    (diff), ``ivm_apply_changeset`` (signed apply), and this module's
    ``ivm_agg_foreach_batch`` (standing refresh loop) — into ONE
    standing pipeline.

    The target holds TWO tables committed together in one atomic
    swap: the ``snapimg`` manifest store (last applied image, keys +
    business columns + md5 row-hash, bucketed ``pmod(hash(key),
    n_buckets)`` with PER-BUCKET CONTENT DIGESTS riding the manifest)
    and ``view/`` (one additive row per group: ``n`` + ``sum_<c>``
    per ``sum_cols`` entry). Because image and view move in the same
    commit (`_exactly_once_sink`), a crash can never apply a version
    to one but not the other.

    Contracts: ``key_cols`` are non-null and unique per version;
    business columns (``group_cols`` + ``sum_cols``) render
    deterministically to text for the row-hash (stage money as
    integer cents — the repo's rendering-hazard rule); ``sum_cols``
    are integer-typed so signed sums are exact and order-free.
    Groups whose count reaches zero REMAIN in the view as n=0 rows
    (additive state never forgets a group); finalize with
    ``n > 0`` downstream.

    Scale: per version the incoming snapshot is scanned once for
    per-bucket digests (count + order-free row-hash sum), compared
    DRIVER-side against the digests the last commit stored, and the
    keyed hash-compare diff join runs over ONLY the buckets whose
    digest moved — unchanged buckets (the overwhelming majority at
    100 TB) never shuffle, never rewrite, and carry forward as one
    manifest row each. The input scan is the floor for
    CDC-from-snapshots (no changelog exists to be cheaper than the
    snapshot itself); with a real changelog upstream, use
    ``ivm_agg_foreach_batch`` instead.

    Returns the final view as a batch DataFrame.
    """
    business = list(group_cols) + list(sum_cols)

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        changes = _snapshot_changes(
            spark, target_dir, batch_df, meta, key_cols=key_cols,
            version_col=version_col, business=business, n_buckets=n_buckets,
        )
        if changes is None:
            return None
        signed, fields, dpi = changes
        _sum_view_refresh(
            spark, target_dir, stage,
            signed.localCheckpoint(eager=True),  # delta-sized
            group_cols, sum_cols,
        )
        # untouched image buckets carry as manifest rows, never rewritten
        dpi.commit(stage, batch_id)
        return fields

    _exactly_once_sink(
        snapshots, target_dir, "cdc", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return snapshots.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def _validate_oplog_batch(
    batch_df: DataFrame,
    op_col: str,
    seq_col: str,
    allowed_ops: tuple,
    last_seq,
    tag: str,
):
    """The one delta-sized validation pass every op-log sink shares:
    op tags in the allowed set, in-batch sequence uniqueness (a
    duplicated op would double-apply), and monotonicity against the
    committed high-water mark. Returns the stats row, or ``None`` for
    an empty batch; raises on any violation. Kept in one place so a
    guard fix cannot drift between the sinks."""
    op = F.col(op_col)
    v = batch_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(~op.isin(*allowed_ops), 1).otherwise(0)).alias("bad"),
        F.min(seq_col).alias("lo"),
        F.max(seq_col).alias("hi"),
        F.count_distinct(F.col(seq_col)).alias("nseq"),
    ).collect()[0]
    if v["n"] == 0:
        return None
    if v["bad"]:
        raise RuntimeError(
            f"{tag} sink: {v['bad']} rows carry an op tag outside "
            f"{set(allowed_ops)} — refusing to guess their sign"
        )
    if v["nseq"] != v["n"]:
        raise RuntimeError(
            f"{tag} sink: batch carries {v['n']} ops but only "
            f"{v['nseq']} distinct {seq_col!r} values — a duplicated "
            "op would double-apply"
        )
    if last_seq is not None and v["lo"] <= last_seq:
        raise RuntimeError(
            f"{tag} sink: op sequence {v['lo']} arrived after "
            f"{last_seq} was applied — duplicate delivery outside the "
            "replay protocol (same ops under a new checkpoint?) would "
            "double-apply; resume with the original checkpoint or point "
            "at a new target dir"
        )
    return v


def _oplog_changes(
    batch_df: DataFrame,
    meta: dict,
    *,
    op_col: str,
    seq_col: str,
    business: list[str],
    tag: str,
):
    """Before-image op-log changelog producer: one validation pass
    (`_validate_oplog_batch`), then the signed expansion straight from
    the log — I → after image +1, D → before image (``prev_<c>``) −1,
    U → both. Returns ``(signed, fields)`` — ``business`` + ``_sign``
    rows and the ``last_seq`` high-water meta field — or ``None`` for
    an empty batch."""
    v = _validate_oplog_batch(
        batch_df, op_col, seq_col, ("I", "U", "D"), meta.get("last_seq"), tag
    )
    if v is None:
        return None
    op = F.col(op_col)
    retract = batch_df.filter(op.isin("U", "D")).select(
        *[F.col(f"{PREV_PREFIX}{c}").alias(c) for c in business],
        F.lit(-1).alias("_sign"),
    )
    insert = batch_df.filter(op.isin("I", "U")).select(
        *business, F.lit(1).alias("_sign")
    )
    return retract.unionByName(insert), {"last_seq": int(v["hi"])}


def _op_per_key(ops: DataFrame, key_cols: list[str], seq_col: str,
                last: bool = True) -> DataFrame:
    """The LAST (or, ``last=False``, the FIRST) op per key by
    ``seq_col`` — rows keep their columns plus ``_rn``."""
    seq = F.col(seq_col).desc() if last else F.col(seq_col).asc()
    w = Window.partitionBy(*key_cols).orderBy(seq)
    return ops.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )


def _tombstone_changes(
    spark,
    target_dir: str,
    batch_df: DataFrame,
    meta: dict,
    *,
    key_cols: list[str],
    op_col: str,
    seq_col: str,
    business: list[str],
    n_buckets: int,
    tag: str,
):
    """Tombstone changelog producer (rows are 'U' upserts carrying only
    the AFTER image or 'D' tombstones carrying only the KEY): retractions
    are MANUFACTURED from the standing keyed ``image`` store, bucketed
    by ``pmod(hash(key), n_buckets)``. Per batch: validation, the last
    op per key (intermediate signed states cancel — materialized once,
    it feeds the lookup, the inserts and the rewrite), the touched key
    buckets (≤ n_buckets collected), the image read pruned to them,
    the stored rows of the batch's keys as −1 rows (an upsert
    replaces, a tombstone retracts, a tombstone for an absent key
    retracts nothing — compaction semantics) and the final upserts as
    +1 rows.

    Returns ``(signed, fields, write_image)`` — ``business`` +
    ``_sign`` rows, the ``last_seq`` meta field, and
    ``write_image(stage, batch_id)`` committing the touched buckets
    (survivors ⊎ upserts; untouched buckets carry as manifest rows) —
    or ``None`` for an empty batch."""
    v = _validate_oplog_batch(
        batch_df, op_col, seq_col, ("U", "D"), meta.get("last_seq"), tag
    )
    if v is None:
        return None
    extra = [c for c in business if c not in key_cols]
    kb = F.pmod(F.hash(*[F.col(k) for k in key_cols]), F.lit(n_buckets))
    last_ops = (
        _op_per_key(batch_df, key_cols, seq_col)
        .select(*key_cols, op_col, *extra)
        .localCheckpoint(eager=True)
    )
    touched = sorted(
        int(r["b"]) for r in last_ops.select(kb.alias("b")).distinct().collect()
    )
    m_img = read_manifest(target_dir, "image")
    old = read_store(spark, target_dir, "image", buckets=touched, manifest=m_img)
    upserts = last_ops.filter(F.col(op_col) == "U").select(
        *key_cols, *extra, kb.alias("_kb")
    )
    signed = upserts.select(*business, F.lit(1).alias("_sign"))
    image = upserts
    if old is not None:
        keyset = F.broadcast(last_ops.select(*key_cols))
        signed = (
            old.join(keyset, key_cols)
            .select(*business, F.lit(-1).alias("_sign"))
            .unionByName(signed)
        )
        image = (
            old.join(keyset, key_cols, "left_anti")
            .select(*key_cols, *extra, "_kb")
            .unionByName(upserts)
        )

    def write_image(stage: str, batch_id: int) -> None:
        write_store_delta(
            spark, image, target_dir, "image", stage,
            batch_id=batch_id, touched=touched, manifest=m_img,
        )

    return signed, {"last_seq": int(v["hi"])}, write_image


def cdc_oplog_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    op_col: str,
    seq_col: str,
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """TRUE-DELTA CDC: the stream carries an OPERATION LOG (the
    Debezium-envelope shape flattened — one row per change, tagged
    ``op_col`` ∈ {'I','U','D'} with a strictly increasing ``seq_col``,
    AFTER-image business columns for I/U and BEFORE-image columns
    (``prev_<c>``) for U/D), and each micro-batch applies the signed
    expansion directly to the additive view:

        I → after image, +1;   D → before image, −1;
        U → before image −1  AND  after image +1

    This is the scale shape ``cdc_retraction_foreach_batch`` cannot
    reach: the snapshot sink's landing I/O and per-batch diff both
    track SNAPSHOT size (the honest floor when no changelog exists),
    while here every per-batch cost — landing I/O, the validation
    pass, the signed partial agg — tracks the CHANGE volume, plus the
    |groups|-row merge and view rewrite. No standing image is kept at
    all: the before-images in the log replace the diff-against-
    snapshot entirely, so the target holds ONLY the view.

    Because the view is additive, signed application is COMMUTATIVE —
    a batch may carry any number of transactions in any file order,
    and batch-split invariance holds algebraically (pytest-pinned).
    Order therefore matters only for exactly-once
    (`_exactly_once_sink`), plus the high-water ``last_seq`` committed
    with the view: a batch whose minimum sequence is ≤ it raises
    (duplicate delivery outside the replay protocol would
    double-apply), as does a duplicate sequence number within the
    batch or an unknown op tag.

    Contracts (the upstream log producer's side of the deal): U rows
    carry BOTH images and never change the key — a key change must be
    emitted as D(old)+I(new); before-images are exact (the usual
    Debezium guarantee); business columns render deterministically
    (money as integer cents) and ``sum_cols`` are integer-typed so
    signed sums are exact and order-free. Groups that reach zero stay
    as n=0 rows; finalize with ``n > 0`` downstream.

    Returns the final view as a batch DataFrame.
    """
    business = list(group_cols) + list(sum_cols)

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        changes = _oplog_changes(
            batch_df, meta, op_col=op_col, seq_col=seq_col,
            business=business, tag="cdc_oplog",
        )
        if changes is None:
            return None
        signed, fields = changes
        _sum_view_refresh(
            batch_df.sparkSession, target_dir, stage, signed,
            group_cols, sum_cols,
        )
        return fields

    _exactly_once_sink(
        oplog, target_dir, "cdc_oplog", _step,
        checkpoint_dir=checkpoint_dir,
    )
    return oplog.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def _ns_cond(a: str, b: str, cols: list[str]):
    """Null-safe multi-column equi condition between two aliases — a
    NULL group is a legitimate group everywhere in this module, and a
    plain equality would drop (or re-transition) it on every join."""
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(f"{a}.{c}").eqNullSafe(F.col(f"{b}.{c}"))
    return cond


def _merge_bucketed_support(
    spark,
    target_dir: str,
    dsup: DataFrame,
    group_cols: list[str],
    value_col: str,
    kb,
    tag: str,
):
    """The bucketed-support read+merge+guard every support-multiset
    sink shares (distinct-count and MIN/MAX, both changelog dialects):
    collect the net delta's touched ``kb`` buckets, read the standing
    support's ``support`` store PRUNED to them via its manifest (file
    selection, not directory pruning), full-outer-merge the counts
    (null-safe on the group columns; values are non-null by
    construction on both sides), and RAISE if any merged count goes
    negative — a retraction of a (group, value) the support never held
    means the log diverged, and the support table is the divergence
    witness. Returns ``(merged, touched, manifest, counts)``;
    ``merged`` is localCheckpointed (it feeds the guard agg, the
    caller's re-aggregation, and the write) and carries the transition
    bookkeeping columns ``_old`` (pre-merge count) / ``_ds`` (whether
    the delta touched the pair) so the distinct dialects never re-read
    or re-join the standing support. ``counts`` is the per-bucket
    positive-row tally of ``merged`` — exactly the rows
    `_write_bucketed_support` commits — computed in the SAME job as
    the negative-count guard (r17: the guard was one agg job and
    `write_store_delta` re-counted the written delta in another; one
    groupBy over the checkpointed merge now feeds both, one fewer
    Spark job per batch in every support-store dialect)."""
    touched = sorted(
        int(r["b"]) for r in dsup.select(kb.alias("b")).distinct().collect()
    )
    manifest = read_manifest(target_dir, "support")
    sup_old = read_store(
        spark, target_dir, "support", buckets=touched, manifest=manifest
    )
    so = (
        sup_old.drop("_kb")
        if sup_old is not None
        else spark.createDataFrame([], dsup.schema)
    ).alias("so")
    # shuffled-hash hint (r17): the merge ran as a sort-merge join —
    # two sorts per batch on state that is guard-checked and
    # re-aggregated anyway; full-outer shuffled-hash (Spark 3.1+)
    # skips both sorts, and the build side is the delta (touched
    # pairs), bounded by batch volume at any corpus size.
    ds_ = dsup.hint("shuffle_hash").alias("ds")
    merged = so.join(
        ds_,
        _ns_cond("so", "ds", group_cols)
        & (F.col(f"so.{value_col}") == F.col(f"ds.{value_col}")),
        "full_outer",
    ).select(
        *[
            F.coalesce(F.col(f"so.{g}"), F.col(f"ds.{g}")).alias(g)
            for g in group_cols
        ],
        F.coalesce(F.col(f"so.{value_col}"), F.col(f"ds.{value_col}")).alias(
            value_col
        ),
        (
            F.coalesce(F.col("so.cnt"), F.lit(0))
            + F.coalesce(F.col("ds.cnt"), F.lit(0))
        ).alias("cnt"),
        # transition bookkeeping, so the distinct-count dialects read
        # the OLD counts from THIS join instead of re-reading the
        # touched buckets and joining a second time (r16): the
        # pre-merge count, and whether the DELTA touched this pair
        # (sp-only rows must not feed the transition sums — and a
        # NULL-group pair is a legitimate delta pair, so the flag
        # rides the join rather than re-deriving membership).
        # `_write_bucketed_support` drops both before the store write.
        F.coalesce(F.col("so.cnt"), F.lit(0)).alias("_old"),
        F.col("ds.cnt").isNotNull().alias("_ds"),
    ).localCheckpoint(eager=True)
    stats = (
        merged.groupBy(kb.alias("_kb"))
        .agg(
            F.min("cnt").alias("m"),
            F.count(F.when(F.col("cnt") > 0, 1)).alias("c"),
        )
        .collect()
    )
    worst = min((r["m"] for r in stats), default=None)
    if worst is not None and worst < 0:
        raise RuntimeError(
            f"{tag} sink: a support count went NEGATIVE ({worst}) — the "
            "log retracted a (group, value) it never inserted (bad "
            "before-image?); refusing to apply"
        )
    counts = [r for r in stats if r["c"] > 0]
    return merged, touched, manifest, counts


def _write_bucketed_support(
    spark,
    target_dir: str,
    stage: str,
    merged: DataFrame,
    kb,
    touched: list,
    manifest: dict | None,
    batch_id: int,
    counts=None,
) -> None:
    """Commit the merged support's touched buckets to the ``support``
    store (zero-count rows dropped — indistinguishable from absent for
    every consumer of a support multiset); untouched buckets carry as
    manifest rows. ``counts`` (from `_merge_bucketed_support`'s guard
    job) is this exact delta's per-bucket row tally, so the commit
    skips its own count job."""
    write_store_delta(
        spark,
        merged.filter(F.col("cnt") > 0)
        .drop("_old", "_ds")  # transition bookkeeping never hits the store
        .withColumn("_kb", kb),
        target_dir,
        "support",
        stage,
        batch_id=batch_id,
        touched=touched,
        manifest=manifest,
        counts=counts,
    )


def _check_layout(meta: dict, tag: str, key: str, configured) -> None:
    """Fail-loud layout guard for every sink whose standing state has
    a layout the reader assumes: the committed layout parameter ``key``
    (e.g. ``n_buckets`` — the committed ``_kb`` values are
    pmod(hash(...), n_buckets-at-write-time) — an index's
    ``k_cells`` / ``pq_layout`` / ``loc_buckets``, or the declared
    table schemas the EPE monthly refresh reads with) rides
    ``_ivm_meta.json``, and resuming a target with a DIFFERENT value
    (config drift, changed default) would silently misread the layout
    — touched-bucket filters load the wrong rows, old counts read as
    zero, and the state corrupts in ways the value-level guards cannot
    see. Targets written before the field existed pass (None) and
    adopt the configured value on their next commit."""
    committed = meta.get(key)
    if committed is not None and committed != configured:
        raise RuntimeError(
            f"{tag} sink: target was committed with {key}={committed} "
            f"but the sink is configured with {key}={configured} — the "
            "stored layout would be misread (wrong touched-bucket "
            "filters, spurious transitions, missing columns read as "
            "NULL); use the committed value or rebuild the target"
        )


def _check_image_bucketing(meta: dict, r_join: str, s_join: str,
                           tag: str) -> None:
    """Join-column twin of `_check_layout`: the join-view
    sinks bucket their standing images by the JOIN column's hash, so
    resuming a target with DIFFERENT r_join/s_join would prune the
    wrong buckets in the bilinear Δ-terms — a corruption the
    value-level guards cannot see (matches silently go missing, no
    count goes negative). The sinks commit ``image_bucketing``
    inside ``_ivm_meta.json``; targets written before the field
    existed pass (None) and adopt the configured columns on their
    next commit."""
    committed_bk = meta.get("image_bucketing")
    if committed_bk is not None and committed_bk != [r_join, s_join]:
        raise RuntimeError(
            f"{tag} sink: target images were bucketed by "
            f"{committed_bk} but the sink is configured with "
            f"[{r_join!r}, {s_join!r}] — the stored layout would be "
            "misread; use the committed columns or rebuild the target"
        )


def _key_index_guard_and_rewrite(
    spark,
    target_dir: str,
    kidx_store: str,
    stage: str,
    batch_id: int,
    *,
    keys: list[str],
    n_buckets: int,
    ops_df: DataFrame,
    insert_first_keys: DataFrame,
    batch_keys: DataFrame,
    upsert_keys: DataFrame,
    image_thunk,
    tag: str,
) -> None:
    """Primary-KEY index sidecar shared by the sinks that keep a
    standing image bucketed by something OTHER than the key (join
    value, group hash): every key once, bucketed by key hash (the
    bucket column reuses ``_kb`` so the manifest store helpers
    apply), committed in the caller's atomic swap. Makes the
    insert-over-present check EXACT — an I claiming attributes that
    hash to a different image bucket is invisible to image-side
    checks but present here — at touched-key-bucket cost. Backfills
    itself once from ``image_thunk()`` (the committed image) if absent
    (the swap drops it
    while the caller's verification is off, so flipping verification
    back on re-backfills cleanly). RAISES on any first-op insert
    whose key the index already holds; otherwise rewrites the touched
    key-buckets (keys with any op drop out, final upserts re-enter);
    untouched key-buckets carry as manifest rows.

    ``insert_first_keys``: keys whose EARLIEST op in the batch is I;
    ``batch_keys``: every key with any op; ``upsert_keys``: keys whose
    LAST op is I/U. All delta-sized."""
    kk = F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    touched_kk = {
        int(r["b"]) for r in ops_df.select(kk.alias("b")).distinct().collect()
    }
    kidx_manifest = read_manifest(target_dir, kidx_store)
    linkable = store_has_files(kidx_manifest)
    image = None if linkable else image_thunk()
    if linkable:
        old_keymap = read_store(
            spark,
            target_dir,
            kidx_store,
            buckets=sorted(touched_kk),
            manifest=kidx_manifest,
        )
        if old_keymap is None:
            old_keymap = spark.createDataFrame(
                [], ops_df.select(*keys, F.lit(0).alias("_kb")).schema
            )
    elif image is not None:
        # one-time backfill: derive the full key index from the
        # committed image (image-sized scan, ONCE; every later batch
        # is touched-bucket-sized again). The thunk defers the
        # full-store DataFrame construction — over thousands of pool
        # files the file-index build alone is a per-batch driver cost
        # the steady state must not pay.
        old_keymap = image.select(*keys).withColumn("_kb", kk)
    else:
        old_keymap = spark.createDataFrame(
            [], ops_df.select(*keys, F.lit(0).alias("_kb")).schema
        )
    n_cross = (
        insert_first_keys.join(old_keymap.select(*keys), list(keys), "inner")
        .count()
    )
    if n_cross:
        raise RuntimeError(
            f"{tag} log DIVERGES from the key index: {n_cross} insert(s) "
            "over a key the index already holds (possibly stored in a "
            "different bucket) — refusing to apply; emit U (or D+I) for "
            "existing keys or fix the log"
        )
    km_survivors = old_keymap.join(
        F.broadcast(batch_keys), list(keys), "left_anti"
    ).select(*keys, "_kb")
    km_upserts = upsert_keys.withColumn("_kb", kk)
    write_store_delta(
        spark,
        km_survivors.unionByName(km_upserts),
        target_dir,
        kidx_store,
        stage,
        batch_id=batch_id,
        touched=touched_kk,
        manifest=kidx_manifest if linkable else None,
    )


def cdc_tombstone_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    key_cols: list[str],
    op_col: str,
    seq_col: str,
    group_cols: list[str],
    sum_cols: list[str],
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """CDC from a changelog WITHOUT before-images — the Kafka
    compacted-topic shape, the third real-world input after full
    snapshots (``cdc_retraction_foreach_batch``) and before-image op
    logs (``cdc_oplog_foreach_batch``): rows are 'U' upserts carrying
    only the AFTER image (the producer does not know insert from
    update) or 'D' tombstones carrying only the KEY. Retractions must
    therefore be manufactured from a STANDING KEYED IMAGE the sink
    itself maintains — and at 100 TB that image is the cost center,
    so it is stored partitioned by ``_kb = pmod(hash(key), n_buckets)``
    and each batch touches ONLY the buckets its keys hash to:

    - the old-image lookup scans the image with a ``_kb IN (touched)``
      partition filter (touched = distinct batch-key buckets, a
      ≤ n_buckets collect);
    - the image REWRITE materializes only the touched buckets
      (survivors ⊎ upserts) as fresh immutable pool files; every
      untouched bucket carries through as ONE manifest row
      (`streaming.manifest` — the offline equivalent of a table
      format re-pointing unchanged data files), and the manifest
      commits in the usual atomic swap of image + view + meta.

    Per-batch cost: delta-sized validation + last-op dedup, touched-
    bucket I/O on both the lookup and the rewrite, a |groups|-row view
    merge, and O(#untouched files) metadata — never full-image-sized
    unless the batch's keys genuinely touch every bucket.

    Within a batch, a key may carry several ops; signed algebra makes
    intermediate states cancel, so the sink applies the NET effect:
    retract the stored image (if the key has one), insert the LAST op
    by ``seq_col`` if it is an upsert (`_tombstone_changes`). A
    tombstone for an absent key retracts nothing (deletes are
    idempotent — compaction semantics). Exactly-once and the
    ``last_seq`` guards as the op-log sink; contracts otherwise as
    well (deterministic business rendering, integer ``sum_cols``; n=0
    groups persist).

    Returns the final view as a batch DataFrame.
    """
    business = list(group_cols) + list(sum_cols)

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        changes = _tombstone_changes(
            spark, target_dir, batch_df, meta, key_cols=key_cols,
            op_col=op_col, seq_col=seq_col, business=business,
            n_buckets=n_buckets, tag="cdc_tombstone",
        )
        if changes is None:
            return None
        signed, fields, write_image = changes
        write_image(stage, batch_id)
        _sum_view_refresh(spark, target_dir, stage, signed, group_cols, sum_cols)
        return fields

    _exactly_once_sink(
        oplog, target_dir, "cdc_tombstone", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return oplog.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def _combine_n_d(dn: DataFrame, dd: DataFrame, group_col: str) -> DataFrame:
    """Zip the row-count delta and the distinct-count delta into one
    view delta row per group (null-safe full outer — either side may
    miss a group the other touched)."""
    dnn, ddd = dn.alias("dn"), dd.alias("dd")
    return dnn.join(
        ddd,
        F.col(f"dn.{group_col}").eqNullSafe(F.col(f"dd.{group_col}")),
        "full_outer",
    ).select(
        F.coalesce(F.col(f"dn.{group_col}"), F.col(f"dd.{group_col}")).alias(
            group_col
        ),
        F.coalesce(F.col("dn.n"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.col("dd.d"), F.lit(0)).cast("bigint").alias("d"),
    )


def distinct_count_view_foreach_batch(
    snapshots: DataFrame,
    target_dir: str,
    *,
    key_cols: list[str],
    version_col: str,
    group_col: str,
    value_col: str,
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of a COUNT(DISTINCT) view — the
    DUPLICATE-SENSITIVE aggregate composed into the standing sink
    (the streaming twin of ``catalog.evolve_q.ivm_distinct_count_support``):
    COUNT(DISTINCT value) is not additive (a retraction only lowers
    the count when it removes the LAST supporting row), so the sink
    keeps TWO levels of state — a support table γ(group, value → cnt),
    which IS additive and absorbs signed deltas like any count, and
    the view (group → n rows, d distinct values), whose ``d`` moves
    only on support 0↔positive TRANSITIONS.

    The stream carries full snapshot versions of a keyed table (the
    CDC sink's input shape); per version: one digest scan of the
    incoming image (per-bucket count + order-free row-hash sum,
    compared DRIVER-side against the digests the last commit stored),
    then the keyed hash-compare diff over ONLY the buckets whose
    digest moved — unchanged buckets never shuffle. The net signed
    rows feed the SAME ``_distinct_state_refresh`` the op-log and
    tombstone dialects use: support deltas (delta-sized) join each
    touched support's OLD count via manifest file selection on the
    bucketed ``support`` store, the view's ``d`` moves on 0↔positive
    transitions with ``n`` additive. The target holds THREE state
    levels committed in ONE atomic swap — the ``snapimg`` manifest
    store (keyed image + digests), the bucketed ``support`` store,
    and ``view/`` — so a crash can never apply a version to one
    state level but not the other (`_exactly_once_sink`, plus the
    monotonic-version guard). Support rows that reach zero are dropped by the
    shared refresh (indistinguishable from absent in the transition
    rule); n=0 view groups remain — finalize with ``n > 0``
    downstream.

    Returns the final view as a batch DataFrame.
    """
    sup_kb = F.pmod(F.hash(F.col(group_col), F.col(value_col)), F.lit(n_buckets))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        changes = _snapshot_changes(
            spark, target_dir, batch_df, meta, key_cols=key_cols,
            version_col=version_col, business=[group_col, value_col],
            n_buckets=n_buckets,
        )
        if changes is None:
            return None
        signed, fields, dpi = changes
        # net signed rows across the batch's versions apply in ONE
        # support refresh: the view's d is a function of the FINAL
        # support counts, so sequential per-version transitions and a
        # single net-delta application land on the same state.
        _distinct_state_refresh(
            spark, target_dir, stage, signed, group_col, value_col,
            sup_kb, "distinct_count", batch_id,
        )
        dpi.commit(stage, batch_id)
        return fields

    _exactly_once_sink(
        snapshots, target_dir, "distinct_count", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return snapshots.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def _distinct_state_refresh(
    spark,
    target_dir: str,
    stage: str,
    signed: DataFrame,
    group_col: str,
    value_col: str,
    kb,
    tag: str,
    batch_id: int,
) -> None:
    """The two-level distinct-count refresh every changelog dialect
    shares, from SIGNED business rows (however the dialect produced
    them — before-images from the log, or retractions manufactured
    from a standing image): aggregate to the row-count delta and the
    net support delta, read the standing support PRUNED to the
    delta's ``kb`` buckets (manifest file selection), move the view's
    ``d`` on 0↔positive transitions and ``n`` additively, merge the
    touched buckets' support (zero-count rows dropped; a NEGATIVE
    count RAISES — the support table is the divergence witness), and
    commit the ``support`` store's manifest and ``view/`` into the
    caller's stage."""
    # ONE pass over the signed rows: the (group, value) partial agg is
    # the only corpus-delta-sized work, and both downstream deltas
    # derive from its (touched-pairs-sized) result — dn by re-summing
    # the per-pair counts (Σ over values of Σ_sign ≡ Σ_sign per group,
    # exact bigint), dsup by filtering. The former shape materialized
    # the ROW-LEVEL signed delta (localCheckpoint) and aggregated it
    # twice; delta-sized vs pair-sized is the difference on a
    # bootstrap-like batch.
    dsup0 = (
        signed.groupBy(group_col, value_col)
        .agg(F.sum("_sign").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    dn = dsup0.groupBy(group_col).agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    dsup = dsup0.filter(
        F.col(value_col).isNotNull() & (F.col("cnt") != 0)
    )
    merged, touched, manifest, counts = _merge_bucketed_support(
        spark, target_dir, dsup, [group_col], value_col, kb, tag
    )
    # Per-group COUNT(DISTINCT) delta straight from the merge's
    # transition bookkeeping (r16 — formerly a SECOND read of the
    # touched buckets + a second delta⋈support join): each
    # delta-touched (group, value) contributes +1 on a 0→positive
    # transition of its support count, −1 on positive→0, 0 otherwise;
    # `_ds` excludes same-bucket hash neighbors the delta never
    # touched (their old == new contributes 0 anyway — the flag keeps
    # the row set, and therefore the emitted groups, bit-identical to
    # the former join over the delta). A zero-count stored row and an
    # absent row behave identically here, which is what lets the
    # bucketed sink drop zeros; a NULL group is a legitimate group
    # (the merge join is null-safe on it).
    dd = merged.filter(F.col("_ds")).groupBy(group_col).agg(
        F.sum(
            F.when((F.col("cnt") > 0) & (F.col("_old") == 0), 1)
            .when((F.col("cnt") == 0) & (F.col("_old") > 0), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("d"),
    )
    dview = _combine_n_d(dn, dd, group_col)
    view = _additive_merge(
        _committed_view(spark, target_dir), dview, [group_col], ["n", "d"]
    )
    _write_bucketed_support(
        spark, target_dir, stage, merged, kb, touched, manifest, batch_id,
        counts=counts,
    )
    view.write.mode("overwrite").parquet(os.path.join(stage, "view"))


def distinct_count_oplog_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    op_col: str,
    seq_col: str,
    group_col: str,
    value_col: str,
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """TRUE-DELTA COUNT(DISTINCT) maintenance — the op-log input shape
    composed into the support-table algebra, removing both costs that
    keep the snapshot-fed twin (``distinct_count_view_foreach_batch``)
    snapshot-bound: the stream carries a before-image operation log
    (``op_col`` ∈ {'I','U','D'}, after-images on I/U, ``prev_<c>``
    before-images on U/D, strictly increasing ``seq_col``), so there
    is NO landed snapshot and NO keyed diff — the signed rows come
    straight from the log (I → after +1, D → before −1, U → both) and
    every per-batch cost tracks the CHANGE volume. No standing keyed
    image exists either: the only standing state is the two-level
    distinct-count state itself —

    - ``support/``: the additive γ(group, value → cnt) multiset,
      stored PARTITIONED by ``_kb = pmod(hash(group, value),
      n_buckets)``. Each batch's support deltas touch only the buckets
      their (group, value) pairs hash to: the old-count lookup reads
      exactly the touched buckets' manifest files, the rewrite
      materializes only the touched buckets, and untouched buckets
      carry through the atomic commit as manifest rows (with the
      shared capped over-threshold compaction) — so support I/O
      tracks the delta,
      not the corpus-distinct-sized support. Support rows whose count
      reaches zero are DROPPED (a zero row and an absent row are
      indistinguishable to the transition rule, and dropping keeps
      buckets from accumulating dead values); a count going NEGATIVE
      means the log retracted a value it never inserted and RAISES —
      the support table itself is this sink's divergence witness.
    - ``view/``: one (group → n rows, d distinct values) row per
      group, |groups|-sized. ``n`` moves additively over ALL rows
      (COUNT(*)); ``d`` moves only on support 0↔positive transitions
      (COUNT(DISTINCT value) ignores NULL values per SQL, so
      NULL-valued rows feed ``n`` but never the support). n=0 groups
      persist; finalize with ``n > 0``.

    Signed support deltas commute, so batch-split invariance holds
    algebraically (the transition is a function of the committed old
    count and the batch's NET delta — pytest-pinned along with the
    1→0→1 round trip). Exactly-once (`_exactly_once_sink`) commits
    both state levels in one swap; the ``last_seq`` guards and
    producer contracts are ``cdc_oplog_foreach_batch``'s (exact
    before-images, key changes as D+I, deterministic value rendering).

    Scale: per batch — one delta-sized validation agg, one
    (group, value) partial agg over the signed rows, a touched-
    support-bucket join + rewrite, a |groups|-row view merge, and
    ONE manifest write regardless of bucket count. SCALE.md carries the
    fixed-delta isolation row: refresh cost is flat in corpus size,
    which the snapshot-fed twin's landing + diff floor cannot be.

    Returns the final view as a batch DataFrame.
    """
    kb = F.pmod(F.hash(F.col(group_col), F.col(value_col)), F.lit(n_buckets))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        changes = _oplog_changes(
            batch_df, meta, op_col=op_col, seq_col=seq_col,
            business=[group_col, value_col],
            tag="distinct_oplog",
        )
        if changes is None:
            return None
        signed, fields = changes
        _distinct_state_refresh(
            batch_df.sparkSession, target_dir, stage, signed,
            group_col, value_col, kb, "distinct_oplog", batch_id,
        )
        return fields

    _exactly_once_sink(
        oplog, target_dir, "distinct_oplog", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return oplog.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def distinct_count_tombstone_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    key_cols: list[str],
    op_col: str,
    seq_col: str,
    group_col: str,
    value_col: str,
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """COUNT(DISTINCT) maintenance from a changelog WITHOUT
    before-images — the compacted-topic dialect composed with the
    support-table algebra, filling the input-shape × aggregate-class
    matrix cell between ``cdc_tombstone_foreach_batch`` (tombstones →
    additive view) and ``distinct_count_oplog_foreach_batch``
    (before-image log → distinct view): rows are 'U' upserts carrying
    only the AFTER image or 'D' tombstones carrying only the KEY, so
    the retraction values the transition algebra needs are
    MANUFACTURED from a standing keyed image the sink maintains —
    bucketed by KEY hash, looked up and rewritten only where the
    batch's keys land, untouched buckets carried through the
    commit as manifest rows (the ``cdc_tombstone`` image machinery,
    unchanged).

    Per batch: last-op-per-key dedup (intermediate states cancel);
    the stored rows of the batch's keys become −1 signed rows (an
    upsert replaces: retract old THEN insert new; a tombstone only
    retracts; a tombstone for an absent key retracts nothing —
    compaction semantics), the final upserts become +1 rows, and the
    SAME shared two-level refresh as the other dialects takes over
    (``_distinct_state_refresh``: bucketed support, 0↔positive
    transitions, zero rows dropped, negative counts raise). Target
    layout in ONE atomic swap: ``image/`` (key-hash-bucketed),
    ``support/`` (hash(group, value)-bucketed), ``view/``,
    ``_ivm_meta.json``; the changelog producer is
    `_tombstone_changes`.

    Scale: per batch — delta-sized dedup/validation, touched
    KEY-bucket image I/O (lookup + rewrite), touched SUPPORT-bucket
    I/O, a |groups|-row view merge, two manifest writes; the corpus
    is never re-aggregated and no snapshot ever lands.

    Returns the final view as a batch DataFrame.
    """
    sup_kb = F.pmod(F.hash(F.col(group_col), F.col(value_col)), F.lit(n_buckets))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        changes = _tombstone_changes(
            spark, target_dir, batch_df, meta, key_cols=key_cols,
            op_col=op_col, seq_col=seq_col, business=[group_col, value_col],
            n_buckets=n_buckets, tag="distinct_tombstone",
        )
        if changes is None:
            return None
        signed, fields, write_image = changes
        _distinct_state_refresh(
            spark, target_dir, stage, signed, group_col, value_col,
            sup_kb, "distinct_tombstone", batch_id,
        )
        write_image(stage, batch_id)
        return fields

    _exactly_once_sink(
        oplog, target_dir, "distinct_tombstone", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return oplog.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def _minmax_state_refresh(
    spark,
    target_dir: str,
    stage: str,
    signed: DataFrame,
    group_cols: list[str],
    value_col: str,
    kb,
    tag: str,
    batch_id: int,
) -> None:
    """The MIN/MAX support-multiset refresh every changelog dialect
    shares, from SIGNED business rows (however the dialect produced
    them — before-images from the log, or retractions manufactured
    from a standing keyed image): aggregate to the row-count delta and
    the net support delta, merge the touched GROUP-hash buckets
    (negative counts RAISE — divergence witness), re-derive extrema
    for exactly the support-touched groups (their support is complete
    inside the touched buckets because the bucket key is the group
    hash; untouched groups' stored extrema are never read), and commit
    the ``support`` store manifest + ``view/`` into the caller's
    stage."""
    # ONE pass over the signed rows (same shape as
    # `_distinct_state_refresh`, r16): aggregate to (group, value)
    # first, derive dn by re-summing per-pair counts (exact bigint)
    # and dsup by filter — no row-level materialization, no second
    # full pass.
    dsup0 = (
        signed.groupBy(*group_cols, value_col)
        .agg(F.sum("_sign").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    dn = dsup0.groupBy(*group_cols).agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    dsup = dsup0.filter(
        F.col(value_col).isNotNull() & (F.col("cnt") != 0)
    )
    merged, touched, m_sup, counts = _merge_bucketed_support(
        spark, target_dir, dsup, list(group_cols), value_col, kb, tag
    )
    live = merged.filter(F.col("cnt") > 0)
    # merged covers whole touched BUCKETS (hash neighbors included);
    # extrema re-derivation is restricted to the TOUCHED GROUPS —
    # their support is complete in merged because the bucket key is
    # the group hash
    tg = dsup.select(*group_cols).distinct().localCheckpoint(eager=True)
    extrema = (
        live.alias("lv")
        .join(F.broadcast(tg.alias("tg")), _ns_cond("lv", "tg", group_cols), "left_semi")
        .groupBy(*group_cols)
        .agg(
            F.min(value_col).alias("mn"),
            F.max(value_col).alias("mx"),
        )
    )
    view_old = _committed_view(spark, target_dir)
    if view_old is None:
        view_old = spark.createDataFrame(
            [],
            dn.select(
                *group_cols,
                F.col("n"),
                F.lit(None).cast(dict(dsup.dtypes)[value_col]).alias("mn"),
                F.lit(None).cast(dict(dsup.dtypes)[value_col]).alias("mx"),
            ).schema,
        )
    vo, dnn = view_old.alias("vo"), dn.alias("dn")
    base = vo.join(dnn, _ns_cond("vo", "dn", group_cols), "full_outer").select(
        *[
            F.coalesce(F.col(f"vo.{g}"), F.col(f"dn.{g}")).alias(g)
            for g in group_cols
        ],
        (
            F.coalesce(F.col("vo.n"), F.lit(0))
            + F.coalesce(F.col("dn.n"), F.lit(0))
        ).cast("bigint").alias("n"),
        F.col("vo.mn").alias("mn"),
        F.col("vo.mx").alias("mx"),
    )
    bs, ex, tg2 = (
        base.alias("bs"),
        extrema.alias("ex"),
        tg.select(*group_cols, F.lit(True).alias("_tch")).alias("tg"),
    )
    view = (
        bs.join(F.broadcast(tg2), _ns_cond("bs", "tg", group_cols), "left")
        .join(ex, _ns_cond("bs", "ex", group_cols), "left")
        .select(
            *[F.col(f"bs.{g}").alias(g) for g in group_cols],
            F.col("bs.n").alias("n"),
            # support-touched groups take the re-derived extrema
            # (NULL when their support emptied); untouched groups
            # keep their stored values unread
            F.when(F.col("tg._tch"), F.col("ex.mn"))
            .otherwise(F.col("bs.mn"))
            .alias("mn"),
            F.when(F.col("tg._tch"), F.col("ex.mx"))
            .otherwise(F.col("bs.mx"))
            .alias("mx"),
        )
    )
    _write_bucketed_support(
        spark, target_dir, stage, merged, kb, touched, m_sup, batch_id,
        counts=counts,
    )
    view.write.mode("overwrite").parquet(os.path.join(stage, "view"))


def minmax_view_oplog_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    op_col: str,
    seq_col: str,
    group_cols: list[str],
    value_col: str,
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming MIN/MAX maintenance from a before-image op log — the
    last textbook aggregate class composed into the standing-sink
    family (the streaming twin of the batch
    ``catalog.evolve_q.ivm_minmax_support``): a deletion only moves a
    group's MIN/MAX when it EVICTS the current extremum, and the
    replacement is whatever survives — information the view itself no
    longer holds — so the sink keeps a SUPPORT MULTISET γ(group,
    value → cnt), additive like any count, and re-derives extrema
    from it for exactly the groups each batch touches.

    The support is stored PARTITIONED by ``_kb = pmod(hash(group),
    n_buckets)`` — by GROUP hash, not (group, value), so a touched
    group's ENTIRE support colocates in one bucket and the extremum
    re-derivation reads complete groups by construction. Per batch:
    the signed rows come straight from the log (I → after +1, D →
    before −1, U → both; NULL values feed the row count but never the
    support — SQL MIN/MAX ignore NULLs), aggregate to net support
    deltas (delta-sized), the touched buckets merge them (untouched
    buckets carry through the atomic commit as manifest rows, with
    the shared capped over-threshold compaction), and the view
    updates in two parts:
    ``n`` moves additively for every delta group, while ``mn``/``mx``
    are RECOMPUTED from merged support for support-touched groups
    only — untouched groups keep their stored extrema unread. Support
    counts reaching zero are dropped; a NEGATIVE count means the log
    retracted a value it never inserted and RAISES (the support table
    is the divergence witness). Groups whose row count reaches zero
    persist as (n=0, NULL, NULL) rows — additive state never forgets;
    finalize with ``n > 0``.

    Exactly-once (`_exactly_once_sink`), the ``last_seq`` guards and
    producer contracts as ``cdc_oplog_foreach_batch``. Batch-split invariance
    holds because support deltas commute and extremum re-derivation
    depends only on the committed support plus the batch's net delta
    (pytest-pinned along with extremum eviction and the
    empty-group round trip).

    Scale: per batch — delta-sized validation + partial agg, a
    touched-GROUP-bucket support merge + rewrite, an extremum
    re-aggregation over touched groups' support (|touched groups| ×
    |distinct values per group|, never corpus-sized), a |groups|-row
    view merge, and ONE manifest write. Target layout (one atomic
    swap): the ``support`` store manifest (data files in the pool),
    ``view/``, ``_ivm_meta.json``.

    Returns the final view as a batch DataFrame.
    """
    kb = F.pmod(F.hash(*[F.col(g) for g in group_cols]), F.lit(n_buckets))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        changes = _oplog_changes(
            batch_df, meta, op_col=op_col, seq_col=seq_col,
            business=list(group_cols) + [value_col],
            tag="minmax_oplog",
        )
        if changes is None:
            return None
        signed, fields = changes
        _minmax_state_refresh(
            batch_df.sparkSession, target_dir, stage, signed,
            group_cols, value_col, kb, "minmax_oplog", batch_id,
        )
        return fields

    _exactly_once_sink(
        oplog, target_dir, "minmax_oplog", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return oplog.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def minmax_view_tombstone_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    key_cols: list[str],
    op_col: str,
    seq_col: str,
    group_cols: list[str],
    value_col: str,
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """MIN/MAX maintenance from a changelog WITHOUT before-images —
    the compacted-topic dialect composed with the support-multiset
    algebra, filling the input-shape × aggregate-class matrix cell
    between ``distinct_count_tombstone_foreach_batch`` (tombstones →
    distinct view) and ``minmax_view_oplog_foreach_batch``
    (before-image log → MIN/MAX view): rows are 'U' upserts carrying
    only the AFTER image or 'D' tombstones carrying only the KEY, so
    the retraction (group, value) pairs the extremum algebra needs are
    MANUFACTURED from a standing keyed image the sink maintains —
    bucketed by KEY hash, looked up and rewritten only where the
    batch's keys land (the ``cdc_tombstone`` image machinery,
    unchanged, behind the manifest store).

    Per batch: last-op-per-key dedup (intermediate states cancel); the
    stored rows of the batch's keys become −1 signed rows, the final
    upserts +1 rows, and the SAME shared refresh as the before-image
    dialect takes over (``_minmax_state_refresh``: group-hash-bucketed
    support, touched-group extremum re-derivation, negative counts
    RAISE). Target layout in ONE atomic swap: the ``image`` store
    (key-hash-bucketed manifest), the ``support`` store (group-hash-
    bucketed manifest), ``view/``, ``_ivm_meta.json``; the changelog
    producer is `_tombstone_changes`. The two dialects are pinned
    hash-identical on the same carving by the catalog query + oracle.

    Scale: per batch — delta-sized dedup/validation, touched
    KEY-bucket image I/O, touched GROUP-bucket support I/O, an
    extremum re-aggregation over touched groups' support, a
    |groups|-row view merge, two manifest writes; the corpus is never
    re-aggregated and no snapshot ever lands.

    Returns the final view as a batch DataFrame.
    """
    sup_kb = F.pmod(F.hash(*[F.col(g) for g in group_cols]), F.lit(n_buckets))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        changes = _tombstone_changes(
            spark, target_dir, batch_df, meta, key_cols=key_cols,
            op_col=op_col, seq_col=seq_col,
            business=list(group_cols) + [value_col],
            n_buckets=n_buckets, tag="minmax_tombstone",
        )
        if changes is None:
            return None
        signed, fields, write_image = changes
        _minmax_state_refresh(
            spark, target_dir, stage, signed, group_cols, value_col,
            sup_kb, "minmax_tombstone", batch_id,
        )
        write_image(stage, batch_id)
        return fields

    _exactly_once_sink(
        oplog, target_dir, "minmax_tombstone", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return oplog.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def _topk_state_refresh(
    spark,
    target_dir: str,
    stage: str,
    batch_id: int,
    new_touched: DataFrame,
    tg: DataFrame,
    touched: list,
    m_img: dict | None,
    *,
    group_cols: list[str],
    key_cols: list[str],
    value_col: str,
    k: int,
) -> None:
    """The affected-group top-k refresh both top-k sinks share:
    ``new_touched`` (the post-batch image rows of the ``touched``
    group-hash buckets) re-ranks for exactly the affected groups
    ``tg`` — ``row_number() OVER (PARTITION BY group ORDER BY value
    DESC NULLS LAST, key)`` ≤ k, the repo's deterministic tie-break.
    The view is bucketed exactly like the image, so only the touched
    buckets rewrite: their untouched-GROUP rows pass through
    (anti-join), affected groups take the recompute. Both stores
    commit their touched buckets into the stage; untouched buckets
    carry as manifest rows."""
    rank_w = Window.partitionBy(*group_cols).orderBy(
        F.desc_nulls_last(value_col), *[F.col(c) for c in key_cols]
    )
    recomputed = (
        new_touched.alias("nt")
        .join(F.broadcast(tg.alias("tg")), _ns_cond("nt", "tg", group_cols), "left_semi")
        .select(
            *group_cols,
            F.row_number().over(rank_w).cast("bigint").alias("rnk"),
            *key_cols,
            value_col,
            "_kb",
        )
        .filter(F.col("rnk") <= k)
    )
    m_view = read_manifest(target_dir, "view")
    new_view = recomputed
    old_view = read_store(
        spark, target_dir, "view", buckets=touched, manifest=m_view
    )
    if old_view is not None:
        new_view = old_view.alias("ov").join(
            F.broadcast(tg.alias("tg")), _ns_cond("ov", "tg", group_cols), "left_anti"
        ).unionByName(recomputed)
    write_store_delta(
        spark, new_touched, target_dir, "image", stage,
        batch_id=batch_id, touched=touched, manifest=m_img,
    )
    write_store_delta(
        spark, new_view, target_dir, "view", stage,
        batch_id=batch_id, touched=touched, manifest=m_view,
    )


def topk_view_tombstone_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    key_cols: list[str],
    op_col: str,
    seq_col: str,
    group_cols: list[str],
    value_col: str,
    k: int,
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """TOP-K maintenance from a changelog WITHOUT before-images — the
    compacted-topic dialect composed with the affected-group-recompute
    class, CLOSING the input-dialect × aggregate matrix (tombstones
    now feed all four classes: additive, COUNT(DISTINCT), MIN/MAX,
    top-k): rows are 'U' upserts carrying only the AFTER image or 'D'
    tombstones carrying only the KEY; upsert-over-absent is an insert,
    tombstone-for-absent a no-op (compaction semantics).

    The structural twist this cell forces, and the reason it is not a
    trivial variation: the standing image must be bucketed by GROUP
    hash (affected-group recompute needs every touched group complete
    inside the touched buckets), but a tombstone names only a KEY — so
    the sink cannot know WHICH image bucket holds the victim row. The
    key-index sidecar therefore graduates from divergence guard to
    LOCATOR: a standing ``keyloc`` store (key → stored image bucket),
    bucketed by KEY hash, resolves each batch key's image bucket at
    touched-KEY-bucket cost BEFORE any image I/O happens; the image
    read then prunes to located-old ∪ upsert-group buckets. The
    locator commits in the same atomic swap as the image, and a
    locator hit whose key the pruned image does not actually hold (or
    vice versa) RAISES — the two standing tables are each other's
    divergence witness.

    Target layout (one atomic swap): ``image`` store (key cols +
    group cols + value, group-hash buckets), ``view`` store (group
    cols + ``rnk`` + key cols + value, bucketed like the image,
    touched-bucket rewritten), ``keyloc`` store (key cols + img_kb,
    key-hash buckets), ``_ivm_meta.json``. Rank semantics, tie-break,
    emptied-group eviction, and batch-split invariance are identical
    to the op-log twin — the catalog pins both dialects hash-equal on
    the same carving.

    Scale: per batch — delta-sized dedup/validation, touched
    KEY-bucket locator I/O, touched GROUP-bucket image+view I/O, a
    rank window over |affected groups| × |group size|, three manifest
    writes; no snapshot ever lands and no before-image is required
    from the producer (the shape a compacted key-value topic actually
    provides).

    Returns the final view as a batch DataFrame (without the bucket
    column).
    """
    business = list(group_cols) + [value_col]
    extra = [c for c in business if c not in key_cols]
    kb = F.pmod(F.hash(*[F.col(g) for g in group_cols]), F.lit(n_buckets))
    key_kb = F.pmod(F.hash(*[F.col(c) for c in key_cols]), F.lit(n_buckets))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        op = F.col(op_col)
        v = _validate_oplog_batch(
            batch_df, op_col, seq_col, ("U", "D"),
            meta.get("last_seq"), "topk_tombstone",
        )
        if v is None:
            return None
        last_ops = (
            _op_per_key(batch_df, key_cols, seq_col)
            .select(*key_cols, op_col, *extra)
            .localCheckpoint(eager=True)
        )
        keyset = last_ops.select(*key_cols)
        touched_kk = sorted(
            int(r["b"])
            for r in last_ops.select(key_kb.alias("b")).distinct().collect()
        )
        # LOCATE: which image buckets hold the batch keys' stored rows
        m_loc = read_manifest(target_dir, "keyloc")
        loc_old = read_store(
            spark, target_dir, "keyloc", buckets=touched_kk, manifest=m_loc
        )
        if loc_old is None:
            loc_old = spark.createDataFrame(
                [],
                last_ops.select(
                    *key_cols,
                    F.lit(0).alias("img_kb"),
                    F.lit(0).alias("_kb"),
                ).schema,
            )
        hit = loc_old.join(F.broadcast(keyset), key_cols).localCheckpoint(
            eager=True
        )
        upserts = last_ops.filter(op == "U").localCheckpoint(eager=True)
        touched_img = sorted(
            {int(r["b"]) for r in hit.select(F.col("img_kb").alias("b")).distinct().collect()}
            | {
                int(r["b"])
                for r in upserts.select(kb.alias("b")).distinct().collect()
            }
        )
        m_img = read_manifest(target_dir, "image")
        old_touched = read_store(
            spark, target_dir, "image", buckets=touched_img, manifest=m_img
        )
        if old_touched is None:
            old_touched = spark.createDataFrame(
                [],
                last_ops.select(
                    *key_cols, *extra, F.lit(0).alias("_kb")
                ).schema,
            )
        old_rows = old_touched.join(F.broadcast(keyset), key_cols).localCheckpoint(
            eager=True
        )
        # locator ↔ image divergence witness: every located key must
        # surface in the pruned image and nothing unlocated may. A
        # count compare alone lets offsetting corruptions cancel (key A
        # located-but-unstored + key B stored-but-unlocated in the same
        # batch), so witness per-key with anti-joins in BOTH directions
        # — AND keep the count compare, which is what catches duplicate
        # rows/entries for one key (anti-joins are blind to
        # multiplicity). All four aggregates are delta-sized over the
        # localCheckpointed sides above.
        only_loc = hit.join(old_rows, key_cols, "left_anti").count()
        only_img = old_rows.join(hit, key_cols, "left_anti").count()
        n_hit, n_img = hit.count(), old_rows.count()
        if only_loc or only_img or n_hit != n_img:
            raise RuntimeError(
                f"topk_tombstone sink: key locator and image DIVERGE — "
                f"{only_loc} located key(s) absent from the stored image, "
                f"{only_img} stored key(s) with no locator entry, "
                f"{n_hit} locator row(s) vs {n_img} stored row(s) among "
                "the batch's keys; the standing state is corrupt, "
                "refusing to apply"
            )
        # affected groups: the stored rows being replaced/deleted plus
        # the upserts' (possibly new) groups
        tg = (
            old_rows.select(*group_cols)
            .unionByName(upserts.select(*group_cols))
            .distinct()
            .localCheckpoint(eager=True)
        )
        survivors = old_touched.join(
            F.broadcast(keyset), key_cols, "left_anti"
        ).select(*key_cols, *extra, "_kb")
        up_img = upserts.select(*key_cols, *extra, kb.alias("_kb"))
        new_touched = survivors.unionByName(up_img).localCheckpoint(eager=True)
        _topk_state_refresh(
            spark, target_dir, stage, batch_id, new_touched, tg, touched_img,
            m_img, group_cols=group_cols, key_cols=key_cols,
            value_col=value_col, k=k,
        )
        loc_survivors = loc_old.join(
            F.broadcast(keyset), key_cols, "left_anti"
        ).select(*key_cols, "img_kb", "_kb")
        loc_upserts = upserts.select(
            *key_cols, kb.cast("int").alias("img_kb"), key_kb.alias("_kb")
        )
        write_store_delta(
            spark,
            loc_survivors.unionByName(loc_upserts),
            target_dir,
            "keyloc",
            stage,
            batch_id=batch_id,
            touched=touched_kk,
            manifest=m_loc,
        )
        return {"last_seq": int(v["hi"])}

    _exactly_once_sink(
        oplog, target_dir, "topk_tombstone", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    out = read_store(oplog.sparkSession, target_dir, "view")
    if out is None:
        raise RuntimeError(
            "topk_tombstone sink: no committed view to return — the stream "
            "applied no batch (or every group emptied)"
        )
    return out.drop("_kb")


def topk_view_oplog_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    key_cols: list[str],
    op_col: str,
    seq_col: str,
    group_cols: list[str],
    value_col: str,
    k: int,
    n_buckets: int = 64,
    verify_before_images: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming TOP-K view maintenance from a before-image op log —
    the affected-group-recompute aggregate class composed into the
    standing-sink family (streaming twin of the batch
    ``catalog.evolve_q.ivm_topk_affected_groups``, completing the
    taxonomy: additive → distinct-count → MIN/MAX → top-k): a delete
    can EVICT a group's #1 and the replacement is the #k+1 the view
    no longer holds, so the sink maintains the group's FULL base rows
    as a standing image — bucketed by GROUP hash (``_kb = pmod(
    hash(group), n_buckets)``), so every touched group's rows are
    complete inside the touched buckets by construction — and
    recomputes the rank window for exactly the groups each batch
    touches.

    Target layout (one atomic swap): ``image/`` (key cols + group
    cols + value, group-hash bucketed; touched-bucket rewrites,
    untouched buckets carried as manifest rows with capped
    over-threshold compaction),
    ``keyidx/`` (the shared primary-key-index sidecar while
    ``verify_before_images`` is on), ``view/`` (group cols + ``rnk``
    + key cols + value, ALSO group-hash bucketed and touched-bucket
    rewritten — at scale k·|groups| is itself too large to rewrite
    per commit), ``_ivm_meta.json``.

    Per batch: ops validate (I/U/D, unique increasing seq); the LAST
    op per primary key decides the image; touched buckets come from
    the before-image's group (U/D) and the after-image's (I/U) — an
    update may MOVE a row between group buckets; the divergence guard
    cross-checks the EARLIEST op per key against the image (U/D must
    exist with a matching before-image digest, I must land on an
    absent key — exact via the key index, including cross-bucket
    claims). The view refresh is kept/recomputed: untouched groups'
    rows pass through untouched (unread outside the touched buckets),
    touched groups re-rank from the post-batch touched-bucket rows
    with ``row_number() OVER (PARTITION BY group ORDER BY value DESC
    NULLS LAST, key)`` ≤ k — the deterministic tie-break the repo
    uses everywhere a rank meets an oracle. Groups emptied of rows
    leave the view (a top-k of nothing is nothing); batch-split
    invariance holds because the final image state, and hence the
    rank, is independent of how ops split across batches
    (pytest-pinned along with eviction and promotion).

    Contracts as the op-log sinks (immutable keys within U — key
    changes are D+I; exact before-images; deterministic rendering).

    Scale: per batch — delta-sized validation/dedup, touched-GROUP-
    bucket image I/O on lookup and rewrite, a rank window over
    |touched groups| × |group size| (never corpus-sized; the regime
    where affected-group recompute wins is sparse deltas over many
    groups), a touched-bucket view rewrite of k·|touched groups|
    rows, and three manifest writes.

    Returns the final view as a batch DataFrame (without the bucket
    column).
    """
    business = list(group_cols) + [value_col]
    extra = [c for c in business if c not in key_cols]
    kb = F.pmod(F.hash(*[F.col(g) for g in group_cols]), F.lit(n_buckets))

    def _prev(c: str):
        # a key column has no prev_ twin (keys are immutable within U)
        return F.col(c) if c in key_cols else F.col(f"{PREV_PREFIX}{c}")

    prev_kb = F.pmod(F.hash(*[_prev(g) for g in group_cols]), F.lit(n_buckets))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        op = F.col(op_col)
        v = _validate_oplog_batch(
            batch_df, op_col, seq_col, ("I", "U", "D"),
            meta.get("last_seq"), "topk_oplog",
        )
        if v is None:
            return None
        ops_df = batch_df.localCheckpoint(eager=True)  # feeds 5+ consumers
        last_ops = (
            _op_per_key(ops_df, key_cols, seq_col)
            .select(*key_cols, op_col, *extra)
            .localCheckpoint(eager=True)
        )
        # touched buckets AND touched groups, from the op-type-gated
        # before/after group values (hash(NULL)=42: NULL groups live
        # in bucket 42 % n like everywhere else in the module)
        touched = {
            int(r["b"])
            for r in ops_df.select(
                F.explode(
                    F.array(
                        F.when(op.isin("U", "D"), prev_kb),
                        F.when(op.isin("I", "U"), kb),
                    )
                ).alias("b")
            )
            .filter(F.col("b").isNotNull())
            .distinct()
            .collect()
        }
        tg = (
            ops_df.filter(op.isin("U", "D"))
            .select(*[_prev(g).alias(g) for g in group_cols])
            .unionByName(
                ops_df.filter(op.isin("I", "U")).select(*group_cols)
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        m_img = read_manifest(target_dir, "image")
        have_image = store_has_files(m_img)
        old_touched = read_store(
            spark, target_dir, "image", buckets=sorted(touched), manifest=m_img
        )
        if old_touched is None:
            old_touched = spark.createDataFrame(
                [],
                ops_df.select(
                    *key_cols, *extra, F.lit(0).alias("_kb")
                ).schema,
            )
        if verify_before_images:
            first_ops = (
                _op_per_key(ops_df, key_cols, seq_col, last=False)
                .select(
                    *key_cols,
                    op,
                    _row_digest(
                        [c if c in key_cols else f"{PREV_PREFIX}{c}" for c in business]
                    ).alias("_prev_rh"),
                )
                .alias("fo")
            )
            stored = old_touched.select(
                *key_cols,
                _row_digest(business).alias("_rh"),
                F.lit(True).alias("_in"),
            ).alias("st")
            cond = F.lit(True)
            for c in key_cols:
                cond = cond & (F.col(f"fo.{c}") == F.col(f"st.{c}"))
            chk = first_ops.join(stored, cond, "left").agg(
                F.sum(
                    F.when(
                        (F.col(f"fo.{op_col}").isin("U", "D"))
                        & F.col("st._in").isNull(),
                        1,
                    ).otherwise(0)
                ).alias("ud_missing"),
                F.sum(
                    F.when(
                        (F.col(f"fo.{op_col}").isin("U", "D"))
                        & F.col("st._in").isNotNull()
                        & (F.col("fo._prev_rh") != F.col("st._rh")),
                        1,
                    ).otherwise(0)
                ).alias("prev_mismatch"),
            ).collect()[0]
            problems = {
                key: chk[key]
                for key in ("ud_missing", "prev_mismatch")
                if chk[key]
            }
            if problems:
                raise RuntimeError(
                    f"topk_oplog sink: log DIVERGES from the standing "
                    f"image: {problems} (update/delete of an absent key "
                    "or a before-image that does not match the stored "
                    "row) — refusing to apply; re-snapshot the source or "
                    "fix the log"
                )
        keyset = last_ops.select(*key_cols)
        survivors = old_touched.join(
            F.broadcast(keyset), key_cols, "left_anti"
        ).select(*key_cols, *extra, "_kb")
        upserts = last_ops.filter(op.isin("U", "I")).select(
            *key_cols, *extra, kb.alias("_kb")
        )
        # post-batch rows of the touched buckets — the image rewrite
        # AND the rank recompute both read this
        new_touched = survivors.unionByName(upserts).localCheckpoint(eager=True)
        _topk_state_refresh(
            spark, target_dir, stage, batch_id, new_touched, tg,
            sorted(touched), m_img, group_cols=group_cols,
            key_cols=key_cols, value_col=value_col, k=k,
        )
        if verify_before_images:
            _key_index_guard_and_rewrite(
                spark,
                target_dir,
                "keyidx",
                stage,
                batch_id,
                keys=list(key_cols),
                n_buckets=n_buckets,
                ops_df=ops_df,
                insert_first_keys=first_ops.filter(
                    F.col(f"fo.{op_col}") == "I"
                ).select(*key_cols),
                batch_keys=keyset,
                upsert_keys=last_ops.filter(op.isin("U", "I")).select(*key_cols),
                image_thunk=lambda: (
                    read_store(spark, target_dir, "image", manifest=m_img)
                    if have_image
                    else None
                ),
                tag="topk_oplog sink:",
            )
        return {"last_seq": int(v["hi"])}

    _exactly_once_sink(
        oplog, target_dir, "topk_oplog", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    out = read_store(oplog.sparkSession, target_dir, "view")
    if out is None:
        raise RuntimeError(
            "topk_oplog sink: no committed view to return — the stream "
            "applied no batch (or every group emptied)"
        )
    return out.drop("_kb")


def join_view_foreach_batch(
    snapshots: DataFrame,
    target_dir: str,
    *,
    rel_col: str,
    version_col: str,
    r_tag: str,
    s_tag: str,
    r_key: list[str],
    s_key: list[str],
    r_join: str,
    s_join: str,
    r_cols: list[str],
    s_cols: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    how: str = "inner",
    n_buckets: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of a JOIN view — ``cdc_retraction_foreach_batch``
    generalized from γ(R) to γ(R ⋈ S): the stream carries full
    snapshot images of TWO keyed relations (rows tagged ``rel_col`` ∈
    {r_tag, s_tag}, versions via ``version_col``), and each version is
    diffed in-batch against the last-applied images, the view updated
    through the bilinear delta-join expansion with SIGNED multiset
    deltas (join terms multiply signs):

        Δγ(R ⋈ S) = γ±( ΔR ⋈ S_old  +  R_old ⋈ ΔS  +  ΔR ⋈ ΔS )

    — ΔR against the OLD dim image and ΔS against the OLD fact image,
    the off-by-one-version trap the batch twin
    (``catalog.evolve_q.ivm_join_delta_maintenance``) documents. The
    first version bootstraps through the same algebra: with empty old
    images only the ΔR ⋈ ΔS term survives and equals R₁ ⋈ S₁.

    A version MAY omit one relation entirely — absent means
    UNCHANGED (the slowly-changing-dim shape: dim generations land
    rarely; fact generations every batch). A relation that genuinely
    becomes empty cannot be expressed in row-stream form; land a
    tombstone-only changelog upstream if that state is reachable.

    ``how="left_outer"`` maintains γ(R ⟕ S) instead (requires
    ``s_join`` unique in S — the FK-dim regime): S-sourced group
    columns take `NULL_GROUP` for unmatched R rows, and each
    version's delta gains the counting-problem terms (matching the
    batch twin ``catalog.evolve_q.ivm_outer_join_maintenance``):
    ΔR rows landing outside the NEW dim key set (sign kept, ∅-group),
    plus the MIGRATIONS — R_old rows of net-removed dim keys enter
    the ∅-group (+1) and of net-added keys leave it (−1). Bootstrap
    falls out of the same algebra (every unmatched R₁ row is a ΔR
    row outside K₁).

    The target holds THREE state levels committed in one atomic swap —
    the ``snapimg_r`` and ``snapimg_s`` manifest stores (last applied
    images: keys + business columns + md5 row-hash, bucketed
    ``pmod(hash(key), n_buckets)`` with per-bucket content digests, so
    each version's diff joins only digest-moved buckets and untouched
    buckets carry as manifest rows) and ``view/`` (one additive row
    per group: ``n`` + ``sum_<c>``) — committed by
    `_exactly_once_sink`, with the versions from `_snapshot_versions`.
    Contracts as the CDC sink: unique non-null keys per version, text-deterministic
    business columns (money as integer cents), integer ``sum_cols``;
    zero-count groups remain as n=0 rows, finalize with ``n > 0``.

    Scale: per version, each incoming image is digest-scanned once
    and its keyed hash-compare diff runs over ONLY the buckets whose
    digest moved (driver-side compare, never a join); the three
    Δ-terms each join a DELTA (change-volume-sized,
    broadcast-eligible) against the counterpart image PRUNED to the
    delta's join-key buckets — exact under join-column bucketing,
    since a matching row shares the bucket — or against another
    delta; the standing images are never scanned wholesale and
    untouched buckets carry as manifest rows; the view merge is
    |groups|-sized. The irreducible per-version cost is scanning the
    incoming snapshot itself (it is the input).

    Returns the final view as a batch DataFrame.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(f"join_view sink: unsupported how={how!r}")
    if how == "left_outer" and not set(sum_cols) <= set(r_cols):
        raise ValueError(
            "join_view sink: left_outer maintenance requires sum_cols ⊆ "
            "r_cols — an S-sourced measure has no value on unmatched rows "
            "(the ∅-terms would coerce it to a string sentinel and silently "
            "drop its contributions)"
        )

    def _hashed(img: DataFrame, keys: list[str], cols: list[str]) -> DataFrame:
        extra = [c for c in cols if c not in keys]  # a key may be business too
        return img.select(*keys, *extra, _row_digest(cols).alias("rh"))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        versions = _snapshot_versions(batch_df, version_col, meta)
        if versions is None:
            return None
        _check_image_bucketing(meta, r_join, s_join, "join_view")
        # images bucket by the JOIN column (not the primary key): a
        # delta row's potential matches live in the SAME bucket, so the
        # bilinear terms read the counterpart pruned to the delta's
        # join-key buckets — exact, never a full image scan (the same
        # layout the op-log twin uses). The keyed DIFF is unaffected: a
        # key whose join value changes moves buckets, both buckets'
        # digests move, and the full-outer diff over their union still
        # pairs old and new by key.
        kb_r = F.pmod(F.hash(F.col(r_join)), F.lit(n_buckets))
        kb_s = F.pmod(F.hash(F.col(s_join)), F.lit(n_buckets))
        dpi_r = _DigestPrunedImage(
            spark, target_dir, "snapimg_r", r_key, r_cols, kb_r,
            legacy_subdir="snap_r",
        )
        dpi_s = _DigestPrunedImage(
            spark, target_dir, "snapimg_s", s_key, s_cols, kb_s,
            legacy_subdir="snap_s",
        )
        view = _committed_view(spark, target_dir)
        for _vi, v in enumerate(versions):
            vdf = batch_df.filter(F.col(version_col) == v)
            img_r_src = vdf.filter(F.col(rel_col) == r_tag)
            img_s_src = vdf.filter(F.col(rel_col) == s_tag)
            has_r = not img_r_src.isEmpty()
            has_s = not img_s_src.isEmpty()
            # capture the pre-diff image handles (the bilinear terms
            # join deltas against the counterpart's OLD image — the
            # off-by-one-version rule), then advance the state with the
            # digest-pruned diffs. Each delta feeds TWO Δ-terms —
            # materialize it once (change-volume-sized) so the pruned
            # diff join never runs twice.
            old_r_prev, old_s_prev = dpi_r.prev_img, dpi_s.prev_img
            d_r = (
                dpi_r.diff(_hashed(img_r_src, r_key, r_cols)).localCheckpoint(
                    eager=True
                )
                if has_r
                else spark.createDataFrame(
                    [], vdf.select(*r_cols, F.lit(1).alias("_sign")).schema
                )
            )
            d_s = (
                dpi_s.diff(_hashed(img_s_src, s_key, s_cols)).localCheckpoint(
                    eager=True
                )
                if has_s
                else spark.createDataFrame(
                    [], vdf.select(*s_cols, F.lit(1).alias("_sign")).schema
                )
            )
            # counterpart images pruned to the delta's join-key buckets
            # (exact under join-column bucketing: a match shares the
            # bucket); empty-but-typed frames when nothing backs the
            # selection, so the Δ-term algebra needs no special cases
            bR = (
                [
                    int(r["b"])
                    for r in d_r.select(
                        F.pmod(F.hash(F.col(r_join)), F.lit(n_buckets)).alias("b")
                    ).distinct().collect()
                ]
                if has_r
                else []
            )
            bS = (
                [
                    int(r["b"])
                    for r in d_s.select(
                        F.pmod(F.hash(F.col(s_join)), F.lit(n_buckets)).alias("b")
                    ).distinct().collect()
                ]
                if has_s
                else []
            )
            of_r = dpi_r.old_pruned(old_r_prev, bS) if bS else None
            of_s = dpi_s.old_pruned(old_s_prev, bR) if bR else None
            r_old = (
                of_r.select(*r_cols)
                if of_r is not None
                else spark.createDataFrame([], vdf.select(*r_cols).schema)
            )
            s_old = (
                of_s.select(*s_cols)
                if of_s is not None
                else spark.createDataFrame([], vdf.select(*s_cols).schema)
            )
            out_cols = list(group_cols) + list(sum_cols)
            dr, ds = d_r.alias("dr"), d_s.alias("ds")
            ro, so = r_old.alias("ro"), s_old.alias("so")

            def _pick(side_a: str, side_b: str, c: str) -> F.Column:
                src = side_a if c in r_cols else side_b
                return F.col(f"{src}.{c}").alias(c)

            t1 = dr.join(so, F.col(f"dr.{r_join}") == F.col(f"so.{s_join}")).select(
                *[_pick("dr", "so", c) for c in out_cols],
                F.col("dr._sign").alias("_sign"),
            )
            t2 = ro.join(ds, F.col(f"ro.{r_join}") == F.col(f"ds.{s_join}")).select(
                *[_pick("ro", "ds", c) for c in out_cols],
                F.col("ds._sign").alias("_sign"),
            )
            t3 = dr.join(ds, F.col(f"dr.{r_join}") == F.col(f"ds.{s_join}")).select(
                *[_pick("dr", "ds", c) for c in out_cols],
                (F.col("dr._sign") * F.col("ds._sign")).alias("_sign"),
            )
            terms = t1.unionByName(t2).unionByName(t3)
            if how == "left_outer":
                # the counting-problem ∅-terms (see docstring): select
                # against the R side, S-sourced group cols → NULL_GROUP
                def _null_pick(side: str, c: str) -> F.Column:
                    if c in r_cols:
                        return F.col(f"{side}.{c}").alias(c)
                    return F.lit(NULL_GROUP).alias(c)

                if not dpi_s.has_image():  # bootstrap version without the dim
                    raise RuntimeError(
                        "join_view sink: first applied version must carry "
                        f"BOTH relations (outer mode needs the {s_tag} key "
                        "set to place unmatched rows)"
                    )
                # the batch-final dim key set, pruned to ΔR's join-key
                # buckets — exact (a matching key shares the bucket);
                # an empty pruned read means NO dim key can match, and
                # every ΔR row lands in the ∅-group
                if has_s and bR:
                    new_s = dpi_s.prev_img.filter(
                        F.col("_kb").isin(bR)
                    ).drop("_kb")
                elif not has_s and of_s is not None:
                    new_s = of_s
                else:  # no ΔR buckets to probe, or nothing backs them
                    new_s = spark.createDataFrame(
                        [], vdf.select(*s_cols).schema
                    )
                k2 = new_s.select(F.col(s_join)).alias("k2")
                t4 = dr.join(
                    k2, F.col(f"dr.{r_join}") == F.col(f"k2.{s_join}"), "left_anti"
                ).select(
                    *[_null_pick("dr", c) for c in out_cols],
                    F.col("dr._sign").alias("_sign"),
                )
                net = d_s.groupBy(s_join).agg(F.sum("_sign").alias("_net"))
                removed = net.filter(F.col("_net") == -1).select(s_join).alias("kt")
                added = net.filter(F.col("_net") == 1).select(s_join).alias("kt")
                t5 = ro.join(
                    removed, F.col(f"ro.{r_join}") == F.col(f"kt.{s_join}")
                ).select(
                    *[_null_pick("ro", c) for c in out_cols],
                    F.lit(1).alias("_sign"),
                )
                t6 = ro.join(
                    added, F.col(f"ro.{r_join}") == F.col(f"kt.{s_join}")
                ).select(
                    *[_null_pick("ro", c) for c in out_cols],
                    F.lit(-1).alias("_sign"),
                )
                terms = terms.unionByName(t4).unionByName(t5).unionByName(t6)
            view = _merge_signed_sums(view, terms, group_cols, sum_cols)
            # cut the view's lineage every few versions (plan-depth
            # control for many-version batches; images do not nest)
            if _vi % 4 == 3:
                view = view.localCheckpoint(eager=True)
        if not dpi_r.has_image() or not dpi_s.has_image():
            raise RuntimeError(
                "join_view sink: first applied version must carry BOTH "
                f"relations (got {r_tag}: {dpi_r.has_image()}, "
                f"{s_tag}: {dpi_s.has_image()})"
            )
        dpi_r.commit(stage, batch_id)
        dpi_s.commit(stage, batch_id)
        view.write.mode("overwrite").parquet(os.path.join(stage, "view"))
        return {
            "image_bucketing": [r_join, s_join],
            "last_version": versions[-1],
        }

    _exactly_once_sink(
        snapshots, target_dir, "join_view", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return snapshots.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def join_view_oplog_foreach_batch(
    oplog: DataFrame,
    target_dir: str,
    *,
    rel_col: str,
    r_tag: str,
    s_tag: str,
    op_col: str,
    seq_col: str,
    r_key: list[str],
    s_key: list[str],
    r_join: str,
    s_join: str,
    r_cols: list[str],
    s_cols: list[str],
    group_cols: list[str],
    sum_cols: list[str],
    how: str = "inner",
    n_buckets: int = 64,
    verify_before_images: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """TRUE-DELTA maintenance of a JOIN view — the composition of this
    module's r9 pieces into the 100 TB materialized-view shape: the
    stream carries ONE operation log over TWO relations (rows tagged
    ``rel_col`` ∈ {r_tag, s_tag} and ``op_col`` ∈ {'I','U','D'}, with
    after-images on I/U, before-images (``prev_<c>``) on U/D, and one
    strictly increasing ``seq`` across both relations — the database's
    LSN), and each batch refreshes γ(R ⋈ S) through the signed
    bilinear expansion ΔR⋈S_old + R_old⋈ΔS + ΔR⋈ΔS where the deltas
    come STRAIGHT from the log (no snapshot diff anywhere) and the
    standing images exist only because the bilinear terms need the
    counterpart relation.

    What makes this the at-scale shape:

    - Both standing images are stored partitioned by their JOIN key's
      bucket (``_kb = pmod(hash(join_col), n_buckets)``), so each
      Δ-term's counterpart scan is PRUNED to the delta's touched
      buckets (``_kb IN (...)`` partition filter + the delta broadcast)
      — the streaming twin of ``catalog.evolve_q.ivm_pruned_join_refresh``.
    - Image rewrites touch only the buckets the batch's keys occupy
      (old bucket from the before-image's join value — an update may
      MOVE a row between buckets — new bucket from the after-image's);
      untouched buckets carry through the commit as manifest rows
      (`streaming.manifest`). Within a batch the LAST op per
      primary key decides the final image; for the VIEW no dedup is
      needed at all — signed multiset algebra cancels intermediate
      states, and every downstream use is linear, so batch-split
      invariance holds algebraically.
    - No bootstrap special case: with an empty counterpart image the
      ΔR⋈S_old and R_old⋈ΔS terms vanish and ΔR⋈ΔS carries the whole
      contribution — a relation the log has not yet introduced simply
      contributes nothing yet.
    - ``verify_before_images`` (default on) is the log-divergence
      guard the standing state makes possible: per primary key, the
      EARLIEST op in the batch must agree with the committed state —
      a U/D over a key the image does not hold, an I over a key it
      does, or a before-image whose digest differs from the stored
      row all RAISE instead of silently corrupting the view. U/D
      divergence is caught against the image (the before-image's join
      value locates the stored bucket); insert-over-present is caught
      EXACTLY against a primary-KEY INDEX sidecar (``keyidx_r/``,
      ``keyidx_s/`` — every key once, bucketed by key hash, committed
      in the same atomic swap), including the cross-bucket case where
      the I claims a join value that hashes elsewhere. Both checks
      are delta + touched-bucket sized; the key index is maintained
      with the same touched-bucket rewrite + manifest-carry discipline as
      the images, backfills itself once from the image if absent, and
      is dropped by the swap while verification is off (so flipping
      the flag back on re-backfills cleanly).

    Exactly-once (`_exactly_once_sink`) and validation as the op-log
    sink (``last_seq`` high-water; unknown op tags and duplicate seq
    raise).

    ``how="left_outer"`` maintains γ(R ⟕ S) (requires ``s_join`` to BE
    S's key — the FK-dim regime — and ``sum_cols ⊆ r_cols``): the
    Gupta–Mumick counting-problem terms are evaluated from the log
    with the same pruning discipline as everything else — ΔR rows
    landing outside the batch-FINAL dim key set take `NULL_GROUP`
    (K₂ computed only on ΔR's buckets: pruned old keys ∖ batch
    deletes ∪ batch upserts), and R_old rows of dim keys whose net
    presence changed migrate in (+1, key left S) or out (−1, key
    joined S) of the ∅-group, scanning the same ΔS-bucket-pruned fact
    image as the bilinear term. No term is ever relation-sized.

    Contracts: primary keys immutable within U (a key
    change is D+I), deterministic business rendering, integer
    ``sum_cols``; n=0 groups persist — finalize with ``n > 0``.

    Target layout (one atomic swap): ``image_r/``, ``image_s/``
    (bucketed by join value), ``keyidx_r/``/``keyidx_s/`` (bucketed
    by key hash; present while verifying AND only for a relation
    whose join column is not its key — when it is, the image itself
    is key-bucketed and the inline insert-over-present check is
    already exact), ``view/``, ``_ivm_meta.json``.

    Returns the final view as a batch DataFrame.
    """
    if set(r_cols) & set(r_key) or set(s_cols) & set(s_key):
        raise ValueError(
            "join_view_oplog sink: r_cols/s_cols must not repeat key "
            "columns — keys are stored alongside, and their before-image "
            "is the key itself (keys are immutable within U; a key change "
            "is D+I)"
        )
    if how not in ("inner", "left_outer"):
        raise ValueError(f"join_view_oplog sink: unsupported how={how!r}")
    if how == "left_outer":
        if list(s_key) != [s_join]:
            raise ValueError(
                "join_view_oplog sink: left_outer maintenance requires "
                "s_join to BE S's key (the FK-dim regime) — key-set "
                "membership is what places unmatched rows"
            )
        if not set(sum_cols) <= set(r_cols):
            raise ValueError(
                "join_view_oplog sink: left_outer maintenance requires "
                "sum_cols ⊆ r_cols — an S-sourced measure has no value on "
                "unmatched rows"
            )
    out_cols = list(group_cols) + list(sum_cols)
    stray = set(out_cols) - (set(r_cols) | set(s_cols))
    if stray:
        raise ValueError(
            f"join_view_oplog sink: group/sum columns {sorted(stray)} are in "
            "neither r_cols nor s_cols — _pick routes unknown names to the S "
            "side, which would either fail mid-batch or silently aggregate "
            "the wrong relation (note keys cannot be group columns here; "
            "carry the key as a non-key business column in the log if the "
            "view groups by it)"
        )

    def _kb_of(col: str):
        return F.pmod(F.hash(F.col(col)), F.lit(n_buckets))

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        _check_image_bucketing(meta, r_join, s_join, "join_view_oplog")
        op = F.col(op_col)
        v = _validate_oplog_batch(
            batch_df, op_col, seq_col, ("I", "U", "D"),
            meta.get("last_seq"), "join_view_oplog",
        )
        if v is None:
            return None

        def _load_side(tag, keys, cols, join_col):
            """Everything one relation contributes this batch:
            (signed delta | None, per-relation state for the image
            rewrite)."""
            ops_df = batch_df.filter(F.col(rel_col) == tag)
            if ops_df.isEmpty():
                return None, None
            ops_df = ops_df.localCheckpoint(eager=True)  # feeds 4+ consumers
            retract = ops_df.filter(op.isin("U", "D")).select(
                *keys,
                *[F.col(f"{PREV_PREFIX}{c}").alias(c) for c in cols],
                F.lit(-1).alias("_sign"),
            )
            insert = ops_df.filter(op.isin("I", "U")).select(
                *keys, *cols, F.lit(1).alias("_sign")
            )
            delta = retract.unionByName(insert).localCheckpoint(eager=True)
            return delta, ops_df

        dR, r_ops = _load_side(r_tag, r_key, r_cols, r_join)
        dS, s_ops = _load_side(s_tag, s_key, s_cols, s_join)

        m_r = read_manifest(target_dir, "image_r")
        m_s = read_manifest(target_dir, "image_s")

        def _empty(keys, cols, like):
            schema = like.select(
                *keys, *cols, F.lit(0).alias("_kb")
            ).schema
            return spark.createDataFrame([], schema)

        def _pick(a_alias, b_alias, c):
            src = a_alias if c in r_cols else b_alias
            return F.col(f"{src}.{c}").alias(c)

        def _null_pick(side: str, c: str):
            if c in r_cols:
                return F.col(f"{side}.{c}").alias(c)
            return F.lit(NULL_GROUP).alias(c)

        def _buckets(delta, join_col):
            return [
                int(r["b"])
                for r in delta.select(_kb_of(join_col).alias("b"))
                .distinct()
                .collect()
            ]

        terms = []
        if dR is not None:
            bR = _buckets(dR, r_join)
            so_pruned = read_store(
                spark, target_dir, "image_s", buckets=bR, manifest=m_s
            )
            dr = dR.alias("dr")
            if so_pruned is not None:
                terms.append(
                    so_pruned.alias("so")
                    .join(
                        F.broadcast(dr),
                        F.col(f"dr.{r_join}") == F.col(f"so.{s_join}"),
                    )
                    .select(
                        *[_pick("dr", "so", c) for c in out_cols],
                        F.col("dr._sign").alias("_sign"),
                    )
                )
            if how == "left_outer":
                # the counting-problem ∅-term: ΔR rows landing outside
                # the batch-FINAL dim key set. K₂ is evaluated only on
                # ΔR's buckets: old keys from the pruned image, minus
                # keys the batch deletes, plus keys it upserts there —
                # never a full dim scan.
                k_old = (
                    so_pruned.select(F.col(s_join))
                    if so_pruned is not None
                    else dR.select(F.col(r_join).alias(s_join)).limit(0)
                )
                if s_ops is not None:
                    s_last = _op_per_key(s_ops, s_key, seq_col)
                    dels = s_last.filter(op == "D").select(*s_key)
                    ups = (
                        s_last.filter(op != "D")
                        .select(*s_key)
                        .filter(_kb_of(s_join).isin(bR))
                    )
                    k2 = (
                        k_old.join(dels, [s_join], "left_anti")
                        .unionByName(ups)
                        .distinct()
                    )
                else:
                    k2 = k_old
                terms.append(
                    dr.join(
                        F.broadcast(k2.alias("k2")),
                        F.col(f"dr.{r_join}") == F.col(f"k2.{s_join}"),
                        "left_anti",
                    ).select(
                        *[_null_pick("dr", c) for c in out_cols],
                        F.col("dr._sign").alias("_sign"),
                    )
                )
        if dS is not None:
            bS = _buckets(dS, s_join)
            ro_pruned = read_store(
                spark, target_dir, "image_r", buckets=bS, manifest=m_r
            )
            ds_ = dS.alias("ds")
            if ro_pruned is not None:
                ro = ro_pruned.alias("ro")
                terms.append(
                    ro.join(
                        F.broadcast(ds_),
                        F.col(f"ro.{r_join}") == F.col(f"ds.{s_join}"),
                    ).select(
                        *[_pick("ro", "ds", c) for c in out_cols],
                        F.col("ds._sign").alias("_sign"),
                    )
                )
                if how == "left_outer":
                    # migrations: R_old rows of dim keys whose PRESENCE
                    # changed this batch (net −1 = key left S → rows
                    # enter the ∅-group; net +1 = key joined S → rows
                    # leave it). Attribute-only updates net 0 and are
                    # fully handled by the bilinear terms. The R scan is
                    # the same ΔS-bucket-pruned image as t2.
                    net = dS.groupBy(s_join).agg(F.sum("_sign").alias("_net"))
                    # s_join IS S's key in outer mode, so a key's net
                    # presence change is −1, 0, or +1 by contract;
                    # |net| ≥ 2 (e.g. a duplicated I with the verifier
                    # off) means a malformed log — fail loud like the
                    # sink's other guards instead of silently skipping
                    # the migration (delta-sized agg).
                    worst = net.agg(
                        F.max(F.abs(F.col("_net"))).alias("m")
                    ).collect()[0]["m"]
                    if worst is not None and worst > 1:
                        raise RuntimeError(
                            "join_view_oplog sink: a dim key's net presence "
                            f"changed by {worst} in one batch — the log "
                            "violates the unique-dim-key contract (duplicate "
                            "insert?); refusing to apply"
                        )
                    removed = net.filter(F.col("_net") == -1).select(s_join)
                    added = net.filter(F.col("_net") == 1).select(s_join)
                    for keyset_t, sgn in ((removed, 1), (added, -1)):
                        terms.append(
                            ro.join(
                                F.broadcast(keyset_t.alias("kt")),
                                F.col(f"ro.{r_join}") == F.col(f"kt.{s_join}"),
                            ).select(
                                *[_null_pick("ro", c) for c in out_cols],
                                F.lit(sgn).alias("_sign"),
                            )
                        )
        if dR is not None and dS is not None:
            dr, ds_ = dR.alias("dr"), dS.alias("ds")
            terms.append(
                dr.join(ds_, F.col(f"dr.{r_join}") == F.col(f"ds.{s_join}")).select(
                    *[_pick("dr", "ds", c) for c in out_cols],
                    (F.col("dr._sign") * F.col("ds._sign")).alias("_sign"),
                )
            )
        view = _committed_view(spark, target_dir)
        if terms:
            all_terms = terms[0]
            for t in terms[1:]:
                all_terms = all_terms.unionByName(t)
            view = _merge_signed_sums(view, all_terms, group_cols, sum_cols)
        if view is None:
            # first batch introduced only one relation: the view is
            # legitimately empty, but it must still commit — typed from
            # the BATCH's actual column types (hardcoding string group
            # columns would poison the merge key type on batch 2)
            view = spark.createDataFrame(
                [],
                batch_df.select(
                    *group_cols,
                    F.lit(0).cast("bigint").alias("n"),
                    *[
                        F.lit(0).cast("bigint").alias(f"sum_{c}")
                        for c in sum_cols
                    ],
                ).schema,
            )

        def _rewrite_image(sub, m_img, ops_df, keys, cols, join_col):
            """Touched-bucket rewrite of one relation's standing image
            (+ the before-image divergence guard)."""
            if ops_df is None:  # relation absent this batch: image unchanged
                for carry in (sub, sub.replace("image", "keyidx")):
                    # untouched store: its new manifest is identical —
                    # one small file copy carries every bucket forward
                    carry_store(target_dir, carry, stage)
                return
            last_ops = _op_per_key(ops_df, keys, seq_col).localCheckpoint(
                eager=True
            )
            # a KEY join column has no prev_ twin (keys are immutable
            # within U — a key change is D+I), so it is its own
            # before-image
            prev_join = (
                F.col(join_col)
                if join_col in keys
                else F.col(f"{PREV_PREFIX}{join_col}")
            )
            # Gate each side on the OP TYPE, not value nullability: an I
            # op has no before-image and a D op no after-image, so those
            # sides must not touch anything — but a NULL join VALUE on a
            # side the op genuinely carries is a real row (NULL FKs are
            # routine in the left_outer regime) and must touch the bucket
            # it is stored in. F.hash(NULL) is 42, so pmod(hash(...))
            # lands NULL join values in bucket 42 % n_buckets — exactly
            # where the upsert path's _kb_of(join_col) stores them, so
            # the touched set, the old-image load, the divergence guard,
            # and the rewrite all agree on where NULL-join rows live.
            touched = {
                int(r["b"])
                for r in ops_df.select(
                    F.explode(
                        F.array(
                            F.when(
                                op.isin("U", "D"),
                                F.pmod(F.hash(prev_join), F.lit(n_buckets)),
                            ),
                            F.when(op.isin("I", "U"), _kb_of(join_col)),
                        )
                    ).alias("b")
                )
                .filter(F.col("b").isNotNull())
                .distinct()
                .collect()
            }
            old_touched = read_store(
                spark, target_dir, sub, buckets=sorted(touched), manifest=m_img
            )
            if old_touched is None:
                old_touched = _empty(keys, cols, ops_df)
            if verify_before_images:
                # the earliest op per key must agree with the image:
                # U/D carry a before-image that must exist and match;
                # I must land on an absent key
                first_ops = (
                    _op_per_key(ops_df, keys, seq_col, last=False)
                    .select(
                        *keys,
                        op,
                        _row_digest(
                            [f"{PREV_PREFIX}{c}" for c in cols]
                        ).alias("_prev_rh"),
                    )
                    .alias("fo")
                )
                stored = old_touched.select(
                    *keys, _row_digest(cols).alias("_rh"), F.lit(True).alias("_in")
                ).alias("st")
                cond = F.lit(True)
                for k in keys:
                    cond = cond & (F.col(f"fo.{k}") == F.col(f"st.{k}"))
                chk = first_ops.join(stored, cond, "left").agg(
                    F.sum(
                        F.when(
                            (F.col(f"fo.{op_col}").isin("U", "D"))
                            & F.col("st._in").isNull(),
                            1,
                        ).otherwise(0)
                    ).alias("ud_missing"),
                    F.sum(
                        F.when(
                            (F.col(f"fo.{op_col}") == "I")
                            & F.col("st._in").isNotNull(),
                            1,
                        ).otherwise(0)
                    ).alias("i_existing"),
                    F.sum(
                        F.when(
                            (F.col(f"fo.{op_col}").isin("U", "D"))
                            & F.col("st._in").isNotNull()
                            & (F.col("fo._prev_rh") != F.col("st._rh")),
                            1,
                        ).otherwise(0)
                    ).alias("prev_mismatch"),
                ).collect()[0]
                problems = {
                    k: chk[k]
                    for k in ("ud_missing", "i_existing", "prev_mismatch")
                    if chk[k]
                }
                if problems:
                    raise RuntimeError(
                        f"join_view_oplog sink: {sub} log DIVERGES from the "
                        f"standing image: {problems} (update/delete of an "
                        "absent key, insert over a present key, or a "
                        "before-image that does not match the stored row) — "
                        "refusing to apply; re-snapshot the source or fix "
                        "the log"
                    )
            keyset = last_ops.select(*keys)
            survivors = old_touched.join(
                F.broadcast(keyset), keys, "left_anti"
            ).select(*keys, *cols, "_kb")
            upserts = last_ops.filter(op.isin("U", "I")).select(
                *keys, *cols, _kb_of(join_col).alias("_kb")
            )
            # ~one pool file per touched bucket, not one per shuffle
            # partition (small-files control across many commits)
            write_store_delta(
                spark,
                survivors.unionByName(upserts),
                target_dir,
                sub,
                stage,
                batch_id=batch_id,
                touched=touched,
                manifest=m_img,
            )
            if verify_before_images and join_col not in keys:
                # exact insert-over-present guard + key-index upkeep —
                # the image is bucketed by JOIN value, so this is what
                # catches an I whose claimed join value hashes away
                # from the key's stored bucket (shared helper; the
                # swap drops the index while verification is off, so
                # flipping it back on re-backfills from the image).
                # When join_col IS the key (the dim side of both
                # shipped pipelines), an I's claimed join value is the
                # key itself — its stored bucket is always touched and
                # the inline i_existing check above is already exact,
                # so the sidecar would add a duplicate standing table
                # and per-batch jobs for zero detection power; skip it.
                kidx_sub = sub.replace("image", "keyidx")
                _key_index_guard_and_rewrite(
                    spark,
                    target_dir,
                    kidx_sub,
                    stage,
                    batch_id,
                    keys=list(keys),
                    n_buckets=n_buckets,
                    ops_df=ops_df,
                    insert_first_keys=first_ops.filter(
                        F.col(f"fo.{op_col}") == "I"
                    ).select(*keys),
                    batch_keys=keyset,
                    upsert_keys=last_ops.filter(op.isin("U", "I")).select(*keys),
                    image_thunk=lambda sub=sub, m_img=m_img: (
                        read_store(spark, target_dir, sub, manifest=m_img)
                        if store_has_files(m_img)
                        else None
                    ),
                    tag=f"join_view_oplog sink: {sub}",
                )

        _rewrite_image("image_r", m_r, r_ops, r_key, r_cols, r_join)
        _rewrite_image("image_s", m_s, s_ops, s_key, s_cols, s_join)
        view.write.mode("overwrite").parquet(os.path.join(stage, "view"))
        return {"image_bucketing": [r_join, s_join], "last_seq": int(v["hi"])}

    _exactly_once_sink(
        oplog, target_dir, "join_view_oplog", _step, n_buckets=n_buckets,
        checkpoint_dir=checkpoint_dir,
    )
    return oplog.sparkSession.read.parquet(os.path.join(target_dir, "view"))


def purchase_click_attribution_outer(
    purchases: DataFrame, clicks: DataFrame, *, lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every purchase, attributed click
    or null. Unlike the inner join, null rows can only be emitted once
    the watermark proves no matching click can still arrive — so the
    last ~watermark+lookback of event time stays 'open' (no null
    emitted yet) at any point in the stream, including availableNow
    termination. Consumers comparing against batch must restrict to
    the closed region (ts ≤ max_ts − watermark − lookback); the
    catalog query does exactly that. State bounds are the same as the
    inner join's: O(lookback·rate) per side."""
    p = with_watermark(purchases.filter(F.col("event_type") == "purchase"), watermark).alias("p")
    c = with_watermark(clicks.filter(F.col("event_type") == "click"), watermark).alias("c")
    return p.join(
        c,
        F.expr(
            f"p.user_id = c.user_id AND c.ts >= p.ts - interval {lookback} AND c.ts <= p.ts"
        ),
        "left_outer",
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("c.event_id").alias("click_id"),
        F.col("p.user_id").alias("user_id"),
    )


#: Output schema of `record_highs_stateful` (module-level for tests).
RECORD_HIGHS_SCHEMA = "user_id BIGINT, ts TIMESTAMP, value DOUBLE, record_idx BIGINT"


def _record_scan(pdfs: Iterator[pd.DataFrame], max_value, n):
    """Shared record-high scan for both stateful APIs. A key's rows
    within one micro-batch arrive as MULTIPLE Arrow chunks (~10k rows
    each) in no guaranteed order, so all chunks must be concatenated
    and sorted once before the scan — sorting each chunk independently
    would process chunks out of event-time order past 10k rows/key."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    out_ts, out_val, out_idx = [], [], []
    if chunks:
        allrows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        for row in allrows.sort_values(["ts", "event_id"]).itertuples():
            v = float(row.value)
            if max_value is None or v > max_value:
                max_value = v
                n += 1
                out_ts.append(row.ts)
                out_val.append(v)
                out_idx.append(n)
    return max_value, n, out_ts, out_val, out_idx


class _RecordHighsProcessor:
    """StatefulProcessor emitting a row each time a user's event value
    sets a new strict maximum (plus how many records the user has set).

    Defined lazily as a plain class and upgraded to the real
    ``StatefulProcessor`` base at call time so importing this module
    never requires the Spark 4 stateful-processor API to exist."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("hwm", "max_value DOUBLE, n BIGINT")

    def handleInputRows(self, key, rows, timer_values) -> "Iterator[pd.DataFrame]":
        if self._state.exists():
            max_value, n = self._state.get()
        else:
            max_value, n = None, 0
        max_value, n, out_ts, out_val, out_idx = _record_scan(rows, max_value, n)
        self._state.update((max_value, n))
        if out_ts:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_ts),
                    "ts": out_ts,
                    "value": out_val,
                    "record_idx": out_idx,
                }
            )

    def close(self) -> None:
        # Required StatefulProcessor lifecycle hook; this processor
        # holds no resources outside the managed state handle, so
        # there is nothing to release. Not an exception swallow.
        pass


def _record_highs_apply(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState twin of _RecordHighsProcessor — same
    per-key logic against the legacy GroupState API."""
    max_value, n = state.get if state.exists else (None, 0)
    max_value, n, out_ts, out_val, out_idx = _record_scan(pdfs, max_value, n)
    state.update((max_value, n))
    if out_ts:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_ts),
                "ts": out_ts,
                "value": out_val,
                "record_idx": out_idx,
            }
        )


def has_tws_runtime() -> bool:
    """transformWithStateInPandas drives its Python worker protocol
    over protobuf; without the ``google.protobuf`` package the JVM
    side crashes the runner at init. Gate on importability."""
    import importlib.util

    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        return False


def record_highs_stateful(events: DataFrame) -> DataFrame:
    """Per-user record-high detector — arbitrary-state streaming with
    a flatMap-with-state shape (0..n output rows per input row) that
    no built-in streaming aggregation expresses. ValueState holds
    (running max, records-so-far); each new strict maximum EMITS a
    transition row.

    Runs on ``transformWithStateInPandas`` (the Spark 4 successor
    API) when its protobuf runtime is available, else on
    ``applyInPandasWithState`` with byte-identical semantics (this
    container lacks protobuf — see has_tws_runtime). Emitted records
    are immutable facts, so the sink needs no collapsing and the
    batch oracle is an exact running-max window filter. State per key
    is two scalars — 100 TB posture: grouped shuffle on user_id once,
    state store size O(|users|)."""
    if has_tws_runtime():
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        proc = type("RecordHighs", (_RecordHighsProcessor, StatefulProcessor), {})()
        return events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc,
            outputStructType=RECORD_HIGHS_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    return events.groupBy("user_id").applyInPandasWithState(
        _record_highs_apply,
        outputStructType=RECORD_HIGHS_SCHEMA,
        stateStructType="max_value DOUBLE, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _compact_index_tiers(
    spark, index_dir: str, batch_id: int, threshold: int = COMPACT_FILE_THRESHOLD
) -> None:
    """Size-tiered (LSM-style) compaction of a flat fingerprint-index
    dir: files are named ``L<level>-...`` (anything else counts as
    level 0, covering pre-tiering indexes); whenever a level holds
    more than ``threshold`` files, exactly those files merge into ONE
    file at the next level, promoted by the crash-safe dir swap with
    the other levels' files hardlinked through (bounded: at most
    threshold × levels links). Merges cascade upward until no level
    overflows. Cost: each fingerprint participates in O(log n) merges
    across n appends — the bounded-compaction answer to rewriting the
    whole index every ~threshold increments."""
    rnd = 0
    while True:
        files = [f for f in os.listdir(index_dir) if f.endswith(".parquet")]
        by_level: dict[int, list[str]] = {}
        for f in files:
            head = f.split("-", 1)[0]
            lvl = (
                int(head[1:])
                if f.startswith("L") and head[1:].isdigit()
                else 0
            )
            by_level.setdefault(lvl, []).append(f)
        over = [lvl for lvl, fs in sorted(by_level.items()) if len(fs) > threshold]
        if not over:
            return
        lvl = over[0]
        merge = by_level[lvl]
        tmp = f"{index_dir}.stage-t{batch_id}-{rnd}"
        spark.read.parquet(
            *[os.path.join(index_dir, f) for f in merge]
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        stage = f"{index_dir}.stage-c{batch_id}-{rnd}"
        os.makedirs(stage, exist_ok=True)
        for i, fname in enumerate(sorted(os.listdir(tmp))):
            if fname.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, fname),
                    os.path.join(
                        stage, f"L{lvl + 1}-{batch_id}-{rnd}-{i}.parquet"
                    ),
                )
        shutil.rmtree(tmp)
        for fname in set(files) - set(merge):
            try:
                os.link(
                    os.path.join(index_dir, fname), os.path.join(stage, fname)
                )
            except OSError:
                shutil.copy2(
                    os.path.join(index_dir, fname), os.path.join(stage, fname)
                )
        _atomic_swap(stage, index_dir, batch_id)
        rnd += 1


def incremental_dedup_runs(
    spark,
    increments: "list[tuple[str, DataFrame]]",
    *,
    work_dir: str,
) -> DataFrame:
    """Streaming nightly-ingest dedup: each (name, docs) increment is
    landed as files in a watched directory, processed by ONE
    file-source stream restarted with ``availableNow`` per arrival
    (the exactly-once append-only-landing-zone contract — the
    checkpoint carries processed-file state ACROSS runs), and
    ``foreachBatch``-deduplicated against a PERSISTENT fingerprint
    index:

    - dup-vs-index: md5(text) semi-join against the index parquet
      (16-byte keys; document bodies never shuffle and never
      re-scan old increments — the index IS the corpus memory);
    - dup-within: first-doc_id-wins inside the increment;
    - accepted fingerprints are APPENDED to the index as one
      level-0 file per increment, and one accounting row per batch
      is appended to an audit sink. Compaction is SIZE-TIERED
      (LSM-style, `_compact_index_tiers`): when any level
      accumulates more than COMPACT_FILE_THRESHOLD files they merge
      into ONE next-level file via the crash-safe dir swap — each
      fingerprint is rewritten O(log n) times over n increments,
      instead of the whole index every ~threshold appends (quadratic
      amortized), while file count stays bounded at
      threshold × levels.

    Returns the audit table (source, n_incoming, n_dup_vs_existing,
    n_dup_within, n_accepted) — the streaming twin of the batch
    ``dedup_incremental_new_docs`` accounting. State is O(|index|)
    on disk, not in the stream; each increment costs one hash join
    against fingerprints, never a corpus rescan."""
    landing = os.path.join(work_dir, "landing")
    index_dir = os.path.join(work_dir, "index")
    audit_dir = os.path.join(work_dir, "audit")
    checkpoint = os.path.join(work_dir, "ckpt")
    os.makedirs(landing, exist_ok=True)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        _open_target(index_dir)  # a crash mid-compaction must not lose the index
        b = batch_df.select(
            "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("h")
        )
        if os.path.isdir(index_dir):
            idx = spark.read.parquet(index_dir).withColumn("_dup", F.lit(True))
            tagged = b.join(idx, "h", "left").withColumn(
                "dup_existing", F.coalesce(F.col("_dup"), F.lit(False))
            )
        else:
            tagged = b.withColumn("dup_existing", F.lit(False))
        w = Window.partitionBy("h").orderBy("doc_id")
        fresh = (
            tagged.where(~F.col("dup_existing"))
            .withColumn("rn", F.row_number().over(w))
        )
        audit = (
            tagged.join(fresh.select("doc_id", "rn"), "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_incoming"),
                F.sum(F.when(F.col("dup_existing"), 1).otherwise(0)).alias(
                    "n_dup_vs_existing"
                ),
                F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_within"),
                F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_accepted"),
            )
        )
        audit.write.mode("append").parquet(audit_dir)
        # append the increment's accepted fingerprints as ONE new
        # level-0 file (controlled name so the tiered compactor can
        # read levels back from the directory listing alone)
        tmp = f"{index_dir}.stage-append-{batch_id}"
        fresh.where(F.col("rn") == 1).select("h").coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.makedirs(index_dir, exist_ok=True)
        # the L0 name carries a fresh token: a crash-replay of a
        # committed batch re-runs this append with the SAME batch_id
        # and an EMPTY fresh set, and a deterministic name would
        # os.rename that empty file OVER the committed fingerprints —
        # silently un-deduplicating every later increment. A unique
        # name turns the replay into one harmless empty (or
        # duplicate) L0 file, which the semi-join ignores and the
        # next tier merge folds away.
        token = __import__("uuid").uuid4().hex[:8]
        for i, fname in enumerate(sorted(os.listdir(tmp))):
            if fname.endswith(".parquet"):
                os.rename(
                    os.path.join(tmp, fname),
                    os.path.join(index_dir, f"L0-{batch_id}-{token}-{i}.parquet"),
                )
        shutil.rmtree(tmp)
        _compact_index_tiers(spark, index_dir, batch_id)

    schema = None
    for i, (name, docs) in enumerate(increments):
        docs.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(landing, f"inc_{i:03d}_{name}")
        )
        if schema is None:
            schema = spark.read.parquet(os.path.join(landing, f"inc_{i:03d}_{name}")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(landing)
        )
        _run_foreach_batch(stream, apply, checkpoint, "incremental_dedup")
    return spark.read.parquet(audit_dir)
