"""Manifest-committed bucket stores for the stateful streaming sinks.

Every sink in `streaming.ops` that keeps bucketed standing state
(support multisets, keyed images, top-k views, key-index sidecars)
commits through this module instead of materializing a full copy of
the bucket layout per batch. The motivation is measured, not
theoretical: SCALE.md's round-10 isolation runs showed that with
per-bucket *directories* (hive `_kb=<b>/` layout, untouched buckets
hardlinked file-by-file into each staging dir), scaling the bucket
count 10x made otherwise-flat refreshes 2.3-4.6x slower on pure
per-directory filesystem metadata — listing, link(2) per file,
rmtree of the superseded tree. That is exactly the cost a lakehouse
table format's transaction log removes, and this module is the
offline-buildable equivalent:

- **Data files are immutable and live in a flat pool** outside the
  swapped target dir (``<target>.pool/<store>/``), shared by every
  committed version. A file holds the rows of ONE OR MORE buckets:
  buckets smaller than ``TARGET_MIN_FILE_ROWS`` are packed together
  (consecutive bucket-id runs) so a commit that touches 60 tiny
  buckets lands ~1 small file, not 60 — the measured r11 residual
  (per-file open cost on many tiny touched files) — while buckets at
  or above the target keep a file to themselves, so at production
  bucket sizes the layout degenerates to exactly the per-bucket form
  and pruned reads pay zero amplification. The bucket id ``_kb`` is
  a real column in the data, and pruned reads filter on it, so a
  shared file never leaks a neighbor's rows.
- **The unit of copy-on-write is the FILE** (the same discipline as
  a lakehouse format's copy-on-write): every pool file's rows are
  exactly the CURRENT rows of the buckets whose manifest entries
  reference it — never stale. A commit that touches a bucket whose
  file is shared therefore rewrites the whole file: the co-located
  "mate" buckets' (unchanged, tiny by the packing invariant) rows
  ride along into the replacement file, bounded per touched file by
  ``TARGET_MIN_FILE_ROWS``-ish rows of write amplification. Reads
  need no per-file bucket maps because of this invariant.
- **The manifest is one small JSON file per store**
  (``_manifest_<store>.json``: bucket -> ordered data-file names)
  written into the sink's staging dir and promoted by the SAME
  atomic dir swap as ``_ivm_meta.json`` — state data and its commit
  record can never diverge. An untouched bucket costs one manifest
  row to carry forward, not N syscalls; a store untouched by a whole
  batch carries forward as one small file copy.
- **Bucket pruning moves from directory pruning to file selection**:
  readers resolve the touched buckets against the manifest and read
  exactly those files (`read_store(buckets=...)`), which is stricter
  than relying on Catalyst partition pruning and independent of
  directory layout.
- **Crash safety** composes with the existing swap protocol
  (`ops._atomic_swap` / `_recover_swap` / `_clean_stale_stages`):
  pool files written by a batch that never committed its manifest
  are unreferenced by construction and are deleted by
  `sweep_orphans` at the next batch start; a torn manifest can only
  exist inside a staging dir, which the stale-stage sweep removes; a
  manifest in the COMMITTED dir that fails to parse, or references a
  pool file that does not exist, RAISES — it is a corruption
  witness, never silently rebuilt.
- **Compaction is a manifest rewrite**: any bucket whose file list
  exceeds `COMPACT_FILE_THRESHOLD` is rewritten — all selected
  buckets in ONE Spark job, capped at `COMPACT_BUCKETS_PER_COMMIT`
  per commit so a fragmented bootstrap cannot turn one batch into
  O(n_buckets) serial jobs — and the manifest simply points at the
  replacement file; the old files become orphans.

Reference parity note: the reference engine
(`tratamento_epe.R:290`) persists its refreshed table as a single
binary artifact per run; this module is the scale-out counterpart
for the sinks that must NOT rewrite their world per refresh.
"""

from __future__ import annotations

import json
import os
import shutil
import threading as _threading
import uuid as _uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MANIFEST_FORMAT_VERSION = 1

# Per-bucket data-file count above which a bucket is rewritten as one
# file inside the next commit that sees it (shared with the dedup
# index's tier size in `ops.incremental_dedup_runs`).
COMPACT_FILE_THRESHOLD = 8

# Buckets below this row count are packed together into shared pool
# files (consecutive bucket-id runs, one file per run); buckets at or
# above it keep their own file. Row-count is the proxy for size
# because every manifest store holds NARROW state rows (keys +
# integer counts/hashes) — revisit if a store ever carries wide
# payloads. At production bucket sizing (bucket >> this), packing
# never engages and the layout is per-bucket.
TARGET_MIN_FILE_ROWS = 4096

# Ceiling on buckets compacted per commit: bounds the latency any one
# batch pays for de-fragmentation, spreading a fragmented bootstrap
# across commits instead of spiking the first one.
COMPACT_BUCKETS_PER_COMMIT = 16


def pool_store_dir(target_dir: str, store: str) -> str:
    """The flat immutable data-file pool for one store. Lives OUTSIDE
    the swapped target dir (sibling path) so the swap's rmtree of a
    superseded version never touches shared data files."""
    return os.path.join(f"{target_dir}.pool", store)


def _manifest_path(d: str, store: str) -> str:
    return os.path.join(d, f"_manifest_{store}.json")


def read_manifest(target_dir: str, store: str) -> dict | None:
    """The committed manifest for one store, or None for a virgin
    store. RAISES on an unparsable or wrong-version manifest (a torn
    write can only exist in a staging dir, so corruption in the
    committed dir is a witness, not something to silently rebuild
    over) and on the pre-manifest hive bucket layout (resuming such a
    target would silently read zero old state)."""
    p = _manifest_path(target_dir, store)
    if not os.path.isfile(p):
        legacy = os.path.join(target_dir, store)
        if os.path.isdir(legacy) and any(
            d.startswith("_kb=") for d in os.listdir(legacy)
        ):
            raise RuntimeError(
                f"store '{store}' under {target_dir} uses the pre-manifest "
                "bucket-directory layout (_kb=*/ dirs, no manifest) — this "
                "build commits bucketed state through a manifest; rebuild "
                "the target from the stream"
            )
        return None
    try:
        with open(p) as f:
            m = json.load(f)
    except ValueError as e:
        raise RuntimeError(
            f"committed manifest {p} is unreadable ({e}) — refusing to "
            "treat a corrupt commit record as an empty store"
        ) from e
    if m.get("format_version") != MANIFEST_FORMAT_VERSION:
        raise RuntimeError(
            f"manifest {p} has format_version={m.get('format_version')}, "
            f"this build reads {MANIFEST_FORMAT_VERSION}"
        )
    return m


def store_has_files(manifest: dict | None) -> bool:
    return manifest is not None and any(manifest["buckets"].values())


def store_file_paths(
    target_dir: str, store: str, manifest: dict, buckets=None
) -> list[str]:
    """Absolute paths of the data files backing ``buckets`` (all when
    None) — the manifest-era replacement for directory-level partition
    pruning. A referenced-but-missing pool file RAISES: the manifest
    is the commit record, so the file's absence is corruption (or an
    orphan sweep run against a foreign target), never emptiness."""
    pool = pool_store_dir(target_dir, store)
    if buckets is None:
        keys = list(manifest["buckets"])
    else:
        keys = [str(int(b)) for b in buckets]
    out = []
    seen = set()  # a packed file shared by several selected buckets reads once
    for b in keys:
        for name in manifest["buckets"].get(b, []):
            if name in seen:
                continue
            seen.add(name)
            p = os.path.join(pool, name)
            if not os.path.isfile(p):
                raise RuntimeError(
                    f"manifest for store '{store}' references missing data "
                    f"file {p} — the pool and the committed manifest "
                    "diverged; refusing to read a partial store"
                )
            out.append(p)
    return out


_UNSET = object()

_SERIAL_LISTING_LOCK = _threading.Lock()
_SERIAL_LISTING_DEPTH = [0]
_SERIAL_LISTING_OLD = [None]


def _read_paths(spark, paths: list[str], schema_json: str | None) -> DataFrame:
    """Construct the DataFrame over an explicit resolved-file list with
    the two driver-side costs removed that otherwise dominate small
    touched-bucket reads (measured: ~0.6 s per construction at 60
    paths, several constructions per batch): the committed schema from
    the manifest skips footer inference, and the parallel-partition-
    discovery threshold is raised for the call so Spark stat's the
    paths serially instead of launching a LISTING JOB per construction
    (the default threshold is 32 paths — every touched-bucket read
    over >32 buckets would pay a whole Spark job just to list files it
    was already handed)."""
    reader = spark.read
    if schema_json:
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    # The threshold is session-global SQLConf (no per-relation option
    # exists), so concurrent readers must not interleave raw
    # set/restore pairs — a depth-counted lock keeps it raised while
    # ANY manifest read is constructing and restores the caller's
    # value only when the last one exits. External readers of large
    # directory trees regain parallel discovery the moment no
    # manifest read is in flight.
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with _SERIAL_LISTING_LOCK:
        if _SERIAL_LISTING_DEPTH[0] == 0:
            _SERIAL_LISTING_OLD[0] = spark.conf.get(key)
            spark.conf.set(key, "1000000")
        _SERIAL_LISTING_DEPTH[0] += 1
    try:
        return reader.parquet(*paths)
    finally:
        with _SERIAL_LISTING_LOCK:
            _SERIAL_LISTING_DEPTH[0] -= 1
            if _SERIAL_LISTING_DEPTH[0] == 0:
                spark.conf.set(key, _SERIAL_LISTING_OLD[0])


def read_store(
    spark,
    target_dir: str,
    store: str,
    *,
    buckets=None,
    manifest=_UNSET,
) -> DataFrame | None:
    """The store's rows for ``buckets`` (all when None), or None when
    the store has never committed OR no selected bucket holds files —
    callers already branch on None (typed-empty fallback), and an
    empty selection cannot carry a schema without opening a file.
    Pass ``manifest`` (even an explicit None for a known-virgin store)
    to skip the committed-manifest read.

    Concurrency note: while any manifest read is constructing its
    DataFrame, the session-global
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` SQLConf
    is raised (and restored when the last concurrent read exits) — an
    unrelated application thread constructing a DataFrame over a LARGE
    directory tree in that window lists files serially instead of via
    a listing job. Acceptable for this repo's single-driver sinks; if
    concurrent external large-directory readers ever matter, give the
    manifest reads a dedicated SparkSession (`spark.newSession()`)."""
    m = read_manifest(target_dir, store) if manifest is _UNSET else manifest
    if m is None:
        return None
    paths = store_file_paths(target_dir, store, m, buckets)
    if not paths:
        return None
    df = _read_paths(spark, paths, m.get("schema"))
    if buckets is not None:
        # a packed file holds neighbor buckets' (current) rows too —
        # restrict to the selection; pushed to the parquet scan
        df = df.filter(F.col("_kb").isin([int(b) for b in buckets]))
    return df


def carry_store(target_dir: str, store: str, stage_dir: str) -> None:
    """Carry a store a batch did not touch through the commit: the
    new version's manifest is byte-identical, so the carry is ONE
    small file copy — the cost the hive layout paid in per-file
    hardlinks. No-op for a virgin store."""
    src = _manifest_path(target_dir, store)
    if not os.path.isfile(src):
        return
    os.makedirs(stage_dir, exist_ok=True)
    shutil.copyfile(src, _manifest_path(stage_dir, store))


def _pack_groups(by_id: list) -> list:
    """Greedy consecutive packing of (bucket_id, row_count) pairs,
    sorted by id: a group closes once it holds >= TARGET_MIN_FILE_ROWS
    rows, AND before admitting a bucket that is itself at/above the
    target — so tiny buckets share a file while a big bucket always
    gets one to itself (a skewed store's hot bucket must never become
    a tiny neighbor's file-mate: every CoW touch of the tiny bucket
    would rewrite the hot rows, unbounded by the packing target).
    Returns a list of bucket-id lists."""
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_rows = 0
    for b, c in by_id:
        if cur and (
            cur_rows >= TARGET_MIN_FILE_ROWS or c >= TARGET_MIN_FILE_ROWS
        ):
            groups.append(cur)
            cur, cur_rows = [], 0
        cur.append(b)
        cur_rows += c
    if cur:
        groups.append(cur)
    return groups


def _write_pool_files(
    df: DataFrame, pool: str, batch_id: int, counts=None
) -> dict:
    """Materialize rows (carrying ``_kb``) as pool files and return
    {bucket: [file names]}. Buckets are discovered exactly from the
    data (one delta-sized count job — the map never depends on the
    caller's ``touched`` being complete, so bootstrap/backfill writes
    carrying arbitrary buckets stay safe; ``counts`` lets the caller
    hand in rows it already collected for the SAME df, so the
    pre-write stray witness and the packing plan share one job) and
    packed by `_pack_groups`; the write partitions by the group id so
    a packed group lands in one file, sorted by ``_kb`` within it so
    bucket rows cluster for row-group stat pruning once files grow
    real row groups. Files rename into the flat pool under fresh
    unique names (immutable — a name is never reused, so readers of
    the previous committed manifest are never disturbed). A supplied
    ``counts`` that misses a bucket present in ``df`` RAISES before
    any rename: that bucket's rows land in a partition dir the plan
    does not know (in the packed path the assignment routes them to a
    sentinel group instead of a neighbor's file)."""
    supplied = counts is not None
    if counts is None:
        counts = df.groupBy("_kb").agg(F.count(F.lit(1)).alias("c")).collect()
    if not counts:
        return {}
    by_id = sorted((int(r["_kb"]), int(r["c"])) for r in counts)
    groups = _pack_groups(by_id)
    if len(groups) == len(by_id):
        # nothing packs: partition by the bucket id itself (no
        # assignment expression; the production-sizing fast path)
        kbg = F.col("_kb")
        group_of = {b: b for b, _ in by_id}
    else:
        # ascending upper-bound CaseWhen (flat branch list, exhaustive:
        # the last group is the otherwise)
        uppers = [g[-1] for g in groups]
        kbg = F.when(F.col("_kb") <= F.lit(uppers[0]), F.lit(0))
        for gi in range(1, len(groups) - 1):
            kbg = kbg.when(F.col("_kb") <= F.lit(uppers[gi]), F.lit(gi))
        kbg = kbg.otherwise(F.lit(len(groups) - 1))
        if supplied:
            kbg = F.when(F.col("_kb").isin([b for b, _ in by_id]), kbg).otherwise(
                F.lit(-1)
            )
        group_of = {b: gi for gi, g in enumerate(groups) for b in g}
    token = _uuid.uuid4().hex[:12]
    tmp = os.path.join(pool, f"_tmp-{batch_id}-{token}")
    (
        df.withColumn("_kbg", kbg)
        .repartition(len(groups), "_kbg")
        .sortWithinPartitions("_kbg", "_kb")
        .write.partitionBy("_kbg")
        .mode("overwrite")
        .parquet(tmp)
    )
    planned = {f"_kbg={g}" for g in group_of.values()}
    unplanned = sorted(
        d for d in os.listdir(tmp) if d.startswith("_kbg=") and d not in planned
    )
    if unplanned:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"pool write produced partition(s) {unplanned[:8]} that map to no "
            "bucket of the row tally — the caller-supplied counts miss a "
            "bucket present in the delta; refusing to commit misrouted rows"
        )
    files_of_group: dict[str, list[str]] = {}
    for d in sorted(os.listdir(tmp)):
        if not d.startswith("_kbg="):
            continue
        g = d.split("=", 1)[1]
        files = sorted(
            f for f in os.listdir(os.path.join(tmp, d)) if f.endswith(".parquet")
        )
        for i, fname in enumerate(files):
            name = f"g{g}-{batch_id}-{token}-{i}.parquet"
            os.rename(os.path.join(tmp, d, fname), os.path.join(pool, name))
            files_of_group.setdefault(g, []).append(name)
    shutil.rmtree(tmp)
    entries: dict[str, list[str]] = {}
    for b, _c in by_id:
        names = files_of_group.get(str(group_of[b]))
        if not names:  # cannot happen: b has rows, so its group wrote
            raise RuntimeError(
                f"pool write produced no file for bucket {b} "
                f"(group {group_of[b]}) — tmp layout diverged from the plan"
            )
        entries[str(b)] = list(names)
    return entries


def _compact_over_threshold(
    spark,
    target_dir: str,
    store: str,
    buckets: dict,
    exclude: set,
    batch_id: int,
    schema_json: str | None = None,
) -> dict:
    """Rewrite over-threshold buckets (fragmented bootstrap images,
    repeatedly-carried small files) — ALL selected buckets in ONE
    Spark job, at most `COMPACT_BUCKETS_PER_COMMIT` seed buckets per
    commit. Touched buckets are excluded: the caller just rewrote
    them. The selection expands to FILE MATES (buckets co-packed into
    any file being rewritten — tiny by the packing invariant) so a
    rewritten file never strands stale rows behind a surviving
    reference. Superseded files become orphans for the next batch's
    sweep."""
    over = sorted(
        (
            b
            for b, names in buckets.items()
            if b not in exclude and len(names) > COMPACT_FILE_THRESHOLD
        ),
        key=lambda b: -len(buckets[b]),
    )[:COMPACT_BUCKETS_PER_COMMIT]
    if not over:
        return buckets
    seed_files = {n for b in over for n in buckets[b]}
    sel_ids = set(over) | {
        b
        for b, names in buckets.items()
        if b not in over and seed_files.intersection(names)
    }
    pool = pool_store_dir(target_dir, store)
    paths = sorted(
        {os.path.join(pool, n) for b in sel_ids for n in buckets[b]}
    )
    df = _read_paths(spark, paths, schema_json).filter(
        F.col("_kb").isin([int(b) for b in sel_ids])
    )
    entries = _write_pool_files(df, pool, batch_id)
    out = dict(buckets)
    for b in sel_ids:
        out.pop(b, None)
    out.update(entries)
    return out


def write_store_delta(
    spark,
    df: DataFrame,
    target_dir: str,
    store: str,
    stage_dir: str,
    *,
    batch_id: int,
    touched,
    manifest: dict | None,
    digests: dict | None = None,
    compact: bool = True,
    append: bool = False,
    counts=None,
) -> None:
    """Commit one store's new version into the caller's staging dir:
    ``df`` (the full post-batch rows of the touched buckets, carrying
    ``_kb``; on bootstrap/backfill it may carry ANY buckets — every
    bucket present in the data gets a fresh entry) lands in the pool,
    touched buckets' old entries drop, untouched entries carry over as
    manifest rows, over-threshold untouched buckets compact, and the
    new manifest JSON is written to ``stage_dir`` for the caller's
    atomic swap. Nothing here mutates the committed version.

    ``append=True`` switches to SEGMENT-APPEND semantics (the
    lakehouse append commit; built for append-only stores like the
    ANN index): ``df`` carries ONLY the new rows, its files ADD to
    the touched buckets' committed entries instead of replacing them
    — no existing row is ever read or rewritten on the ingest path,
    so a batch costs the batch, not the touched buckets' standing
    contents; the file-count growth is what the normal over-threshold
    compaction absorbs (appended buckets stay eligible — they are
    exactly the ones accumulating files). Replaced-bucket witnesses,
    mate expansion, and ``digests`` do not apply (nothing is
    replaced; a per-bucket content digest cannot be maintained
    without reading the standing content — pass none).

    When a touched bucket's committed file is SHARED (packed tiny
    buckets), the untouched co-packed mates are rewritten along with
    it (their current rows read from the superseded files and unioned
    into the write) — the file-level copy-on-write that keeps every
    referenced file stale-free; amplification is bounded by the
    packing target per touched file.

    ``digests``: optional per-bucket content digests for the TOUCHED
    buckets ({bucket: json value}, as computed by the caller over the
    post-batch rows). They ride the manifest; untouched buckets carry
    theirs, a touched bucket not re-supplied loses its digest (absent
    digests compare as changed — conservative, never wrong). Mate
    rewrites preserve mate digests (content unchanged).

    ``counts`` (r17): optional caller-supplied per-bucket row tally of
    ``df`` (rows indexable as ``r["_kb"]``/``r["c"]``, only buckets
    with rows). When the caller already counted the delta — e.g. the
    support sinks' negative-count guard aggregates per bucket anyway —
    passing it here lets BOTH the stray-bucket witness and the pool
    write's packing plan run without their own count job: one fewer
    Spark job per commit. Must tally exactly the rows in ``df`` — a
    tally missing a bucket the delta carries raises before any pool
    rename; when omitted the commit counts for itself as before."""
    pool = pool_store_dir(target_dir, store)
    os.makedirs(pool, exist_ok=True)
    buckets = dict(manifest["buckets"]) if manifest is not None else {}
    digs = dict(manifest.get("digests", {})) if manifest is not None else {}
    # the committed schema rides the manifest so readers never pay
    # footer inference; the writer's df IS the store's row schema
    # (``_kbg``, the pool write's partition column, never reaches the
    # files).
    # Schema drift guard: a store's row schema is FIXED for its
    # lifetime — silently replacing the committed schema would make
    # `_compact_over_threshold` (and every carried-bucket read) open
    # OLD pool files with the NEW schema, where a dropped column
    # resurfaces as nulls instead of raising. Compare name+type
    # (nullability legitimately flutters across lit()/union paths).
    schema_json = df.schema.json()
    if manifest is not None and manifest.get("schema"):
        from pyspark.sql.types import StructType

        committed = StructType.fromJson(json.loads(manifest["schema"]))
        new_sig = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        old_sig = [(f.name, f.dataType.simpleString()) for f in committed.fields]
        if new_sig != old_sig:
            raise RuntimeError(
                f"store '{store}' schema drift: committed {old_sig} vs "
                f"this delta's {new_sig} — a manifest store's row schema "
                "is immutable; refusing to commit a delta that would make "
                "old pool files read back reshaped"
            )
    if append:
        if digests:
            raise ValueError(
                "write_store_delta(append=True) cannot carry digests — a "
                "per-bucket content digest requires the full post-batch "
                "bucket contents, which an append commit never reads"
            )
        entries = _write_pool_files(df, pool, batch_id, counts=counts)
        for b, names in entries.items():
            buckets[b] = buckets.get(b, []) + names
        if compact:
            # appended buckets stay eligible: they are the ones
            # accumulating files (exclude nothing)
            buckets = _compact_over_threshold(
                spark, target_dir, store, buckets, set(), batch_id,
                schema_json,
            )
        os.makedirs(stage_dir, exist_ok=True)
        out = {
            "format_version": MANIFEST_FORMAT_VERSION,
            "schema": schema_json,
            "buckets": {
                b: names
                for b, names in sorted(
                    buckets.items(), key=lambda kv: int(kv[0])
                )
                if names
            },
        }
        if digs:
            # carried digests from earlier replace-mode commits stay
            # valid only for buckets this append did NOT touch
            digs = {
                b: v
                for b, v in sorted(digs.items(), key=lambda kv: int(kv[0]))
                if b in out["buckets"] and b not in entries
            }
            if digs:
                out["digests"] = digs
        with open(_manifest_path(stage_dir, store), "w") as f:
            json.dump(out, f)
        return
    touched_keys = {str(int(b)) for b in touched}
    pre_existing = set(buckets)
    # file-level copy-on-write: untouched buckets co-packed into a
    # touched bucket's file move with it (their rows union into the
    # write; their digests survive — content unchanged)
    touched_files = {n for b in touched_keys for n in buckets.get(b, [])}
    mate_ids = {
        b
        for b, names in buckets.items()
        if b not in touched_keys and touched_files.intersection(names)
    }
    # Undeclared-replaced-bucket witnesses, BOTH run BEFORE any pool
    # write so a rejected commit leaves the pool untouched (in-repo
    # sinks reclaim strays via next-batch sweep_orphans, but an
    # external caller that never sweeps would otherwise leak pool
    # files on every rejection). Two caller errors are caught:
    # (a) the delta carries rows for a MATE bucket — the mate union
    #     below would commit the bucket's OLD rows alongside the
    #     delta's new ones (duplicates);
    # (b) the delta replaces a committed bucket never declared
    #     touched — its mate expansion is skipped, leaving its old
    #     shared file referenced by the mates WITH the bucket's stale
    #     rows inside (the one way a caller could break the
    #     stale-free-file invariant).
    # One delta-sized per-bucket count (≤ n_buckets rows back) that the
    # mate-free pool write REUSES as its packing plan (no extra job),
    # skipped entirely when no stray is possible: bootstrap (nothing
    # committed) or every pre-existing bucket already declared touched.
    df_counts = counts
    if mate_ids or not pre_existing <= touched_keys:
        if df_counts is None:
            df_counts = df.groupBy("_kb").agg(
                F.count(F.lit(1)).alias("c")
            ).collect()
        df_buckets = {str(int(r["_kb"])) for r in df_counts}
        stray_in_mates = df_buckets & mate_ids
        if stray_in_mates:
            raise RuntimeError(
                f"store '{store}' delta carries data for committed "
                f"bucket(s) {sorted(stray_in_mates)[:8]} not declared in "
                "touched (they share files with touched buckets) — "
                "declare every replaced bucket in `touched`"
            )
        stray = (df_buckets - touched_keys - mate_ids) & pre_existing
        if stray:
            raise RuntimeError(
                f"store '{store}' delta carries data for committed "
                f"bucket(s) {sorted(stray)[:8]} not declared in touched — "
                "their old entries would be replaced without file-level "
                "copy-on-write; declare every replaced bucket in `touched`"
            )
    out_df = df
    if mate_ids:
        mate_paths = sorted(
            {
                os.path.join(pool, n)
                for b in mate_ids
                for n in buckets[b]
            }
        )
        mates_df = _read_paths(
            spark, mate_paths, manifest.get("schema") if manifest else None
        ).filter(F.col("_kb").isin([int(b) for b in mate_ids]))
        out_df = df.unionByName(mates_df.select(*df.columns))
    for b in touched_keys | mate_ids:
        buckets.pop(b, None)
    for b in touched_keys:
        digs.pop(b, None)
    if digests:
        digs.update({str(int(b)): v for b, v in digests.items()})
    entries = _write_pool_files(
        out_df, pool, batch_id,
        counts=df_counts if not mate_ids else None,  # out_df == df then
    )
    buckets.update(entries)
    if compact:
        buckets = _compact_over_threshold(
            spark, target_dir, store, buckets,
            touched_keys | mate_ids | set(entries), batch_id, schema_json,
        )
    os.makedirs(stage_dir, exist_ok=True)
    final_buckets = {
        b: names
        for b, names in sorted(buckets.items(), key=lambda kv: int(kv[0]))
        if names
    }
    out = {
        "format_version": MANIFEST_FORMAT_VERSION,
        "schema": schema_json,
        "buckets": final_buckets,
    }
    digs = {
        b: v
        for b, v in sorted(digs.items(), key=lambda kv: int(kv[0]))
        if b in final_buckets
    }
    if digs:
        out["digests"] = digs
    with open(_manifest_path(stage_dir, store), "w") as f:
        json.dump(out, f)


def sweep_orphans(target_dir: str) -> None:
    """Delete pool files no committed manifest references — the data
    written by batches that crashed before their swap (their manifest
    never left the staging dir) and the files superseded by a
    compaction. MUST run after `_recover_swap` (so the reference set
    is the true committed state) and before the current batch writes
    its own pool files (which would otherwise look like orphans).
    One listdir per store; no Spark jobs."""
    pool_root = f"{target_dir}.pool"
    if not os.path.isdir(pool_root):
        return
    for store in os.listdir(pool_root):
        sdir = os.path.join(pool_root, store)
        if not os.path.isdir(sdir):
            continue
        m = read_manifest(target_dir, store)
        referenced = (
            {n for names in m["buckets"].values() for n in names}
            if m is not None
            else set()
        )
        for fname in os.listdir(sdir):
            p = os.path.join(sdir, fname)
            if fname.startswith("_tmp-") and os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif fname.endswith(".parquet") and fname not in referenced:
                os.remove(p)
