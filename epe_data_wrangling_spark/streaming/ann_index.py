"""Incremental ANN index maintenance — IVF index refresh WITHOUT
retrain, the 100 TB serving-side twin of the batch ANN family.

The production shape (FAISS operational practice, and every vector
database's ingestion path): the coarse quantizer is TRAINED ONCE on a
representative corpus, then FROZEN — newly embedded documents are
assigned to their nearest trained centroid on arrival and appended to
the index, because retraining (and re-assigning the whole corpus)
per ingestion batch would cost a corpus-sized job for a delta-sized
change. This module is that contract as a foreachBatch sink over the
repo's manifest store:

- ``centroids/`` — trained on the BOOTSTRAP batch's vectors by the
  shared Lloyd trainer (`operators.kmeans.lloyd_means` — the same
  implementation the batch `kmeans_lloyd_centroids` certifies, so the
  trained/served quantizer cannot drift), then frozen. Deployment
  contract: the first landed drop IS the training corpus.
- ``vectors`` (manifest store) — the index rows (id, vector),
  bucketed by CELL id (``_kb`` = assigned centroid), so a serve-time
  probe reads ONLY the probed cells' files (the manifest layer pushes
  the ``_kb`` filter to the parquet scan) and an ingestion batch
  rewrites only the cells its vectors land in; untouched cells carry
  as manifest rows.

Per batch the work is: one delta × K broadcast argmin (assignment),
one SEGMENT-APPEND manifest commit (`write_store_delta(append=True)`
— the batch's rows land as NEW pool files added to their cells'
entries; standing rows are never read or rewritten on the ingest
path, so a batch costs the batch regardless of index size, and the
file-count growth is absorbed by the store's normal over-threshold
compaction), plus one touched-cell read for the duplicate-id witness
(read-only). Nothing corpus-sized moves after bootstrap. Serve
(`ivf_index_topk`): queries probe their ``probe`` best cells against
the broadcast centroids and scan ~probe/K of the index, exactly the
trained-IVF serve path of `ann_ivf_trained_topk`.

**Two index forms, one body per lifecycle step.** A raw index
(`_RawForm`) stores the vectors themselves in ``vectors`` and keeps
the centroids as its quantizer; its layout rides the meta as
``k_cells``. A PQ-coded index (`_PQForm`, FAISS IVFPQ by residual)
stores ``pq_m`` codebook ids per vector in ``codes`` and keeps the
centroids plus residual codebooks; its layout rides as ``pq_layout``
= [k_cells, pq_m, pq_sub, cbk]. `_form_of` maps a committed meta to
its form, and every step — the append and CDC sinks, serve's probe,
vacuum, retrain/rebuild and the drift loop — runs one shared body
over it. What differs per form lives in the form: how an assigned
row becomes store rows (raw: as is; PQ: residual split, then
`operators.pq.assign_codes`), what the bootstrap trains beside the
centroids (PQ: the codebooks), the PQ ``pq_m*pq_sub`` dimension
witness, and where a retrain reads the live corpus (raw: the index's
own store; PQ: the caller's system-of-record table). Each step
assigns once per id; the cell counts, witnesses and locator rows come
from that one row per id.

Exactly-once: appends double-count on re-application, so every sink
here commits through `streaming.ops._exactly_once_sink` (replays
skip, new data under a fresh checkpoint raises unless the caller
declares the handoff with ``adopt=True``), and the maintenance ops
(vacuum, retrain, rebuild) through its open/commit halves.
Duplicate-id guard: a batch id that already exists in its assigned
cell raises (exact for the common duplicate-delivery case — an
identical vector re-assigns to the identical cell under the frozen
quantizer; a DIFFERENT vector reusing an id is caught exactly by the
CDC sink's locator sidecar below).

**Deletes / upserts** (`ivf_index_changes_foreach_batch`): a
production vector index must also UNLEARN — dedup casualties, GDPR
deletes, re-embedded documents. The CDC sink composes the module's
append discipline with the tombstone + key-locator machinery the
top-k sinks established (`ops._key_index_guard_and_rewrite`):

- ``locator/`` — (id → cell) sidecar, bucketed by ``pmod(hash(id),
  LOC_BUCKETS)`` so a change batch reads/rewrites ONLY the key
  buckets its ids hash to. It answers the question a delete arrives
  WITHOUT the answer to: which cell holds this id's standing row
  (the vector is gone client-side; recomputing the cell needs the
  vector). Also makes insert-over-present and delete-of-unknown
  EXACT witnesses at touched-key-bucket cost.
- ``tombs/`` — cell-bucketed tombstones (id, _kb, tgen): a delete or
  upsert APPENDS a tombstone for the retired (id, old-cell) entry —
  standing vector rows are still never read or rewritten on the
  change path (merge-on-read, the lakehouse delete-vector shape).
  Vector rows carry ``_gen`` (a monotone per-target generation,
  `_next_gen` — checkpoint-handoff safe where raw batch ids are
  not); a row is
  dead iff a tombstone with the same (id, cell) and ``tgen > _gen``
  exists, so an upsert landing back in the SAME cell outlives the
  tombstone retiring its predecessor.
- Serve filters the probed cells' tombstones (a broadcast-joined
  max-tgen per retired id — dead-entry-sized, never corpus-sized);
  `ivf_index_vacuum` physically drops dead rows (copy-on-write
  rewrite of exactly the tombstoned cells) and clears their
  tombstones, restoring the pure-append read path.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from epe_data_wrangling_spark.functions import vectors as V
from epe_data_wrangling_spark.operators.kmeans import (
    farthest_first_seeds,
    lloyd_means,
    means_to_centroids,
)
from epe_data_wrangling_spark.operators.pq import (
    assign_codes,
    split_residual_subspaces,
    train_residual_codebooks,
    with_cc,
)
from epe_data_wrangling_spark.streaming.manifest import (
    carry_store,
    read_manifest,
    read_store,
    store_has_files,
    write_store_delta,
)
from epe_data_wrangling_spark.streaming.ops import (
    _check_layout,
    _commit_target,
    _exactly_once_sink,
    _open_target,
    _read_sink_meta,
)

#: The stream columns every index sink reads: the id (also the id
#: column of every store), the vector (array<float|double>) and, on a
#: change stream, the op ('I', 'U' or 'D').
ID, VEC, OP = "vec_id", "embedding", "op"

#: Key buckets of the CDC sinks' locator sidecar (meta ``loc_buckets``).
LOC_BUCKETS = 32

#: Schema of a serve over probed cells that hold no rows.
_TOPK_SCHEMA = "query_id BIGINT, neighbor_id BIGINT, rank INT, l2_dist DOUBLE"


def _next_gen(meta: dict) -> int:
    """Monotone PER-TARGET generation counter (meta ``last_gen``) for
    the vectors' ``_gen`` / tombstones' ``tgen`` ordering. Raw batch
    ids cannot serve: they restart at 0 on a checkpoint handoff, and
    a tombstone stamped with a regressed id would fail to retire
    standing rows committed under the old checkpoint's higher ids.
    Seeds from last_batch_id when ``last_gen`` is absent (a target
    whose commits all predate the counter ALSO predates the stores'
    ``_gen`` column, and every sink refuses it — see
    `_require_gen_schema` — so the seed only ever bridges metas
    written mid-upgrade, never reinterprets old stores)."""
    return int(meta.get("last_gen", meta.get("last_batch_id", -1))) + 1


def _dense_cids(cents: DataFrame) -> DataFrame:
    """Re-key freshly trained centroids to DENSE 0..k-1 cell ids
    (order-preserving, so every later ``orderBy(..., cid)`` tie-break
    compares identically). Lloyd seeds cid from the k lowest
    ``vec_id``s — a BIGINT; ``_assign_cells`` casts the cell id to int
    for the ``_kb`` bucket, so a bootstrap corpus with vec_id ≥ 2³¹
    would silently WRAP the cell id and collide cells between ingest
    and serve. Dense re-keying at bootstrap (K rows, one driver-side
    window) removes the overflow class entirely; the frozen centroids
    parquet then carries only small ints for the index's lifetime."""
    w = Window.orderBy("cid")
    return cents.withColumn(
        "cid", (F.row_number().over(w) - 1).cast("bigint")
    )


def _require_unique_ids(batch: DataFrame, sink: str) -> None:
    """Intra-batch duplicate-id witness: two rows sharing an id WITHIN
    one micro-batch (re-delivery landing in the same trigger) would
    both append silently — the standing-rows join can't see them — and
    serve would then return the vector twice, inflating ranks. One
    delta-sized limit-1 job."""
    dup = (
        batch.groupBy(ID)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise RuntimeError(
            f"{sink} sink: id {dup[0][0]} appears {dup[0]['n']} times "
            "WITHIN this batch — appending would duplicate it in its "
            "cell; dedup upstream or rebuild the target"
        )


def _require_gen_schema(manifest: dict | None, store: str, sink: str) -> None:
    """Pre-upgrade-target witness: a store committed before deltas
    carried the ``_gen`` generation column would fail the manifest
    layer's schema check on the next append with a generic "schema
    drift" error, and could not order tombstones against its rows (a
    delete-only batch would commit tombstones every later serve or
    vacuum crashes on) — refuse up front with the actionable message
    instead."""
    if manifest is not None and manifest.get("schema"):
        fields = [
            f["name"] for f in json.loads(manifest["schema"])["fields"]
        ]
        if "_gen" not in fields:
            raise RuntimeError(
                f"{sink} sink: target's {store} store predates the _gen "
                "generation column (committed by a pre-CDC build) — "
                "rebuild the target from the stream to upgrade it"
            )


#: Cell-occupancy skew (max/mean live rows per populated cell) above
#: which the sinks surface a retrain advisory in their meta — the
#: production trigger for re-training the frozen quantizer: a drifted
#: embedding distribution piles new vectors into few cells, serve
#: probes degrade toward scanning those hot cells, and recall on
#: drifted queries decays (measured: tools/supp/ann_index_scale.py
#: --drift; SCALE.md r14). Advisory, never an error: ingestion must
#: not stop because the corpus moved.
OCCUPANCY_SKEW_WARN = 8.0


def _occupancy_meta(
    old_counts: dict, delta_counts, retire_counts=None,
    warn_skew: float = OCCUPANCY_SKEW_WARN,
) -> dict:
    """Fold a batch's per-cell delta (and optional retired counts)
    into the meta-carried live-row occupancy map and attach the skew
    advisory. ``delta_counts``/``retire_counts`` are (cell, n)
    iterables — delta-sized collects the callers already pay."""
    counts = {str(k): int(v) for k, v in (old_counts or {}).items()}
    for b, c in delta_counts:
        counts[str(int(b))] = counts.get(str(int(b)), 0) + int(c)
    for b, c in retire_counts or ():
        counts[str(int(b))] = counts.get(str(int(b)), 0) - int(c)
    counts = {b: c for b, c in counts.items() if c > 0}
    out = {"cell_counts": dict(sorted(counts.items(), key=lambda kv: int(kv[0])))}
    if counts:
        mx = max(counts.values())
        mean = sum(counts.values()) / len(counts)
        skew = mx / mean if mean else 0.0
        out["occupancy_skew"] = round(skew, 3)
        if skew > warn_skew:
            hot = max(counts, key=counts.get)
            out["occupancy_warning"] = {
                "skew": round(skew, 3),
                "threshold": warn_skew,
                "hot_cell": int(hot),
                "hot_rows": counts[hot],
                "action": "embedding distribution has drifted from the "
                "bootstrap training corpus — retrain the quantizer to "
                "restore probe balance (ivf_index_retrain; use "
                "init='spread' for multi-cluster drift — SCALE.md r15 — "
                "or ivfpq_index_rebuild for PQ targets)",
            }
            import warnings

            warnings.warn(
                f"ANN index occupancy skew {skew:.1f} > "
                f"{warn_skew} (hot cell {hot}: {counts[hot]} "
                "rows) — quantizer retrain advised",
                RuntimeWarning,
                stacklevel=3,
            )
    return out


def _assign_cells(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-trained-centroid assignment (dist² argmin against the
    broadcast centroids — the Lloyd metric, so the index is coherent
    with its trainer) of ``vecs`` (id, v, _gen). Returns (id, v,
    _kb = cell, _gen, cv = the cell's centroid vector — the residual
    encoder needs it)."""
    # broadcast-array argmin (V.nearest_centroid): same (dist2, cid)
    # winner as the former per-id window over a k-way crossJoin, with
    # the batch scanned once and never shuffled by the assignment
    c = cents.withColumn("cc", V.dot(F.col("c"), F.col("c")))
    cands = V.centroid_array(c.select("cid", "c", "cc"))
    best = V.nearest_centroid(F.col("_cands"), F.col("v"), F.col("vv"))
    return (
        vecs.withColumn("vv", V.dot(F.col("v"), F.col("v")))
        .crossJoin(F.broadcast(cands))
        .withColumn("_best", best)
        .filter(F.col("_best").isNotNull())  # empty-centroids parity
        .select(
            ID, "v", F.col("_best.cid").cast("int").alias("_kb"), "_gen",
            F.col("_best.c").alias("cv"),
        )
    )


def _train_quantizer(vecs: DataFrame, k: int, iters: int,
                     init: str = "lowest") -> DataFrame:
    """Train the coarse quantizer on ``vecs`` (id, ``v``) with the
    shared Lloyd trainer and re-key it to DENSE 0..k-1 cell ids
    (`_dense_cids`), checkpointed — it feeds every later job. 'lowest'
    seeds with the k lowest ids; 'spread' seeds farthest-first on the
    MATERIALIZED corpus (the sample draw scans it once and Lloyd once
    per iteration, which would otherwise recompute its lineage each
    time; the k-1 argmax passes run on the seeding sample)."""
    ev = vecs.withColumn("vv", V.dot(F.col("v"), F.col("v")))
    seeds = None
    if init == "spread":
        ev = ev.localCheckpoint(eager=True)
        seeds = farthest_first_seeds(ev, k, id_col=ID)
    return _dense_cids(
        means_to_centroids(lloyd_means(ev, k, iters, id_col=ID, init=seeds))
    ).localCheckpoint(eager=True)


def _cell_counts(assigned: DataFrame) -> list:
    """(cell, ids) pairs of the one-row-per-id ``assigned`` frame, from
    one delta-sized agg (cell-count rows collected)."""
    return [
        (int(r["_kb"]), int(r["c"]))
        for r in assigned.groupBy("_kb").agg(F.count(F.lit(1)).alias("c")).collect()
    ]


def _stage_quantizers(target_dir: str, stage: str, fresh: dict) -> None:
    """Carry the quantizer dirs (``centroids``, ``codebooks``) into the
    stage: a committed (frozen) dir copies byte-identical — no Spark
    round-trip, no re-serialization drift; otherwise the freshly
    trained frame ``fresh[sub]`` is written, if there is one."""
    for sub, df in fresh.items():
        committed = os.path.join(target_dir, sub)
        if os.path.isdir(committed):
            shutil.copytree(committed, os.path.join(stage, sub))
        elif df is not None:
            df.write.mode("overwrite").parquet(os.path.join(stage, sub))


def _store_pairs(rows: DataFrame) -> DataFrame:
    """(id, cell) pairs of a store's rows — one per id and cell (a PQ
    vector has ``pq_m`` code rows)."""
    return rows.select(ID, F.col("_kb").alias("cell")).distinct()


# ---- the two index forms ----------------------------------------------


class _RawForm:
    """Raw vectors: store rows (vec_id, v, _kb, _gen); the quantizer is
    the centroids alone."""

    store, layout_key, kind, tag, verb = (
        "vectors", "k_cells", "raw-vector", "ivf_index", "retrain"
    )
    remedy = (
        "a commit of the other form would drop its vectors store; use "
        "the ivf_index_* functions (ivf_index_retrain to retrain) or a "
        "fresh target"
    )
    rows_per_id = 1

    def __init__(self, k_cells: int):
        self.k_cells = k_cells
        self.layout = k_cells

    def with_cells(self, k: int) -> "_RawForm":
        return _RawForm(k)

    def check_dims(self, vecs: DataFrame, tag: str) -> None:
        """Any dimension indexes as is."""

    def assign(self, vecs: DataFrame, cents: DataFrame) -> DataFrame:
        return _assign_cells(vecs, cents).drop("cv")

    def train(self, assigned: DataFrame) -> dict:
        return {}

    def load(self, spark, target_dir: str) -> dict:
        return {}

    def rows(self, assigned: DataFrame, quant: dict) -> DataFrame:
        return assigned

    def remediate(self, spark, target_dir, vectors, **kw) -> int:
        return ivf_index_retrain(spark, target_dir, **kw)


class _PQForm:
    """PQ codes: store rows (vec_id, m, cid, _kb, _gen), one per
    subspace; the quantizer is the centroids plus the residual
    codebooks."""

    store, layout_key, kind, tag, verb = (
        "codes", "pq_layout", "PQ-coded", "ivfpq_index", "rebuild"
    )
    remedy = (
        "a commit of the other form would drop its codes store, which "
        "holds no vectors; use the ivfpq_index_* functions "
        "(ivfpq_index_rebuild, with the system-of-record vectors table, "
        "to retrain) or a fresh target"
    )

    def __init__(self, k_cells: int, pq_m: int, pq_sub: int, cbk: int):
        self.k_cells, self.pq_m, self.pq_sub, self.cbk = k_cells, pq_m, pq_sub, cbk
        self.layout = [k_cells, pq_m, pq_sub, cbk]
        self.rows_per_id = pq_m

    def with_cells(self, k: int) -> "_PQForm":
        return _PQForm(k, self.pq_m, self.pq_sub, self.cbk)

    def check_dims(self, vecs: DataFrame, tag: str) -> None:
        """pq_m*pq_sub must cover the vector exactly — the subspace
        slices would otherwise silently encode only a PREFIX of each
        residual (ADC on half the dims = quiet recall collapse, no
        error anywhere). One delta-sized limit-1 job."""
        n = self.pq_m * self.pq_sub
        bad = (
            vecs.filter(F.col("v").isNull() | (F.size("v") != n))
            .limit(1)
            .collect()
        )
        if bad:
            dim = "NULL" if bad[0]["v"] is None else len(bad[0]["v"])
            raise RuntimeError(
                f"{tag}: vector dim {dim} != pq_m*pq_sub = {n} — the "
                "subspace slices would drop trailing dimensions; fix the "
                "layout or the source vectors"
            )

    def assign(self, vecs: DataFrame, cents: DataFrame) -> DataFrame:
        return _assign_cells(vecs, cents).select(
            ID, "_kb", "_gen",
            F.zip_with(F.col("v"), F.col("cv"), lambda a, b: a - b).alias("r"),
        )

    def _subspaces(self, assigned: DataFrame) -> DataFrame:
        return split_residual_subspaces(
            assigned, self.pq_m, self.pq_sub, keep=[ID, "_kb", "_gen"]
        )

    def train(self, assigned: DataFrame) -> dict:
        # the training residuals ARE the assigned rows' residuals — one
        # assignment feeds training and encoding
        cb = train_residual_codebooks(
            self._subspaces(assigned), self.cbk, ID
        ).localCheckpoint(eager=True)
        return {"codebooks": cb.drop("cc")}

    def load(self, spark, target_dir: str) -> dict:
        return {"codebooks": spark.read.parquet(os.path.join(target_dir, "codebooks"))}

    def rows(self, assigned: DataFrame, quant: dict) -> DataFrame:
        return assign_codes(
            self._subspaces(assigned), with_cc(quant["codebooks"]), ID
        ).select(ID, "m", "cid", "_kb", "_gen")

    def remediate(self, spark, target_dir, vectors, **kw) -> int:
        if vectors is None:
            raise RuntimeError(
                "ann_index_maintain: the PQ target's advisory is firing "
                "but no system-of-record vectors table was passed — the "
                "codes store holds no vectors, so the rebuild needs "
                "vectors=<the table serve-time re-rank already reads>"
            )
        return ivfpq_index_rebuild(spark, target_dir, vectors, **kw)


def _form_of(meta: dict):
    """The index form of a committed target, named by the layout key
    its meta carries (a target without one reads as raw)."""
    layout = meta.get("pq_layout")
    if layout is not None:
        return _PQForm(*(int(x) for x in layout))
    return _RawForm(int(meta.get("k_cells") or 8))


def _require_form(meta: dict, form_cls, tag: str, target_dir: str) -> None:
    """Cross-form witness: a commit of one form over the other's target
    would let the whole-dir atomic swap silently DROP the other form's
    store and quantizers (and the next sweep_orphans reclaim their
    pool)."""
    committed = _form_of(meta)
    if not isinstance(committed, form_cls) and meta.get(committed.layout_key) is not None:
        raise RuntimeError(
            f"{tag}: target {target_dir} is a {committed.kind} index "
            f"(meta carries {committed.layout_key}) — {committed.remedy}"
        )


def _encode(spark, form, target_dir: str, vecs: DataFrame, train: bool,
            train_iters: int, init: str = "lowest"):
    """Assign ``vecs`` (id, v, _gen) to their cells under a quantizer
    trained on them when ``train`` (a bootstrap batch IS the training
    corpus; a retrain trains on the live corpus), else under the
    committed frozen one. Returns the assigned rows — one per id,
    checkpointed: they feed the cell counts, the witnesses, the store
    rows and the locator — and the quantizer frames by dir name."""
    if train:
        cents = _train_quantizer(vecs.select(ID, "v"), form.k_cells, train_iters, init)
    else:
        cents = spark.read.parquet(os.path.join(target_dir, "centroids"))
    assigned = form.assign(vecs, cents).localCheckpoint(eager=True)
    rest = form.train(assigned) if train else form.load(spark, target_dir)
    return assigned, {"centroids": cents, **rest}


def _is_virgin(target_dir: str, manifest: dict | None) -> bool:
    return manifest is None and not os.path.isdir(os.path.join(target_dir, "centroids"))


def _write_rows(spark, form, assigned, quant, counts, target_dir, stage,
                batch_id, manifest, touched, append=True) -> None:
    """Commit the store rows of ``assigned`` into the stage; ``counts``
    (the per-cell id tally) hands the writer its row tally."""
    write_store_delta(
        spark, form.rows(assigned, quant), target_dir, form.store, stage,
        batch_id=batch_id, touched=touched, manifest=manifest, append=append,
        counts=[{"_kb": b, "c": c * form.rows_per_id} for b, c in counts],
    )


def _append_sink(stream, target_dir, form, train_iters, warn_skew, adopt,
                 checkpoint_dir) -> None:
    """The append-only sink of either form: the bootstrap batch trains
    the quantizer; every batch (bootstrap included) appends its rows
    to the cell-bucketed store."""
    tag = form.tag

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return None
        gen = _next_gen(meta)
        _require_form(meta, type(form), f"{tag} sink", target_dir)
        if meta.get("cdc"):
            # cross-sink witness: a plain append neither consults nor
            # maintains the CDC target's locator sidecar — its (id →
            # cell) map would silently go stale and every later
            # delete/upsert would retire the wrong (or no) entry
            raise RuntimeError(
                f"{tag} sink: target {target_dir} is CDC-maintained "
                "(meta carries cdc) — a plain append would leave the "
                f"locator sidecar stale; use {tag}_changes_foreach_batch "
                "(op='I') instead"
            )
        _check_layout(meta, tag, form.layout_key, form.layout)
        batch = batch_df.select(ID, F.col(VEC).cast("array<double>").alias("v"))
        _require_unique_ids(batch, tag)
        form.check_dims(batch, f"{tag} sink")
        manifest = read_manifest(target_dir, form.store)
        _require_gen_schema(manifest, form.store, tag)
        # _gen: the committing generation (_next_gen — monotone per
        # target, checkpoint-handoff safe) — inert for a pure-append
        # index, load-bearing the moment the CDC sink tombstones a row
        # (dead iff a (id, cell) tombstone with tgen > _gen exists);
        # written by both sinks so one store schema serves both
        # lifecycles
        assigned, quant = _encode(
            spark, form, target_dir,
            batch.withColumn("_gen", F.lit(gen).cast("bigint")),
            _is_virgin(target_dir, manifest), train_iters,
        )
        counts = _cell_counts(assigned)
        touched = sorted(b for b, _ in counts)
        existing = read_store(
            spark, target_dir, form.store, buckets=touched, manifest=manifest
        )
        if existing is not None:
            # duplicate witness only — the standing rows are never
            # rewritten (segment-append commit below)
            dup = (
                assigned.select(ID)
                .join(existing.select(ID), ID)
                .limit(1)
                .collect()
            )
            if dup:
                raise RuntimeError(
                    f"{tag} sink: id {dup[0][0]} already present in its "
                    "assigned cell — the stream re-delivered a vector outside "
                    "batch replay (appending would duplicate it); dedup "
                    "upstream or rebuild the target"
                )
        os.makedirs(stage, exist_ok=True)
        _write_rows(spark, form, assigned, quant, counts, target_dir, stage,
                    batch_id, manifest, touched)
        _stage_quantizers(target_dir, stage, quant)
        return {
            "last_gen": gen,
            form.layout_key: form.layout,
            **_occupancy_meta(
                meta.get("cell_counts"), counts, warn_skew=warn_skew,
            ),
        }

    _exactly_once_sink(
        stream, target_dir, tag, _step, adopt=adopt,
        checkpoint_dir=checkpoint_dir,
    )


def ivf_index_foreach_batch(
    vectors: DataFrame,
    target_dir: str,
    *,
    k_cells: int = 8,
    train_iters: int = 2,
    warn_skew: float = OCCUPANCY_SKEW_WARN,
    adopt: bool = False,
    checkpoint_dir: str | None = None,
) -> None:
    """Maintain the IVF index at ``target_dir`` from an append-only
    vector stream (rows: ``vec_id``, ``embedding`` array<float|double>).
    The bootstrap batch trains the quantizer; every batch (bootstrap
    included) appends its vectors to the cell-bucketed store."""
    _append_sink(vectors, target_dir, _RawForm(k_cells), train_iters,
                 warn_skew, adopt, checkpoint_dir)


def ivfpq_index_foreach_batch(
    vectors: DataFrame,
    target_dir: str,
    *,
    k_cells: int = 8,
    train_iters: int = 2,
    pq_m: int = 4,
    pq_sub: int = 16,
    cbk: int = 32,
    warn_skew: float = OCCUPANCY_SKEW_WARN,
    adopt: bool = False,
    checkpoint_dir: str | None = None,
) -> None:
    """PQ-coded twin of `ivf_index_foreach_batch` — the
    billion-scale ingestion form (FAISS IVFPQ, by_residual=true,
    maintained incrementally): the bootstrap batch trains the coarse
    quantizer AND the residual codebooks (both via the shared
    trainers — `operators.kmeans.lloyd_means`,
    `operators.pq.train_residual_codebooks` — so the batch
    `ann_ivfpq_topk` and this sink cannot drift), then BOTH are
    frozen; every batch's vectors are assigned to their cell,
    residual-encoded to ``pq_m`` codebook ids, and the CODES (one
    (id, m, cid) row per subspace — ~``pq_sub``× smaller than the
    float vectors) append into the cell-bucketed manifest store. The
    raw vectors are never stored: serve-time exact re-rank reads them
    from the caller's source table (`ivfpq_index_topk(vectors=...)`),
    which is where they live at 100 TB anyway. Same exactly-once /
    duplicate-id / layout-drift discipline as the raw-vector sink."""
    _append_sink(vectors, target_dir, _PQForm(k_cells, pq_m, pq_sub, cbk),
                 train_iters, warn_skew, adopt, checkpoint_dir)


def _probe(spark, target_dir: str, queries: DataFrame, probe: int):
    """Serve's probe step, shared by both forms: each query (query_id,
    qv) picks its ``probe`` nearest cells against the broadcast
    centroids. Returns (queries with ``qq`` = qv·qv, the probe rows
    (query_id, qv, qq, _kb, cv = the cell's centroid), the sorted
    probed cells)."""
    cents = spark.read.parquet(os.path.join(target_dir, "centroids"))
    c = cents.withColumn("cc", V.dot(F.col("c"), F.col("c")))
    q = queries.withColumn("qq", V.dot(F.col("qv"), F.col("qv")))
    d2c = (F.col("qq") - 2 * V.dot(F.col("qv"), F.col("c"))) + F.col("cc")
    w_p = Window.partitionBy("query_id").orderBy(F.col("d2c"), F.col("cid"))
    probes = (
        q.crossJoin(F.broadcast(c.select("cid", "c", "cc")))
        .withColumn("d2c", d2c)
        .withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= probe)
        .select(
            "query_id", "qv", "qq",
            F.col("cid").cast("int").alias("_kb"),
            F.col("c").alias("cv"),
        )
    )
    cells = sorted(
        int(r["_kb"]) for r in probes.select("_kb").distinct().collect()
    )
    return q, probes, cells


def _ranked(pairs: DataFrame, k: int) -> DataFrame:
    """Top-``k`` (query_id, neighbor_id, rank, l2_dist) of ``pairs``
    (query_id, neighbor_id, d2_r = round(d²·1e9))."""
    w_k = Window.partitionBy("query_id").orderBy("d2_r", "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w_k).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round(F.col("d2_r").cast("double") / F.lit(1e9), 6).alias(
                "l2_dist"
            ),
        )
    )


def ivf_index_topk(
    spark,
    target_dir: str,
    queries: DataFrame,
    *,
    probe: int = 4,
    k: int = 3,
) -> DataFrame:
    """Serve cosine-agnostic L2 top-k from the maintained index:
    ``queries`` rows (query_id, qv array<double>) probe their
    ``probe`` nearest trained cells (broadcast centroids) and scan
    ONLY those cells' index files (manifest bucket pruning pushes the
    ``_kb`` filter to the parquet scan). Distances are emitted as
    round(d2·1e9)/1e9 so ranking and values are order-free exact
    cross-engine. Returns (query_id, neighbor_id, rank, l2_dist)."""
    _q, probes, cells = _probe(spark, target_dir, queries, probe)
    manifest = read_manifest(target_dir, "vectors")
    if manifest is None:
        raise RuntimeError(
            f"ivf_index serve: no committed index at {target_dir}"
        )
    vecs = read_store(
        spark, target_dir, "vectors", buckets=cells, manifest=manifest
    )
    if vecs is None:
        # committed index, but every probed cell is vector-empty (a
        # skewed corpus can leave trained cells unpopulated): IVF
        # serve semantics = zero candidates, not an error
        return spark.createDataFrame([], _TOPK_SCHEMA)
    tombs = read_store(spark, target_dir, "tombs", buckets=cells)
    if tombs is not None:
        # probed-cell tombstones only; vacuum restores the
        # filter-free path (see _live_rows for the liveness rule)
        vecs = _live_rows(vecs, tombs)
    d2 = F.round(
        (
            (F.col("qq") - 2 * V.dot(F.col("qv"), F.col("v")))
            + V.dot(F.col("v"), F.col("v"))
        )
        * F.lit(1e9)
    ).cast("bigint")
    return _ranked(
        vecs.join(F.broadcast(probes), "_kb")
        .filter(F.col("query_id") != F.col(ID))
        .select("query_id", F.col(ID).alias("neighbor_id"), d2.alias("d2_r")),
        k,
    )


def ivfpq_index_topk(
    spark,
    target_dir: str,
    queries: DataFrame,
    vectors: DataFrame,
    *,
    probe: int = 4,
    cand: int = 50,
    k: int = 5,
) -> DataFrame:
    """Serve from the PQ-coded index: queries probe their ``probe``
    nearest cells, build per-(cell, subspace) asymmetric-distance
    tables of their OWN residual against the frozen codebooks
    (broadcast), score the probed cells' CODES by table lookups
    (ADC — the index scan reads codes only, pruned to the probed
    cells), and the ADC top-``cand`` are re-ranked by EXACT L2
    against ``vectors`` (the caller's raw-vector table): the
    ≤ |queries|×cand candidate ids are collected driver-side and
    PUSHED DOWN as an id-membership filter on the vectors scan
    (plan-asserted), so the re-rank reads candidate rows, not the
    corpus. Returns (query_id, neighbor_id, rank, l2_dist),
    BIGINT-staged like the batch twin."""
    # read-only: serve must not run `_open_target`, whose stage cleanup
    # and orphan sweep would race a live writer
    form = _form_of(_read_sink_meta(target_dir))
    if not isinstance(form, _PQForm):
        raise RuntimeError(
            f"ivfpq_index serve: no committed index at {target_dir}"
        )
    cb = with_cc(spark.read.parquet(os.path.join(target_dir, "codebooks")))
    q, probes, cells = _probe(spark, target_dir, queries, probe)
    qres = probes.select(
        "query_id", "_kb",
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: a - b).alias("r"),
    )
    qsub = split_residual_subspaces(
        qres, form.pq_m, form.pq_sub, keep=["query_id", "_kb"]
    )
    d2q = (F.col("rvv") - 2 * V.dot(F.col("rv"), F.col("c"))) + F.col("cc")
    dtab = qsub.join(F.broadcast(cb), "m").select(
        "query_id", "_kb", "m", "cid",
        F.round(d2q * F.lit(1e9)).cast("bigint").alias("d2_r"),
    )
    codes = read_store(spark, target_dir, "codes", buckets=cells)
    if codes is None:
        # committed index, but every probed cell is code-empty
        return spark.createDataFrame([], _TOPK_SCHEMA)
    tombs = read_store(spark, target_dir, "tombs", buckets=cells)
    if tombs is not None:
        # filtered BEFORE the ADC so retired codes are never scored
        # (see _live_rows for the liveness rule)
        codes = _live_rows(codes, tombs)
    adc = (
        codes.join(F.broadcast(dtab), ["_kb", "m", "cid"])
        .filter(F.col("query_id") != F.col(ID))
        .groupBy("query_id", ID)
        .agg(F.sum("d2_r").alias("adc_r"))
    )
    w_c = Window.partitionBy("query_id").orderBy("adc_r", ID)
    cand_df = (
        adc.withColumn("rn", F.row_number().over(w_c))
        .filter(F.col("rn") <= cand)
        .select("query_id", ID)
    )
    # candidate ids driver-side (≤ |queries|×cand rows — already the
    # size of the final answer×cand) so the raw-vector read is a
    # PUSHED-DOWN membership filter, not a corpus scan
    cand_ids = [
        r[0] for r in cand_df.select(ID).distinct().collect()
    ]
    ev = vectors.filter(
        vectors[ID].isin(cand_ids)
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    d2x = F.round(
        (
            (F.col("qq") - 2 * V.dot(F.col("qv"), F.col("v")))
            + F.col("vv")
        )
        * F.lit(1e9)
    ).cast("bigint")
    return _ranked(
        ev.join(F.broadcast(cand_df), ev[ID] == cand_df[ID])
        .drop(cand_df[ID])
        .join(F.broadcast(q.select("query_id", "qv", "qq")), "query_id")
        .select("query_id", F.col(ID).alias("neighbor_id"), d2x.alias("d2_r")),
        k,
    )


def _live_rows(rows: DataFrame, tombs: DataFrame) -> DataFrame:
    """The merge-on-read tombstone filter — THE definition of 'live',
    shared by serve, vacuum and retrain so the three can never
    disagree: a row is dead iff a tombstone for its (id, cell) with
    ``tgen > _gen`` exists (strict, so an upsert re-landing in the
    same cell — same gen as its predecessor's tombstone — survives).
    The dead set is tombstone-sized and broadcast."""
    dead = tombs.groupBy(ID, "_kb").agg(F.max("tgen").alias("_tg"))
    return (
        rows.join(F.broadcast(dead), [ID, "_kb"], "left")
        .filter(F.col("_tg").isNull() | (F.col("_gen") >= F.col("_tg")))
        .select(*rows.columns)  # committed column order (schema guard)
    )


def _key_bucket():
    """The locator's key bucket of an id."""
    return F.pmod(F.hash(F.col(ID)), F.lit(LOC_BUCKETS)).cast("int")


def _typed_empty_locator(ops: DataFrame) -> DataFrame:
    return (
        ops.select(ID)
        .withColumn("cell", F.lit(0).cast("int"))
        .withColumn("_kb", F.lit(0).cast("int"))
        .filter(F.lit(False))
    )


def _cdc_validate_ops(batch_df: DataFrame, tag: str) -> DataFrame:
    """Normalize + witness a change batch: op ∈ {I,U,D}, unique ids
    within the batch, vectors present on I/U. Returns the checkpointed
    (op, id, v) frame."""
    ops = batch_df.select(
        F.upper(F.col(OP)).alias("op"),
        ID,
        F.col(VEC).cast("array<double>").alias("v"),
    ).localCheckpoint(eager=True)  # feeds every witness + commit job
    bad_op = ops.filter(~F.col("op").isin("I", "U", "D")).limit(1).collect()
    if bad_op:
        raise RuntimeError(
            f"{tag} sink: op {bad_op[0]['op']!r} outside " "{'I','U','D'}"
        )
    _require_unique_ids(ops, tag)
    bad_v = (
        ops.filter(F.col("op").isin("I", "U") & F.col("v").isNull())
        .limit(1)
        .collect()
    )
    if bad_v:
        raise RuntimeError(
            f"{tag} sink: id {bad_v[0][ID]} has op "
            f"{bad_v[0]['op']} but a null vector — only deletes may "
            "omit the vector"
        )
    return ops


def _cdc_locate_and_retire(
    spark,
    target_dir: str,
    ops: DataFrame,
    tag: str,
    *,
    store: str,
    store_manifest: dict | None,
):
    """Locator-side machinery of the CDC sink: resolve the batch ids'
    key buckets, read (or one-time-backfill from the ``store``'s
    (id, cell) pairs) the locator, run the exact insert-over-present /
    delete-of-unknown witnesses, compute the retired (id, old-cell)
    entries, and run the locator↔store divergence witness against the
    ``store``'s retired cells. Returns (kk expr, touched_kk,
    loc_manifest, loc_backfill, old_loc, retire, retire_counts,
    retire_cells)."""
    kk = _key_bucket()
    touched_kk = sorted(
        int(r["b"]) for r in ops.select(kk.alias("b")).distinct().collect()
    )
    loc_manifest = read_manifest(target_dir, "locator")
    # backfill ONLY for a target the CDC sink has never committed
    # (no locator manifest at all): a committed-but-empty locator
    # (every id deleted) must NOT re-derive entries from the index
    # store, whose rows may all be tombstoned
    loc_backfill = loc_manifest is None and store_manifest is not None
    if store_has_files(loc_manifest):
        old_loc = read_store(
            spark, target_dir, "locator",
            buckets=touched_kk, manifest=loc_manifest,
        )
        if old_loc is None:
            old_loc = _typed_empty_locator(ops)
    elif loc_backfill:
        # one-time adoption of a plain-append target: derive the full
        # (id → cell) map from the index store (corpus-sized, ONCE; a
        # plain target has no tombstones, so every stored row is
        # live). This batch then commits the FULL locator; later
        # batches are touched-bucket-sized.
        old_loc = _store_pairs(
            read_store(spark, target_dir, store, manifest=store_manifest)
        ).withColumn("_kb", kk)
    else:
        old_loc = _typed_empty_locator(ops)
    # witnesses the locator makes EXACT (delta-sized joins; the
    # locator side is touched-bucket pruned, or the one-time full
    # backfill)
    ins_over = (
        ops.filter(F.col("op") == "I")
        .select(ID)
        .join(old_loc.select(ID), ID)
        .limit(1)
        .collect()
    )
    if ins_over:
        raise RuntimeError(
            f"{tag} sink: id {ins_over[0][0]} op=I but the "
            "locator already holds it (possibly with a different "
            "vector in a different cell) — emit U to re-embed (or D, then "
            "I in a LATER batch: one op per id per batch)"
        )
    del_unknown = (
        ops.filter(F.col("op") == "D")
        .select(ID)
        .join(old_loc.select(ID), ID, "left_anti")
        .limit(1)
        .collect()
    )
    if del_unknown:
        raise RuntimeError(
            f"{tag} sink: id {del_unknown[0][0]} op=D but "
            "the locator does not hold it — deleting an absent id is a "
            "pipeline fault (double delete or wrong target), not a no-op"
        )
    # retired entries: U/D ids the locator holds → (id, old cell)
    retire = (
        ops.filter(F.col("op").isin("U", "D"))
        .select(ID)
        .join(old_loc.select(ID, "cell"), ID)
        .localCheckpoint(eager=True)
    )
    retire_counts = [
        (int(r["cell"]), int(r["c"]))
        for r in retire.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    retire_cells = sorted(b for b, _ in retire_counts)
    if retire_cells:
        # locator ↔ store divergence witness: every retired entry
        # must hold a standing row in its located cell (read-only,
        # retired-cells-pruned)
        standing = read_store(
            spark, target_dir, store,
            buckets=retire_cells, manifest=store_manifest,
        )
        missing = (
            retire
            if standing is None
            else retire.join(_store_pairs(standing), [ID, "cell"], "left_anti")
        ).limit(1).collect()
        if missing:
            raise RuntimeError(
                f"{tag} sink: locator and {store} store "
                f"DIVERGE — id {missing[0][0]} located in cell "
                f"{missing[0]['cell']} but that cell holds no row for "
                "it; refusing to retire a phantom entry"
            )
    return (
        kk, touched_kk, loc_manifest, loc_backfill,
        old_loc, retire, retire_counts, retire_cells,
    )


def _cdc_commit_tombs_and_locator(
    spark,
    target_dir: str,
    stage: str,
    batch_id: int,
    gen: int,
    ops: DataFrame,
    old_loc: DataFrame,
    new_pairs: DataFrame,
    kk,
    touched_kk: list,
    loc_backfill: bool,
    loc_manifest: dict | None,
    retire: DataFrame,
    retire_cells: list,
) -> None:
    """Commit tail of the CDC sink: tombstone append for the retired
    entries + locator rewrite (survivors ⊎ ``new_pairs`` — (id, cell)
    rows of this batch's inserted/upserted entries), both into the
    caller's staging dir."""
    tombs_manifest = read_manifest(target_dir, "tombs")
    if retire_cells:
        tomb_delta = retire.select(
            ID,
            F.col("cell").cast("int").alias("_kb"),
            F.lit(gen).cast("bigint").alias("tgen"),
        )
        write_store_delta(
            spark, tomb_delta, target_dir, "tombs", stage,
            batch_id=batch_id, touched=retire_cells,
            manifest=tombs_manifest, append=True,
        )
    else:
        carry_store(target_dir, "tombs", stage)
    survivors = old_loc.join(
        F.broadcast(ops.select(ID)), ID, "left_anti"
    )
    final_loc = new_pairs.withColumn("_kb", kk)
    new_loc = survivors.select(ID, "cell", "_kb").unionByName(
        final_loc.select(ID, "cell", "_kb")
    )
    loc_touched = (
        sorted(
            {
                int(r["_kb"])
                for r in new_loc.select("_kb").distinct().collect()
            }
        )
        if loc_backfill
        else touched_kk
    )
    write_store_delta(
        spark, new_loc, target_dir, "locator", stage,
        batch_id=batch_id, touched=loc_touched,
        manifest=loc_manifest if store_has_files(loc_manifest) else None,
    )


def _changes_sink(changes, target_dir, form, train_iters, warn_skew, adopt,
                  checkpoint_dir) -> None:
    """The CDC sink of either form (see
    `ivf_index_changes_foreach_batch` for the contract)."""
    tag = f"{form.tag}_changes"

    def _step(batch_df: DataFrame, batch_id: int, meta: dict, stage: str):
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return None
        gen = _next_gen(meta)
        _require_form(meta, type(form), f"{tag} sink", target_dir)
        _check_layout(meta, tag, form.layout_key, form.layout)
        _check_layout(meta, tag, "loc_buckets", LOC_BUCKETS)
        ops = _cdc_validate_ops(batch_df, tag)
        present = ops.filter(F.col("op").isin("I", "U")).select(ID, "v")
        form.check_dims(present, f"{tag} sink")
        manifest = read_manifest(target_dir, form.store)
        _require_gen_schema(manifest, form.store, tag)
        train = _is_virgin(target_dir, manifest)
        if train and present.isEmpty():
            raise RuntimeError(
                f"{tag} sink: virgin target and the first batch carries "
                "no I/U vectors — nothing to train the quantizer on"
            )
        (
            kk, touched_kk, loc_manifest, loc_backfill,
            old_loc, retire, retire_counts, retire_cells,
        ) = _cdc_locate_and_retire(
            spark, target_dir, ops, tag,
            store=form.store, store_manifest=manifest,
        )
        # --- new rows under the frozen quantizer --------------------
        assigned, quant = _encode(
            spark, form, target_dir,
            present.withColumn("_gen", F.lit(gen).cast("bigint")),
            train, train_iters,
        )
        counts = _cell_counts(assigned)
        touched = sorted(b for b, _ in counts)
        # --- commit: store append + tombs append + locator rewrite --
        os.makedirs(stage, exist_ok=True)
        if touched:
            _write_rows(spark, form, assigned, quant, counts, target_dir,
                        stage, batch_id, manifest, touched)
        else:
            carry_store(target_dir, form.store, stage)
        _cdc_commit_tombs_and_locator(
            spark, target_dir, stage, batch_id, gen, ops,
            old_loc, assigned.select(ID, F.col("_kb").alias("cell")),
            kk, touched_kk, loc_backfill, loc_manifest,
            retire, retire_cells,
        )
        _stage_quantizers(target_dir, stage, quant)
        return {
            "last_gen": gen,
            form.layout_key: form.layout,
            "loc_buckets": LOC_BUCKETS,
            "cdc": True,
            **_occupancy_meta(
                meta.get("cell_counts"), counts, retire_counts,
                warn_skew=warn_skew,
            ),
        }

    _exactly_once_sink(
        changes, target_dir, tag, _step, adopt=adopt,
        checkpoint_dir=checkpoint_dir,
    )


def ivf_index_changes_foreach_batch(
    changes: DataFrame,
    target_dir: str,
    *,
    k_cells: int = 8,
    train_iters: int = 2,
    warn_skew: float = OCCUPANCY_SKEW_WARN,
    adopt: bool = False,
    checkpoint_dir: str | None = None,
) -> None:
    """Maintain the IVF index from a CHANGE stream — rows
    (``op`` ∈ {'I','U','D'}, ``vec_id``, ``embedding``; D rows may
    carry a null vector, which is the whole point: a delete arrives
    without the vector, so the cell holding its standing row must
    come from the ``locator/`` sidecar). Per batch:

    - inserts/upserts assign against the FROZEN centroids and
      SEGMENT-APPEND into the cell-bucketed vectors store, ``_gen`` =
      the batch's generation (cost: the batch — identical to the
      append sink);
    - deletes and upserts-over-present APPEND a tombstone (id,
      old-cell, tgen = the generation) retiring the standing entry —
      standing rows are never read or rewritten on the change path;
    - the locator rewrites exactly the key buckets the batch's ids
      hash to (survivors ⊎ final entries — the
      `_key_index_guard_and_rewrite` discipline), in the same atomic
      swap, so (id → cell) and the index can never diverge across a
      crash.

    Witnesses (all delta-sized): op outside {I,U,D}, null vector on
    I/U, duplicate id within the batch, INSERT over a present id
    (exact via the locator — catches a different vector reusing an
    id, the case the append sink's cell-local check cannot see),
    DELETE of an unknown id, and locator↔store divergence (every
    retired (id, cell) must hold a standing row in that cell).

    Bootstrap: a virgin target trains the quantizer on the first
    batch's I/U vectors (dense 0..k-1 cells). A target built by
    `ivf_index_foreach_batch` is adopted — with the EXPLICIT
    ``adopt=True`` declaration, since the adopting stream's fresh
    checkpoint is otherwise indistinguishable from a miswired job
    (`ops._is_committed_replay`) — by backfilling the locator from the
    full vectors store ONCE (corpus-sized, the one-time adoption
    cost; every later batch is touched-bucket-sized), after which
    the plain append sink refuses the target (meta ``cdc`` flag) —
    the two lifecycles cannot interleave and strand the locator
    stale."""
    _changes_sink(changes, target_dir, _RawForm(k_cells), train_iters,
                  warn_skew, adopt, checkpoint_dir)


def ivfpq_index_changes_foreach_batch(
    changes: DataFrame,
    target_dir: str,
    *,
    k_cells: int = 8,
    train_iters: int = 2,
    pq_m: int = 4,
    pq_sub: int = 16,
    cbk: int = 32,
    warn_skew: float = OCCUPANCY_SKEW_WARN,
    adopt: bool = False,
    checkpoint_dir: str | None = None,
) -> None:
    """CDC form of the PQ-coded index — `ivf_index_changes_foreach_
    batch`'s billion-scale twin, the same sink body over the PQ form:
    I/U vectors are residual-encoded under the FROZEN coarse quantizer
    + codebooks and their CODES segment-append; deletes and superseded
    upserts tombstone the retired (id, old-cell) entry via the same
    locator sidecar, serve (`ivfpq_index_topk`) filters probed-cell
    tombstones before ADC so retired codes are never scored, and
    `ivfpq_index_vacuum` physically drops dead code rows. Re-rank
    note: serve reads raw vectors from the CALLER's vectors table —
    after an upsert that table must reflect the new embedding (it is
    the system of record; the index stores codes only)."""
    _changes_sink(changes, target_dir, _PQForm(k_cells, pq_m, pq_sub, cbk),
                  train_iters, warn_skew, adopt, checkpoint_dir)


def ivf_index_vacuum(spark, target_dir: str) -> int:
    """Physically drop dead rows: copy-on-write rewrite of exactly the
    TOMBSTONED cells (live rows survive into fresh pool files; the
    superseded files become orphans for the next sweep), clear those
    cells' tombstones, commit everything in one atomic swap. Serve
    results are invariant by construction — the rewrite keeps
    precisely the rows the serve-time tombstone filter kept — and
    afterwards the probed-cell read path is filter-free again.
    Returns the number of cells vacuumed (0 = nothing dead). The
    maintenance twin of the manifest layer's over-threshold
    compaction: run it when the dead fraction warrants reclaiming
    scan bandwidth, e.g. after a dedup sweep retires a cohort.
    Handles BOTH index forms (raw ``vectors`` and PQ ``codes`` — the
    store is resolved from the committed meta); ``ivfpq_index_vacuum``
    is the same function under the PQ name."""
    meta = _open_target(target_dir)
    store = _form_of(meta).store
    tombs_manifest = read_manifest(target_dir, "tombs")
    if not store_has_files(tombs_manifest):
        return 0
    tombs = read_store(spark, target_dir, "tombs", manifest=tombs_manifest)
    dead_cells = sorted(
        int(r["_kb"]) for r in tombs.select("_kb").distinct().collect()
    )
    vec_manifest = read_manifest(target_dir, store)
    vecs = read_store(
        spark, target_dir, store, buckets=dead_cells,
        manifest=vec_manifest,
    )
    if vecs is None:
        raise RuntimeError(
            f"ivf_index_vacuum: tombstones reference cells {dead_cells[:8]} "
            f"but the {store} store holds no rows there — the stores diverged"
        )
    live = _live_rows(vecs, tombs)
    batch_id = int(meta.get("last_batch_id", 0))
    stage = f"{target_dir}.stage-vacuum-{batch_id}"
    os.makedirs(stage, exist_ok=True)
    write_store_delta(
        spark, live, target_dir, store, stage,
        batch_id=batch_id, touched=dead_cells, manifest=vec_manifest,
    )
    write_store_delta(
        spark, tombs.filter(F.lit(False)), target_dir, "tombs", stage,
        batch_id=batch_id, touched=dead_cells, manifest=tombs_manifest,
    )
    carry_store(target_dir, "locator", stage)
    _stage_quantizers(target_dir, stage, {"centroids": None, "codebooks": None})
    _commit_target(stage, target_dir, batch_id, meta)
    return len(dead_cells)


#: PQ-name alias — the vacuum resolves the store from the committed
#: meta, so one implementation serves both index forms.
ivfpq_index_vacuum = ivf_index_vacuum


def _empty_corpus(tag: str) -> RuntimeError:
    # a fully-tombstoned corpus would train ZERO centroids and commit
    # an empty quantizer — after which every later insert assigns
    # against nothing, emits an empty delta, and records its files as
    # applied: the rows would vanish silently and be unreplayable
    return RuntimeError(
        f"{tag}: the live corpus is empty (every row tombstoned) — "
        "training on it would commit an empty quantizer that silently "
        "swallows all future inserts; rebuild the target from the "
        "stream instead"
    )


def _store_corpus(live: DataFrame, form, tag: str) -> DataFrame:
    """A raw index's live corpus: its own live store rows."""
    if live.isEmpty():
        raise _empty_corpus(tag)
    return live.select(ID, "v", "_gen")


def _source_corpus(vectors: DataFrame):
    """A PQ index's live corpus: the live ids' vectors from the
    system-of-record table ``vectors`` (vec_id, v)."""

    def corpus(live: DataFrame, form, tag: str) -> DataFrame:
        # one (id, _gen) row per live vector (its pq_m code rows share
        # one generation by construction — they land in one commit)
        gen_of = (
            live.groupBy(ID)
            .agg(F.max("_gen").alias("_gen"))
            .localCheckpoint(eager=True)  # feeds the witness join + encode
        )
        if gen_of.isEmpty():
            raise _empty_corpus(tag)
        src = vectors.select(ID, "v")
        missing = gen_of.join(src, ID, "left_anti").limit(1).collect()
        if missing:
            raise RuntimeError(
                f"{tag}: live id {missing[0][0]} is not in the "
                "system-of-record vectors table — the source must cover "
                "every live index row (rebuilding without it would "
                "silently drop the row); fix the source table or delete "
                "the id first"
            )
        # no broadcast hint: the live id set is CORPUS-sized (one row
        # per live vector) — at index scale it must shuffle-join
        # against the source table (AQE still broadcasts it when it is
        # actually small)
        out = src.join(gen_of, ID)
        _require_unique_ids(out, tag)
        form.check_dims(out, tag)
        return out

    return corpus


def _retrain(spark, target_dir: str, form_cls, corpus, k_cells, train_iters,
             init, warn_skew) -> int:
    """Retrain/rebuild of either form: re-train the quantizer on the
    live corpus (``corpus(live store rows, form, tag)`` → (id, v,
    _gen)), re-assign every live row, and commit in one atomic swap:
    every committed and new bucket rewritten, tombstones cleared, the
    locator (on a CDC target) rewritten to the new cells, the
    quantizers written, occupancy rebuilt. Returns the rows
    re-assigned."""
    tag = f"{form_cls.tag}_{form_cls.verb}"
    if init not in ("lowest", "spread"):
        # before any I/O or side-effectful maintenance: a bad literal
        # is known bad at call time
        raise ValueError(
            f"{tag}: init={init!r} — use 'lowest' (the certified "
            "default) or 'spread' (farthest-first coarse seeding for "
            "drifted multi-cluster corpora; see "
            "operators.kmeans.farthest_first_seeds)"
        )
    meta = _open_target(target_dir)
    _require_form(meta, form_cls, tag, target_dir)
    manifest = read_manifest(target_dir, form_cls.store)
    if not store_has_files(manifest):
        raise RuntimeError(
            f"{tag}: no committed {form_cls.store} at {target_dir}"
        )
    # the retrain reads _gen per live row to preserve CDC ordering, so
    # a pre-_gen target must refuse actionably, not with an
    # unresolved-column error
    _require_gen_schema(manifest, form_cls.store, tag)
    form = _form_of(meta)
    form = form.with_cells(int(k_cells or form.k_cells))
    rows = read_store(spark, target_dir, form.store, manifest=manifest)
    tombs_manifest = read_manifest(target_dir, "tombs")
    tombs = (
        read_store(spark, target_dir, "tombs", manifest=tombs_manifest)
        if store_has_files(tombs_manifest)
        else None
    )
    live = rows if tombs is None else _live_rows(rows, tombs)
    assigned, quant = _encode(
        spark, form, target_dir, corpus(live, form, tag), True,
        train_iters, init,
    )
    counts = _cell_counts(assigned)
    batch_id = int(meta.get("last_batch_id", 0))
    stage = f"{target_dir}.stage-{form.verb}-{batch_id}"
    os.makedirs(stage, exist_ok=True)
    # every committed bucket is replaced (old cells dissolve into the
    # new partitioning)
    _write_rows(
        spark, form, assigned, quant, counts, target_dir, stage, batch_id,
        manifest,
        sorted({int(b) for b in manifest["buckets"]} | {b for b, _ in counts}),
        append=False,
    )
    if tombs is not None:
        write_store_delta(
            spark, tombs.filter(F.lit(False)), target_dir, "tombs", stage,
            batch_id=batch_id,
            touched=sorted(int(b) for b in tombs_manifest["buckets"]),
            manifest=tombs_manifest,
        )
    else:
        carry_store(target_dir, "tombs", stage)
    loc_manifest = read_manifest(target_dir, "locator")
    if loc_manifest is not None:
        new_loc = assigned.select(ID, F.col("_kb").alias("cell")).withColumn(
            "_kb", _key_bucket()
        )
        write_store_delta(
            spark, new_loc, target_dir, "locator", stage,
            batch_id=batch_id,
            touched=sorted(
                set(int(b) for b in loc_manifest["buckets"])
                | {
                    int(r["_kb"])
                    for r in new_loc.select("_kb").distinct().collect()
                }
            ),
            manifest=loc_manifest,
        )
    for sub, df in quant.items():
        df.write.mode("overwrite").parquet(os.path.join(stage, sub))
    new_meta = {
        k: v for k, v in meta.items()
        if k not in ("occupancy_warning", "occupancy_skew", "cell_counts")
    }
    new_meta[form.layout_key] = form.layout
    new_meta.update(_occupancy_meta(None, counts, warn_skew=warn_skew))
    _commit_target(stage, target_dir, batch_id, new_meta)
    return sum(c for _, c in counts)


def ivf_index_retrain(
    spark, target_dir: str, *, k_cells: int | None = None,
    train_iters: int = 2, init: str = "lowest",
    warn_skew: float = OCCUPANCY_SKEW_WARN,
) -> int:
    """Re-train the coarse quantizer on the CURRENT live corpus and
    re-assign every live row — the remediation the occupancy-skew
    advisory points at, closing the drift loop (measure → warn →
    retrain): after enough distribution drift the frozen cells stop
    partitioning the corpus (SCALE.md r14: probing 2/8 cells read 80%
    of it) and the fix is a fresh quantizer, not more appends.

    DELIBERATELY corpus-sized — that is what retrain means; it is the
    one operation here allowed to cost the standing index, run at the
    cadence drift warrants (weeks/months), not per batch. One atomic
    swap commits: new dense-cid centroids trained by the SAME shared
    Lloyd trainer (init = current k lowest live ids), the vectors
    store rewritten into the new cells (live rows only — tombstoned
    rows are dropped in the same pass, so a separate vacuum is
    redundant), tombstones cleared, the locator (if the target is
    CDC-maintained) rewritten to the new cells, and occupancy
    counters rebuilt (a standing retrain advisory clears itself by
    construction). Serve needs no change: it reads whatever centroids
    are committed. ``init``: 'lowest' (the certified default — the k
    lowest live ids) or 'spread' (farthest-first seeding, the
    remediation for multi-cluster drift where lowest-id seeding
    structurally cannot rebalance — SCALE.md r15; certified by
    `streaming_ann_index_retrain_spread`). Raw-vector targets only —
    a PQ target stores codes, not vectors, so its retrain is
    `ivfpq_index_rebuild` (the same contract, corpus re-read from the
    caller's system-of-record vectors table). Returns the number of
    live rows re-assigned."""
    return _retrain(spark, target_dir, _RawForm, _store_corpus, k_cells,
                    train_iters, init, warn_skew)


def ivfpq_index_rebuild(
    spark, target_dir: str, vectors: DataFrame, *,
    k_cells: int | None = None,
    train_iters: int = 2, init: str = "lowest",
    warn_skew: float = OCCUPANCY_SKEW_WARN,
) -> int:
    """Drift remediation for the PQ-CODED index — the rebuild
    `ivf_index_retrain` points PQ targets at: the codes store holds no
    vectors, so re-training means going back to the SYSTEM OF RECORD
    (``vectors``: the caller's raw-vector table, (``vec_id``, ``v``
    array<double>) — the same table serve-time exact re-rank already
    reads). The index's own stores contribute exactly one thing: the
    LIVE id set (codes minus tombstones under the shared `_live_rows`
    rule) — which ids the rebuilt index must contain; their vectors
    are fetched from the source table by an id join.

    One atomic swap commits: a fresh coarse quantizer trained on the
    live corpus (shared Lloyd trainer; ``init``: 'lowest' = the k
    lowest live ids, or 'spread' = farthest-first seeding for
    multi-cluster drift — the residual codebooks keep the lowest-id
    init either way, since cell subtraction removes the drift
    component the coarse stage absorbs; dense cids — `_dense_cids`),
    fresh residual codebooks trained on
    the live residuals (shared `operators.pq.train_residual_codebooks`
    — the SAME two trainers the bootstrap path uses, so a rebuilt
    index and a from-scratch bootstrap over the live corpus are the
    same artifact), every live row re-encoded into the new cells
    (per-row ``_gen`` preserved — tombstone ordering for future CDC
    batches stays intact), tombstones cleared, the locator (if the
    target is CDC-maintained) rewritten to the new cells, occupancy
    counters rebuilt. Deliberately corpus-sized, like retrain: run at
    drift cadence (the occupancy advisory's trigger), not per batch.
    Returns the number of live rows re-encoded.

    Witnesses: raw-vector targets refuse (use `ivf_index_retrain` —
    their store IS the corpus); an empty live corpus refuses (the
    empty-quantizer wedge, as in retrain); a live id MISSING from the
    system-of-record table refuses (the source table must cover the
    index — rebuilding without it would silently drop the row);
    duplicate source ids and a source dim != pq_m·pq_sub refuse (the
    plain sink's layout witness, re-checked because the corpus is
    re-read from outside the index)."""
    return _retrain(spark, target_dir, _PQForm, _source_corpus(vectors),
                    k_cells, train_iters, init, warn_skew)


def ann_index_maintain(
    spark, target_dir: str, vectors: DataFrame | None = None, *,
    init: str = "spread", train_iters: int = 2,
) -> dict:
    """The drift loop as ONE operational call — measure → warn →
    remediate, dispatched from the committed meta: if the target's
    last commit carries the occupancy advisory (`_occupancy_meta`),
    run the remediation that fits the index form — `ivf_index_retrain`
    for raw-vector targets (default ``init='spread'``: the advisory
    fires on drifted corpora, exactly where lowest-id seeding cannot
    rebalance — SCALE.md r15), `ivfpq_index_rebuild` for PQ targets
    (requires ``vectors``, the system-of-record table; refuses with
    the actionable message otherwise). A healthy target is a NO-OP —
    safe to call after every ingestion cycle; the corpus-sized work
    runs only when the free per-batch signal says drift warrants it.
    Returns {"action": "none"|"retrain"|"rebuild", "rows": n,
    "skew_before": s, "skew_after": s', "improved": bool|None}. The
    remediation rebuilds the occupancy advisory against the TUNED
    threshold the firing advisory carried (``warning["threshold"]``),
    not the module default — so a target whose sink warns at 1.5
    stays held to 1.5 through the loop.

    Two guards for the call-every-cycle posture: (a) a committed
    ``k_cells`` above `SPREAD_SEED_MAX_K` falls back to
    ``init='lowest'`` with a warning — farthest-first's accumulated
    min-dist expression is O(k) dot products deep and past ~64 terms
    the codegen cost dominates (the scan itself is sample-bounded,
    `SPREAD_SAMPLE_CAP`); (b) if the remediation fails to IMPROVE the
    skew (``skew_after`` ≥ ``skew_before``), a warning fires and
    ``improved=False`` is returned — the advisory may still be
    standing, and a caller loop that re-dispatches on it without
    checking ``improved`` would re-run the corpus-sized remediation
    every cycle for nothing (the corpus is genuinely concentrated;
    raise the threshold or change k instead)."""
    import warnings

    from epe_data_wrangling_spark.operators.kmeans import (
        SPREAD_SEED_MAX_K,
    )
    # the recovery contract every entry point honors: a crash between
    # the two renames of a prior swap leaves the committed state in
    # <target>.old-N — reading meta without opening the target first
    # would report a half-swapped index as a healthy virgin sink
    meta = _open_target(target_dir)
    form = _form_of(meta)
    if not store_has_files(read_manifest(target_dir, form.store)):
        # refuse loudly like the sibling entry points: a typo'd path
        # in a maintenance loop must not report 'healthy' forever
        raise RuntimeError(
            f"ann_index_maintain: no committed index at {target_dir}"
        )
    warning = meta.get("occupancy_warning")
    if warning is None:
        return {
            "action": "none",
            "rows": 0,
            "skew_before": meta.get("occupancy_skew"),
            "skew_after": meta.get("occupancy_skew"),
            "improved": None,  # nothing ran — same shape as the
            # remediation return so loop callers can key on it safely
        }
    tuned = float(warning.get("threshold", OCCUPANCY_SKEW_WARN))
    if init == "spread" and form.k_cells > SPREAD_SEED_MAX_K:
        warnings.warn(
            f"ann_index_maintain: committed k_cells={form.k_cells} exceeds "
            f"the farthest-first seeding bound ({SPREAD_SEED_MAX_K}: the "
            "accumulated min-dist expression is O(k) deep and codegen "
            "cost dominates past it) — falling back to init='lowest' for "
            "this remediation; retrain/rebuild explicitly with a smaller "
            "k_cells to use spread seeding",
            stacklevel=2,
        )
        init = "lowest"
    n = form.remediate(
        spark, target_dir, vectors, init=init, train_iters=train_iters,
        warn_skew=tuned,
    )
    action = form.verb
    new_meta = _open_target(target_dir)
    skew_before = warning["skew"]
    skew_after = new_meta.get("occupancy_skew")
    improved = (
        skew_after < skew_before
        if skew_after is not None and skew_before is not None
        else None
    )
    if improved is False:
        warnings.warn(
            f"ann_index_maintain: {action} did not improve occupancy "
            f"skew ({skew_before:.3g} -> {skew_after:.3g}) — the corpus "
            "is genuinely concentrated at this k; re-dispatching on the "
            "standing advisory would re-run the corpus-sized "
            f"{action} every cycle. Raise the threshold, change "
            "k_cells, or gate the loop on improved=False",
            stacklevel=2,
        )
    return {
        "action": action,
        "rows": n,
        "skew_before": skew_before,
        "skew_after": skew_after,
        "improved": improved,
    }
