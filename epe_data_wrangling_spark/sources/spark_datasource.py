"""Workbook ingest as a first-class Spark data source (Python Data
Source API, Spark 4 / SPARK-44076): ``spark.read.format("workbook")``.

The driver-side ingest in ``sources.workbook`` is the right tool for
ONE small messy workbook (the reference's actual artifact,
`tratamento_epe.R:39,63`), because the normalize stage needs
plan-time access to specific cells. This module is the DISTRIBUTED
counterpart for the fleet-of-workbooks shape — a landing zone with
thousands of spreadsheet drops — where parsing must happen on
executors, not the driver:

- **Planning touches no file contents.** ``partitions()`` only lists
  the directory; every byte of workbook parsing happens inside
  ``read()`` on an executor. One :class:`InputPartition` per FILE —
  the natural split unit for container formats, since both OOXML
  (shared-strings part, ZIP central directory) and BIFF8 (CFB FAT,
  workbook-global SST) hold workbook-global state that a sheet-level
  split would force every task to re-read.
- **Output is the raw CELL relation** ``(file, sheet, sheet_idx,
  row_idx, col_idx, value)`` — no header interpretation, every value
  text (read_xls parity). Header naming, junk slicing and typing are
  downstream relational work (``plans.epe_normalize``), keeping this
  source schema-stable no matter how ragged the sheets are; ragged /
  blank cells simply produce no row (sparse representation).
- Format detection is per-file by MAGIC BYTES (CFB → BIFF8 reader,
  else OOXML), so one load() can mix ``.xls`` and ``.xlsx`` drops.

Registration is per-session and idempotent: ``register(spark)``.
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: The cell relation. row_idx/col_idx are 0-based positions in the raw
#: grid (row 0 is the sheet's header row under read_xls semantics);
#: sheet_idx preserves workbook sheet ORDER, which is semantic for the
#: reference (Shape-A/Shape-B dispatch happens by sheet, SURVEY C1).
CELLS_SCHEMA = (
    "file string, sheet string, sheet_idx int, row_idx long, col_idx int, "
    "value string, sheet_rows int, sheet_cols int"
)

_EXTS = (".xls", ".xlsx")


def _expand_paths(path: str) -> list[str]:
    """path → sorted concrete file list. Accepts one file, a glob, or
    a directory (non-recursive; workbook extensions only)."""
    if os.path.isdir(path):
        files = [
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.lower().endswith(_EXTS)
        ]
    elif any(ch in path for ch in "*?["):
        files = [f for f in _glob.glob(path) if f.lower().endswith(_EXTS)]
    else:
        files = [path] if os.path.exists(path) else []
    if not files:
        raise FileNotFoundError(f"workbook source: no workbook files at {path!r}")
    return sorted(files)


def _emit_sheet_cells(file: str, sheet_idx: int, sheet: str, grid) -> "list":
    """One sheet → cell rows + a geometry MARKER row (row_idx = -1).
    The marker carries the sheet into the relation even when every
    cell is blank, and (sheet_rows, sheet_cols) ride every row, so
    trailing all-empty rows/columns survive the sparse encoding —
    the losslessness ``grids_from_cells`` depends on (a Shape-A
    sheet's EMPTY 13th column still must drive the 13-column
    dispatch).

    The encoding assumes RECTANGULAR grids (every engine of
    ``read_workbook_grids`` emits them: the stdlib readers build
    dense max_r×max_c grids, pandas parses rectangular frames). A
    ragged grid would round-trip with short rows padded to the max
    length — and a single overlong junk row could then flip the
    header-width Shape-A/B dispatch for the whole sheet — so a
    future reader that emits ragged rows must fail HERE, loudly,
    not silently downstream."""
    n_rows = len(grid)
    n_cols = max((len(r) for r in grid), default=0)
    ragged = [i for i, r in enumerate(grid) if len(r) != n_cols]
    if ragged:
        raise ValueError(
            f"workbook source: ragged grid in {file!r} sheet {sheet!r} "
            f"(rows {ragged[:5]} shorter than width {n_cols}); the cell "
            "relation requires rectangular grids — rectangularize in the "
            "reader (as read_workbook_grids engines do) before emitting"
        )
    out = [(file, sheet, sheet_idx, -1, -1, None, n_rows, n_cols)]
    for row_idx, row in enumerate(grid):
        for col_idx, value in enumerate(row):
            if value is not None:
                out.append(
                    (file, sheet, sheet_idx, row_idx, col_idx, str(value),
                     n_rows, n_cols)
                )
    return out


class _FilePartition(InputPartition):
    def __init__(self, file: str):
        self.file = file


class WorkbookCellReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("workbook source requires a path: .load('<file|dir|glob>')")
        self.path = path

    def partitions(self) -> list[InputPartition]:
        # Metadata-only planning: a directory listing, zero file opens.
        return [_FilePartition(f) for f in _expand_paths(self.path)]

    def read(self, partition: _FilePartition):
        # Executor-side: magic-byte dispatch to the stdlib readers
        # (pandas-engine fallback inside read_workbook_grids applies
        # if an Excel engine is installed on the executors).
        from epe_data_wrangling_spark.sources.workbook import read_workbook_grids

        file = partition.file
        for sheet_idx, (sheet, grid) in enumerate(read_workbook_grids(file).items()):
            yield from _emit_sheet_cells(file, sheet_idx, sheet, grid)


class WorkbookDataSource(DataSource):
    """``spark.read.format("workbook").load(path)`` → cell relation;
    ``df.write.format("workbook").save(path)`` → sharded .xlsx export
    (one workbook per non-empty partition, two-phase commit)."""

    @classmethod
    def name(cls) -> str:
        return "workbook"

    def schema(self) -> str:
        return CELLS_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return WorkbookCellReader(self.options)

    def streamReader(self, schema) -> "WorkbookStreamReader":
        return WorkbookStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "WorkbookShardWriter":
        return WorkbookShardWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Idempotently register the source on this session (re-register
    simply overwrites the prior registration)."""
    spark.dataSource.register(WorkbookDataSource)


# ---- streaming: the landing-zone drop watcher ------------------------

from pyspark.sql.datasource import DataSourceStreamReader


class WorkbookStreamReader(DataSourceStreamReader):
    """Streaming counterpart of :class:`WorkbookCellReader` — a
    landing zone of workbook drops: each micro-batch picks up workbook
    files not seen by any earlier batch and emits their cells (the
    ``streaming_workbook_landing`` / ``_burst`` catalog queries read
    through it).

    It is not the EPE monthly cycle's reader: ``streaming.epe_monthly``
    reads its landing zone with Spark's built-in ``binaryFile`` stream
    source and parses each drop's bytes on the driver, because this
    source's fixed cost (a Python streaming-source runner per
    ``start()``, then an executor Python worker per parse) was most of
    a one-drop refresh.

    Offsets are {"seen": sorted file list} — pure metadata, JSON-
    serializable, and replayable: ``partitions(start, end)`` plans ONE
    partition per file that joined between the offsets, so recovery
    after failure re-parses exactly the same drops (files are
    immutable once landed, the standard landing-zone contract).

    Full ``DataSourceStreamReader`` (not the Simple driver-side
    variant, which this class was through r12): the driver only LISTS
    the landing dir (metadata); the BIFF/OOXML parse runs in the
    executor task of each file's partition — a fleet of drops landing
    in one batch parses in parallel across the cluster instead of
    serially on the driver."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("workbook source requires a path: .load('<dir>')")
        self.path = path
        #: Monotone seen-file accumulator. A bare directory listing is
        #: NOT monotone — retention cleanup (or a transient listing
        #: blip on an object store) removes a previously-seen file, a
        #: listing-only latestOffset would REGRESS the committed
        #: offset, and a file re-landed under the same name would then
        #: re-emit its cells (duplicates downstream). Offsets must
        #: only grow: union every listing into this set, and seed it
        #: from the committed offsets Spark hands to partitions().
        #:
        #: Restart ordering caveat: Spark's first call on a FRESH
        #: reader instance may be latestOffset() — BEFORE partitions()
        #: has seeded the accumulator from the committed offsets — so
        #: in-memory tracking alone cannot close the window where a
        #: restart coincides with a retention removal. The
        #: ``offsets_dir`` option closes it: the accumulator persists
        #: there (atomic tmp+rename JSON, the metadata log Spark's own
        #: FileStreamSource keeps in its checkpoint — an API surface
        #: the Python DataSource does not expose, hence the explicit
        #: option) and re-seeds on construction. Callers that own a
        #: checkpoint dir should point offsets_dir inside it.
        self._seen: set[str] = set()
        self._offsets_dir = options.get("offsets_dir")
        if self._offsets_dir:
            import json as _json

            p = os.path.join(self._offsets_dir, "seen.json")
            if os.path.isfile(p):
                with open(p) as f:
                    self._seen.update(_json.load(f))
        #: size of the set at last persist (grow-only ⇒ a size match
        #: means no change); the monotone set never shrinks
        self._persisted_n = len(self._seen) if self._offsets_dir else -1

    def _persist_seen(self) -> None:
        # only when the set grew: a quiet landing zone must not pay an
        # O(all-files-ever-seen) JSON rewrite twice per empty trigger
        if not self._offsets_dir or len(self._seen) == self._persisted_n:
            return
        import json as _json

        os.makedirs(self._offsets_dir, exist_ok=True)
        p = os.path.join(self._offsets_dir, "seen.json")
        tmp = f"{p}.tmp"
        with open(tmp, "w") as f:
            _json.dump(sorted(self._seen), f)
        os.replace(tmp, p)
        self._persisted_n = len(self._seen)

    def _files(self) -> list[str]:
        try:
            return _expand_paths(self.path)
        except FileNotFoundError:
            return []  # an empty landing zone is a normal streaming state

    def initialOffset(self) -> dict:
        return {"seen": []}

    def latestOffset(self) -> dict:
        # Growth bound (deliberate): the offset IS the monotone
        # seen-file set, so each checkpoint offset entry and each
        # seen.json rewrite is O(all files ever landed) — ~100 bytes
        # per path, i.e. ~10 MB at 100k lifetime drops, rewritten only
        # when the set GROWS (_persist_seen is grow-gated). Workbook
        # landing zones are low-churn by nature (human/monthly-cycle
        # drops, not a firehose), so the bound is fine for this
        # source's deployment shape; a long-lived HIGH-churn landing
        # zone should instead move emitted files to an archive prefix
        # (the standard FileStreamSource "sourceArchiveDir" practice),
        # which keeps the listing — and therefore this set — bounded
        # by the retention horizon. Compacting the set itself (e.g.
        # retiring old entries into a count/high-water marker) is NOT
        # safe here: file names carry no order, so any forgotten name
        # that re-lands would be re-emitted as a duplicate.
        self._seen.update(self._files())
        self._persist_seen()
        return {"seen": sorted(self._seen)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # restart path: the committed offsets are authoritative prior
        # knowledge — fold them into the accumulator so the next
        # latestOffset cannot regress below what was already emitted
        self._seen.update(start.get("seen", []))
        self._seen.update(end.get("seen", []))
        self._persist_seen()
        new = sorted(set(end.get("seen", [])) - set(start.get("seen", [])))
        gone = [f for f in new if not os.path.isfile(f)]
        if gone:
            # a file due for first emission has vanished between
            # listing and planning (retention raced the stream, or an
            # offset regressed through the restart window above
            # without offsets_dir): raising here is a witness with
            # the cause attached — the alternative is an executor
            # FileNotFoundError, or silent duplicates if the name
            # re-lands
            raise RuntimeError(
                f"workbook stream: {len(gone)} file(s) planned for this "
                f"batch no longer exist (e.g. {gone[0]!r}) — landed files "
                "must be immutable until emitted; if retention can touch "
                "the landing dir, set the offsets_dir option so seen-file "
                "state survives restart"
            )
        return [_FilePartition(f) for f in new]

    def read(self, partition: _FilePartition):
        # Executor-side (the whole point): same magic-byte dispatch as
        # the batch reader.
        from epe_data_wrangling_spark.sources.workbook import read_workbook_grids

        file = partition.file
        for sheet_idx, (sheet, grid) in enumerate(
            read_workbook_grids(file).items()
        ):
            yield from _emit_sheet_cells(file, sheet_idx, sheet, grid)

    def commit(self, end: dict) -> None:
        pass  # offsets are pure metadata; nothing external to ack


_GRID_FIELDS = ("sheet", "sheet_idx", "row_idx", "col_idx", "value", "sheet_rows", "sheet_cols")


def grids_from_cells(cells_df) -> dict[str, list]:
    """Reassemble the grid contract from the CELL relation — the
    bridge from the distributed source back into the EPE pipeline
    (whose normalize stage is entitled to plan-time cell access by
    the workbook-small contract, SURVEY §4.3.1): collects the cells
    of ONE workbook (small by that same contract) and rebuilds the
    ordered {sheet: grid} dict exactly as the driver-side readers
    produce it — empty sheets and trailing all-blank rows/columns
    included, via the geometry marker rows the source emits."""
    return _assemble_grids(cells_df.select(*_GRID_FIELDS).collect())


def _assemble_grids(rows) -> dict[str, list]:
    sheets: dict[int, str] = {}
    dims: dict[str, tuple[int, int]] = {}
    cells: dict[str, dict[tuple[int, int], str]] = {}
    for r in rows:
        sheets[r.sheet_idx] = r.sheet
        dims[r.sheet] = (r.sheet_rows, r.sheet_cols)
        if r.row_idx >= 0:
            cells.setdefault(r.sheet, {})[(r.row_idx, r.col_idx)] = r.value
    grids: dict[str, list] = {}
    for idx in sorted(sheets):
        name = sheets[idx]
        n_rows, n_cols = dims[name]
        cs = cells.get(name, {})
        grids[name] = [
            [cs.get((r, c)) for c in range(n_cols)] for r in range(n_rows)
        ]
    return grids


# ---- batch write: sharded .xlsx export (two-phase commit) ------------

from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


@dataclass
class _ShardCommit(WriterCommitMessage):
    tmp_name: str | None  #: file in _temporary/, None for empty partitions
    n_rows: int


class WorkbookShardWriter(DataSourceWriter):
    """``df.write.format("workbook").save(dir)`` — the WRITE twin of
    the cell-relation reader (Python Data Source API): every
    non-empty partition serializes its rows to ONE real .xlsx shard
    (header row = schema field names, cells as text; NULLs pass
    through as blank cells — the reader's None, not "" — so cell
    content round-trips exactly; the header row pins the grid WIDTH
    even when a whole column is null, though a fully-null TRAILING
    data row has no cells to anchor it and does not survive a sparse
    spreadsheet round trip), executor-side via the stdlib OOXML
    writer. Correctness story is the standard TWO-PHASE COMMIT of
    distributed sinks, with the Hadoop committer's job-scoped
    staging: tasks write task-unique files under
    ``_temporary/<job-uuid>/`` (concurrent jobs on one directory
    cannot see or delete each other's staging), and only the
    driver's ``commit`` — which runs once, after every task
    succeeded — publishes shards as ``part-NNNN.xlsx`` plus a
    ``_SUCCESS`` manifest (shard → row count). Commit ordering keeps
    the manifest honest across crashes: the old ``_SUCCESS`` is
    removed FIRST, so a crash mid-commit leaves a directory with no
    manifest ("no committed output") rather than a manifest
    describing deleted files. Append mode numbers new shards after
    the existing maximum and merges the prior manifest; overwrite
    replaces both. A failed/retried/speculative task leaves at most
    an orphan staging file that ``abort`` clears. At 100 TB the same
    protocol ships petabytes to object storage — here it ships
    workbooks to the analysts the reference's RDS artifact was
    for."""

    def __init__(self, options: dict, schema, overwrite: bool):
        import uuid

        path = options.get("path")
        if not path:
            raise ValueError("workbook writer requires a path: .save('<dir>')")
        self.path = path
        self.field_names = list(schema.fieldNames())
        self.overwrite = overwrite
        self.sheet = options.get("sheet", "data")
        self.staging = os.path.join(path, "_temporary", uuid.uuid4().hex)
        os.makedirs(self.staging, exist_ok=True)

    def write(self, iterator) -> _ShardCommit:
        import uuid

        from epe_data_wrangling_spark.sources.xlsx import write_xlsx

        rows = list(iterator)
        if not rows:
            return _ShardCommit(tmp_name=None, n_rows=0)
        grid = [list(self.field_names)] + [
            [None if v is None else str(v) for v in row] for row in rows
        ]
        # executors may not share the driver's mkdir (shared-FS/local
        # mode they do; keep the write self-sufficient regardless)
        os.makedirs(self.staging, exist_ok=True)
        tmp_name = f"{uuid.uuid4().hex}.xlsx"
        write_xlsx(os.path.join(self.staging, tmp_name), {self.sheet: grid})
        return _ShardCommit(tmp_name=tmp_name, n_rows=len(rows))

    def _read_manifest(self) -> dict:
        import json

        p = os.path.join(self.path, "_SUCCESS")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f).get("shards", {})
        return {}

    def commit(self, messages) -> None:
        import json
        import re as _re

        prior = {} if self.overwrite else self._read_manifest()
        # 1. invalidate: no manifest may describe a directory in flux
        try:
            os.remove(os.path.join(self.path, "_SUCCESS"))
        except FileNotFoundError:
            # first write into a fresh dir: no prior marker to clear
            pass
        # 2. overwrite: clear previous shards (a crash here leaves a
        #    manifest-less directory = "no committed output")
        existing_idx = [-1]
        for f in os.listdir(self.path):
            m = _re.match(r"part-(\d+)\.xlsx$", f)
            if not m:
                continue
            if self.overwrite:
                os.remove(os.path.join(self.path, f))
            else:
                existing_idx.append(int(m.group(1)))
        # 3. publish new shards (append: numbered after the max)
        manifest = dict(prior)
        shard = 0 if self.overwrite else max(existing_idx) + 1
        for m in messages:
            if m.tmp_name is None:
                continue
            final = f"part-{shard:04d}.xlsx"
            os.replace(
                os.path.join(self.staging, m.tmp_name),
                os.path.join(self.path, final),
            )
            manifest[final] = m.n_rows
            shard += 1
        # 4. re-establish the manifest as the LAST step
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump({"shards": manifest, "n_rows": sum(manifest.values())}, f)
        self._clean_staging()

    def abort(self, messages) -> None:
        self._clean_staging()

    def _clean_staging(self) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)
        try:  # drop _temporary itself only when no other job is staging
            os.rmdir(os.path.join(self.path, "_temporary"))
        except OSError:
            # ENOTEMPTY: a concurrent job's attempt dir still lives
            # under _temporary — leaving the shared dir is the correct
            # outcome, its owner removes it when it commits
            pass
