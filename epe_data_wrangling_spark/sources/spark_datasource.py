"""Workbook landing zones read by Spark's own ``binaryFile`` file
source, plus the sharded ``.xlsx`` writer registered as the Python
Data Source ``workbook`` (Spark 4 / SPARK-44076).

The driver-side ingest in ``sources.workbook`` is the right tool for
ONE small messy workbook (the reference's actual artifact,
`tratamento_epe.R:39,63`), because the normalize stage needs
plan-time access to specific cells. This module is the DISTRIBUTED
counterpart for the fleet-of-workbooks shape — a landing zone with
thousands of spreadsheet drops — where parsing must happen on
executors, not the driver. One reading path serves batch, stream and
the monthly refresh:

- ``workbook_files(reader, path)`` — ``spark.read`` or
  ``spark.readStream`` → ``binaryFile`` rows ``(path,
  modificationTime, length, content)``, one per workbook file. This
  module alone decides what counts as a workbook drop (see
  :func:`workbook_files`). Planning lists files only; a stream's
  seen-file log lives in the query checkpoint, so each drop is
  emitted once across restarts.
- ``workbook_cells(files)`` — one Arrow map-in-batch parse
  (``mapInArrow``): every file's bytes go through
  ``read_workbook_grids`` in an executor task. Spark packs small files
  into several tasks, and a whole file always stays in one task, which
  suits container formats: both OOXML (shared-strings part, ZIP
  central directory) and BIFF8 (CFB FAT, workbook-global SST) hold
  workbook-global state that a sheet-level split would force every
  task to re-read.
- **Output is the raw CELL relation** ``(file, sheet, sheet_idx,
  row_idx, col_idx, value)`` — no header interpretation, every value
  text (read_xls parity). Header naming, junk slicing and typing are
  downstream relational work (``plans.epe_normalize``), keeping this
  relation schema-stable no matter how ragged the sheets are; ragged /
  blank cells simply produce no row (sparse representation).
- Format detection is per-file by MAGIC BYTES (CFB → BIFF8 reader,
  else OOXML), so one load can mix ``.xls`` and ``.xlsx`` drops.

The ``workbook`` Python Data Source is write-only
(``df.write.format("workbook")``); ``register(spark)`` registers it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage
from pyspark.sql.pandas.types import from_arrow_schema

#: The cell relation. ``file`` is the ``file:`` URI Spark's file source
#: reports for the workbook (``file:/abs/path``, percent-encoded where
#: the path needs it), the same string the monthly refresh records as
#: its provenance. row_idx/col_idx are 0-based positions in the raw
#: grid (row 0 is the sheet's header row under read_xls semantics);
#: sheet_idx preserves workbook sheet ORDER, which is semantic for the
#: reference (Shape-A/Shape-B dispatch happens by sheet, SURVEY C1).
#: An Arrow schema: the parse builds its output batches against it.
CELLS_SCHEMA = pa.schema([
    ("file", pa.string()), ("sheet", pa.string()), ("sheet_idx", pa.int32()),
    ("row_idx", pa.int64()), ("col_idx", pa.int32()), ("value", pa.string()),
    ("sheet_rows", pa.int32()), ("sheet_cols", pa.int32()),
])

#: the fixed schema of Spark's ``binaryFile`` source (a streaming file
#: source must be given its schema)
_BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"

#: a workbook's name ends in .xls or .xlsx, in any letter case
_WORKBOOK_GLOB = "*.{[xX][lL][sS],[xX][lL][sS][xX]}"

#: The file stream source forgets, and then never reads, a file whose
#: mtime is older than the newest seen file's mtime minus
#: ``maxFileAge`` (default 7 days). A drop's mtime says nothing about
#: its month — a republished or restored workbook may carry any mtime —
#: so no age may skip one. Batch reads ignore the option.
_MAX_FILE_AGE = "36500d"


def workbook_files(reader, path: str) -> DataFrame:
    """The workbook files at ``path`` (a file, a glob or a directory)
    as ``binaryFile`` rows, read by ``reader`` — ``spark.read`` for a
    batch frame, ``spark.readStream`` for a landing-zone stream.

    A workbook is a top-level file whose name ends in ``.xls`` or
    ``.xlsx`` in any letter case. Files in subdirectories and files
    whose name starts with ``.`` or ``_`` are never read: Spark's file
    listing reads no subdirectory and skips the prefixed names as
    hidden. A missing path raises ``FileNotFoundError``, and so does a
    batch load that finds no workbook; an empty landing zone is a
    normal stream state. A file listed but gone before its task reads
    it fails the query (Spark's ``ignoreMissingFiles`` is off by
    default).

    Landing contract for a stream: land each drop WHOLE — write it
    beside the zone (or under a ``_``/``.`` name) and then rename it
    in. A drop listed while still being written is marked seen and
    may be read half-written or, at 0 bytes, not at all (Spark's scan
    skips empty files); the stream never reads it again once it is
    complete."""
    try:
        files = (
            reader.format("binaryFile")
            .schema(_BINARY_FILE_SCHEMA)
            .option("pathGlobFilter", _WORKBOOK_GLOB)
            .option("maxFileAge", _MAX_FILE_AGE)
            .load(path)
        )
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        files = None
    # inputFiles() is the driver-side listing: it runs no job
    if files is None or (not files.isStreaming and not files.inputFiles()):
        raise FileNotFoundError(f"workbook source: no workbook files at {path!r}")
    return files


def workbook_cells(files: DataFrame) -> DataFrame:
    """``binaryFile`` rows (batch or stream, as :func:`workbook_files`
    returns them) → the cell relation ``CELLS_SCHEMA``, parsed in
    executor tasks, one Arrow batch per workbook."""
    return files.select("path", "content").mapInArrow(
        _parse_workbooks, from_arrow_schema(CELLS_SCHEMA)
    )


def _parse_workbooks(batches):
    from epe_data_wrangling_spark.sources.workbook import read_workbook_grids

    for batch in batches:
        for file, content in zip(
            batch.column("path").to_pylist(), batch.column("content").to_pylist()
        ):
            rows = [
                cell
                for sheet_idx, (sheet, grid) in enumerate(
                    read_workbook_grids(content).items()
                )
                for cell in _emit_sheet_cells(file, sheet_idx, sheet, grid)
            ]
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(col, f.type) for col, f in zip(zip(*rows), CELLS_SCHEMA)],
                    schema=CELLS_SCHEMA,
                )


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


class WorkbookDataSource(DataSource):
    """``df.write.format("workbook").save(path)`` → sharded .xlsx export
    (one workbook per non-empty partition, two-phase commit). Reading
    is :func:`workbook_cells` over :func:`workbook_files`."""

    @classmethod
    def name(cls) -> str:
        return "workbook"

    def writer(self, schema, overwrite: bool) -> "WorkbookShardWriter":
        return WorkbookShardWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Idempotently register the writer on this session (re-register
    simply overwrites the prior registration)."""
    spark.dataSource.register(WorkbookDataSource)


_GRID_FIELDS = ("sheet", "sheet_idx", "row_idx", "col_idx", "value", "sheet_rows", "sheet_cols")


def grids_from_cells(cells_df) -> dict[str, list]:
    """Reassemble the grid contract from the CELL relation — the
    bridge from the distributed read path back into the EPE pipeline
    (whose normalize stage is entitled to plan-time cell access by
    the workbook-small contract, SURVEY §4.3.1): collects the cells
    of ONE workbook (small by that same contract) and rebuilds the
    ordered {sheet: grid} dict exactly as the driver-side readers
    produce it — empty sheets and trailing all-blank rows/columns
    included, via the geometry marker rows the parse emits."""
    sheets: dict[int, str] = {}
    dims: dict[str, tuple[int, int]] = {}
    cells: dict[str, dict[tuple[int, int], str]] = {}
    for r in cells_df.select(*_GRID_FIELDS).collect():
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


@dataclass
class _ShardCommit(WriterCommitMessage):
    tmp_name: str | None  #: file in _temporary/, None for empty partitions
    n_rows: int


class WorkbookShardWriter(DataSourceWriter):
    """``df.write.format("workbook").save(dir)`` — the WRITE twin of
    the cell-relation read path (Python Data Source API): every
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
