"""The benchmark's workloads: set-up, one op, and the output checks.

Each workload is a closed loop with one client: the next op starts
when the previous one has returned. Inputs come from the run's seed
and are written in set-up (``epe_ingest``) or landed just before each
op, outside the timed region (``epe_refresh``). Checks run outside
the timed region too.

Layer functions are called through their modules
(``epe_pipeline.run_pipeline``), so the tracer's wrappers see them.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from collections import defaultdict
from datetime import date, datetime
from decimal import Decimal

from workbooks import build_workbook, next_drop

MICRO = 1_000_000


def _seed(*parts: int) -> int:
    return int.from_bytes(hashlib.sha256(repr(parts).encode()).digest()[:8], "big")


def fact_tally(df) -> tuple[int, int]:
    """(rows, Σ valor in micro-units) of a fact table."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)),
        F.sum(F.round(F.col("valor") * MICRO).cast("bigint")),
    ).first()
    return r[0], r[1] or 0


def _same(got, want) -> bool:
    if got != want:
        print(f"got {got}, want {want}", file=sys.stderr)
    return got == want


class EpeIngest:
    """Each op: one seeded workbook through ``run_pipeline`` and
    ``write_fact`` into a fresh directory. Set-up runs the pipeline
    once over a one-year workbook of the same shape, so the timed ops
    measure the warm pipeline rather than the JVM compiling it."""

    name = "epe_ingest"
    years = 3
    #: the share of --seconds one op is given: --seconds // op_s ops a
    #: run. A warm op takes about 10 s on 4 cores; one op a run keeps a
    #: two-commit comparison within the hour (perfbench/README.md)
    op_s = 20

    def setup(self, spark, work: str, seed: int, n_ops: int) -> None:
        from epe_data_wrangling_spark.sources.xls_biff import write_xls

        self.spark, self.work = spark, work
        os.makedirs(os.path.join(work, "in"))
        self.books = {}
        for i in range(-1, n_ops):
            wb = build_workbook(_seed(seed, i), years=1 if i < 0 else self.years)
            path = os.path.join(work, "in", f"op_{i:03d}.xls")
            write_xls(path, wb.grids)
            self.books[i] = (path, wb)
        self.run(-1)  # warm-up; only the timed ops are checked

    def prepare(self, i: int) -> None:
        pass

    def run(self, i: int) -> None:
        from epe_data_wrangling_spark.plans import epe_pipeline

        path, _ = self.books[i]
        fact = epe_pipeline.run_pipeline(self.spark, path)
        epe_pipeline.write_fact(fact, os.path.join(self.work, "out", f"op_{i:03d}"))

    def check(self, i: int) -> bool:
        """Rows, Σ valor and month partitions against the tally."""
        _, wb = self.books[i]
        df = self.spark.read.parquet(os.path.join(self.work, "out", f"op_{i:03d}"))
        got = (*fact_tally(df), df.select("data").distinct().count())
        want = (wb.tally.rows, wb.tally.valor_micro, wb.months)
        return _same(got, want)

    def final_check(self) -> bool:
        return True


class EpeRefresh:
    """Set-up lands and refreshes a bootstrap drop; each op lands the
    next seeded drop (about 1% of cells revised, one new month) and
    runs ``epe_monthly_refresh`` on the same target and checkpoint."""

    name = "epe_refresh"
    #: the last year starts with January published, and Shape-B rows
    #: need their second month column: at least two years
    years = 2
    #: a warm op takes about 13 s on 4 cores; two ops a run at 20 s,
    #: because a single op spreads more over seeds than the bound
    op_s = 10

    def setup(self, spark, work: str, seed: int, n_ops: int) -> None:
        if n_ops > 11:
            raise ValueError("at most 11 monthly drops fit in the workbook's last year")
        self.spark, self.work, self.seed = spark, work, seed
        self.drops = os.path.join(work, "drops")
        self.target = os.path.join(work, "state")
        self.ckpt = os.path.join(work, "ckpt")
        os.makedirs(self.drops)
        self.wb = build_workbook(_seed(seed, 0), years=self.years, months=12 * (self.years - 1) + 1)
        self._land(0)
        self.run(-1)
        if not self.check(-1):
            raise RuntimeError("bootstrap refresh disagrees with its tally")

    def _land(self, k: int) -> None:
        from epe_data_wrangling_spark.sources.xls_biff import write_xls

        # write beside the landing dir, then rename: the stream must
        # never list a half-written drop
        self.last_drop = os.path.join(self.drops, f"drop_{k:03d}.xls")
        tmp = os.path.join(self.work, f"drop_{k:03d}.xls")
        write_xls(tmp, self.wb.grids)
        os.rename(tmp, self.last_drop)

    def prepare(self, i: int) -> None:
        self.wb = next_drop(self.wb, _seed(self.seed, i + 1))
        self._land(i + 1)

    def run(self, i: int) -> None:
        from epe_data_wrangling_spark.streaming import epe_monthly

        self.result = epe_monthly.epe_monthly_refresh(
            self.spark, self.drops, self.target, checkpoint_dir=self.ckpt
        )

    def check(self, i: int) -> bool:
        """The standing fact table and the annual view's totals against
        the drop's tally."""
        from pyspark.sql import functions as F

        fact, annual = self.result
        view = annual.agg(
            F.sum("n_meses"), F.sum(F.round(F.col("valor_ano") * MICRO).cast("bigint"))
        ).first()
        want = (self.wb.tally.rows, self.wb.tally.valor_micro)
        return _same(fact_tally(fact), want) and _same(tuple(view), want)

    def final_check(self) -> bool:
        """The standing fact table and annual view equal a from-scratch
        ``run_pipeline`` over the last drop."""
        from epe_data_wrangling_spark.plans import epe_pipeline

        fresh = epe_pipeline.run_pipeline(self.spark, self.last_drop)
        fresh_rows = [tuple(r) for r in fresh.collect()]
        fact, annual = self.result
        if table_digest(fact.columns, [tuple(r) for r in fact.collect()]) != table_digest(
            fresh.columns, fresh_rows
        ):
            return False
        cols = fresh.columns
        key, data, valor = cols.index("chave_seletora"), cols.index("data"), cols.index("valor")
        groups: dict = defaultdict(lambda: [0, 0])
        for r in fresh_rows:
            g = groups[(r[key], r[data].year)]
            g[0] += 1
            if r[valor] is not None:
                g[1] += round(r[valor] * MICRO)
        want = [(k, y, micro / MICRO, n) for (k, y), (n, micro) in groups.items()]
        got = [tuple(r) for r in annual.collect()]
        return table_digest(annual.columns, got) == table_digest(annual.columns, want)


WORKLOADS = {w.name: w for w in (EpeIngest, EpeRefresh)}


# ---------------------------------------------- catalog golden check
# canon/table_digest: the comparison rules of tools/verify_local.py
# (the oracle-differential check), repeated so the benchmark needs no
# script outside its own directory.


def canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_digest(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), sorted(cols), h


def catalog_check(spark, sf_dir: str, timer) -> bool:
    """The catalog's ``epe_pipeline_demo`` query (the demo workbook)
    against its DuckDB oracle over the frozen golden values. Only the
    Spark side runs inside ``timer``."""
    import duckdb

    from epe_data_wrangling_spark.catalog import all_queries, resolve_oracle

    q = all_queries()["epe_pipeline_demo"]
    with timer("catalog.epe_pipeline_demo_s"):
        sdf = q.fn(spark, sf_dir)
        rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    try:
        res = con.execute(resolve_oracle(q))
        oracle = table_digest([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    return table_digest(sdf.columns, rows) == oracle
