"""Sink round-trips (S5/S6): partitioned parquet with partition
pruning on read-back, CSV and JSON interchange."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from epe_data_wrangling_spark.sources import sinks
from epe_data_wrangling_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_csv_roundtrip(spark, tmp_path):
    out = str(tmp_path / "csv")
    region = load_table(spark, SF_DIR, "region").select("r_regionkey", "r_name")
    sinks.write_csv(region, out)
    back = spark.read.option("header", "true").csv(out)
    got = sorted((int(r.r_regionkey), r.r_name) for r in back.collect())
    want = sorted((r.r_regionkey, r.r_name) for r in region.collect())
    assert got == want


def test_json_roundtrip(spark, tmp_path):
    out = str(tmp_path / "json")
    region = load_table(spark, SF_DIR, "region").select("r_regionkey", "r_name")
    sinks.write_json(region, out)
    back = spark.read.json(out)
    got = sorted((r.r_regionkey, r.r_name) for r in back.collect())
    want = sorted((r.r_regionkey, r.r_name) for r in region.collect())
    assert got == want


def test_epe_fact_month_partitioned_write(spark, tmp_path):
    """S5 for the EPE pipeline itself: month-partitioned fact sink,
    read back one month with partition pruning (SURVEY §4.4)."""
    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline, write_fact

    out = str(tmp_path / "epe_fact")
    fact = run_pipeline(spark, workbook_grids())
    write_fact(fact, out)

    # the rebalance exchange before the sink leaves one file per month
    months = [d for d in os.listdir(out) if d.startswith("data=")]
    assert len(months) == 24
    for d in months:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    back = spark.read.parquet(out)
    assert back.count() == fact.count()
    one_month = back.filter(F.col("data") == "2004-01-01")
    plan = one_month._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "data" in plan.split("PartitionFilters")[1][:120]
    assert one_month.count() == fact.filter(F.col("data") == "2004-01-01").count()


def test_csv_malformed_rows_permissive(spark, tmp_path):
    """Landing-zone robustness: PERMISSIVE CSV parsing captures rows
    that don't fit the schema in _corrupt_record instead of failing
    the 100 TB job; DROPMALFORMED yields only the clean rows."""
    src = tmp_path / "raw.csv"
    src.write_text("k,v\n1,10.5\n2,not_a_number\n3,30.25\nbroken line only\n")
    schema = "k int, v double, _corrupt_record string"
    back = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(str(src))
    )
    rows = back.cache().collect()
    assert len(rows) == 4
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.k for r in good} == {1, 3}
    assert len(bad) == 2  # the unparsable value and the ragged line
    dropped = (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema("k int, v double")
        .csv(str(src))
    )
    assert {r.k for r in dropped.collect()} == {1, 3}


def test_rds_roundtrip_all_column_types(spark, tmp_path):
    """sources.rds: gzip'd version-2 XDR RDS (the saveRDS default
    format, R Internals §Serialization) round-trips character /
    double / integer / logical / Date columns including NAs."""
    import datetime as dt
    import gzip
    import struct

    from epe_data_wrangling_spark.sources.rds import read_rds_frame, write_rds_small

    df = spark.createDataFrame(
        [("a", 1.5, 3, dt.date(2004, 1, 1), True),
         ("é", None, None, None, None),
         (None, -2.25, -7, dt.date(2005, 12, 1), False)],
        "s string, x double, i int, d date, b boolean",
    )
    path = str(tmp_path / "t.rds")
    write_rds_small(df, path)
    # byte-structural checks readRDS performs: gzip wrapper, XDR
    # marker 'X\n', stream version 2
    raw = open(path, "rb").read()
    assert raw[:2] == b"\x1f\x8b"
    stream = gzip.decompress(raw)
    assert stream[:2] == b"X\n"
    assert struct.unpack_from(">i", stream, 2)[0] == 2
    back = read_rds_frame(path)
    assert back["s"] == ["a", "é", None]
    assert back["x"] == [1.5, None, -2.25]
    assert back["i"] == [3, None, -7]
    assert back["d"] == [dt.date(2004, 1, 1), None, dt.date(2005, 12, 1)]
    assert back["b"] == [True, None, False]


def test_rds_of_epe_fact_table(spark, tmp_path):
    """The reference's final artifact (`tratamento_epe.rmd`
    "Exportação": saveRDS of the tidy fact table) produced from OUR
    pipeline: export the golden fact table to RDS and read it back
    identical — a user keeping an R consumer downstream gets the
    exact file the reference produced."""
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline
    from epe_data_wrangling_spark.sources.rds import read_rds_frame, write_rds_small
    from tests.epe_fixtures import workbook_grids

    fact = run_pipeline(spark, workbook_grids())
    path = str(tmp_path / "dados_epe_tratados.RDS")
    write_rds_small(fact, path)
    back = read_rds_frame(path)
    rows = fact.collect()
    assert len(back["chave_seletora"]) == len(rows) == 288
    want = sorted((r.chave_seletora, r.data.isoformat(), float(r.valor)) for r in rows)
    got = sorted(
        (c, d.isoformat(), float(v))
        for c, d, v in zip(back["chave_seletora"], back["data"], back["valor"])
    )
    assert got == want


def test_rds_refuses_oversize(spark, tmp_path):
    import pytest as _pytest

    from epe_data_wrangling_spark.sources.rds import write_rds_small

    df = spark.range(100).selectExpr("id")
    with _pytest.raises(ValueError, match="refusing"):
        write_rds_small(df, str(tmp_path / "x.rds"), max_rows=10)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Lakehouse schema drift: a writer adds a column mid-stream.
    Readers must (a) see the union schema with mergeSchema and nulls
    for pre-drift files, and (b) keep predicate pushdown on the
    original columns — the ingestion posture for an evolving 100 TB
    landing zone."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "t")
    spark.range(0, 100).selectExpr("id", "id * 2 AS a").write.mode(
        "append"
    ).parquet(base)
    spark.range(100, 200).selectExpr(
        "id", "id * 2 AS a", "CAST(id AS STRING) AS b"
    ).write.mode("append").parquet(base)

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "a", "b"}
    assert merged.count() == 200
    # pre-drift rows surface NULL b
    assert merged.filter(F.col("b").isNull()).count() == 100
    assert merged.filter(F.col("b").isNotNull()).count() == 100
    # pushdown still reaches the scan on the original column
    plan = merged.filter(F.col("a") > 300).select("id", "a")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(a), GreaterThan(a,300)" in plan, plan


def test_fixed_width_round_trip_edge_cases(spark, tmp_path):
    """The fixed-width layout must survive the awkward rows a real
    extract contains: names with INTERNAL spaces (trim may only strip
    edges), a name at exactly its full column width (columns abut,
    parsing is offset-only), and negative balances (sign crosses the
    text boundary in the integer-cents field)."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.core import FW_LAYOUT

    rows = [
        (1, "Supplier  double  space", 3, -12345),       # internal runs of spaces
        (22, "x" * 28, 0, 0),                            # exactly full-width name
        (333, "trailing-number 99", 24, 999999999),      # digits inside the name
    ]
    lines = [
        f"{k:<8d}{name:<28s}{nk:<4d}{cents:<12d}" for k, name, nk, cents in rows
    ]
    src = tmp_path / "fw"
    src.mkdir()
    (src / "s.fw").write_text("\n".join(lines) + "\n")

    raw = spark.read.text(str(src))
    cols = [
        F.trim(F.substring("value", start, width)).alias(name)
        for name, start, width in FW_LAYOUT
    ]
    got = sorted(
        raw.select(*cols)
        .select(
            F.col("s_suppkey").cast("bigint"),
            "s_name",
            F.col("s_nationkey").cast("bigint"),
            F.col("s_acctbal_cents").cast("bigint"),
        )
        .collect()
    )
    assert [tuple(r) for r in got] == sorted(rows)


def test_fixed_width_layout_fits_the_data(spark):
    """Every supplier row must FIT the declared layout (a too-long
    name or too-wide cents field would silently corrupt neighboring
    columns at render time) — the guard that turns a data-shape
    change into a named failure instead of a parse-time hash red."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog.core import FW_LAYOUT
    from epe_data_wrangling_spark.sources.tables import load_table

    widths = {name: w for name, _, w in FW_LAYOUT}
    s = load_table(spark, "/root/testdata/sf0.01", "supplier")
    bad = s.select(
        F.max(F.length(F.col("s_suppkey").cast("string"))).alias("k"),
        F.max(F.length("s_name")).alias("n"),
        F.max(F.length(F.col("s_nationkey").cast("string"))).alias("nk"),
        F.max(
            F.length(F.round(F.col("s_acctbal") * 100).cast("bigint").cast("string"))
        ).alias("c"),
    ).collect()[0]
    assert bad["k"] <= widths["s_suppkey"]
    assert bad["n"] <= widths["s_name"]
    assert bad["nk"] <= widths["s_nationkey"]
    assert bad["c"] <= widths["s_acctbal_cents"]
