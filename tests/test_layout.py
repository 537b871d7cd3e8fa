"""Layout maintenance: small-file compaction must keep the table's
content while cutting its file count."""

from __future__ import annotations

import glob

from epe_data_wrangling_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_small_file_compaction_preserves_content(spark, tmp_path):
    """The small-files problem and its fix: 64 tiny files compacted to
    4 right-sized ones with identical content — the maintenance write
    every 100 TB table needs periodically."""
    from pyspark.sql import functions as F

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    frag = str(tmp_path / "fragmented")
    compact = str(tmp_path / "compacted")
    li.repartition(64).write.parquet(frag)
    n_frag = len(glob.glob(f"{frag}/*.parquet"))
    assert n_frag == 64
    spark.read.parquet(frag).coalesce(4).write.parquet(compact)
    n_compact = len(glob.glob(f"{compact}/*.parquet"))
    assert n_compact == 4
    a = spark.read.parquet(frag)
    b = spark.read.parquet(compact)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
