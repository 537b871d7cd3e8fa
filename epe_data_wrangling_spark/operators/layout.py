"""Data-layout operators: Z-order (Morton) clustering for
multi-column data skipping.

Parquet readers prune row groups / files whose min-max statistics
exclude a predicate. A sort by one column gives perfect skipping on
that column and none on any other; interleaving the bits of several
columns' codes (the Z-order curve) gives useful min-max locality on
ALL of them simultaneously — the standard layout for multi-dimension
point lookups over immutable columnar data at scale (the same idea
behind Delta/Iceberg OPTIMIZE ZORDER; re-expressed here with plain
DataFrame expressions, no table format needed). The z-value is a
column expression (`zorder_key` over `_column_code` codes); the
certified ``layout_zorder_skipping`` query builds its layouts from it.

Scale shape: a narrow per-row code computation; the writer that
clusters by the z-value pays one range shuffle, the same cost as any
global sort-for-layout write.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ZORDER_BITS = 16  #: bits per column code (16 → 65536 cells per dim)


def _column_code(col: str, mn: Column, mx: Column, bits: int) -> Column:
    """Linear quantization of a numeric column to [0, 2^bits):
    rank-free (no window/sort), needs only the broadcast min/max."""
    span = (mx - mn).cast("double")
    scaled = (F.col(col).cast("double") - mn.cast("double")) / span * ((1 << bits) - 1)
    code = F.floor(scaled).cast("long")
    return F.least(F.greatest(code, F.lit(0)), F.lit((1 << bits) - 1))


def zorder_key(codes: list[Column], bits: int = ZORDER_BITS) -> Column:
    """Interleave the bits of the given integer codes, MSB first —
    the Morton index. Pure shift/or expression tree (bits × n_cols
    ops), whole-stage codegen'd."""
    z: Column = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for c in codes:
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            z = F.shiftleft(z, 1).bitwiseOR(bit)
    return z


def compact_small_files(
    spark,
    path: str,
    dest: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    long-lived 100 TB table needs (streaming sinks and per-batch
    writes fragment tables into thousands of KB-sized files, and scan
    cost then scales with FILE COUNT — open/footer/seek per file —
    not bytes; the 'small files problem').

    Sizes the output by MEASURED bytes: target file count =
    ceil(on-disk size / target_file_bytes), then one round-robin
    repartition and a single rewrite to ``dest`` (write-then-swap is
    the caller's concern; this operator never touches ``path``).
    Returns an audit dict (files/bytes before and after) the caller
    can assert on — compaction must be row-lossless, which the
    catalog query proves against an oracle over the ORIGINAL files.
    """
    import glob
    import math
    import os

    files_before = sorted(glob.glob(os.path.join(path, "*.parquet")))
    bytes_before = sum(os.path.getsize(f) for f in files_before)
    n_target = max(1, math.ceil(bytes_before / target_file_bytes))
    df = spark.read.parquet(path)
    df.repartition(n_target).write.mode("overwrite").parquet(dest)
    files_after = sorted(glob.glob(os.path.join(dest, "*.parquet")))
    return {
        "n_files_before": len(files_before),
        "n_files_after": len(files_after),
        "bytes_before": bytes_before,
        "bytes_after": sum(os.path.getsize(f) for f in files_after),
        "n_target": n_target,
    }
