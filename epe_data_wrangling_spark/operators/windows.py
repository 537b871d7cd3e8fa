"""Window-shaped operators: LOCF fill, global ranks and prefix scans,
sessionization.

``locf`` is the engine form of the reference's only window operator
(zoo::na.locf0, `tratamento_epe.R:100,140` — W1/W2 in SURVEY §2.6):
forward-fill the last non-null value down an explicitly ordered,
partitioned frame; leading nulls remain null (locf0 semantics).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def locf(
    col: Column | str,
    *,
    partition_by: Sequence[Column | str],
    order_by: Sequence[Column | str],
) -> Column:
    """Last-observation-carried-forward over an ordered window.

    Partitioning is mandatory: an unpartitioned LOCF would carry values
    across groups and force a global sort. In the EPE pipeline the
    partition key is the sheet (SURVEY §4.3.1), so each sheet fills
    independently within the stacked Shape-A frame.
    """
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = F.col(col) if isinstance(col, str) else col
    return F.last(c, ignorenulls=True).over(w)


def _range_shards(df: DataFrame, value: Column, n_shards: int | None) -> DataFrame:
    """Tag each row with a range-shard id derived from approx-percentile
    cut points of ``value`` (already materialized as column ``_rank_v``).

    The cut points are a metadata-sized driver read (≤ n_shards-1
    scalars — the same inspect-then-plan idiom as the EPE header read,
    plans/epe_normalize.py P9). Shard id is a pure function of the
    VALUE, so ties always land in one shard and per-shard ordering
    composes to the exact global order. Sketch-merge order may move a
    cut point between runs; that only re-balances shard sizes, never
    changes any rank/cumsum result."""
    spark = df.sparkSession
    p = n_shards or spark.sparkContext.defaultParallelism
    probs = [i / p for i in range(1, p)]
    bounds: list = []
    if probs:
        row = df.select(
            F.percentile_approx("_rank_v", probs, 10_000).alias("b")
        ).first()
        bounds = sorted({b for b in (row["b"] or []) if b is not None})
    shard = F.lit(0)
    for b in bounds:
        shard = shard + F.when(F.col("_rank_v") > F.lit(b), 1).otherwise(0)
    return df.withColumn("_shard", shard.cast("int"))


def global_row_number(
    df: DataFrame,
    value: Column,
    tiebreak: str,
    *,
    out: str = "rank",
    n_shards: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact global ``row_number() OVER (ORDER BY value, tiebreak)``
    WITHOUT an unpartitioned window (which serializes the whole row
    set through one task — Spark's `WindowExec: No Partition Defined`
    hazard). Three-step distributed rank:

    1. range-shard rows on approx-percentile cut points of ``value``;
    2. per-shard counts -> exclusive prefix-sum offsets (driver-side,
       ≤ n_shards rows — metadata, not data);
    3. per-shard row_number (partitioned window) + broadcast offset.

    Ties of ``value`` are confined to one shard by construction, so
    ranks are identical to the global window's for any deterministic
    (value, tiebreak) total order. ``value`` must be ASC and
    NON-NULL: NULLs would land in shard 0 and rank FIRST (Spark ASC
    is nulls-first) while a SQL oracle's row_number ranks them LAST —
    filter or coalesce nullable columns before calling (every catalog
    caller ranks non-null keys). Negate numeric columns for DESC.
    Returns (df+rank column, total rows).
    """
    spark = df.sparkSession
    sdf = _range_shards(df.withColumn("_rank_v", value), F.col("_rank_v"), n_shards)
    counts = sdf.groupBy("_shard").agg(F.count(F.lit(1)).alias("_n")).collect()
    offs, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_shard"]):
        offs.append((r["_shard"], acc))
        acc += r["_n"]
    odf = spark.createDataFrame(offs or [(0, 0)], "_shard INT, _off BIGINT")
    w = Window.partitionBy("_shard").orderBy("_rank_v", tiebreak)
    ranked = (
        sdf.join(F.broadcast(odf), "_shard")
        .withColumn(out, (F.col("_off") + F.row_number().over(w)).cast("bigint"))
        .drop("_shard", "_rank_v", "_off")
    )
    return ranked, acc


def exact_ntile_from_rank(rank_col: str, total: int, n: int) -> Column:
    """SQL ``ntile(n)`` computed from an exact global rank column and
    the known total row count: the first ``total % n`` buckets hold
    ``total // n + 1`` rows, the rest ``total // n`` (the ANSI ntile
    contract both Spark and DuckDB implement). Integer DIV throughout
    — floor(double /) can land one ulp under an exact multiple."""
    base, rem = divmod(total, n)
    if base == 0:
        return F.col(rank_col).cast("int")
    cut = rem * (base + 1)
    early = F.expr(f"(`{rank_col}` + {base}) DIV {base + 1}")
    late = F.expr(f"{rem} + ((`{rank_col}` - {cut}) + {base - 1}) DIV {base}")
    return F.when(F.col(rank_col) <= F.lit(cut), early).otherwise(late).cast("int")


def sharded_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    out: str = "cum",
    n_shards: int | None = None,
) -> DataFrame:
    """Exact global running sum of ``value_col`` in ``order_col`` order
    without an unpartitioned window: range-shard on approx-percentile
    cut points of ``order_col``, per-shard cumsum (partitioned window),
    plus each shard's exclusive prefix total (driver-side metadata,
    ≤ n_shards rows) broadcast back on. ``order_col`` must be UNIQUE —
    with duplicate keys the global window's RANGE frame gives tied
    rows one shared total, which a shard boundary through the tie
    group would split. ``value_col`` must be INTEGRAL (offsets travel
    as BIGINT; integer sums are also what makes the result order-free
    — stage doubles with round(x*10^k) first, as the catalog does)."""
    spark = df.sparkSession
    sdf = _range_shards(df.withColumn("_rank_v", F.col(order_col)), F.col("_rank_v"), n_shards)
    totals = sdf.groupBy("_shard").agg(F.sum(value_col).alias("_t")).collect()
    offs, acc = [], 0
    for r in sorted(totals, key=lambda r: r["_shard"]):
        offs.append((r["_shard"], acc))
        acc += r["_t"] or 0
    odf = spark.createDataFrame(offs or [(0, 0)], "_shard INT, _off BIGINT")
    w = Window.partitionBy("_shard").orderBy(order_col)
    return (
        sdf.join(F.broadcast(odf), "_shard")
        .withColumn(out, F.col("_off") + F.sum(value_col).over(w))
        .drop("_shard", "_rank_v", "_off")
    )


def sharded_prefix_max(
    df: DataFrame,
    order_value: Column,
    order_rest: Sequence[Column | str],
    value_col: str,
    *,
    out: str,
    n_shards: int | None = None,
) -> DataFrame:
    """Exact EXCLUSIVE running max of ``value_col`` over the global
    order (order_value ASC, then order_rest) without an unpartitioned
    window — the skyline-sweep primitive. Same 3-step shape as
    ``sharded_cumsum``: range shards on approx-percentile cut points
    of ``order_value`` (ties share a shard), per-shard exclusive
    prefix max, and each shard's offset = max over all strictly
    earlier shards (driver-side metadata, ≤ n_shards rows). First
    rows get NULL, matching ``rowsBetween(unboundedPreceding, -1)``.
    ``value_col`` must be numeric (offset travels as DOUBLE)."""
    spark = df.sparkSession
    sdf = _range_shards(df.withColumn("_rank_v", order_value), F.col("_rank_v"), n_shards)
    totals = sdf.groupBy("_shard").agg(F.max(value_col).alias("_t")).collect()
    offs: list[tuple[int, float | None]] = []
    run: float | None = None
    for r in sorted(totals, key=lambda r: r["_shard"]):
        offs.append((r["_shard"], run))
        if r["_t"] is not None:
            # float() so integer value columns fit the DOUBLE offset
            # schema (exact below 2^53 — the documented envelope)
            t = float(r["_t"])
            run = t if run is None else max(run, t)
    odf = spark.createDataFrame(offs or [(0, None)], "_shard INT, _off DOUBLE")
    w = (
        Window.partitionBy("_shard")
        .orderBy("_rank_v", *order_rest)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # greatest() skips nulls: NULL offset (first shard) + NULL in-shard
    # prefix (first row) -> NULL, exactly the global exclusive frame.
    return (
        sdf.join(F.broadcast(odf), "_shard")
        .withColumn(out, F.greatest(F.col("_off"), F.max(value_col).over(w)))
        .drop("_shard", "_rank_v", "_off")
    )


def sessionize(
    df: DataFrame,
    *,
    ts_col: str,
    key_cols: Sequence[str],
    gap: str = "30 minutes",
) -> DataFrame:
    """Assign gap-based sessions and aggregate per session. Uses the
    native session_window operator — the identical code path works
    under Structured Streaming with a watermark."""
    return (
        df.groupBy(*key_cols, F.session_window(ts_col, gap).alias("w"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(*key_cols, "session_start", "session_end", "n_events")
    )
