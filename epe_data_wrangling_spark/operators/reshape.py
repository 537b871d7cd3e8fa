"""Reshaping operators — the heart of the reference (SURVEY §2.9).

``unpivot_regex`` generalizes the reference's two pivot_longer calls
(`tratamento_epe.R:148,185` — R1/R2): melt every column whose NAME
matches a regex into (name, value) pairs. The value-column list is
computed at plan time from ``df.columns`` (exactly how the reference
selects `matches('^[0-9]+$')` columns), then executed with Spark's
native ``unpivot`` — a narrow op, no shuffle, scales linearly.

``pivot_wide`` is the implied inverse (R6, `RMD:36`): reconstruct a
wide view with groupBy().pivot(). Pass explicit ``values`` at scale —
otherwise Spark runs a distinct scan just to discover the columns.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unpivot_regex(
    df: DataFrame,
    *,
    id_cols: Sequence[str],
    name_pattern: str,
    var_name: str,
    value_name: str,
) -> DataFrame:
    """Melt all columns matching ``name_pattern`` (R's
    pivot_longer(cols=matches(...)) semantics, incl. dropping the
    unmatched non-id columns from the output)."""
    value_cols = [c for c in df.columns if re.search(name_pattern, c)]
    if not value_cols:
        raise ValueError(f"no columns match {name_pattern!r}")
    return df.unpivot(list(id_cols), value_cols, var_name, value_name)


def pivot_wide(
    df: DataFrame,
    *,
    group_cols: Sequence[str],
    pivot_col: str,
    value_col: str,
    values: Sequence[str] | None = None,
    agg: str = "first",
) -> DataFrame:
    """groupBy().pivot() wide reconstruction (R6). ``values`` should be
    given explicitly at scale to skip the discovery scan."""
    agg_fn = {"first": F.first, "sum": F.sum, "count": lambda c: F.count(F.lit(1))}[agg]
    gp = df.groupBy(*group_cols).pivot(pivot_col, list(values) if values else None)
    return gp.agg(agg_fn(value_col))
