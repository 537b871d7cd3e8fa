"""R-semantics-parity scalar helpers (SURVEY.md §2.10).

The reference leans on a handful of stringr/base-R scalar functions
whose null/miss semantics differ subtly from Spark's defaults. Each
helper here encodes one parity trap so the rest of the engine can use
them without re-deriving the trap:

- ``regexp_extract_na``: R ``str_extract`` returns NA on no-match
  (`tratamento_epe.R:98,102,166,214`); Spark ``regexp_extract``
  returns ``''``. The NA-vs-empty difference is load-bearing for the
  LOCF fills (W1/W2) and downstream not-null filters.
- ``str_to_title``: R ``str_to_title`` (`tratamento_epe.R:154`)
  title-cases alphabetic word starts incl. accented words;
  ``initcap`` matches for the label vocabulary used here
  (regions/subsystems), verified by golden tests.
- ``as_numeric``: R ``as.numeric`` coerces unparseable strings to NA
  with a warning (`tratamento_epe.R:144,182`); ``try_cast`` gives
  null-on-miss regardless of ``spark.sql.ansi.enabled``.
- ``paste``/``paste0``: R's default single-space separator
  (`tratamento_epe.R:274` builds ``chave_seletora`` with it).

Every helper takes and returns Spark SQL expression TEXT, for
``selectExpr``, string ``filter`` and ``F.expr``: the plans that use
them build each projection as one string, which reaches the JVM in
one py4j call, where the same expression built from ``Column`` objects
costs a dozen or more round-trips per function (PySpark 4.1). Plain
column names pass as they are; a name that is not an identifier
(``1``, a month column) needs backticks.
"""

from __future__ import annotations


def sql_lit(s: str) -> str:
    """``s`` as a raw SQL string literal (``r'…'``): backslashes in a
    regex (``\\*``) reach the engine unescaped."""
    if "'" in s:
        raise ValueError(f"no quote allowed in a raw SQL literal: {s!r}")
    return f"r'{s}'"


def regexp_extract_na(expr: str, pattern: str) -> str:
    """``str_extract`` parity: first regex match, NULL (not '') on miss."""
    # '' is ambiguous (a genuine empty match vs a miss); R returns NA
    # only on a miss, but none of the reference's patterns can match
    # empty, so ''-as-miss is exact here. A NULL input extracts NULL.
    return f"nullif(regexp_extract({expr}, {sql_lit(pattern)}, 0), '')"


def str_to_title(expr: str) -> str:
    """R ``str_to_title`` over space-separated words (`R:154`)."""
    return f"initcap({expr})"


def as_numeric(expr: str) -> str:
    """R ``as.numeric``: parse or NA, never an error (`R:144,182`)."""
    return f"try_cast({expr} AS DOUBLE)"


def paste(*exprs: str, sep: str = " ") -> str:
    """R ``paste(..., sep=' ')``; NULLs render as the string 'NA' in R,
    but ``concat_ws`` *skips* them, so callers coalesce nullable parts
    to ``'NA'`` first (`R:274`)."""
    return f"concat_ws({sql_lit(sep)}, {', '.join(exprs)})"


def typed_null(dtype: str = "string") -> str:
    """R ``as.character(NA)`` — typed null for union-by-name alignment
    (`tratamento_epe.R:192`)."""
    return f"CAST(NULL AS {dtype.upper()})"


def make_month_date(year: str, month: str) -> str:
    """R ``as.Date(paste(ano, mes, 1, sep='-'))`` (`R:150,189`):
    first-of-month date from (possibly unpadded) year/month strings.
    ``make_date`` avoids format-string ambiguity; the explicit month
    guard keeps as.Date's NULL-on-invalid semantics under ANSI mode
    too (unguarded make_date(2004, 13, 1) *throws* when
    spark.sql.ansi.enabled=true — no try_make_date exists)."""
    yi, mi = f"try_cast({year} AS INT)", f"try_cast({month} AS INT)"
    return (
        f"CASE WHEN {mi} BETWEEN 1 AND 12 THEN make_date({yi}, {mi}, 1) "
        "ELSE CAST(NULL AS DATE) END"
    )
