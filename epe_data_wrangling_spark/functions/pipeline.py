"""Training-data pipeline column functions (north-star extension
surface, beyond ``functions.text``): document chunking, PII
scrubbing, within-document repetition scoring.

Same design contract as ``functions.text``: pure ``pyspark.sql.
functions`` expression trees — JVM-side, codegen'd, zero Python on
the data path — each mirrored fragment-for-fragment by a DuckDB
oracle in ``catalog.ducksql``/``catalog.pipeline_q``. Regex patterns
are kept RE2-safe (no lookaround/backrefs) so Java and RE2 agree.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from epe_data_wrangling_spark.functions.expr import bind
from epe_data_wrangling_spark.functions.text import words

#: PII patterns (public, conventional shapes), applied in this order.
#: Order matters: emails contain dots/digits, so they are scrubbed
#: before phone/IP patterns can nibble at their substrings.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+?\d[\d().\- ]{7,}\d"),
)


def chunk_starts(col: Column | str, stride: int) -> Column:
    """1-based word offsets where chunks begin: 1, 1+stride, … while
    ≤ word count (empty doc → no chunks). Guarded: Spark's sequence()
    raises on (1, 0, +step) where DuckDB's generate_series returns
    empty — the WHEN makes both sides agree on 'no chunks'."""
    return bind(
        words(col),
        lambda w: F.when(
            F.size(w) > 0, F.sequence(F.lit(1), F.size(w), F.lit(stride))
        ).otherwise(F.array().cast("array<int>")),
    )


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-pattern match counts, ``{kind: count}``."""
    c = F.col(col) if isinstance(col, str) else col
    return {kind: F.regexp_count(c, F.lit(pat)) for kind, pat in PII_PATTERNS}


def pii_scrub(col: Column | str) -> Column:
    """Text with every PII match replaced by ``<KIND>`` tokens, in
    PII_PATTERNS order."""
    c = F.col(col) if isinstance(col, str) else col
    for kind, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, f"<{kind.upper()}>")
    return c


def distinct_word_ratio(col: Column | str) -> Column:
    """|distinct words| / |words| in [0,1]; 1.0 for empty docs (no
    repetition evidence)."""
    return bind(
        words(col),
        lambda w: F.when(
            F.size(w) > 0, F.size(F.array_distinct(w)) / F.size(w)
        ).otherwise(F.lit(1.0)),
    )


def max_word_frequency(col: Column | str) -> Column:
    """Highest occurrence count of any single word (0 for empty docs).
    Per-row O(distinct·n) expression — fine for document-sized rows;
    the corpus dimension stays a narrow scan."""
    return bind(
        words(col),
        lambda w: F.coalesce(
            F.array_max(
                F.transform(
                    F.array_distinct(w), lambda x: F.size(F.filter(w, lambda y: y == x))
                )
            ),
            F.lit(0),
        ),
    )


def dup_ngram_fraction(col: Column | str, n: int) -> Column:
    """1 − |distinct n-grams| / |n-grams|: the fraction of repeated
    word n-grams inside the document (0.0 when fewer than n words —
    too short to repeat)."""
    def frac(w: Column) -> Column:
        grams = F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return bind(
            grams,
            lambda g: F.when(
                F.size(g) > 0, F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g)
            ).otherwise(F.lit(0.0)),
        )

    return bind(words(col), frac)
