"""Text-analysis column functions (training-data pipeline surface).

All pure ``pyspark.sql.functions`` expressions — JVM-side, codegen'd,
no Python on the data path — so each scales linearly with input and
is reproducible in the DuckDB oracle. The reference has no text
analytics; this is the north-star extension surface (BASELINE.json),
designed for the ``documents`` table (doc_id, text, lang, source,
n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from epe_data_wrangling_spark.functions.expr import bind

#: Tiny per-language stopword lists for the n-gram/stopword-ratio
#: language heuristic. Deliberately small and deterministic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "for", "with"),
    "es": ("el", "la", "de", "y", "que", "en", "un", "una", "es", "por"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "mit", "zu", "den"),
    "fr": ("le", "la", "de", "et", "est", "un", "une", "dans", "que", "pour"),
    "pt": ("o", "a", "de", "e", "que", "em", "um", "uma", "para", "com"),
}

#: BPE-ish token pattern: word pieces, numbers, or single punctuation
#: marks — a deterministic proxy for subword token counting.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def words(col: Column | str) -> Column:
    """Whitespace tokenization to ``array<string>``, empties dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")


def word_count(col: Column | str) -> Column:
    return F.size(words(col))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish tokens via regexp_count (word pieces + digits +
    punctuation) — a cheap, deterministic token-budget estimator."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE))


def shingles_of(w: Column, n: int) -> Column:
    """n-gram shingles of an ALREADY-computed words array (see
    ``word_shingles`` for the string-column form)."""
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", w)))


def word_shingles(col: Column | str, n: int) -> Column:
    """Word n-grams as ``array<string>`` (space-joined), the unit set
    for Jaccard / MinHash dedup. Uses sequence+transform+slice —
    whole-stage codegen, no explode needed at this stage. The words
    split is ``bind``-ed: evaluated once, not once per shingle
    (7× measured difference at sf0.1)."""
    return bind(words(col), lambda w: shingles_of(w, n))


def stopword_ratio_of(w: Column, lang: str) -> Column:
    """Stopword-hit ratio over an already-computed words array."""
    sw = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
    lower = F.transform(w, F.lower)
    hits = F.size(F.filter(lower, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(w) > 0, hits / F.size(w)).otherwise(F.lit(0.0))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def mean_word_length(col: Column | str) -> Column:
    return bind(
        words(col),
        lambda w: F.when(
            F.size(w) > 0, F.length(F.array_join(w, "")) / F.size(w)
        ).otherwise(F.lit(0.0)),
    )


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: rewards mid-length docs and
    stopword presence, penalizes punctuation soup. Deterministic
    arithmetic only, so oracle-reproducible. The words split is
    bind-ed once and shared by the length and stopword terms."""

    def q(w: Column) -> Column:
        length_term = F.least(F.size(w).cast("double") / F.lit(50.0), F.lit(1.0))
        sw_term = F.least(stopword_ratio_of(w, "en") * 4, F.lit(1.0))
        punct_term = F.lit(1.0) - F.least(punct_ratio(col) * 5, F.lit(1.0))
        return F.round((length_term + sw_term + punct_term) / 3, 6)

    return bind(words(col), q)


def _lang_score_of(lw: Column, lang: str) -> Column:
    """One language's stopword-hit ratio over already-lowered words."""
    sw = F.array(*[F.lit(s) for s in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(lw, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(lw) > 0, hits / F.size(lw)).otherwise(F.lit(0.0))


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit ratio — the language-ID signal."""
    return {
        lang: bind(F.transform(words(col), F.lower), lambda lw, lang=lang: _lang_score_of(lw, lang))
        for lang in LANG_STOPWORDS
    }


def lang_id(col: Column | str) -> Column:
    """argmax over lang_scores with deterministic tie-break: score
    desc, then lexicographically LAST language wins on equal scores
    (array_max over (s, l) structs compares l ascending, so the
    greatest struct carries the greatest language string — the DuckDB
    oracle encodes the same lex-last-wins rule); 'und' when no
    stopword hits at all."""
    def best_of(lw: Column) -> Column:
        pairs = F.array(
            *[
                F.struct(_lang_score_of(lw, lang).alias("s"), F.lit(lang).alias("l"))
                for lang in sorted(LANG_STOPWORDS)
            ]
        )
        best = F.array_max(pairs)  # struct compare: by s, then by l
        return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))

    # one split + one lowering pass shared by all five language scores
    return bind(F.transform(words(col), F.lower), best_of)
