"""Final semantic mapping — the reference's
``tratamento_dados_completos_epe`` (`tratamento_epe.R:210-278`).

Input: the normalized union (atributo_1..4, data, valor). The
reference's five semantic branches (C3) filter on mutually exclusive
predicates over ``atributo_1``, so their union is one filter and their
derivations one projection: each output column is a ``CASE`` chain
over the five predicates, evaluated per row on the sheet name in
``atributo_1``. The filter reads only ``atributo_1``, the LOCF
windows' partition key, so Catalyst pushes it down to the stacked
sheet frames and the excluded sheets drop out before normalization
work. The projection also adds the ``chave_seletora``
selector key (X9, `R:274`), which exists precisely so downstream
consumers can *filter* instead of join (`tratamento_epe.rmd:275`).

Output schema (fixed): ``chave_seletora, mercado, dado, classe,
abertura, atributo string, data date, valor double``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from epe_data_wrangling_spark.functions.cleaning import paste, regexp_extract_na, sql_lit

FINAL_COLS = ("chave_seletora", "mercado", "dado", "classe", "abertura", "atributo", "data", "valor")

#: Class-name extraction — anchored variant used on sheet names
#: (`R:214`), unanchored on UF sheet names / CATIVO row labels
#: (`R:236,247`).
CLASS_ANCHORED = "(RESIDENCIA|INDUSTRIA|COMERCIA|TOTA)(IS|L)$|OUTROS"
CLASS_UNANCHORED = "(RESIDENCIA|INDUSTRIA|COMERCIA|TOTA)(IS|L)|OUTROS"


def _clean_classe(classe: str) -> str:
    """`R:215`: TOTAIS/TOTAL → NÃO RESIDENCIAL; plural IS → singular L
    (RESIDENCIAIS→RESIDENCIAL etc.). Null passes through (R ifelse on
    NA condition yields NA; str_replace(NA) is NA)."""
    return (
        f"CASE WHEN {classe} RLIKE {sql_lit('TOTA')} THEN 'NÃO RESIDENCIAL'"
        f" ELSE regexp_replace({classe}, {sql_lit('IS$')}, 'L') END"
    )


def _dado(atributo_2: str) -> str:
    """`R:216`: the measure kind lives in the sheet subtitle — either
    'Consumo' (GWh) or 'consumidores' (count); uppercased, NA on miss."""
    return f"upper({regexp_extract_na(atributo_2, 'Consumo|consumidores')})"


def _paste_key(dado: str, mercado: str, classe: str, abertura: str) -> str:
    """X9 (`R:274`): R ``paste(dado,'-','MERCADO',mercado,...)`` with
    the default single-space separator. R renders NA components as the
    literal string 'NA' — emulated with coalesce."""
    na = lambda c: f"coalesce({c}, 'NA')"  # noqa: E731
    return paste(
        na(dado), "'-'",
        "'MERCADO'", na(mercado), "'-'",
        "'CLASSE'", na(classe), "'-'",
        "'POR'", na(abertura),
    )


def semantic_map(normalized: DataFrame) -> DataFrame:
    """One filter and one projection: each output column is a single
    CASE chain over the five mutually exclusive branch predicates on
    ``atributo_1`` — no fan-out, no union. All branch logic is pure
    Catalyst expressions (CASE, regexp, upper) — zero UDFs — built as
    SQL text, so the whole map costs a handful of py4j calls instead
    of about a thousand ``Column`` round-trips."""
    a1, a2, a3, a4 = (f"atributo_{i}" for i in range(1, 5))
    dado = _dado(a2)
    # Branch 4's class lives in the row label; class rows get
    # abertura/atributo reset to TOTAL (X8, `R:254`).
    b4_classe = (
        f"coalesce({_clean_classe(regexp_extract_na(f'upper({a4})', CLASS_UNANCHORED))},"
        " 'TOTAL')"
    )
    b4_class_row = f"{b4_classe} != 'TOTAL'"

    # One row per branch, in R order; quoted strings are literals.
    cols = ("mercado", "dado", "classe", "abertura", "atributo")
    branches = [
        # Branch 1 (`R:212-221`): market TOTAL × class sheets, broken
        # down by region/subsystem (or CLASSE rows).
        (
            f"NOT {a1} IN ('TOTAL', 'CONSUMO POR UF')"
            f" AND NOT {a1} RLIKE {sql_lit('CATIVO|INDUSTRIAL GENERO|POR (U|)F$')}",
            (
                "'TOTAL'",
                dado,
                _clean_classe(regexp_extract_na(a1, CLASS_ANCHORED)),
                a3,
                f"upper({a4})",
            ),
        ),
        # Branch 2 (`R:223-231`): industrial consumption by industry
        # branch (RAMO); constants except the sector label.
        (f"{a1} = 'INDUSTRIAL GENERO'", ("'TOTAL'", "'CONSUMO'", "'INDUSTRIAL'", "'RAMO'", a3)),
        # Branch 3 (`R:233-242`): market TOTAL × UF sheets.
        (
            f"{a1} RLIKE {sql_lit('POR (U|)F$')}"
            f" AND NOT {a1} RLIKE {sql_lit('CATIVO|CONSUMO POR UF')}",
            (
                "'TOTAL'",
                dado,
                _clean_classe(regexp_extract_na(a1, CLASS_UNANCHORED)),
                "'UF'",
                f"upper({a3})",
            ),
        ),
        # Branch 4 (`R:244-255`): captive market by region/subsystem.
        (
            f"{a1} = 'CATIVO'",
            (
                "'CATIVO'",
                dado,
                b4_classe,
                f"CASE WHEN {b4_class_row} THEN 'TOTAL' ELSE {a3} END",
                f"CASE WHEN {b4_class_row} THEN 'TOTAL' ELSE upper({a4}) END",
            ),
        ),
        # Branch 5 (`R:257-265`): captive market by UF.
        (
            f"{a1} = 'CONSUMO CATIVO POR UF'",
            ("'CATIVO'", dado, "'TOTAL'", "'UF'", f"upper({a3})"),
        ),
    ]

    # U2 (`R:267-273`): the branch filters' union is one filter; the
    # branches' derivations are one projection. X9 key + key-first
    # ordering (`R:274-275`).
    keep = " OR ".join(f"({pred})" for pred, _ in branches)
    out = {
        c: "CASE "
        + " ".join(f"WHEN {pred} THEN {values[j]}" for pred, values in branches)
        + " END"
        for j, c in enumerate(cols)
    }
    out["chave_seletora"] = _paste_key(out["dado"], out["mercado"], out["classe"], out["abertura"])
    out["data"], out["valor"] = "data", "valor"
    return normalized.filter(keep).selectExpr(*[f"{out[c]} AS {c}" for c in FINAL_COLS])
