"""Golden tests for the EPE normalize/semantic pipeline
(SURVEY §5.2: golden fixtures covering the R-parity traps)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from epe_data_wrangling_spark.plans.epe_normalize import normalize_workbook
from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline
from tests.epe_fixtures import workbook_grids


@pytest.fixture(scope="module")
def normalized(spark):
    df = normalize_workbook(spark, workbook_grids()).cache()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def final(spark):
    df = run_pipeline(spark, workbook_grids()).cache()
    yield df
    df.unpersist()


def rows(df, **filters):
    for k, v in filters.items():
        df = df.filter(F.col(k).isNull() if v is None else (F.col(k) == v))
    return df.collect()


class TestNormalize:
    def test_schema(self, normalized):
        assert normalized.schema.simpleString() == (
            "struct<atributo_1:string,atributo_2:string,atributo_3:string,"
            "atributo_4:string,data:date,valor:double>"
        )

    def test_shape_a_counts(self, normalized):
        # RESIDENCIAIS: NORTE+C.OESTE (2004) + NORDESTE (2005) = 3 rows × 12
        assert len(rows(normalized, atributo_1="RESIDENCIAIS")) == 36
        # TOTAL/NC/TOTAL BRASIL rows stripped
        labels = {r.atributo_4 for r in rows(normalized, atributo_1="RESIDENCIAIS")}
        assert labels == {"Norte", "Centro-Oeste", "Nordeste"}

    def test_locf_year_and_starred(self, normalized):
        r = rows(normalized, atributo_1="RESIDENCIAIS", atributo_4="Nordeste")
        # starred year '2005*' → 2005 dates
        assert {x.data.year for x in r} == {2005}
        jan = [x for x in r if x.data.month == 1][0]
        assert jan.valor == 150.5  # base 150.0 + month offset 0 → '150.5'

    def test_title_case_and_coeste(self, normalized):
        labels = {r.atributo_4 for r in normalized.filter(F.col("atributo_4").isNotNull()).collect()}
        assert "Centro-Oeste" in labels
        assert "Nordeste" in labels  # accented initcap parity: NORDESTE → Nordeste

    def test_total_ano_dropped(self, normalized):
        # 13-column sheet: the pre-aggregated 999 column never survives
        assert not rows(normalized, valor=999.0)
        assert len(rows(normalized, atributo_1="INDUSTRIAIS")) == 36

    def test_locf_leading_null(self, normalized):
        # data row before any section marker keeps atributo_3 NULL (locf0)
        r = rows(normalized, atributo_1="TOTAL", atributo_4="Sistemas Remotos")
        assert len(r) == 12 and all(x.atributo_3 is None for x in r)
        r = rows(normalized, atributo_1="TOTAL", atributo_4="Norte")
        assert all(x.atributo_3 == "REGIÃO GEOGRÁFICA" for x in r)

    def test_subsistema_canonicalized_and_classe_rows(self, normalized):
        cativo = rows(normalized, atributo_1="CATIVO", atributo_4="Residencial")
        assert all(x.atributo_3 == "CLASSE" for x in cativo)
        resid = rows(normalized, atributo_1="RESIDENCIAIS", atributo_4="Nordeste")
        # NORDESTE sits under the SUBSISTEMA marker → canonical label
        assert all(x.atributo_3 == "SUBSISTEMA ELÉTRICO" for x in resid)

    def test_shape_b(self, normalized):
        ig = rows(normalized, atributo_1="INDUSTRIAL GENERO")
        assert len(ig) == 48  # 2 sectors × 24 months (TOTAL GENERO stripped)
        assert {x.atributo_3 for x in ig} == {"METALURGIA", "TEXTIL"}
        assert all(x.atributo_4 is None for x in ig)  # X11 typed-null pad
        met = [x for x in ig if x.atributo_3 == "METALURGIA"]
        assert {x.data.year for x in met} == {2004, 2005}
        jan04 = [x for x in met if x.data == dt.date(2004, 1, 1)][0]
        assert jan04.valor == 600.5

    def test_dates_first_of_month(self, normalized):
        assert normalized.filter(F.dayofmonth("data") != 1).count() == 0


class TestSemantic:
    def test_schema_and_counts(self, final):
        assert [f.name for f in final.schema.fields] == [
            "chave_seletora", "mercado", "dado", "classe",
            "abertura", "atributo", "data", "valor",
        ]
        # b1: RESIDENCIAIS(36) + INDUSTRIAIS(36) + CONSUMIDORES TOTAIS(24)
        # b2: 48; b3: 48; b4: CATIVO(48); b5: 48  — TOTAL / CONSUMO POR UF excluded
        assert final.count() == 36 + 36 + 24 + 48 + 48 + 48 + 48

    def test_branch1_class_mapping(self, final):
        assert {r.classe for r in rows(final, mercado="TOTAL", abertura="REGIÃO GEOGRÁFICA")} == {
            "RESIDENCIAL", "INDUSTRIAL", "NÃO RESIDENCIAL",
        }
        # CONSUMIDORES TOTAIS → TOTAIS → NÃO RESIDENCIAL, dado from subtitle
        nr = rows(final, classe="NÃO RESIDENCIAL")
        assert len(nr) == 24 and {r.dado for r in nr} == {"CONSUMIDORES"}

    def test_branch2_ramo(self, final):
        ramo = rows(final, abertura="RAMO")
        assert len(ramo) == 48
        assert {r.atributo for r in ramo} == {"METALURGIA", "TEXTIL"}
        assert {(r.mercado, r.classe, r.dado) for r in ramo} == {("TOTAL", "INDUSTRIAL", "CONSUMO")}

    def test_branch3_uf(self, final):
        uf = rows(final, mercado="TOTAL", abertura="UF")
        assert len(uf) == 48
        assert {r.atributo for r in uf} == {"SÃO PAULO", "RIO DE JANEIRO"}
        assert {r.classe for r in uf} == {"RESIDENCIAL"}

    def test_branch4_cativo_reset_rule(self, final):
        # class rows: abertura/atributo reset to TOTAL (R:254)
        cls = rows(final, mercado="CATIVO", classe="RESIDENCIAL")
        assert len(cls) == 12
        assert {(r.abertura, r.atributo) for r in cls} == {("TOTAL", "TOTAL")}
        # region rows: classe TOTAL, abertura kept
        reg = rows(final, mercado="CATIVO", classe="TOTAL", abertura="REGIÃO GEOGRÁFICA")
        assert {r.atributo for r in reg} == {"NORTE", "SUL"}

    def test_branch5_cativo_uf(self, final):
        b5 = rows(final, mercado="CATIVO", abertura="UF")
        assert len(b5) == 48
        assert {r.atributo for r in b5} == {"BAHIA", "CEARÁ"}

    def test_chave_seletora(self, final):
        r = rows(final, mercado="TOTAL", classe="RESIDENCIAL", abertura="REGIÃO GEOGRÁFICA")[0]
        assert r.chave_seletora == "CONSUMO - MERCADO TOTAL - CLASSE RESIDENCIAL - POR REGIÃO GEOGRÁFICA"

    def test_key_uniqueness_property(self, final):
        # chave_seletora is a function of (dado, mercado, classe, abertura)
        assert (
            final.select("chave_seletora", "dado", "mercado", "classe", "abertura")
            .distinct()
            .groupBy("chave_seletora")
            .count()
            .filter(F.col("count") > 1)
            .count()
            == 0
        )

    def test_specific_value(self, final):
        r = rows(final, mercado="TOTAL", classe="INDUSTRIAL",
                 abertura="REGIÃO GEOGRÁFICA", atributo="SUDESTE")
        march04 = [x for x in r if x.data == dt.date(2004, 3, 1)][0]
        assert march04.valor == 212.5  # base 210.0 + offset 2 → '212.5'


class TestGoldenProvenance:
    """Anchor the frozen driver oracle (catalog.epe_expected, which
    was GENERATED by the pipeline — tools/freeze_epe_expected.py)
    class-by-class with rows computed BY HAND from the demo grids'
    generation formulas and the R semantics, so the frozen rows
    certify correctness, not just determinism (VERDICT r3 wrong #2).

    Every (mercado, classe, abertura) cell of EXPECTED_ROWS gets one
    fully hand-derived witness tuple: value = block base + month
    offset + .5 (epe_demo._vals), dates from the year label (starred
    years strip the '*'; Shape-B month index walks calendar years),
    labels through upper/initcap and the R:254 CATIVO reset, chave =
    'dado - MERCADO m - CLASSE cl - POR ab'. A completeness guard
    fails this suite the moment EXPECTED_ROWS grows/loses a class
    without a witness here.
    """

    # (mercado, classe, abertura) -> hand-derived full row. Bases come
    # from plans/epe_demo.py grid literals; month offset m adds m to
    # the base ('{base+m}.5'); Shape-B month index m spans years
    # (m=12 -> second year's January).
    WITNESSES = {
        # RESIDENCIAIS / NORTE base 100, year 2004, May (m=4) -> 104.5
        ("TOTAL", "RESIDENCIAL", "REGIÃO GEOGRÁFICA"): (
            "CONSUMO - MERCADO TOTAL - CLASSE RESIDENCIAL - POR REGIÃO GEOGRÁFICA",
            "TOTAL", "CONSUMO", "RESIDENCIAL", "REGIÃO GEOGRÁFICA",
            "NORTE", "2004-05-01", 104.5),
        # RESIDENCIAIS / NORDESTE base 150 under starred '2005*', Feb -> 151.5
        ("TOTAL", "RESIDENCIAL", "SUBSISTEMA ELÉTRICO"): (
            "CONSUMO - MERCADO TOTAL - CLASSE RESIDENCIAL - POR SUBSISTEMA ELÉTRICO",
            "TOTAL", "CONSUMO", "RESIDENCIAL", "SUBSISTEMA ELÉTRICO",
            "NORDESTE", "2005-02-01", 151.5),
        # INDUSTRIAIS (13-col) / SUDESTE base 210, 2004, Dec (m=11) -> 221.5
        ("TOTAL", "INDUSTRIAL", "REGIÃO GEOGRÁFICA"): (
            "CONSUMO - MERCADO TOTAL - CLASSE INDUSTRIAL - POR REGIÃO GEOGRÁFICA",
            "TOTAL", "CONSUMO", "INDUSTRIAL", "REGIÃO GEOGRÁFICA",
            "SUDESTE", "2004-12-01", 221.5),
        # CONSUMIDORES TOTAIS / NORTE base 500, 2004, Jan -> 500.5;
        # dado comes from the 'Número de consumidores' subtitle
        ("TOTAL", "NÃO RESIDENCIAL", "REGIÃO GEOGRÁFICA"): (
            "CONSUMIDORES - MERCADO TOTAL - CLASSE NÃO RESIDENCIAL - POR REGIÃO GEOGRÁFICA",
            "TOTAL", "CONSUMIDORES", "NÃO RESIDENCIAL", "REGIÃO GEOGRÁFICA",
            "NORTE", "2004-01-01", 500.5),
        # INDUSTRIAL GENERO (Shape B) / TEXTIL base 620, m=12 ->
        # second year 2005* Jan -> 632.5
        ("TOTAL", "INDUSTRIAL", "RAMO"): (
            "CONSUMO - MERCADO TOTAL - CLASSE INDUSTRIAL - POR RAMO",
            "TOTAL", "CONSUMO", "INDUSTRIAL", "RAMO",
            "TEXTIL", "2005-01-01", 632.5),
        # RESIDENCIAIS POR UF / 'Rio de Janeiro' base 720 -> upper
        # 'RIO DE JANEIRO', 2004 Mar (m=2) -> 722.5
        ("TOTAL", "RESIDENCIAL", "UF"): (
            "CONSUMO - MERCADO TOTAL - CLASSE RESIDENCIAL - POR UF",
            "TOTAL", "CONSUMO", "RESIDENCIAL", "UF",
            "RIO DE JANEIRO", "2004-03-01", 722.5),
        # CATIVO region row / SUL base 310, 2004 Jun (m=5) -> 315.5
        ("CATIVO", "TOTAL", "REGIÃO GEOGRÁFICA"): (
            "CONSUMO - MERCADO CATIVO - CLASSE TOTAL - POR REGIÃO GEOGRÁFICA",
            "CATIVO", "CONSUMO", "TOTAL", "REGIÃO GEOGRÁFICA",
            "SUL", "2004-06-01", 315.5),
        # CATIVO class row 'Residencial' base 320: classe RESIDENCIAL,
        # abertura/atributo reset to TOTAL (R:254), 2004 Jul (m=6)
        ("CATIVO", "RESIDENCIAL", "TOTAL"): (
            "CONSUMO - MERCADO CATIVO - CLASSE RESIDENCIAL - POR TOTAL",
            "CATIVO", "CONSUMO", "RESIDENCIAL", "TOTAL",
            "TOTAL", "2004-07-01", 326.5),
        # CATIVO class row 'Comercial' base 330, 2004 Oct (m=9) -> 339.5
        ("CATIVO", "COMERCIAL", "TOTAL"): (
            "CONSUMO - MERCADO CATIVO - CLASSE COMERCIAL - POR TOTAL",
            "CATIVO", "CONSUMO", "COMERCIAL", "TOTAL",
            "TOTAL", "2004-10-01", 339.5),
        # CONSUMO CATIVO POR UF / 'Ceará' base 920 -> 'CEARÁ',
        # m=23 -> 2005 Dec -> 943.5
        ("CATIVO", "TOTAL", "UF"): (
            "CONSUMO - MERCADO CATIVO - CLASSE TOTAL - POR UF",
            "CATIVO", "CONSUMO", "TOTAL", "UF",
            "CEARÁ", "2005-12-01", 943.5),
    }

    def test_every_expected_class_has_a_hand_witness(self):
        """Completeness guard: the witness table must cover exactly
        the (mercado, classe, abertura) cells present in the frozen
        oracle — a regenerated EXPECTED_ROWS with a new/renamed class
        fails here until a hand computation is added."""
        from epe_data_wrangling_spark.catalog.epe_expected import EXPECTED_ROWS

        cells = {(m, cl, ab) for _, m, _, cl, ab, _, _, _ in EXPECTED_ROWS}
        assert cells == set(self.WITNESSES), (
            "EXPECTED_ROWS classes changed; update hand witnesses"
        )

    def test_witnesses_present_in_frozen_oracle(self):
        """Each hand-derived tuple must appear verbatim in the frozen
        EXPECTED_ROWS — anchoring the generated oracle to arithmetic
        done without running the pipeline."""
        from epe_data_wrangling_spark.catalog.epe_expected import EXPECTED_ROWS

        frozen = {(c, m, d, cl, ab, at, dt, float(v))
                  for c, m, d, cl, ab, at, dt, v in EXPECTED_ROWS}
        for cell, w in self.WITNESSES.items():
            t = (*w[:7], float(w[7]))
            assert t in frozen, (cell, w)

    def test_witnesses_present_in_live_pipeline(self, final):
        """And the live pipeline must still produce them (closes the
        loop: hand math == frozen oracle == current code)."""
        got = {
            (r.chave_seletora, r.mercado, r.dado, r.classe, r.abertura,
             r.atributo, r.data.isoformat(), float(r.valor))
            for r in final.collect()
        }
        for cell, w in self.WITNESSES.items():
            t = (*w[:7], float(w[7]))
            assert t in got, (cell, w)


def test_grid_to_df_lineage_has_no_python_rdd(spark):
    """Sheet frames are built from Arrow in the JVM: no PythonRDD, so
    no Python worker serves the sheet rows."""
    fact = run_pipeline(spark, workbook_grids())
    lineage = fact._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage


def test_run_pipeline_submits_no_jobs(spark):
    """Ingest, normalize and the single-projection semantic map are all
    plan building: the first Spark job is the consumer's."""
    sc = spark.sparkContext
    group = "test_run_pipeline_submits_no_jobs"
    sc.setJobGroup(group, "run_pipeline job count")
    try:
        fact = run_pipeline(spark, workbook_grids())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert fact.count() == 288


def _leaves(df) -> list[str]:
    """Leaf node names of the optimized plan. The optimizer runs on the
    analyzed plan directly, so a cached copy of the same pipeline (the
    module's fixtures cache one) cannot replace the leaves."""
    session = df.sparkSession._jsparkSession
    plan = session.sessionState().optimizer().execute(df._jdf.queryExecution().analyzed())
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_plan_has_one_local_relation_per_sheet_shape(spark):
    """Each sheet shape is stacked into one Arrow-built frame, so the
    optimized plan has two leaves whatever the sheet count: the demo
    workbook's 9 sheets (12- and 13-month Shape-A sheets, Shape-B
    headers 2004/2005*, 2004/2005 and 2004), and the same workbook
    with every sheet repeated under a second name (Shape-A copies
    before the split sheet, Shape-B copies after it)."""
    grids = workbook_grids()
    names = list(grids)
    cut = names.index("CONSUMIDORES TOTAIS") + 1
    doubled = (
        {f"{s} 2": grids[s] for s in names[:cut]}
        | grids
        | {f"{s} 2": grids[s] for s in names[cut:]}
    )
    assert len(doubled) == 2 * len(grids)
    for wb in (grids, doubled):
        assert _leaves(run_pipeline(spark, wb)) == ["LocalRelation"] * 2
    # the copies normalize exactly like their originals
    norm = normalize_workbook(spark, doubled)
    assert norm.count() == 2 * normalize_workbook(spark, grids).count()


def _new_job_ids(spark, after: int) -> list[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # job events arrive asynchronously
    jobs = sc.statusStore().jobsList(None)
    ids = [jobs.apply(i).jobId() for i in range(jobs.size())]
    return sorted(j for j in ids if j > after)


def _refresh_jobs(spark, drops, tmp_path) -> tuple[list[int], object]:
    """The job ids one ``epe_monthly_refresh`` run submits, and its fact."""
    from epe_data_wrangling_spark.streaming.epe_monthly import epe_monthly_refresh

    before = max(_new_job_ids(spark, -1), default=-1)
    fact, _ = epe_monthly_refresh(
        spark, drops, str(tmp_path / "state"), checkpoint_dir=str(tmp_path / "ckpt")
    )
    return _new_job_ids(spark, before), fact


def test_monthly_refresh_parses_each_drop_once(spark, tmp_path):
    """One drop through ``epe_monthly_refresh`` runs a fixed number of
    Spark jobs, counted from the status store: the provenance collect
    parses the drop once and hands its grids to the step, so no other
    job reads the drop's cells. A bootstrap runs 4: the collect, the
    image write, and the view write's aggregate shuffle and write."""
    import os

    from epe_data_wrangling_spark.sources.xlsx import write_xlsx

    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    write_xlsx(os.path.join(drops, "drop_001.xlsx"), workbook_grids())
    jobs, fact = _refresh_jobs(spark, drops, tmp_path)
    # a distinct-file collect (2 jobs), a cell checkpoint, a second
    # cell collect or a schema-inferring read would each raise this
    assert len(jobs) == 4, jobs
    assert fact.count() == 288


def test_monthly_refresh_warm_drop_job_count(spark, tmp_path):
    """A drop onto a standing target runs a fixed number of Spark jobs:
    the provenance collect, the image write, and the view write, whose
    diff, delta aggregate and merge run as one plan (adaptive execution
    submits each of its shuffle stages as a job: 6). Reads of the
    committed tables name their schema, so none infers one, and
    neither the image nor the signed diff is checkpointed."""
    import os

    from epe_data_wrangling_spark.plans.epe_demo import monthly_workbook_versions
    from epe_data_wrangling_spark.sources.xlsx import write_xlsx

    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    v1, v2, _ = monthly_workbook_versions()
    write_xlsx(os.path.join(drops, "drop_001.xlsx"), v1)
    _refresh_jobs(spark, drops, tmp_path)
    write_xlsx(os.path.join(drops, "drop_002.xlsx"), v2)
    jobs, fact = _refresh_jobs(spark, drops, tmp_path)
    assert len(jobs) == 8, jobs
    assert fact.count() == run_pipeline(spark, v2).count()
