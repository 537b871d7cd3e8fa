"""Similarity kernels agree: the Arrow/numpy top-k must produce the
same (query, neighbor, rank) set as the expression-based exact
kernel (values differ only in final-ulp summation order)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from epe_data_wrangling_spark.operators import similarity as S
from epe_data_wrangling_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _ranks(df):
    return sorted((r.query_id, r.neighbor_id, r.rank) for r in df.collect())


def test_arrow_topk_matches_expression_topk(spark):
    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = S.brute_topk(q, e, vec_col="embedding", id_col="vec_id", k=5)
    arrow = S.brute_topk_arrow(q, e, vec_col="embedding", id_col="vec_id", k=5)
    assert _ranks(arrow) == _ranks(exact)


def test_ivf_probes_subset_recall(spark):
    """IVF top-k is drawn from probed cells only; every reported
    neighbor must also appear in the exact scan's candidate scores at
    equal-or-lower cosine rank never *better* than exact."""
    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id): r.rank
        for r in S.brute_topk(q, e, vec_col="embedding", id_col="vec_id", k=50).collect()
    }
    ivf = S.ivf_topk(
        q, e, vec_col="embedding", id_col="vec_id", k=3, n_centroids=8, n_probe=8
    ).collect()
    # probing ALL cells == exhaustive: ranks must match exact top-3
    for r in ivf:
        assert exact[(r.query_id, r.neighbor_id)] == r.rank


def test_arrow_rank_gap_witness(spark):
    """The contract that lets `ann_cosine_topk_arrow` certify at RANK
    level: for every query in its set (vec_id < 10), the EXACT cosine
    scores' adjacent gaps at the top-6 boundary (ranks 1→2 … 5→6 —
    rank membership and ordering both live inside these) must exceed
    1e-9 at BOTH the test and the driver scale factor. Summation-order
    noise between numpy's pairwise reduction and the expression tree's
    sequential order is ~1e-15, so a gap floor of 1e-9 proves no rank
    can flip between the two implementations — measured floors are
    ~5.7e-5 (sf0.001) and ~1.9e-5 (sf0.01). The checked scale factors
    are DERIVED, not hardcoded: every sf* dir the driver's testdata
    root contains, plus $SPARK_GRAFT_SF_DIR if set — a new scale
    factor can never silently escape the gap guarantee."""
    import glob
    import os

    from pyspark.sql import Window

    sf_dirs = sorted(
        os.path.dirname(p)
        for p in glob.glob("/root/testdata/sf*/embeddings.parquet")
    )
    env_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if env_dir and os.path.exists(
        os.path.join(env_dir, "embeddings.parquet")
    ) and env_dir.rstrip("/") not in sf_dirs:
        sf_dirs.append(env_dir.rstrip("/"))
    assert SF_DIR in sf_dirs, "test SF missing from the derived witness set"
    for sf_dir in sf_dirs:
        e = load_table(spark, sf_dir, "embeddings")
        q = e.filter(F.col("vec_id") < 10)
        scored = S.brute_topk(
            q, e, vec_col="embedding", id_col="vec_id", k=6
        )
        w = Window.partitionBy("query_id").orderBy("rank")
        gaps = (
            scored.withColumn(
                "gap", F.col("cos_sim") - F.lead("cos_sim").over(w)
            )
            .filter(F.col("gap").isNotNull())
            .agg(F.min("gap").alias("min_gap"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        assert gaps["n"] == 50, f"{sf_dir}: expected 10 queries x 5 gaps"
        assert gaps["min_gap"] > 1e-9, (
            f"{sf_dir}: adjacent exact-score gap {gaps['min_gap']} too "
            "small — rank-level certification of the arrow twin unsafe"
        )


def test_retrieval_quality_report_matches_duckdb(spark):
    """The unregistered retrieval-quality operator (MRR + mean binary
    NDCG@k of the trained-IVF serve path vs exact ground truth) must
    match its DuckDB oracle EXACTLY — the same differential the driver
    would run; registration is an r16 window candidate. Exactness
    holds because the position weights are Python-staged BIGINT
    literals on both engines and each metric divides once at the
    end."""
    import duckdb

    from epe_data_wrangling_spark.catalog.similarity_q import (
        _retrieval_quality_oracle,
        retrieval_quality_report,
    )

    got = retrieval_quality_report(spark, SF_DIR).collect()
    assert len(got) == 1
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = con.execute(_retrieval_quality_oracle()).fetchall()
    assert len(want) == 1
    g, w = got[0], want[0]
    assert (
        g.method, g.n_queries, g.n_answered, g.mrr, g.mean_ndcg
    ) == tuple(w)
    assert g.n_answered == g.n_queries  # every query found candidates here
    # sanity: the IVF path finds the true top-1 for most queries
    assert g.mrr > 0.8 and 0.5 < g.mean_ndcg <= 1.0


def test_ivf_assign_zero_norm_nan_witness(spark):
    """The r17 row-wise argmax (max over struct(sim, -cell)) must
    match the former per-vid window (ORDER BY cell_sim DESC, cell)
    BIT-EXACTLY under the NaN cases that blocked the r16 rewrite:
    cosine of a ZERO-NORM vector is NaN (0/0), and Spark sorts NaN
    greater than every number — so a zero-norm QUERY vector ties NaN
    across all cells (lowest cell must win) and a zero-norm CENTROID
    beats every finite similarity (every vector must assign to it).
    A min-over-negated-sim form would flip NaN to the losing end,
    which is exactly what this witness exists to catch. Duplicate
    centroids additionally pin the finite-tie path, and probe
    selection (sort_array desc + slice) is held to the same order."""
    from pyspark.sql import Window

    from epe_data_wrangling_spark.functions.vectors import cosine

    def window_assign(vectors, centroids):
        v = vectors.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vv"))
        c = centroids.select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cv"))
        w = Window.partitionBy("vid").orderBy(F.col("cell_sim").desc(), F.col("cell"))
        return (
            v.join(F.broadcast(c))
            .select("vid", "vv", "cell", cosine(F.col("vv"), F.col("cv")).alias("cell_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vid", "vv", "cell")
        )

    def mk(rows):
        return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    # case 1: zero-norm VECTOR (NaN sim to every cell -> lowest cell)
    vecs = mk([(100, [0.0, 0.0]), (101, [1.0, 0.0]), (102, [0.0, -1.0])])
    cents = mk([(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])])
    # case 2: zero-norm CENTROID (NaN beats all finite sims everywhere)
    cents_zn = mk([(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])])
    # case 3: duplicate centroids (finite ties -> lowest cell)
    cents_dup = mk([(5, [1.0, 1.0]), (4, [1.0, 1.0]), (9, [-1.0, 1.0])])

    for cs in (cents, cents_zn, cents_dup):
        got = sorted(
            (r.vid, r.cell)
            for r in S.ivf_assign(vecs, cs, vec_col="embedding", id_col="vec_id").collect()
        )
        want = sorted((r.vid, r.cell) for r in window_assign(vecs, cs).collect())
        assert got == want, (got, want)

    # empty centroids: former inner join produced ZERO rows
    empty = mk([])
    assert S.ivf_assign(vecs, empty, vec_col="embedding", id_col="vec_id").count() == 0

    # non-numeric cell ids cannot be negated for the tie-break: a clear
    # TypeError at the broadcast-side build, not an analysis error later
    cents_str = cents.withColumn("vec_id", F.col("vec_id").cast("string"))
    with pytest.raises(TypeError, match="must be numeric"):
        S.ivf_assign(vecs, cents_str, vec_col="embedding", id_col="vec_id")

    # probe selection: same ordering through sort_array desc + slice,
    # including the NaN-first and tie-by-lowest-cell paths
    def window_probes(queries, centroids, n_probe):
        q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        c = centroids.select(F.col("vec_id").alias("cell"), F.col("embedding").alias("cv"))
        w = Window.partitionBy("query_id").orderBy(F.col("cell_sim").desc(), F.col("cell"))
        return (
            q.join(F.broadcast(c))
            .select("query_id", "cell", cosine(F.col("qv"), F.col("cv")).alias("cell_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n_probe)
            .select("query_id", "cell")
        )

    for cs in (cents, cents_zn, cents_dup):
        full = S.ivf_topk(
            vecs, vecs.unionAll(vecs.select(F.col("vec_id") + 1000, "embedding")),
            vec_col="embedding", id_col="vec_id", k=2, n_centroids=3, n_probe=2,
        )
        full.collect()  # the composed operator stays executable on witness data
        got = sorted((r.query_id, r.cell) for r in _probe_cells(vecs, cs, 2).collect())
        want = sorted((r.query_id, r.cell) for r in window_probes(vecs, cs, 2).collect())
        assert got == want, (got, want)


def _probe_cells(queries, centroids, n_probe):
    """The probe-selection fragment of ivf_topk, isolated for the
    witness differential."""
    from epe_data_wrangling_spark.functions.vectors import cosine
    from epe_data_wrangling_spark.operators.similarity import _cells_array

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    qcands = _cells_array(centroids, vec_col="embedding", id_col="vec_id")
    ranked = F.slice(
        F.sort_array(
            F.transform(
                F.col("_cells"),
                lambda s: F.struct(
                    cosine(F.col("qv"), s["cv"]).alias("s"),
                    (-s["cell"]).alias("nc"),
                ),
            ),
            asc=False,
        ),
        1,
        n_probe,
    )
    return (
        q.crossJoin(F.broadcast(qcands))
        .select("query_id", F.explode(ranked).alias("_p"))
        .select("query_id", (-F.col("_p")["nc"]).alias("cell"))
    )
