"""Incremental ANN index maintenance (`streaming.ann_index`): IVF
refresh without retrain — bootstrap trains, later generations append
under the frozen quantizer, serve probes only its cells, and the
final state equals the from-scratch recompute."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from epe_data_wrangling_spark.functions import vectors as V
from epe_data_wrangling_spark.sources.tables import load_table
from epe_data_wrangling_spark.streaming.ann_index import (
    ivf_index_foreach_batch,
    ivf_index_topk,
)

SF_DIR = "/root/testdata/sf0.001"
NQ, PROBE, K = 12, 3, 3


def _land(df, landing: str, name: str, order: int) -> None:
    from epe_data_wrangling_spark.streaming.sources import land_single_file

    land_single_file(df, landing, name, order)


def _run(spark, landing: str, target: str, ck: str, k_cells: int = 8,
         per_file: bool = True) -> None:
    reader = spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
    if per_file:
        reader = reader.option("maxFilesPerTrigger", 1)
    ivf_index_foreach_batch(
        reader.parquet(landing), target,
        k_cells=k_cells, train_iters=2, checkpoint_dir=ck,
    )


def _gens(spark):
    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    return [e.filter(F.col("vec_id") % 3 == i) for i in range(3)], e


def _queries(e):
    return e.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )


def _serve_set(spark, target, e):
    return {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_index_topk(
            spark, target, _queries(e), probe=PROBE, k=K
        ).collect()
    }


def _direct_recompute(spark, target, e):
    """Assign ALL vectors against the index's FROZEN centroids, probe,
    rank — what the maintained index must equal exactly."""
    cents = spark.read.parquet(os.path.join(target, "centroids"))
    c = cents.withColumn("cc", V.dot(F.col("c"), F.col("c")))
    ev = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    d2 = (F.col("vv") - 2 * V.dot(F.col("v"), F.col("c"))) + F.col("cc")
    w_a = Window.partitionBy("vec_id").orderBy(F.col("d2"), F.col("cid"))
    assigned = (
        ev.crossJoin(F.broadcast(c))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w_a))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "vv", F.col("cid").alias("cell"))
    )
    q = assigned.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vv").alias("qq"),
    )
    d2q = (F.col("qq") - 2 * V.dot(F.col("qv"), F.col("c"))) + F.col("cc")
    w_p = Window.partitionBy("query_id").orderBy(F.col("d2q"), F.col("cid"))
    probes = (
        q.crossJoin(F.broadcast(c))
        .withColumn("d2q", d2q)
        .withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= PROBE)
        .select("query_id", "qv", "qq", F.col("cid").alias("cell"))
    )
    d2x = F.round(
        (
            (F.col("qq") - 2 * V.dot(F.col("qv"), F.col("v")))
            + F.col("vv")
        )
        * F.lit(1e9)
    ).cast("bigint")
    w_k = Window.partitionBy("query_id").orderBy("d2_r", "neighbor_id")
    return {
        (r.query_id, r.neighbor_id, r.rank)
        for r in probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), d2x.alias("d2_r")
        )
        .withColumn("rank", F.row_number().over(w_k).cast("int"))
        .filter(F.col("rank") <= K)
        .collect()
    }


def test_ann_index_converges_on_recompute(spark, tmp_path):
    """Three append generations (one sink run per landing — the
    monthly-cycle driving pattern) must serve exactly what a
    from-scratch assignment against the frozen quantizer serves."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    for i, g in enumerate(gens, start=1):
        _land(g, landing, f"g{i}.parquet", i)
        _run(spark, landing, target, ck)
    got = _serve_set(spark, target, e)
    assert got == _direct_recompute(spark, target, e)
    assert len({q for q, _, _ in got}) == NQ


def test_ann_index_batch_split_invariance(spark, tmp_path):
    """One run over three landed files (per-file triggers) and three
    incremental land+run cycles must produce identical serve results
    — the appends compose."""
    gens, e = _gens(spark)
    l1, l2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    for i, g in enumerate(gens, start=1):
        _land(g, l1, f"g{i}.parquet", i)
    t1 = str(tmp_path / "t1")
    _run(spark, l1, t1, str(tmp_path / "ck1"))
    t2 = str(tmp_path / "t2")
    ck2 = str(tmp_path / "ck2")
    for i, g in enumerate(gens, start=1):
        _land(g, l2, f"g{i}.parquet", i)
        _run(spark, l2, t2, ck2)
    assert _serve_set(spark, t1, e) == _serve_set(spark, t2, e)


def test_ann_index_replay_noop_and_fresh_checkpoint_guard(spark, tmp_path):
    """Replay over applied files (fresh checkpoint, no new data) must
    change nothing; new data under a fresh checkpoint must raise, not
    silently drop or double-append."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    for i, g in enumerate(gens[:2], start=1):
        _land(g, landing, f"g{i}.parquet", i)
    _run(spark, landing, target, str(tmp_path / "ck1"))
    before = _serve_set(spark, target, e)
    _run(spark, landing, target, str(tmp_path / "ck2"))  # pure replay
    assert _serve_set(spark, target, e) == before
    # a fresh-checkpoint SINGLE batch mixing applied files with a
    # never-applied one cannot be told from a replay by batch_id alone
    # — the provenance guard must raise, not drop or double-append
    _land(gens[2], landing, "g3.parquet", 3)
    with pytest.raises(Exception, match="never-applied"):
        _run(spark, landing, target, str(tmp_path / "ck3"), per_file=False)
    # resuming with the ORIGINAL checkpoint applies exactly the new file
    _run(spark, landing, target, str(tmp_path / "ck1"))
    assert _serve_set(spark, target, e) == _direct_recompute(spark, target, e)


def test_ann_index_duplicate_id_raises(spark, tmp_path):
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _land(gens[0], landing, "g1.parquet", 1)
    _run(spark, landing, target, ck)
    # re-deliver a gen-1 vector as if new: same vector, same frozen
    # assignment -> caught in its cell
    _land(gens[0].limit(1), landing, "g2.parquet", 2)
    with pytest.raises(Exception, match="already present"):
        _run(spark, landing, target, ck)


def test_ann_index_k_cells_drift_raises(spark, tmp_path):
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _land(gens[0], landing, "g1.parquet", 1)
    _run(spark, landing, target, ck, k_cells=8)
    _land(gens[1], landing, "g2.parquet", 2)
    with pytest.raises(Exception, match="k_cells"):
        _run(spark, landing, target, ck, k_cells=4)


def test_ann_index_serve_prunes_and_broadcasts(spark, tmp_path):
    """The serve plan must (a) push the probed-cell `_kb` filter to
    the index scan (manifest bucket pruning) and (b) broadcast the
    query/centroid sides — never sort-merge the index."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    for i, g in enumerate(gens, start=1):
        _land(g, landing, f"g{i}.parquet", i)
    _run(spark, landing, target, str(tmp_path / "ck"))
    out = ivf_index_topk(spark, target, _queries(e), probe=PROBE, k=K)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    assert "_kb" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---- PQ-coded twin (codes-only store, external re-rank) --------------

from epe_data_wrangling_spark.streaming.ann_index import (  # noqa: E402
    ivfpq_index_foreach_batch,
    ivfpq_index_topk,
)


def _pq_run(spark, landing: str, target: str, ck: str, pq_m: int = 4,
            per_file: bool = True) -> None:
    reader = spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
    if per_file:
        reader = reader.option("maxFilesPerTrigger", 1)
    ivfpq_index_foreach_batch(
        reader.parquet(landing), target,
        k_cells=8, train_iters=2, pq_m=pq_m, pq_sub=64 // pq_m, cbk=32,
        checkpoint_dir=ck,
    )


def _pq_serve_set(spark, target, e):
    vectors = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_index_topk(
            spark, target, _queries(e), vectors, probe=PROBE, cand=30, k=K
        ).collect()
    }


def test_ivfpq_index_batch_split_invariance(spark, tmp_path):
    """Incremental land+run cycles and one per-file-trigger run must
    produce identical code stores — serve results equal. (Exact
    convergence-on-recompute is certified by the catalog oracle.)"""
    gens, e = _gens(spark)
    l1, l2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    for i, g in enumerate(gens, start=1):
        _land(g, l1, f"g{i}.parquet", i)
    t1 = str(tmp_path / "t1")
    _pq_run(spark, l1, t1, str(tmp_path / "ck1"))
    t2 = str(tmp_path / "t2")
    ck2 = str(tmp_path / "ck2")
    for i, g in enumerate(gens, start=1):
        _land(g, l2, f"g{i}.parquet", i)
        _pq_run(spark, l2, t2, ck2)
    s1 = _pq_serve_set(spark, t1, e)
    assert s1 == _pq_serve_set(spark, t2, e)
    assert len({q for q, _, _ in s1}) == NQ


def test_ivfpq_index_fresh_checkpoint_guard_and_dim_check(spark, tmp_path):
    """The PQ twin keeps the module's provenance discipline (a fresh-
    checkpoint single batch mixing applied and never-applied files
    raises), and a layout whose pq_m*pq_sub does not cover the vector
    raises instead of silently encoding a residual prefix."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(gens[0], landing, "g1.parquet", 1)
    _pq_run(spark, landing, target, str(tmp_path / "ck1"))
    _land(gens[1], landing, "g2.parquet", 2)
    with pytest.raises(Exception, match="never-applied"):
        _pq_run(spark, landing, target, str(tmp_path / "ck2"),
                per_file=False)
    with pytest.raises(Exception, match="pq_m\\*pq_sub"):
        ivfpq_index_foreach_batch(
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .parquet(landing),
            str(tmp_path / "state2"),
            k_cells=8, train_iters=2, pq_m=4, pq_sub=8, cbk=32,
            checkpoint_dir=str(tmp_path / "ck3"),
        )


def test_ivfpq_index_layout_drift_and_duplicate_raise(spark, tmp_path):
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    _land(gens[0], landing, "g1.parquet", 1)
    _pq_run(spark, landing, target, ck, pq_m=4)
    _land(gens[1], landing, "g2.parquet", 2)
    with pytest.raises(Exception, match="pq_layout|misread"):
        _pq_run(spark, landing, target, ck, pq_m=2)
    _pq_run(spark, landing, target, ck, pq_m=4)  # matching layout applies
    _land(gens[0].limit(1), landing, "g3.parquet", 3)
    with pytest.raises(Exception, match="already present"):
        _pq_run(spark, landing, target, ck, pq_m=4)


def test_ivfpq_index_serve_prunes_and_broadcasts(spark, tmp_path):
    """The PQ serve plan must read codes pruned to the probed cells
    (PushedFilters `_kb`) and broadcast the small sides (ADC tables,
    candidates, queries) — never sort-merge the code store."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    for i, g in enumerate(gens, start=1):
        _land(g, landing, f"g{i}.parquet", i)
    _pq_run(spark, landing, target, str(tmp_path / "ck"))
    vectors = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    out = ivfpq_index_topk(
        spark, target, _queries(e), vectors, probe=PROBE, cand=30, k=K
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    assert "_kb" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the exact re-rank reads candidate rows, not the corpus: the
    # collected candidate ids must reach the raw-vector scan as a
    # pushed membership filter
    assert "In(vec_id" in plan or "vec_id IN" in plan


def test_ann_index_cross_sink_guard(spark, tmp_path):
    """Pointing one sink at the other's target must raise: the
    whole-dir atomic swap would otherwise silently DROP the other
    sink's stores (and the next orphan sweep would reclaim their
    pool files) — silent index destruction."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    _land(gens[0], landing, "g1.parquet", 1)
    t_ivf, ck1 = str(tmp_path / "t_ivf"), str(tmp_path / "ck1")
    t_pq, ck2 = str(tmp_path / "t_pq"), str(tmp_path / "ck2")
    _run(spark, landing, t_ivf, ck1)
    _pq_run(spark, landing, t_pq, ck2)
    _land(gens[1], landing, "g2.parquet", 2)
    with pytest.raises(Exception, match="raw-vector index"):
        _pq_run(spark, landing, t_ivf, ck1)
    with pytest.raises(Exception, match="PQ-coded index"):
        _run(spark, landing, t_pq, ck2)


def test_ann_index_intra_batch_duplicate_raises(spark, tmp_path):
    """Two rows sharing an id WITHIN one micro-batch (re-delivery
    landing in the same trigger) must raise — the standing-rows join
    cannot see them, and a silent double-append would make serve
    return the vector twice, inflating ranks."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    dup_batch = gens[0].union(gens[0].limit(1))
    _land(dup_batch, landing, "g1.parquet", 1)
    with pytest.raises(Exception, match="WITHIN this batch"):
        _run(spark, landing, target, str(tmp_path / "ck"))


def test_ann_index_cell_ids_dense_even_for_huge_vec_ids(spark, tmp_path):
    """Trained centroids must carry DENSE 0..k-1 cell ids: Lloyd
    seeds cid from vec_id (BIGINT), and the `_kb` bucket id is an
    int — a bootstrap corpus with vec_id ≥ 2³¹ would otherwise wrap
    the cell id and collide cells between ingest and serve. Shift the
    corpus past 2³¹ and require (a) dense small cids in the frozen
    centroids, and (b) append + serve still exactly equal to the
    from-scratch recompute."""
    gens, e = _gens(spark)
    big = 2**31
    shift = [
        g.withColumn("vec_id", F.col("vec_id") + F.lit(big)) for g in gens
    ]
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    for i, g in enumerate(shift[:2], start=1):
        _land(g, landing, f"g{i}.parquet", i)
        _run(spark, landing, target, ck)
    cids = sorted(
        r.cid
        for r in spark.read.parquet(os.path.join(target, "centroids"))
        .select("cid")
        .collect()
    )
    assert cids == list(range(8))
    landed = shift[0].union(shift[1])
    got = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_index_topk(
            spark,
            target,
            landed.filter(F.col("vec_id") < NQ + big).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").cast("array<double>").alias("qv"),
            ),
            probe=PROBE,
            k=K,
        ).collect()
    }
    cents = spark.read.parquet(os.path.join(target, "centroids"))
    c = cents.withColumn("cc", V.dot(F.col("c"), F.col("c")))
    ev = landed.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    d2 = (F.col("vv") - 2 * V.dot(F.col("v"), F.col("c"))) + F.col("cc")
    w_a = Window.partitionBy("vec_id").orderBy(F.col("d2"), F.col("cid"))
    assigned = (
        ev.crossJoin(F.broadcast(c))
        .withColumn("d2", d2)
        .withColumn("rn", F.row_number().over(w_a))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "vv", F.col("cid").alias("cell"))
    )
    q = assigned.filter(F.col("vec_id") < NQ + big).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vv").alias("qq"),
    )
    d2q = (F.col("qq") - 2 * V.dot(F.col("qv"), F.col("c"))) + F.col("cc")
    w_p = Window.partitionBy("query_id").orderBy(F.col("d2q"), F.col("cid"))
    probes = (
        q.crossJoin(F.broadcast(c))
        .withColumn("d2q", d2q)
        .withColumn("rn", F.row_number().over(w_p))
        .filter(F.col("rn") <= PROBE)
        .select("query_id", "qv", "qq", F.col("cid").alias("cell"))
    )
    d2x = F.round(
        ((F.col("qq") - 2 * V.dot(F.col("qv"), F.col("v"))) + F.col("vv"))
        * F.lit(1e9)
    ).cast("bigint")
    w_k = Window.partitionBy("query_id").orderBy("d2_r", "neighbor_id")
    want = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), d2x.alias("d2_r")
        )
        .withColumn("rank", F.row_number().over(w_k).cast("int"))
        .filter(F.col("rank") <= K)
        .collect()
    }
    assert got == want


# ---- CDC extension: deletes / upserts / vacuum -----------------------

from epe_data_wrangling_spark.streaming.ann_index import (  # noqa: E402
    ivf_index_changes_foreach_batch,
    ivf_index_vacuum,
)


def _chg_run(spark, landing: str, target: str, ck: str,
             per_file: bool = True, adopt: bool = False) -> None:
    reader = spark.readStream.schema(
        "op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    if per_file:
        reader = reader.option("maxFilesPerTrigger", 1)
    ivf_index_changes_foreach_batch(
        reader.parquet(landing), target,
        k_cells=8, train_iters=2, adopt=adopt, checkpoint_dir=ck,
    )


def _as_ops(df, op: str):
    if op == "D":
        return df.select(
            F.lit("D").alias("op"), "vec_id",
            F.lit(None).cast("array<float>").alias("embedding"),
        )
    return df.select(F.lit(op).alias("op"), "vec_id", "embedding")


def _cdc_land_three(spark, e, landing: str, target: str, ck: str):
    """Bootstrap (I), append (I), then a mixed I/U/D batch: upsert
    re-embeds landed ids with NEGATED vectors (a genuinely different
    vector reusing the id — the case the append sink cannot express),
    delete retires a disjoint cohort."""
    landed = F.col("vec_id") % 3 != 2
    ups = _as_ops(
        e.filter(landed & (F.col("vec_id") % 5 == 2)).withColumn(
            "embedding", F.transform("embedding", lambda x: -x)
        ),
        "U",
    )
    dels = _as_ops(e.filter(landed & (F.col("vec_id") % 5 == 4)), "D")
    batches = [
        _as_ops(e.filter(F.col("vec_id") % 3 == 0), "I"),
        _as_ops(e.filter(F.col("vec_id") % 3 == 1), "I"),
        _as_ops(e.filter(F.col("vec_id") % 3 == 2), "I").union(ups).union(dels),
    ]
    for i, b in enumerate(batches, start=1):
        _land(b, landing, f"c{i}.parquet", i)
        _chg_run(spark, landing, target, ck)


def _cdc_live_corpus(e):
    """The LIVE corpus after `_cdc_land_three`: deletes excluded,
    upserted ids carrying their re-embedded (negated) vectors."""
    landed = F.col("vec_id") % 3 != 2
    return (
        e.filter(landed & (F.col("vec_id") % 5 != 4))
        .withColumn(
            "embedding",
            F.when(
                F.col("vec_id") % 5 == 2,
                F.transform("embedding", lambda x: -x),
            ).otherwise(F.col("embedding")),
        )
        .union(e.filter(F.col("vec_id") % 3 == 2))
    )


def test_ann_index_changes_converge_and_vacuum_invariant(spark, tmp_path):
    """I/U/D change batches must serve exactly the live corpus (the
    from-scratch recompute that EXCLUDES deleted ids and carries the
    upserts' re-embedded vectors); vacuum must not change serve
    results, must clear the tombstones, and must be idempotent."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _cdc_land_three(spark, e, landing, target, str(tmp_path / "ck"))
    live = _cdc_live_corpus(e)
    got = _serve_set(spark, target, live)
    want = _direct_recompute(spark, target, live)
    assert got == want
    n = ivf_index_vacuum(spark, target)
    assert n > 0
    assert _serve_set(spark, target, live) == want
    assert ivf_index_vacuum(spark, target) == 0  # nothing left dead
    from epe_data_wrangling_spark.streaming.manifest import (
        read_manifest,
        store_has_files,
    )

    assert not store_has_files(read_manifest(target, "tombs"))


def test_ann_index_changes_witnesses(spark, tmp_path):
    """Delta-sized witnesses: op outside {I,U,D}; null vector on I/U;
    INSERT over a present id (exact via the locator, even when the
    new vector would land in a DIFFERENT cell); DELETE of an unknown
    id. Each case runs bootstrap + bad batch over its own target —
    the bad batch must RAISE, leaving the bootstrap state committed."""
    gens, e = _gens(spark)
    cases = [
        (
            "insert_over_present",
            _as_ops(
                gens[0].limit(1).withColumn(
                    "embedding", F.transform("embedding", lambda x: -x)
                ),
                "I",
            ),
            "op=I but the locator",
        ),
        ("delete_unknown", _as_ops(gens[2].limit(1), "D"), "op=D but"),
        (
            "null_vector_on_upsert",
            _as_ops(gens[0].limit(1), "D").withColumn("op", F.lit("U")),
            "null vector",
        ),
        (
            "op_outside_domain",
            _as_ops(gens[0].limit(1), "I").withColumn("op", F.lit("X")),
            "outside",
        ),
    ]
    for name, bad, pattern in cases:
        landing = str(tmp_path / name / "landing")
        target = str(tmp_path / name / "state")
        ck = str(tmp_path / name / "ck")
        _land(_as_ops(gens[0], "I"), landing, "c1.parquet", 1)
        _land(bad, landing, "c2.parquet", 2)
        with pytest.raises(Exception, match=pattern):
            _chg_run(spark, landing, target, ck)
        # the bootstrap batch committed before the bad one raised
        assert _serve_set(spark, target, gens[0]) == _direct_recompute(
            spark, target, gens[0]
        )


def test_ann_index_changes_replay_noop_and_fresh_checkpoint_guard(
    spark, tmp_path
):
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(_as_ops(gens[0], "I"), landing, "c1.parquet", 1)
    _land(_as_ops(gens[1].filter(F.col("vec_id") % 5 == 0), "D"),
          landing, "c2.parquet", 2)
    # D of gen-1... wait: gen index 1 ids were never inserted
    import shutil

    shutil.rmtree(landing)
    _land(_as_ops(gens[0], "I"), landing, "c1.parquet", 1)
    _land(_as_ops(gens[0].filter(F.col("vec_id") % 5 == 0), "D"),
          landing, "c2.parquet", 2)
    _chg_run(spark, landing, target, str(tmp_path / "ck1"))
    before = _serve_set(spark, target, e)
    _chg_run(spark, landing, target, str(tmp_path / "ck2"))  # pure replay
    assert _serve_set(spark, target, e) == before
    # fresh checkpoint over applied + NEW data must raise, not drop
    _land(_as_ops(gens[1], "I"), landing, "c3.parquet", 3)
    with pytest.raises(Exception, match="never-applied"):
        _chg_run(spark, landing, target, str(tmp_path / "ck3"),
                 per_file=False)
    # resuming with the original checkpoint applies exactly the new file
    _chg_run(spark, landing, target, str(tmp_path / "ck1"))
    live = gens[0].filter(F.col("vec_id") % 5 != 0).union(gens[1])
    assert _serve_set(spark, target, live) == _direct_recompute(
        spark, target, live
    )


def test_ann_index_changes_adopts_plain_target_and_plain_refuses_cdc(
    spark, tmp_path
):
    """A plain-append target is adopted by the CDC sink (one-time
    locator backfill from the vectors store), after which the plain
    sink must refuse the target — interleaving would strand the
    locator stale."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    for i, g in enumerate(gens[:2], start=1):
        _land(g, landing, f"g{i}.parquet", i)
    _run(spark, landing, target, str(tmp_path / "ck1"))  # plain append sink
    chg_landing = str(tmp_path / "chg")
    _land(_as_ops(gens[0].filter(F.col("vec_id") % 5 == 0), "D"),
          chg_landing, "c1.parquet", 1)
    # WITHOUT the explicit adopt declaration the fresh-checkpoint
    # witness stands — the same signature describes a miswired job
    with pytest.raises(Exception, match="never-applied"):
        _chg_run(spark, chg_landing, target, str(tmp_path / "ck2"))
    _chg_run(spark, chg_landing, target, str(tmp_path / "ck2b"), adopt=True)
    live = gens[0].filter(F.col("vec_id") % 5 != 0).union(gens[1])
    assert _serve_set(spark, target, live) == _direct_recompute(
        spark, target, live
    )
    # plain sink now refuses the CDC-maintained target
    _land(gens[2], landing, "g3.parquet", 3)
    with pytest.raises(Exception, match="CDC-maintained"):
        _run(spark, landing, target, str(tmp_path / "ck1"))


def test_ann_index_changes_locator_drift_witness(spark, tmp_path):
    """A locator entry whose located cell holds no standing row for
    the id is corruption — retiring it must RAISE, never silently
    tombstone a phantom."""
    import json
    import os as _os

    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(_as_ops(gens[0], "I"), landing, "c1.parquet", 1)
    _chg_run(spark, landing, target, str(tmp_path / "ck1"))
    # forge a locator entry for an id the store does not hold, via the
    # same manifest API the sink uses (white-box corruption)
    from epe_data_wrangling_spark.streaming.ops import _atomic_swap
    from epe_data_wrangling_spark.streaming.manifest import (
        read_manifest,
        read_store,
        write_store_delta,
    )

    phantom_id = 999_999_001
    loc_manifest = read_manifest(target, "locator")
    # the forged entry must live in the phantom id's OWN hash bucket —
    # that is the bucket the sink's pruned locator read resolves
    kb = (
        spark.range(1)
        .select(
            F.pmod(
                F.hash(F.lit(phantom_id).cast("bigint")), F.lit(32)
            ).cast("int").alias("b")
        )
        .collect()[0]["b"]
    )
    forged = spark.createDataFrame(
        [(phantom_id, 0, kb)], "vec_id BIGINT, cell INT, _kb INT"
    )
    touched = [kb]
    standing_loc = read_store(
        spark, target, "locator", buckets=touched, manifest=loc_manifest
    )
    merged = forged if standing_loc is None else standing_loc.union(forged)
    stage = f"{target}.stage-777"
    _os.makedirs(stage, exist_ok=True)
    write_store_delta(
        spark, merged, target, "locator", stage,
        batch_id=777, touched=touched, manifest=loc_manifest,
    )
    from epe_data_wrangling_spark.streaming.manifest import carry_store

    carry_store(target, "vectors", stage)
    carry_store(target, "tombs", stage)
    import shutil

    shutil.copytree(
        _os.path.join(target, "centroids"), _os.path.join(stage, "centroids")
    )
    with open(_os.path.join(target, "_ivm_meta.json")) as f:
        meta = json.load(f)
    with open(_os.path.join(stage, "_ivm_meta.json"), "w") as f:
        json.dump(meta, f)
    _atomic_swap(stage, target, 777)
    # deleting the phantom passes the locator-presence check but must
    # trip the locator<->store divergence witness
    _land(
        spark.createDataFrame(
            [("D", phantom_id, None)],
            "op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>",
        ),
        landing, "c2.parquet", 2,
    )
    with pytest.raises(Exception, match="DIVERGE"):
        _chg_run(spark, landing, target, str(tmp_path / "ck1"))


def test_ann_index_cdc_serve_prunes_and_broadcasts(spark, tmp_path):
    """The CDC-maintained index's serve plan must keep the probed-cell
    `_kb` pushdown and broadcast-only joins — the tombstone filter
    must not introduce a sort-merge join or a full scan."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _cdc_land_three(spark, e, landing, target, str(tmp_path / "ck"))
    out = ivf_index_topk(spark, target, _queries(e), probe=PROBE, k=K)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    assert "_kb" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_index_serve_invariant_across_compaction(spark, tmp_path):
    """Verdict-r13 item 5: drive the append sink across an
    over-threshold manifest compaction and require byte-identical
    serve results on both sides of the boundary, plus the `_kb`
    pushdown still in the plan. 12 single-file generations against 8
    cells push hot cells past COMPACT_FILE_THRESHOLD (8), so the
    append path's in-commit compaction must fire at least once."""
    from epe_data_wrangling_spark.streaming.manifest import (
        COMPACT_FILE_THRESHOLD,
        read_manifest,
    )

    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    n_gens = 12
    parts = [e.filter(F.col("vec_id") % n_gens == i) for i in range(n_gens)]
    landed = None
    saw_fragmented = False
    max_files_seen = 0
    for i, g in enumerate(parts, start=1):
        _land(g, landing, f"g{i:02d}.parquet", i)
        _run(spark, landing, target, ck)
        landed = g if landed is None else landed.union(g)
        m = read_manifest(target, "vectors")
        n_files = max(len(v) for v in m["buckets"].values())
        max_files_seen = max(max_files_seen, n_files)
        if n_files > COMPACT_FILE_THRESHOLD - 1:
            saw_fragmented = True
        # serve must equal the frozen-quantizer recompute at EVERY
        # boundary — before, during, and after compactions
        assert _serve_set(spark, target, landed) == _direct_recompute(
            spark, target, landed
        )
    # the run genuinely fragmented and genuinely compacted
    assert saw_fragmented, "run never approached the compaction threshold"
    final = read_manifest(target, "vectors")
    assert max(len(v) for v in final["buckets"].values()) < max(
        max_files_seen, n_gens
    ), "no compaction ever fired"
    out = ivf_index_topk(spark, target, _queries(e), probe=PROBE, k=K)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "_kb" in plan
    assert "SortMergeJoin" not in plan


def test_ann_index_occupancy_skew_witness(spark, tmp_path):
    """Frozen-quantizer drift surfaces as cell-occupancy skew: a
    batch concentrated far from the bootstrap distribution piles into
    one cell, and once max/mean crosses the sink's warn threshold the
    committed meta must carry the retrain advisory — while ingest and
    serve keep working (advisory, never an error)."""
    import json

    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def run(warn):
        reader = (
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        ivf_index_foreach_batch(
            reader, target, k_cells=8, train_iters=2,
            warn_skew=warn, checkpoint_dir=ck,
        )

    _land(gens[0], landing, "g1.parquet", 1)
    run(3.0)
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert "occupancy_warning" not in meta
    assert sum(meta["cell_counts"].values()) == gens[0].count()
    # drifted cohort: one far-away point, many ids -> one hot cell
    hot_vec = [1e4] * 64
    hot = spark.createDataFrame(
        [(10_000_000 + i, hot_vec) for i in range(gens[0].count() * 2)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    _land(hot, landing, "g2.parquet", 2)
    run(3.0)
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    warning = meta.get("occupancy_warning")
    assert warning is not None
    assert warning["skew"] > 3.0 and warning["threshold"] == 3.0
    assert "retrain" in warning["action"]
    # ingest + serve still work on the skewed index
    landed = gens[0].union(hot)
    assert _serve_set(spark, target, gens[0]) == _direct_recompute(
        spark, target, landed
    ) - {
        t for t in _direct_recompute(spark, target, landed)
        if t[0] >= 10_000_000
    }


# ---- PQ-coded CDC twin ------------------------------------------------

from epe_data_wrangling_spark.streaming.ann_index import (  # noqa: E402
    ivfpq_index_changes_foreach_batch,
    ivfpq_index_vacuum,
)


def _pq_chg_run(spark, landing: str, target: str, ck: str) -> None:
    ivfpq_index_changes_foreach_batch(
        spark.readStream.schema(
            "op STRING, vec_id BIGINT, embedding ARRAY<FLOAT>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(landing),
        target,
        k_cells=8, train_iters=2, pq_m=4, pq_sub=16, cbk=32,
        checkpoint_dir=ck,
    )


def _pq_cdc_serve(spark, target, live):
    vectors = live.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = live.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    return {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivfpq_index_topk(
            spark, target, queries, vectors, probe=PROBE, cand=30, k=K
        ).collect()
    }


def test_ivfpq_changes_deletes_upserts_and_vacuum(spark, tmp_path):
    """PQ CDC twin: after the I/U/D plan, serve must never return a
    deleted id, must rank the upserted ids by their NEW codes, and
    vacuum (store-resolving alias) must clear the tombstones without
    changing serve results. The cross-sink guard keeps the plain PQ
    sink off the CDC target."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    landed = F.col("vec_id") % 3 != 2
    ups = _as_ops(
        e.filter(landed & (F.col("vec_id") % 5 == 2)).withColumn(
            "embedding",
            F.transform("embedding", lambda x: -x).cast("array<float>"),
        ),
        "U",
    )
    dels = _as_ops(e.filter(landed & (F.col("vec_id") % 5 == 4)), "D")
    batches = [
        _as_ops(gens[0], "I"),
        _as_ops(gens[1], "I"),
        _as_ops(gens[2], "I").union(ups).union(dels),
    ]
    ck = str(tmp_path / "ck")
    for i, b in enumerate(batches, start=1):
        _land(b, landing, f"c{i}.parquet", i)
        _pq_chg_run(spark, landing, target, ck)
    live = _cdc_live_corpus(e)
    got = _pq_cdc_serve(spark, target, live)
    dead_ids = {
        r[0]
        for r in e.filter(landed & (F.col("vec_id") % 5 == 4))
        .select("vec_id")
        .collect()
    }
    assert got and not {n for _, n, _ in got} & dead_ids
    n = ivfpq_index_vacuum(spark, target)
    assert n > 0
    assert _pq_cdc_serve(spark, target, live) == got
    assert ivfpq_index_vacuum(spark, target) == 0
    # plain PQ sink refuses the CDC-maintained target
    plain_landing = str(tmp_path / "plain")
    _land(
        gens[0].limit(5).withColumn("vec_id", F.col("vec_id") + 900000),
        plain_landing, "p1.parquet", 1,
    )
    reader = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(plain_landing)
    )
    # adopt=True gets past the fresh-checkpoint witness so the
    # CDC-maintained cross-sink guard is what actually fires
    with pytest.raises(Exception, match="CDC-maintained"):
        ivfpq_index_foreach_batch(
            reader, target, k_cells=8, train_iters=2, adopt=True,
            checkpoint_dir=str(tmp_path / "ckp"),
        )


def test_ivfpq_changes_serve_prunes_and_broadcasts(spark, tmp_path):
    """The PQ CDC serve plan keeps `_kb` pushdown and broadcast-only
    joins — the tombstone filter before the ADC must not introduce a
    sort-merge join."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    landed = F.col("vec_id") % 3 != 2
    dels = _as_ops(e.filter(landed & (F.col("vec_id") % 5 == 4)), "D")
    batches = [
        _as_ops(gens[0], "I"),
        _as_ops(gens[1], "I"),
        dels,
    ]
    ck = str(tmp_path / "ck")
    for i, b in enumerate(batches, start=1):
        _land(b, landing, f"c{i}.parquet", i)
        _pq_chg_run(spark, landing, target, ck)
    live = gens[0].union(gens[1]).filter(
        ~(landed & (F.col("vec_id") % 5 == 4))
    )
    vectors = live.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    queries = live.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    out = ivfpq_index_topk(
        spark, target, queries, vectors, probe=PROBE, cand=30, k=K
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan
    assert "_kb" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_index_retrain_rebalances_and_preserves_corpus(spark, tmp_path):
    """The drift loop closes: a drifted cohort trips the occupancy
    advisory; `ivf_index_retrain` re-trains on the CURRENT live
    corpus, re-assigns every row, clears the advisory (balanced cells
    by construction), drops tombstoned rows in the same pass, and the
    retrained index serves exactly the frozen-quantizer recompute
    against its NEW centroids. CDC machinery keeps working after:
    a delete against the retrained locator lands."""
    import json

    from epe_data_wrangling_spark.streaming.ann_index import (
        ivf_index_retrain,
    )

    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    hot_vec = [1e4] * 64
    n0 = gens[0].count()
    hot = spark.createDataFrame(
        [(10_000_000 + i, hot_vec) for i in range(n0 * 2)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    # CDC lifecycle: bootstrap, hot drifted cohort, one delete batch
    batches = [
        _as_ops(gens[0], "I"),
        _as_ops(hot, "I"),
        _as_ops(gens[0].filter(F.col("vec_id") % 5 == 0), "D"),
    ]
    for i, b in enumerate(batches, start=1):
        _land(b, landing, f"c{i}.parquet", i)
        _chg_run(spark, landing, target, ck)
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert meta["occupancy_skew"] > 2.0  # the drifted cohort skewed it
    live = gens[0].filter(F.col("vec_id") % 5 != 0).union(hot)
    n = ivf_index_retrain(spark, target)
    assert n == live.count()  # tombstoned rows dropped in the pass
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert "occupancy_warning" not in meta
    assert sum(meta["cell_counts"].values()) == n
    from epe_data_wrangling_spark.streaming.manifest import (
        read_manifest,
        store_has_files,
    )

    assert not store_has_files(read_manifest(target, "tombs"))
    # serve == recompute against the RETRAINED centroids (queries
    # from the live corpus; the <NQ filter keeps the hot cohort out
    # of the query set)
    assert _serve_set(spark, target, live) == _direct_recompute(
        spark, target, live
    )
    # the rewritten locator still drives deletes correctly
    _land(_as_ops(gens[0].filter(F.col("vec_id") % 5 == 1), "D"),
          landing, "c4.parquet", 4)
    _chg_run(spark, landing, target, ck)
    live2 = live.filter(
        ~((F.col("vec_id") % 5 == 1) & (F.col("vec_id") < 10_000_000))
    )
    assert _serve_set(spark, target, live2) == _direct_recompute(
        spark, target, live2
    )


def _strip_gen_from_manifest(target: str, store: str) -> None:
    """Rewrite a committed manifest's schema WITHOUT the _gen field —
    the pre-CDC on-disk layout, for the upgrade-witness tests."""
    import json

    p = os.path.join(target, f"_manifest_{store}.json")
    m = json.load(open(p))
    schema = json.loads(m["schema"])
    schema["fields"] = [f for f in schema["fields"] if f["name"] != "_gen"]
    m["schema"] = json.dumps(schema)
    with open(p, "w") as f:
        json.dump(m, f)


def test_ann_index_plain_sink_refuses_pre_gen_target(spark, tmp_path):
    """A raw-vector target committed before deltas carried _gen must
    get the actionable upgrade refusal from the PLAIN sink (the CDC
    sinks already had this witness) — not the manifest layer's generic
    schema-drift error on the append."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(gens[0], landing, "g1.parquet", 1)
    _run(spark, landing, target, str(tmp_path / "ck1"))
    _strip_gen_from_manifest(target, "vectors")
    _land(gens[1], landing, "g2.parquet", 2)
    with pytest.raises(Exception, match="predates the _gen"):
        _run(spark, landing, target, str(tmp_path / "ck2"))


def test_ivfpq_index_plain_sink_refuses_pre_gen_target(spark, tmp_path):
    """PQ twin of the pre-_gen plain-append refusal."""
    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(gens[0], landing, "g1.parquet", 1)
    _pq_run(spark, landing, target, str(tmp_path / "ck1"))
    _strip_gen_from_manifest(target, "codes")
    _land(gens[1], landing, "g2.parquet", 2)
    with pytest.raises(Exception, match="predates the _gen"):
        _pq_run(spark, landing, target, str(tmp_path / "ck2"))


def test_ann_index_occupancy_default_fires_at_production_k(spark, tmp_path):
    """The DEFAULT warn threshold (8.0) at a realistic cell count:
    max/mean over POPULATED cells is bounded by the populated-cell
    count, so at the toy k=8 the default is unreachable by
    construction (SCALE.md r14) — but production indexes run k in the
    hundreds. k=256 over a well-spread bootstrap must commit quietly;
    a drifted cohort piling into one cell must fire the advisory
    UNTUNED (no warn_skew override anywhere)."""
    import json
    import random

    rng = random.Random(20260816)
    dim, k, n_boot, n_drift = 8, 256, 2048, 1024
    boot = spark.createDataFrame(
        [(i, [rng.uniform(-1.0, 1.0) for _ in range(dim)])
         for i in range(n_boot)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    far = [50.0 + d * 0.5 for d in range(dim)]
    drift = spark.createDataFrame(
        [(10_000_000 + i,
          [x + rng.uniform(-0.01, 0.01) for x in far])
         for i in range(n_drift)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")

    def run():
        ivf_index_foreach_batch(
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", 1)
            .parquet(landing),
            target, k_cells=k, train_iters=2, checkpoint_dir=ck,
        )

    _land(boot, landing, "g1.parquet", 1)
    run()
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert "occupancy_warning" not in meta, (
        f"well-spread bootstrap tripped the default: {meta.get('occupancy_skew')}"
    )
    _land(drift, landing, "g2.parquet", 2)
    with pytest.warns(RuntimeWarning, match="occupancy skew"):
        run()
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    warning = meta["occupancy_warning"]
    assert warning["threshold"] == 8.0  # the untouched default
    assert warning["skew"] > 8.0
    assert warning["hot_rows"] >= n_drift


def test_ivfpq_index_rebuild_equals_fresh_bootstrap_and_keeps_cdc(
    spark, tmp_path
):
    """The PQ drift loop closes: a drifted cohort trips the occupancy
    skew; `ivfpq_index_rebuild` re-trains BOTH frozen stages on the
    live ids' vectors pulled from the system-of-record table, and the
    rebuilt target must be indistinguishable from a FRESH bootstrap
    over the same live corpus (same trainers, same init — that is the
    rebuild contract). CDC machinery keeps working after: a delete
    through the rewritten locator serves exactly like a fresh
    bootstrap+delete lifecycle."""
    import json

    from epe_data_wrangling_spark.streaming.ann_index import (
        ivfpq_index_rebuild,
    )

    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    ck = str(tmp_path / "ck")
    hot_vec = [1e4] * 64
    n0 = gens[0].count()
    hot = spark.createDataFrame(
        [(10_000_000 + i, hot_vec) for i in range(n0 * 2)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    batches = [
        _as_ops(gens[0], "I"),
        _as_ops(hot, "I"),
        _as_ops(gens[0].filter(F.col("vec_id") % 5 == 0), "D"),
    ]
    for i, b in enumerate(batches, start=1):
        _land(b, landing, f"c{i}.parquet", i)
        _pq_chg_run(spark, landing, target, ck)
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert meta["occupancy_skew"] > 2.0  # the drifted cohort skewed it
    live = gens[0].filter(F.col("vec_id") % 5 != 0).union(hot)
    live_v = live.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = ivfpq_index_rebuild(spark, target, live_v)
    assert n == live.count()  # tombstoned rows dropped in the pass
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert "occupancy_warning" not in meta
    assert sum(meta["cell_counts"].values()) == n
    from epe_data_wrangling_spark.streaming.manifest import (
        read_manifest,
        store_has_files,
    )

    assert not store_has_files(read_manifest(target, "tombs"))
    # rebuilt == fresh bootstrap over the live corpus (one I batch)
    fresh = str(tmp_path / "fresh")
    fland = str(tmp_path / "fland")
    _land(live, fland, "g1.parquet", 1)
    _pq_run(spark, fland, fresh, str(tmp_path / "fck"))
    assert _pq_cdc_serve(spark, target, live) == _pq_cdc_serve(
        spark, fresh, live
    )
    # the rewritten locator still drives deletes: rebuilt target +
    # delete == fresh CDC lifecycle (live bootstrap, same delete)
    dels2 = _as_ops(gens[0].filter(F.col("vec_id") % 5 == 1), "D")
    _land(dels2, landing, "c4.parquet", 4)
    _pq_chg_run(spark, landing, target, ck)
    twin = str(tmp_path / "twin")
    tland = str(tmp_path / "tland")
    _land(_as_ops(live, "I"), tland, "t1.parquet", 1)
    _land(dels2, tland, "t2.parquet", 2)
    _pq_chg_run(spark, tland, twin, str(tmp_path / "tck"))
    assert _pq_cdc_serve(spark, target, live) == _pq_cdc_serve(
        spark, twin, live
    )


def test_ivfpq_index_rebuild_witnesses(spark, tmp_path):
    """Rebuild's refusals: raw-vector targets (use ivf_index_retrain),
    and a live id missing from the system-of-record vectors table
    (rebuilding without it would silently drop the row)."""
    from epe_data_wrangling_spark.streaming.ann_index import (
        ivfpq_index_rebuild,
    )

    gens, e = _gens(spark)
    # raw-vector target refuses
    raw_land = str(tmp_path / "raw_land")
    raw_target = str(tmp_path / "raw_state")
    _land(gens[0], raw_land, "g1.parquet", 1)
    _run(spark, raw_land, raw_target, str(tmp_path / "raw_ck"))
    ev = gens[0].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    with pytest.raises(RuntimeError, match="raw-vector index"):
        ivfpq_index_rebuild(spark, raw_target, ev)
    # live id missing from the source table refuses
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(_as_ops(gens[0], "I"), landing, "c1.parquet", 1)
    _pq_chg_run(spark, landing, target, str(tmp_path / "ck"))
    holey = ev.filter(F.col("vec_id") != ev.agg(F.min("vec_id")).collect()[0][0])
    with pytest.raises(RuntimeError, match="system-of-record"):
        ivfpq_index_rebuild(spark, target, holey)
    # a NULL vector in the source table gets the dim witness's
    # actionable message, not a TypeError from the message formatting
    min_id = ev.agg(F.min("vec_id")).collect()[0][0]
    nulled = ev.withColumn(
        "v",
        F.when(F.col("vec_id") == min_id, F.lit(None)).otherwise(
            F.col("v")
        ),
    )
    with pytest.raises(RuntimeError, match="dim NULL"):
        ivfpq_index_rebuild(spark, target, nulled)


def test_farthest_first_seeds_spread_and_deterministic(spark):
    """Farthest-first seeding: first seed = the lowest id's vector,
    every later seed maximizes its min dist² to the chosen set — on a
    corpus of well-separated clusters the seeds must land one per
    cluster BEFORE doubling up, regardless of id order (the failure
    mode of lowest-id init, which puts every seed in the cluster that
    happens to own the lowest ids). Deterministic across runs."""
    from epe_data_wrangling_spark.functions import vectors as V
    from epe_data_wrangling_spark.operators.kmeans import (
        farthest_first_seeds,
    )

    dim, per = 4, 30
    rows = []
    for c in range(3):  # cluster c centered at 100*c per dim
        for i in range(per):
            rows.append(
                (c * per + i, [100.0 * c + 0.001 * i] * dim)
            )
    ev = spark.createDataFrame(
        rows, "vec_id BIGINT, v ARRAY<DOUBLE>"
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    seeds = farthest_first_seeds(ev, 3, id_col="vec_id").collect()
    assert [s["cid"] for s in seeds] == [0, 1, 2]
    clusters = sorted(round(s["c"][0] / 100.0) for s in seeds)
    assert clusters == [0, 1, 2], f"seeds doubled up: {clusters}"
    assert seeds[0]["c"][0] == 0.0  # first seed = lowest id's vector
    again = farthest_first_seeds(ev, 3, id_col="vec_id").collect()
    assert [tuple(s["c"]) for s in again] == [tuple(s["c"]) for s in seeds]


def test_ann_index_retrain_spread_rebalances_clustered_drift(spark, tmp_path):
    """The SCALE.md r15 finding as a pinned witness: on a multi-
    cluster corpus whose lowest ids all live in one cluster, lowest-id
    retrain cannot rebalance (every seed starts in that cluster and
    Lloyd cannot migrate across the gaps), while init='spread'
    (farthest-first) restores balance — and serve still equals the
    frozen-quantizer recompute against whatever centroids are
    committed (the serve contract is init-agnostic)."""
    import json

    from epe_data_wrangling_spark.streaming.ann_index import (
        ivf_index_retrain,
    )

    dim, per, k = 8, 100, 8
    rows = []
    for c in range(4):  # 4 clusters, ids cluster-ordered
        for i in range(per):
            rows.append(
                (c * per + i, [10.0 * c + 0.01 * (i % 7)] * dim)
            )
    e = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(e, landing, "g1.parquet", 1)
    _run(spark, landing, target, str(tmp_path / "ck"), k_cells=k)
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    skew_boot = meta["occupancy_skew"]  # lowest-id init: seeds in cluster 0
    n = ivf_index_retrain(spark, target, init="spread")
    assert n == len(rows)
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    skew_spread = meta["occupancy_skew"]
    # 8 spread seeds over 4 clusters: ~2 cells per cluster, balanced
    assert skew_spread < 2.0 < skew_boot, (skew_boot, skew_spread)
    assert "occupancy_warning" not in meta
    assert _serve_set(spark, target, e) == _direct_recompute(
        spark, target, e
    )
    with pytest.raises(ValueError, match="init="):
        ivf_index_retrain(spark, target, init="kmeans++")


def test_ivfpq_index_rebuild_spread_rebalances_clustered_drift(
    spark, tmp_path
):
    """PQ twin of the spread-retrain witness: on the cluster-ordered
    corpus, a lowest-id rebuild keeps the coarse skew, init='spread'
    rebalances it — and the rebuilt index still serves its own
    corpus (every query's true neighbors come back from the probed
    cells; ADC + exact re-rank agree with the raw chain's cluster
    structure)."""
    import json

    from epe_data_wrangling_spark.streaming.ann_index import (
        ivfpq_index_rebuild,
    )

    dim, per = 64, 100  # cell count comes from _pq_run's k_cells=8
    rows = []
    for c in range(4):
        for i in range(per):
            rows.append(
                (c * per + i, [10.0 * c + 0.01 * (i % 7)] * dim)
            )
    e = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(e, landing, "g1.parquet", 1)
    _pq_run(spark, landing, target, str(tmp_path / "ck"))
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    skew_boot = meta["occupancy_skew"]
    ev = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = ivfpq_index_rebuild(spark, target, ev, init="spread")
    assert n == len(rows)
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert meta["occupancy_skew"] < 2.0 < skew_boot
    assert "occupancy_warning" not in meta
    # serve sanity on the rebalanced index: the query set (vec_id <
    # NQ, all cluster 0) must get cluster-0 neighbors back — the
    # spread cells isolate clusters, so probing cannot cross them
    got = _pq_cdc_serve(spark, target, e)
    assert got, "rebalanced PQ index served nothing"
    assert all(n < per for _, n, _ in got), "neighbors crossed clusters"
    with pytest.raises(ValueError, match="init="):
        ivfpq_index_rebuild(spark, target, ev, init="random")


def test_farthest_first_seeds_edge_cases(spark):
    """Empty corpus raises with a diagnostic; k exceeding the distinct
    point count stops early instead of fabricating duplicate seeds
    (duplicate centroids can never win an argmin tie-break, so fewer
    seeds train the same means the full-k SQL mirror does)."""
    from epe_data_wrangling_spark.functions import vectors as V
    from epe_data_wrangling_spark.operators.kmeans import (
        farthest_first_seeds,
    )

    empty = spark.createDataFrame(
        [], "vec_id BIGINT, v ARRAY<DOUBLE>, vv DOUBLE"
    )
    with pytest.raises(ValueError, match="empty"):
        farthest_first_seeds(empty, 4)
    # 3 distinct points (one duplicated), k=8 -> exactly 3 seeds
    ev = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [9.0, 0.0]), (2, [0.0, 9.0]),
         (3, [0.0, 0.0])],
        "vec_id BIGINT, v ARRAY<DOUBLE>",
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    seeds = farthest_first_seeds(ev, 8).collect()
    assert len(seeds) == 3
    assert sorted(tuple(s["c"]) for s in seeds) == [
        (0.0, 0.0), (0.0, 9.0), (9.0, 0.0)
    ]


def test_ann_index_maintain_dispatches_the_drift_loop(spark, tmp_path):
    """`ann_index_maintain` is the loop as one call: no-op on a
    healthy target, spread-retrain on a raw target whose advisory
    fires (clearing it), actionable refusal on a PQ target without
    the system-of-record table, rebuild with it."""
    import json

    from epe_data_wrangling_spark.streaming.ann_index import (
        ann_index_maintain,
    )

    dim, per = 8, 100
    rows = []
    for c in range(4):
        for i in range(per):
            rows.append((c * per + i, [10.0 * c + 0.01 * (i % 7)] * dim))
    e = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")
    # raw target, advisory forced by a low warn_skew at bootstrap
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(e, landing, "g1.parquet", 1)
    ivf_index_foreach_batch(
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing),
        target, k_cells=8, train_iters=2, warn_skew=1.5,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert "occupancy_warning" in meta  # lowest-id bootstrap skewed it
    out = ann_index_maintain(spark, target)
    assert out["action"] == "retrain" and out["rows"] == len(rows)
    assert out["skew_after"] < 2.0 < out["skew_before"]
    # healthy now -> no-op (retrain rebuilds occupancy with the
    # DEFAULT threshold, clearing the tuned advisory)
    again = ann_index_maintain(spark, target)
    assert again["action"] == "none" and again["rows"] == 0
    # PQ target: refusal without the source table, rebuild with it
    dim64 = spark.createDataFrame(
        [(i, [10.0 * (i // per) + 0.01 * (i % 7)] * 64)
         for i in range(4 * per)],
        "vec_id BIGINT, embedding ARRAY<FLOAT>",
    )
    pq_land = str(tmp_path / "pq_land")
    pq_target = str(tmp_path / "pq_state")
    _land(dim64, pq_land, "g1.parquet", 1)
    ivfpq_index_foreach_batch(
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(pq_land),
        pq_target, k_cells=8, train_iters=2, pq_m=4, pq_sub=16, cbk=32,
        warn_skew=1.5, checkpoint_dir=str(tmp_path / "pq_ck"),
    )
    with pytest.raises(RuntimeError, match="system-of-record"):
        ann_index_maintain(spark, pq_target)
    ev = dim64.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    out = ann_index_maintain(spark, pq_target, vectors=ev)
    assert out["action"] == "rebuild" and out["rows"] == 4 * per
    assert out["skew_after"] < 2.0


def test_ivfpq_rebuild_spread_matches_duckdb(spark):
    """The r16 registration candidate's full differential, run every
    round meanwhile: the PQ rebuild with farthest-first coarse seeding
    must hash-match (here: exact row-set match) the from-scratch
    DuckDB recompute whose coarse init unrolls the same traversal and
    whose both stages train on the live corpus."""
    import duckdb

    from epe_data_wrangling_spark.catalog.streaming_q import (
        _ivfpq_index_rebuild_spread_oracle,
        ivfpq_index_rebuild_spread_query,
    )

    got = sorted(
        (r.query_id, r.neighbor_id, r.rank, r.l2_dist)
        for r in ivfpq_index_rebuild_spread_query(spark, SF_DIR).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = sorted(
        tuple(r) for r in
        con.execute(_ivfpq_index_rebuild_spread_oracle()).fetchall()
    )
    assert got == want
    assert len(got) > 0


def test_farthest_first_seeds_sampled_matches_sql_mirror(spark):
    """The bounded-seeding scale path (sample_cap < corpus) verified
    differentially: with a cap the traversal runs over the
    deterministic md5-ranked sample, and the SQL mirror
    (`_spread_init_ctes` with the same cap) must pick the IDENTICAL
    seed sequence — the same guarantee the certified spread queries
    rely on, exercised here at the cap the certification scales never
    reach."""
    import hashlib

    import duckdb

    from epe_data_wrangling_spark.catalog.streaming_q import (
        _spread_init_ctes,
    )
    from epe_data_wrangling_spark.operators.kmeans import (
        farthest_first_seeds,
    )

    # 40 distinct points (7 invertible mod 40 -> first coord unique)
    rows = [(i, [float(7 * i % 40), float(i % 5)]) for i in range(40)]
    ev = spark.createDataFrame(
        rows, "vec_id BIGINT, v ARRAY<DOUBLE>"
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    got = [
        (s["cid"], tuple(s["c"]))
        for s in farthest_first_seeds(ev, 4, sample_cap=12).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE corpus(vec_id BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO corpus VALUES (?, ?)", rows)
    sql = (
        "WITH tv AS (SELECT vec_id, v, list_dot_product(v, v) AS vv"
        " FROM corpus),\n    "
        + _spread_init_ctes(4, sample_cap=12)
        + "\n    SELECT cid, c FROM c0l ORDER BY cid"
    )
    want = [(cid, tuple(c)) for cid, c in con.execute(sql).fetchall()]
    assert got == want and len(got) == 4
    # the cap genuinely restricted the traversal: every seed vector
    # comes from the md5-lowest-12 id set, not the full corpus
    sample_ids = sorted(
        range(40),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )[:12]
    sample_vecs = {tuple(map(float, rows[i][1])) for i in sample_ids}
    assert all(c in sample_vecs for _, c in got)
    assert len(sample_ids) < 40


def test_farthest_first_seeds_sample_identity_when_cap_covers(spark):
    """A cap at or above the corpus size keeps every row in the
    sample, so the seeds are bit-identical to the uncapped traversal
    — the property that keeps the hash-certified spread queries
    unchanged by the default `SPREAD_SAMPLE_CAP` (every certification
    corpus is far below 4096 rows)."""
    from epe_data_wrangling_spark.operators.kmeans import (
        farthest_first_seeds,
    )

    rows = [
        (c * 30 + i, [100.0 * c + 0.001 * i] * 4)
        for c in range(3)
        for i in range(30)
    ]
    ev = spark.createDataFrame(
        rows, "vec_id BIGINT, v ARRAY<DOUBLE>"
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    capped = farthest_first_seeds(ev, 3).collect()  # default cap 4096
    uncapped = farthest_first_seeds(ev, 3, sample_cap=None).collect()
    assert [(s["cid"], tuple(s["c"])) for s in capped] == [
        (s["cid"], tuple(s["c"])) for s in uncapped
    ]


def test_farthest_first_seeds_cancellation_near_duplicate(spark):
    """Catastrophic cancellation can round d² to <= 0 for DISTINCT
    near-duplicate vectors (here d(v1, v0) computes to exactly -2.0
    while the true d² is 0.01): the traversal must stop only on a
    BIT-EQUAL argmax winner, and stopping must agree with the full-k
    SQL mirror — whose unrolled later steps re-pick the same
    bit-equal point (ties by lowest id over unchanged d), producing
    duplicate seeds that lose every argmin tie-break and drop out of
    the trained means."""
    import duckdb

    from epe_data_wrangling_spark.catalog.streaming_q import (
        _spread_init_ctes,
    )
    from epe_data_wrangling_spark.operators.kmeans import (
        farthest_first_seeds,
    )

    rows = [(0, [1e8]), (1, [1e8 + 0.1]), (2, [-1e8])]
    ev = spark.createDataFrame(
        rows, "vec_id BIGINT, v ARRAY<DOUBLE>"
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    seeds = farthest_first_seeds(ev, 3, sample_cap=None).collect()
    # pick 2's winner ties at d=0 -> lowest id (v0, bit-equal) -> stop
    assert [tuple(s["c"]) for s in seeds] == [(1e8,), (-1e8,)]
    # the mirror unrolls all 3 steps; its extra seed is a bit-equal
    # COPY of seed 0 -> same trained means (empty duplicate cell)
    con = duckdb.connect()
    con.execute("CREATE TABLE corpus(vec_id BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO corpus VALUES (?, ?)", rows)
    sql = (
        "WITH tv AS (SELECT vec_id, v, list_dot_product(v, v) AS vv"
        " FROM corpus),\n    "
        + _spread_init_ctes(3, sample_cap=4096)
        + "\n    SELECT cid, c FROM c0l ORDER BY cid"
    )
    mirror = con.execute(sql).fetchall()
    assert [tuple(c) for _, c in mirror] == [(1e8,), (-1e8,), (1e8,)]


def test_ann_index_maintain_guards(spark, tmp_path):
    """The call-every-cycle guards: (a) a committed k_cells above
    SPREAD_SEED_MAX_K falls back to lowest-id seeding with a warning
    instead of building an O(k)-deep codegen expression; (b) a
    remediation that fails to improve the skew warns and returns
    improved=False — the tell a maintenance loop must gate on to
    avoid re-running the corpus-sized remediation every cycle."""
    import json

    from epe_data_wrangling_spark.streaming.ann_index import (
        ann_index_maintain,
    )

    # (a) k_cells = 70 > 64: spread request falls back to 'lowest'
    rows70 = [
        (i, [float(i % 70) * 10.0 + 0.01 * (i // 70)] * 4)
        for i in range(140)
    ]
    e70 = spark.createDataFrame(
        rows70, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    land70 = str(tmp_path / "land70")
    tgt70 = str(tmp_path / "tgt70")
    _land(e70, land70, "g1.parquet", 1)
    ivf_index_foreach_batch(
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(land70),
        tgt70, k_cells=70, train_iters=1, warn_skew=0.99,
        checkpoint_dir=str(tmp_path / "ck70"),
    )
    meta = json.load(open(os.path.join(tgt70, "_ivm_meta.json")))
    assert "occupancy_warning" in meta
    with pytest.warns(UserWarning, match="exceeds the farthest-first"):
        out = ann_index_maintain(spark, tgt70)
    assert out["action"] == "retrain" and out["rows"] == 140

    # (b) 99 copies of A + 1 B (B at id 0 so the lowest-id bootstrap
    # seeds split the two locations): skew 1.98 is structural (2
    # distinct points), no retrain can improve it -> warn +
    # improved=False
    rows = [(0, [50.0, 50.0])] + [(i, [0.0, 0.0]) for i in range(1, 100)]
    e = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"
    )
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(e, landing, "g1.parquet", 1)
    ivf_index_foreach_batch(
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing),
        target, k_cells=8, train_iters=2, warn_skew=1.5,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    meta = json.load(open(os.path.join(target, "_ivm_meta.json")))
    assert "occupancy_warning" in meta
    with pytest.warns(UserWarning, match="did not improve"):
        out = ann_index_maintain(spark, target)
    assert out["action"] == "retrain"
    assert out["improved"] is False
    assert out["skew_after"] >= out["skew_before"]


def test_retrain_and_rebuild_refuse_pre_gen_target(spark, tmp_path):
    """The maintenance entry points get the same pre-_gen upgrade
    witness the append sinks carry: retrain/rebuild read _gen per live
    row to preserve CDC ordering, so a legacy target must refuse with
    the actionable message, not an unresolved-column
    AnalysisException."""
    from epe_data_wrangling_spark.streaming.ann_index import (
        ivf_index_retrain,
        ivfpq_index_rebuild,
    )

    gens, e = _gens(spark)
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "state")
    _land(gens[0], landing, "g1.parquet", 1)
    _run(spark, landing, target, str(tmp_path / "ck1"))
    _strip_gen_from_manifest(target, "vectors")
    with pytest.raises(Exception, match="predates the _gen"):
        ivf_index_retrain(spark, target)

    pq_landing = str(tmp_path / "pq_landing")
    pq_target = str(tmp_path / "pq_state")
    _land(gens[0], pq_landing, "g1.parquet", 1)
    _pq_run(spark, pq_landing, pq_target, str(tmp_path / "pq_ck1"))
    _strip_gen_from_manifest(pq_target, "codes")
    src = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    with pytest.raises(Exception, match="predates the _gen"):
        ivfpq_index_rebuild(spark, pq_target, src)


def test_index_quality_report_matches_duckdb(spark):
    """The r17 registration candidate's full differential, run every
    round meanwhile: retrieval quality (MRR + mean binary NDCG@k) of
    the MAINTAINED index — candidates from the certified upsert flow
    (landing, tombstones, vacuum, probed serve), truth from the
    exact-l2 scan of the live corpus — must match the DuckDB oracle
    EXACTLY (the oracle embeds the certified upsert oracle verbatim
    as its candidate subquery, so the two reports cannot drift)."""
    import duckdb

    from epe_data_wrangling_spark.catalog.streaming_q import (
        _index_quality_oracle,
        index_quality_report_query,
    )

    got = index_quality_report_query(spark, SF_DIR).collect()
    assert len(got) == 1
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = con.execute(_index_quality_oracle()).fetchall()
    assert len(want) == 1
    g, w = got[0], want[0]
    assert (
        g.method, g.n_queries, g.n_answered, g.mrr, g.mean_ndcg
    ) == tuple(w)
    assert 0.0 <= g.mean_ndcg <= 1.0 and 0.0 <= g.mrr <= 1.0


def test_ivfpq_index_quality_report_matches_duckdb(spark):
    """PQ twin of the staged maintained-index quality differential:
    candidates from the certified PQ upsert flow (ADC shortlist +
    exact re-rank), truth from the exact-l2 scan — bit-exact vs the
    oracle that embeds the certified PQ upsert oracle verbatim."""
    import duckdb

    from epe_data_wrangling_spark.catalog.streaming_q import (
        _ivfpq_index_quality_oracle,
        ivfpq_index_quality_report_query,
    )

    got = ivfpq_index_quality_report_query(spark, SF_DIR).collect()
    assert len(got) == 1
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = con.execute(_ivfpq_index_quality_oracle()).fetchall()
    assert len(want) == 1
    g, w = got[0], want[0]
    assert (
        g.method, g.n_queries, g.n_answered, g.mrr, g.mean_ndcg
    ) == tuple(w)
    assert 0.0 <= g.mean_ndcg <= 1.0 and 0.0 <= g.mrr <= 1.0


# ---- one CDC sink body: crash at every commit step, jobs per batch ---

from tests.crash import COMMIT_POINTS, crash_commit_at  # noqa: E402


def _mixed_change_batches(e):
    """A bootstrap batch inserting two thirds of the corpus, then one
    batch carrying inserts (the rest), an upsert cohort (landed ids
    re-embedded as NEGATED vectors) and a delete cohort — the live
    corpus after both is `_cdc_live_corpus`."""
    landed = F.col("vec_id") % 3 != 2
    return [
        _as_ops(e.filter(landed), "I"),
        _as_ops(e.filter(~landed), "I")
        .union(_as_ops(
            e.filter(landed & (F.col("vec_id") % 5 == 2)).withColumn(
                "embedding", F.transform("embedding", lambda x: -x)
            ),
            "U",
        ))
        .union(_as_ops(e.filter(landed & (F.col("vec_id") % 5 == 4)), "D")),
    ]


def _job_ids_after(spark, after: int) -> list[int]:
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # job events arrive asynchronously
    jobs = sc.statusStore().jobsList(None)
    return sorted(
        j for j in (jobs.apply(i).jobId() for i in range(jobs.size()))
        if j > after
    )


_CDC_RUNS = {"raw": _chg_run, "pq": _pq_chg_run}


def _index_state(spark, target: str, form: str, e) -> tuple:
    """What a committed CDC target answers: the serve set, the locator
    rows and the tombstones."""
    from epe_data_wrangling_spark.streaming.manifest import read_store

    live = _cdc_live_corpus(e)
    serve = (
        _serve_set(spark, target, live) if form == "raw"
        else _pq_cdc_serve(spark, target, live)
    )
    return (
        serve,
        sorted(map(tuple, read_store(spark, target, "locator").collect())),
        sorted(map(tuple, read_store(spark, target, "tombs").collect())),
    )


@pytest.fixture(scope="module")
def warm_cdc(spark, tmp_path_factory):
    """Per index form: an uncrashed target after `_mixed_change_batches`,
    its committed state (`_index_state`), and the Spark jobs its warm
    second batch ran (status-store job ids)."""
    _, e = _gens(spark)
    out = {}
    for form, run in _CDC_RUNS.items():
        root = tmp_path_factory.mktemp(f"warm_{form}")
        landing, target, ck = (str(root / d) for d in ("landing", "state", "ck"))
        b0, b1 = _mixed_change_batches(e)
        _land(b0, landing, "c1.parquet", 1)
        run(spark, landing, target, ck)
        _land(b1, landing, "c2.parquet", 2)
        before = max(_job_ids_after(spark, -1), default=-1)
        run(spark, landing, target, ck)
        jobs = _job_ids_after(spark, before)
        out[form] = (_index_state(spark, target, form, e), jobs)
    return out


@pytest.mark.parametrize(
    "form,point",
    [("raw", p) for p in COMMIT_POINTS] + [("pq", "between_renames")],
)
def test_ann_index_changes_crash_at_every_commit_step_recovers(
    spark, tmp_path, monkeypatch, warm_cdc, form, point
):
    """The CDC index sink (one body for both forms) crashed at each
    step of its commit — after the step wrote the stage, after the
    meta write, between `_atomic_swap`'s two renames, and after
    promotion but before the old dir's rmtree — on a batch carrying
    inserts, an upsert and a delete, then restarted on the SAME
    checkpoint: serve, the locator and the tombstones equal the
    uncrashed run's, and no ``.stage-*``/``.old-*`` dir survives. The
    PQ form shares the body, so one crash point covers it."""
    import glob

    _, e = _gens(spark)
    run = _CDC_RUNS[form]
    landing, target, ck = (str(tmp_path / d) for d in ("landing", "state", "ck"))
    for i, b in enumerate(_mixed_change_batches(e), start=1):
        _land(b, landing, f"c{i}.parquet", i)
    crash_commit_at(monkeypatch, point, target, 1)
    with pytest.raises(Exception, match="injected crash"):
        run(spark, landing, target, ck)  # batch 0 commits, batch 1 crashes
    monkeypatch.undo()
    run(spark, landing, target, ck)  # restart: batch 1 re-applies (or skips)
    assert not glob.glob(f"{glob.escape(target)}.stage-*")
    assert not glob.glob(f"{glob.escape(target)}.old-*")
    assert _index_state(spark, target, form, e) == warm_cdc[form][0]


@pytest.mark.parametrize("form,n_jobs", [("raw", 39), ("pq", 43)])
def test_ann_index_changes_warm_batch_job_count(warm_cdc, form, n_jobs):
    """One warm CDC batch (inserts, an upsert and a delete onto a
    bootstrapped target) runs a fixed number of Spark jobs, counted
    from the status store: every job the stream submitted while
    applying the batch — the provenance distinct, the op checkpoint
    and its witnesses, the locator read and witnesses, the retire
    checkpoint, count and divergence witness, the one-row-per-id
    assignment checkpoint and its cell count, the store, tombstone
    and locator pool writes (AQE map stages included), and the
    broadcast exchanges, which run in the stream's job group here and
    read the same on every run measured. The PQ form adds its own
    jobs to the same body, its pq_m*pq_sub dimension witness among
    them."""
    assert len(warm_cdc[form][1]) == n_jobs, warm_cdc[form][1]
