"""Similarity search over embedding columns (north star surface).

Two paths, the standard trade:

- ``brute_topk``: exact top-k by cosine — a broadcast-join scan. At
  100 TB the candidate side stays partition-parallel and the only
  shuffle is the per-query top-k merge (block-local top-k then global
  merge, the REPOSE-style distributed pattern — PAPERS.md): Spark's
  Window + row_number plans exactly that (partial sort per partition,
  merge per query key).
- ``hyperplane_bucket`` + ``lsh_topk``: sign-LSH (random hyperplane)
  bucketing. Bucket assignment is a narrow per-row expression over
  frozen literal planes (_planes.py); search then joins within a
  bucket only, turning O(n) scans per query into O(n/2^b) with the
  usual recall trade. The verify step reuses the exact cosine.

Cosine is ``functions.vectors.cosine`` — double-accumulated via
zip_with/aggregate, bit-identical to the DuckDB oracle's
list_dot_product formulation (verified empirically: 0 ulp difference
over 9790 pairs), so thresholds and rankings need no rounding fuzz.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from epe_data_wrangling_spark.operators._planes import PLANES
from epe_data_wrangling_spark.functions.vectors import cosine, dot


def brute_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine top-k neighbors per query (self excluded).
    Returns (query_id, neighbor_id, rank, cos_sim); rank ties broken
    by neighbor id for a deterministic total order."""
    # repartition the STREAMED (query) side: the non-equi join is a
    # BroadcastNestedLoopJoin whose parallelism equals the streamed
    # side's partition count — a 1-partition small-file query scan
    # would run every query×candidate cosine in one task
    n = 2 * queries.sparkSession.sparkContext.defaultParallelism
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")).repartition(
        n, "query_id"
    )
    c = candidates.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def hyperplane_bucket(vec: Column, *, n_planes: int | None = None) -> Column:
    """Sign-LSH bucket id: one character per plane ('1' if v·p ≥ 0).
    Narrow, codegen'd, reproducible in SQL from the same literals."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0, "1").otherwise("0")
        for plane in PLANES[: n_planes or len(PLANES)]
    ]
    return F.concat(*bits)


def brute_topk_arrow(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Vectorized exact top-k: the small query set is collected and
    broadcast; each candidate partition computes a numpy (batch ×
    queries) cosine matrix and emits its block-local top-k; a final
    per-query window merges blocks — REPOSE-style partial top-k with
    a BLAS kernel instead of per-row expressions.

    Same results as ``brute_topk`` up to float summation order (numpy
    pairwise vs sequential), hence registered rows-only; the
    expression-based twin is the value-checked anchor. This is the
    throughput path: one Arrow pass over the corpus, k·Q rows out of
    each partition, no corpus-sized shuffle anywhere.
    """
    import numpy as np
    import pandas as pd

    q_pdf = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).toPandas()
    q_ids = q_pdf["query_id"].to_numpy()
    qm = np.stack(q_pdf["qv"].to_numpy()).astype("float64")
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    sc = candidates.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, qm))

    def fn(batches):
        ids, qmat = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["neighbor_id"].to_numpy()
            cm = np.stack(pdf["cv"].to_numpy()).astype("float64")
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qmat.T  # (batch, queries)
            # k+1 block-local: the query's own vector may occupy a
            # slot and is filtered below
            top = min(k + 1, len(cids))
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(ids):
                col = sims[:, j]
                idx = np.argpartition(-col, top - 1)[:top] if top < len(col) else np.arange(len(col))
                for i in idx:
                    if cids[i] != qid:
                        out_q.append(qid)
                        out_n.append(cids[i])
                        out_s.append(col[i])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cos_sim": out_s}
            )

    scored = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).mapInPandas(fn, "query_id BIGINT, neighbor_id BIGINT, cos_sim DOUBLE")
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _cells_array(centroids: DataFrame, *, vec_col: str, id_col: str) -> DataFrame:
    """Collapse the (small, broadcastable) centroid relation to ONE
    row holding ``_cells`` = cell-sorted array<struct<cell, cv>> — the
    broadcast side of the row-wise argmax below. Empty centroids give
    zero rows (the ``size > 0`` filter), preserving the former inner
    join's empty-result semantics. The cell id must be NUMERIC — the
    tie-break negates it (`_best_cell`) — so any other type raises a
    TypeError here instead of an analysis error far downstream."""
    id_type = dict(centroids.dtypes)[id_col]
    if not id_type.startswith(
        ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
    ):
        raise TypeError(
            f"centroid id column {id_col!r} is {id_type}; IVF cell ids must "
            "be numeric (the lowest-cell tie-break negates them)"
        )
    return (
        centroids.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cv"))
        .agg(F.array_sort(F.collect_list(F.struct("cell", "cv"))).alias("_cells"))
        .where(F.size(F.col("_cells")) > 0)
    )


def _best_cell(vec: Column) -> Column:
    """argmax over ``_cells`` of cosine(vec, cv), ties → LOWEST cell —
    as a row-wise expression, so the corpus is never shuffled by the
    assignment. NaN/ordering parity with the window form it replaces
    (orderBy cell_sim DESC, cell ASC) is exact BECAUSE this is a MAX
    over struct(sim, -cell): Spark orders NaN greater than every
    number in both sort-desc (NaN first) and struct-max (NaN wins),
    NaN equals NaN, and a null sim (null input vector) loses in both
    (desc puts nulls last; struct-max ranks a null field lowest) — the
    r16 attempt was blocked because a MIN over the NEGATED sim flips
    NaN to the losing end; the negation lives on the TIE-BREAK key
    instead (numeric cell ids — every in-repo caller packs bigint
    ids), where -cell under max = lowest cell. Pinned by the
    zero-norm witness test (tests/test_plans.py)."""
    return F.array_max(
        F.transform(
            F.col("_cells"),
            lambda s: F.struct(
                cosine(vec, s["cv"]).alias("s"), (-s["cell"]).alias("nc")
            ),
        )
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Assign every vector to its nearest centroid cell (max cosine,
    ties → lowest centroid id). Centroids are broadcast as ONE array
    row and the argmax runs row-wise (r17) — assignment is one narrow
    pass over the corpus with NO exchange and NO sort (the former
    per-vid window shuffled the corpus — embedding payloads included —
    by vid; WindowGroupLimit bounded it to 1x corpus, not kx, but a
    corpus-sized embedding shuffle is still the term that dominates at
    design scale), the IVF build step. Requires numeric cell ids (the
    tie-break negates them; see `_best_cell` for the NaN-parity
    argument).

    Regime note (r17, same trade as the kmeans/PQ operator argmins):
    the row-wise argmax is a nested higher-order expression
    (CodegenFallback), measurably SLOWER at toy scale — interleaved
    A/B on ann_ivf_topk at sf0.1 read 1.95 s vs the window form's
    1.65 s (ann_recall_report at parity) — and kept anyway because
    the exchange it removes carries the corpus with its vectors,
    which no local interpreted-expression overhead can outweigh once
    the corpus exceeds an executor."""
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vv"))
    cands = _cells_array(centroids, vec_col=vec_col, id_col=id_col)
    return v.crossJoin(F.broadcast(cands)).select(
        "vid", "vv", (-_best_cell(F.col("vv"))["nc"]).alias("cell")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize the corpus into
    centroid cells, then search only each query's ``n_probe`` closest
    cells. The 100 TB shape: centroids broadcast (tiny), the corpus
    is partitioned by cell, and a query touches n_probe/n_centroids
    of the data instead of all of it.

    Centroid choice here is the deterministic stand-in — the
    ``n_centroids`` lowest-id vectors — so the DuckDB oracle can
    reproduce the index bit-for-bit; a production build would train
    them offline (k-means) and broadcast the trained table through
    the identical plan.
    """
    cents = (
        candidates.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
        .orderBy(id_col)
        .limit(n_centroids)
    )
    assigned = ivf_assign(candidates, cents, vec_col=vec_col, id_col=id_col)

    # probe selection (r17): top-n_probe cells per query as a row-wise
    # sort_array(desc)+slice over the SAME one-row broadcast cell
    # array — no per-query exchange/sort. Ordering parity with the
    # former window (cell_sim DESC, cell ASC): sort_array(desc) over
    # struct(sim, -cell) puts NaN first and breaks sim ties by lowest
    # cell, exactly like the window's NaN-greatest desc sort (see
    # `_best_cell` for the argument; slice tolerates < n_probe cells
    # like rn<= did).
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    qcands = _cells_array(cents, vec_col=vec_col, id_col=id_col)
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
    probes = (
        q.crossJoin(F.broadcast(qcands))
        .select("query_id", "qv", F.explode(ranked).alias("_p"))
        .select("query_id", "qv", (-F.col("_p")["nc"]).alias("cell"))
    )

    wk = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("vid"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            cosine(F.col("qv"), F.col("vv")).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wk).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within it. Same output shape as
    ``brute_topk`` (minus cos_sim ties beyond the bucket)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        hyperplane_bucket(F.col(vec_col)).alias("bucket"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        hyperplane_bucket(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
