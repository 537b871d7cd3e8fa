"""operators.graph invariants the oracle differential cannot see:
the catalog's trading graph is symmetric, so sink-node handling and
mass accounting need direct tests on asymmetric inputs (the r6
code-review found nodes derived from src only — a plain directed
graph silently dropped pure sinks and their received mass)."""

from __future__ import annotations

from pyspark.sql import functions as F

from epe_data_wrangling_spark.operators.graph import pagerank


def _toy_directed(spark):
    # 0→1, 0→2, 1→2, 3→2 : node 2 is a PURE SINK (never a src),
    # node 3 is a source-only node
    return spark.createDataFrame(
        [("0", "1"), ("0", "2"), ("1", "2"), ("3", "2")], "src string, dst string"
    )


def test_pagerank_includes_pure_sink_nodes(spark):
    for mode in ("broadcast", "partitioned"):
        out = {r.node: r.pagerank for r in _toy_directed(spark).select("src", "dst")
               .transform(lambda df: pagerank(df, iters=2, mode=mode)).collect()}
        assert set(out) == {"0", "1", "2", "3"}, mode
        # the sink receives every walk: it must dominate
        assert out["2"] == max(out.values()), mode
        # source-only nodes still hold teleport mass
        assert out["3"] > 0, mode


def test_pagerank_symmetric_graph_conserves_mass(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    sym = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    for mode in ("broadcast", "partitioned"):
        total = sum(r.pagerank for r in pagerank(sym, iters=3, mode=mode).collect())
        # no dangling nodes on a symmetric graph ⇒ rank mass conserved
        assert abs(total - 1.0) < 1e-6, (mode, total)


def test_pagerank_rejects_unknown_mode(spark):
    import pytest

    with pytest.raises(ValueError, match="unknown pagerank mode"):
        pagerank(_toy_directed(spark), mode="magic")


def test_concurrent_pins_restore_the_aqe_flag(spark):
    """`_pin` flips the session-global AQE flag around its lazy
    checkpoint; threads pinning at once must not interleave the
    get/set/restore (one reading another's temporary "false" as the
    value to restore) — afterwards the flag reads its original value.
    More threads than cores, a short switch interval to provoke the
    interleaving, and time-bounded joins."""
    import sys
    import threading

    from epe_data_wrangling_spark.operators.graph import _pin

    key = "spark.sql.adaptive.enabled"
    original = spark.conf.get(key)
    df = spark.range(8).repartition(2, "id")
    n_threads = 6
    errors = []
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(5):
            barrier = threading.Barrier(n_threads)

            def pin():
                try:
                    barrier.wait(timeout=60)
                    _pin(df)
                except Exception as e:  # surfaced below
                    errors.append(e)

            threads = [threading.Thread(target=pin) for _ in range(n_threads)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            assert not any(t.is_alive() for t in threads)
            assert not errors, errors
            assert spark.conf.get(key) == original
    finally:
        sys.setswitchinterval(old_interval)
        spark.conf.set(key, original)
