"""Manifest-committed bucket stores (`streaming.manifest`): the
commit-record discipline that replaced the hive `_kb=` directory
layout (round-10 SCALE.md measured per-directory metadata making
high-bucket-count refreshes 2.3-4.6x slower; the manifest makes an
untouched bucket one JSON row). These tests pin the crash/corruption
contract the sinks rely on:

- a write + carry round-trips rows and leaves untouched entries
  byte-identical;
- orphan pool files (a batch that died before its swap) are swept,
  referenced files never are;
- a TORN manifest in the committed dir RAISES (corruption witness),
  while a torn manifest in a staging dir is cleaned by the existing
  stale-stage sweep before it can ever be read;
- a manifest referencing a missing pool file RAISES;
- the pre-manifest hive layout RAISES instead of silently reading
  zero state;
- over-threshold buckets compact in one commit, capped per commit.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from epe_data_wrangling_spark.streaming.manifest import (
    COMPACT_BUCKETS_PER_COMMIT,
    COMPACT_FILE_THRESHOLD,
    pool_store_dir,
    read_manifest,
    read_store,
    store_file_paths,
    store_has_files,
    sweep_orphans,
    write_store_delta,
)
from epe_data_wrangling_spark.streaming.ops import (
    _atomic_swap,
    _clean_stale_stages,
)


def _df(spark, pairs):
    """(k, v) rows with _kb = pmod(hash(k), 8)."""
    return spark.createDataFrame(pairs, "k BIGINT, v BIGINT").withColumn(
        "_kb", F.pmod(F.hash("k"), F.lit(8))
    )


def _commit(spark, target, store, df, touched, batch_id, **kw):
    """One manifest commit through the real swap protocol."""
    m = read_manifest(target, store)
    stage = f"{target}.stage-{batch_id}"
    write_store_delta(
        spark, df, target, store, stage,
        batch_id=batch_id, touched=touched, manifest=m, **kw,
    )
    _atomic_swap(stage, target, batch_id)


def test_write_read_carry_round_trip(spark, tmp_path):
    """Tiny-bucket regime: all buckets pack into shared files; a
    touched bucket's file-mates rewrite with it (file-level CoW), but
    rows round-trip exactly and pruned reads stay bucket-exact."""
    target = str(tmp_path / "t")
    rows = [(k, 10 * k) for k in range(32)]
    all_buckets = list(range(8))
    _commit(spark, target, "s", _df(spark, rows), all_buckets, 0)
    m1 = read_manifest(target, "s")
    assert store_has_files(m1)
    # 32 rows << TARGET_MIN_FILE_ROWS: the whole store is ONE file
    assert len({n for ns in m1["buckets"].values() for n in ns}) == 1
    got = {(r["k"], r["v"]) for r in read_store(spark, target, "s").collect()}
    assert got == set(rows)
    b3 = spark.createDataFrame([(3,)], "k BIGINT").select(
        F.pmod(F.hash("k"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    upd = _df(spark, [(3, 999)])
    _commit(spark, target, "s", upd, [b3], 1)
    # pruned read returns only the touched bucket's (rewritten) rows
    pr = read_store(spark, target, "s", buckets=[b3])
    assert {(r["k"], r["v"]) for r in pr.collect()} == {(3, 999)}
    # mates' rows survived the file rewrite; the touched bucket was
    # replaced WHOLESALE (its other keys drop — the caller's contract
    # is "full post-batch rows of the touched buckets")
    in_b3 = {
        r["k"]
        for r in _df(spark, rows).filter(F.col("_kb") == b3).collect()
    }
    expect = {(k, 10 * k) for k in range(32) if k not in in_b3} | {(3, 999)}
    got2 = {(r["k"], r["v"]) for r in read_store(spark, target, "s").collect()}
    assert got2 == expect
    # no stale rows anywhere: every referenced file's rows are current
    sweep_orphans(target)
    assert read_store(spark, target, "s").count() == len(expect)


def test_big_buckets_carry_byte_identical(spark, tmp_path):
    """Production-sizing regime: buckets at/above the packing target
    keep per-bucket files, so touching one bucket leaves every other
    entry byte-identical (the untouched-carry contract)."""
    from epe_data_wrangling_spark.streaming.manifest import TARGET_MIN_FILE_ROWS

    target = str(tmp_path / "t")
    # 2x the packing target per bucket on average: hash variance across
    # 8 buckets cannot pull any below the target
    per = 2 * TARGET_MIN_FILE_ROWS
    rows = [(k, k) for k in range(8 * per)]
    _commit(spark, target, "s", _df(spark, rows), list(range(8)), 0)
    m1 = read_manifest(target, "s")
    # every bucket has its own file (nothing packs)
    names = [tuple(ns) for ns in m1["buckets"].values()]
    assert len({n for ns in names for n in ns}) == len(
        [n for ns in names for n in ns]
    )
    b0 = spark.createDataFrame([(0,)], "k BIGINT").select(
        F.pmod(F.hash("k"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    _commit(spark, target, "s", _df(spark, [(0, 999)]), [b0], 1)
    m2 = read_manifest(target, "s")
    carried = 0
    for b, ns in m1["buckets"].items():
        if int(b) != b0:
            assert m2["buckets"][b] == ns, b
            carried += 1
    assert carried == 7


def test_digests_ride_the_manifest(spark, tmp_path):
    """Per-bucket digests: supplied for touched buckets, carried for
    untouched ones, preserved for file-mates rewritten by CoW, and
    dropped for a touched bucket not re-supplied."""
    from epe_data_wrangling_spark.streaming.manifest import TARGET_MIN_FILE_ROWS

    target = str(tmp_path / "t")
    per = TARGET_MIN_FILE_ROWS + 16
    rows = [(k, k) for k in range(8 * per)]
    digs0 = {str(b): [per, f"sig{b}"] for b in range(8)}
    _commit(spark, target, "s", _df(spark, rows), list(range(8)), 0,
            digests=digs0)
    assert read_manifest(target, "s")["digests"] == digs0
    b0 = spark.createDataFrame([(0,)], "k BIGINT").select(
        F.pmod(F.hash("k"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    # touch b0 WITH a new digest: others carry
    _commit(spark, target, "s", _df(spark, [(0, 999)]), [b0], 1,
            digests={str(b0): [1, "new"]})
    d = read_manifest(target, "s")["digests"]
    assert d[str(b0)] == [1, "new"]
    assert all(d[str(b)] == digs0[str(b)] for b in range(8) if b != b0)
    # touch b0 WITHOUT a digest: b0's drops, others still carry
    _commit(spark, target, "s", _df(spark, [(0, 998)]), [b0], 2)
    d2 = read_manifest(target, "s")["digests"]
    assert str(b0) not in d2
    assert all(d2[str(b)] == digs0[str(b)] for b in range(8) if b != b0)


def test_mate_rewrite_preserves_mate_digests(spark, tmp_path):
    """Tiny-bucket store (everything shares one file): touching one
    bucket rewrites its mates' rows but keeps their digests — content
    unchanged means the digest stays valid."""
    target = str(tmp_path / "t")
    digs0 = {str(b): [4, f"sig{b}"] for b in range(8)}
    _commit(spark, target, "s", _df(spark, [(k, k) for k in range(32)]),
            list(range(8)), 0, digests=digs0)
    b3 = spark.createDataFrame([(3,)], "k BIGINT").select(
        F.pmod(F.hash("k"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    _commit(spark, target, "s", _df(spark, [(3, 999)]), [b3], 1,
            digests={str(b3): [1, "new"]})
    d = read_manifest(target, "s")["digests"]
    assert d[str(b3)] == [1, "new"]
    assert all(d[str(b)] == digs0[str(b)] for b in range(8) if b != b3)
    # and the mate rows themselves are intact (bucket b3 replaced whole)
    in_b3 = {
        r["k"]
        for r in _df(spark, [(k, k) for k in range(32)])
        .filter(F.col("_kb") == b3)
        .collect()
    }
    got = {(r["k"], r["v"]) for r in read_store(spark, target, "s").collect()}
    assert got == {(k, k) for k in range(32) if k not in in_b3} | {(3, 999)}


def test_orphan_sweep_spares_referenced_files(spark, tmp_path):
    target = str(tmp_path / "t")
    _commit(spark, target, "s", _df(spark, [(k, k) for k in range(16)]),
            list(range(8)), 0)
    pool = pool_store_dir(target, "s")
    referenced = set(os.listdir(pool))
    # simulate a batch that wrote pool files + a tmp dir, then died
    # before its swap: both must be swept, referenced files kept
    with open(os.path.join(pool, "b0-99-deadbeef-0.parquet"), "wb") as f:
        f.write(b"not really parquet")
    os.makedirs(os.path.join(pool, "_tmp-99-deadbeef"))
    sweep_orphans(target)
    left = set(os.listdir(pool))
    assert left == referenced
    # and the store still reads clean
    assert read_store(spark, target, "s").count() == 16


def test_torn_committed_manifest_raises(spark, tmp_path):
    target = str(tmp_path / "t")
    _commit(spark, target, "s", _df(spark, [(1, 1)]), list(range(8)), 0)
    with open(os.path.join(target, "_manifest_s.json"), "w") as f:
        f.write('{"format_version": 1, "buckets": {"0": ["trunc')  # torn
    with pytest.raises(RuntimeError, match="unreadable"):
        read_manifest(target, "s")


def test_torn_stage_manifest_is_cleaned_not_read(spark, tmp_path):
    target = str(tmp_path / "t")
    _commit(spark, target, "s", _df(spark, [(1, 1)]), list(range(8)), 0)
    good = read_manifest(target, "s")
    # a crash mid-stage-write leaves a torn manifest ONLY in the stage
    stage = f"{target}.stage-1"
    os.makedirs(stage)
    with open(os.path.join(stage, "_manifest_s.json"), "w") as f:
        f.write("{torn")
    _clean_stale_stages(target)
    assert not os.path.isdir(stage)
    assert read_manifest(target, "s") == good  # committed state untouched


def test_missing_pool_file_raises(spark, tmp_path):
    target = str(tmp_path / "t")
    _commit(spark, target, "s", _df(spark, [(1, 1), (2, 2)]), list(range(8)), 0)
    m = read_manifest(target, "s")
    victim = next(names[0] for names in m["buckets"].values() if names)
    os.remove(os.path.join(pool_store_dir(target, "s"), victim))
    with pytest.raises(RuntimeError, match="missing data file"):
        store_file_paths(target, "s", m)


def test_legacy_hive_layout_raises(tmp_path):
    target = str(tmp_path / "t")
    os.makedirs(os.path.join(target, "image", "_kb=0"))
    with pytest.raises(RuntimeError, match="pre-manifest"):
        read_manifest(target, "image")


def test_wrong_format_version_raises(tmp_path):
    target = str(tmp_path / "t")
    os.makedirs(target)
    with open(os.path.join(target, "_manifest_s.json"), "w") as f:
        json.dump({"format_version": 99, "buckets": {}}, f)
    with pytest.raises(RuntimeError, match="format_version"):
        read_manifest(target, "s")


def test_schema_drift_raises_not_masks(spark, tmp_path):
    """A delta whose row schema differs from the committed store schema
    (name or type) RAISES instead of silently replacing the manifest
    schema — which would make compaction read OLD pool files reshaped,
    resurfacing dropped columns as nulls. Nullability-only flutter is
    tolerated (lit()/union paths legitimately flip it)."""
    target = str(tmp_path / "t")
    _commit(spark, target, "s", _df(spark, [(1, 1), (2, 2)]), list(range(8)), 0)
    # dropped column
    dropped = spark.createDataFrame([(3,)], "k BIGINT").withColumn(
        "_kb", F.pmod(F.hash("k"), F.lit(8))
    )
    with pytest.raises(RuntimeError, match="schema drift"):
        _commit(spark, target, "s", dropped, list(range(8)), 1)
    # retyped column
    retyped = spark.createDataFrame([(3, "x")], "k BIGINT, v STRING").withColumn(
        "_kb", F.pmod(F.hash("k"), F.lit(8))
    )
    with pytest.raises(RuntimeError, match="schema drift"):
        _commit(spark, target, "s", retyped, list(range(8)), 2)
    # nullability-only difference commits fine
    nn = spark.createDataFrame([(3, 30)], "k BIGINT NOT NULL, v BIGINT").withColumn(
        "_kb", F.pmod(F.hash("k"), F.lit(8))
    )
    _commit(spark, target, "s", nn, list(range(8)), 3)
    assert {(r["k"], r["v"]) for r in read_store(spark, target, "s").collect()} == {
        (3, 30)
    }


def test_compaction_is_capped_per_commit(spark, tmp_path):
    """More over-threshold buckets than the per-commit cap: one commit
    compacts exactly the cap's worth (worst-first), the next sweeps up
    the rest — the latency-bounding contract."""
    target = str(tmp_path / "t")
    # hand-build a fragmented arrival: ~32 buckets (pmod 32), each
    # holding threshold+2 single-generation pool files
    pool = pool_store_dir(target, "s")
    os.makedirs(pool)
    os.makedirs(target, exist_ok=True)
    buckets: dict = {}
    n_frag = COMPACT_FILE_THRESHOLD + 2
    for i in range(n_frag):
        tmp = str(tmp_path / f"frag{i}")
        (
            spark.createDataFrame(
                [(k, 100 * k + i) for k in range(64)], "k BIGINT, v BIGINT"
            )
            .withColumn("_kb", F.pmod(F.hash("k"), F.lit(32)))
            .withColumn("_kbp", F.col("_kb"))
            .write.partitionBy("_kbp")
            .parquet(tmp)
        )
        for d in os.listdir(tmp):
            if not d.startswith("_kbp="):
                continue
            b = d.split("=", 1)[1]
            for j, fname in enumerate(sorted(os.listdir(os.path.join(tmp, d)))):
                if fname.endswith(".parquet"):
                    name = f"b{b}-f{i}-{j}.parquet"
                    os.rename(
                        os.path.join(tmp, d, fname), os.path.join(pool, name)
                    )
                    buckets.setdefault(b, []).append(name)
    with open(os.path.join(target, "_manifest_s.json"), "w") as f:
        json.dump({"format_version": 1, "buckets": buckets}, f)
    m = read_manifest(target, "s")
    over_before = [b for b, ns in m["buckets"].items()
                   if len(ns) > COMPACT_FILE_THRESHOLD]
    assert len(over_before) >= 2
    total_rows = read_store(spark, target, "s").count()
    # a touched=[] commit with compact on: compacts up to the cap
    _commit(spark, target, "s",
            spark.createDataFrame([], "k BIGINT, v BIGINT, _kb INT"),
            [], 100)
    m2 = read_manifest(target, "s")
    over_after = [b for b, ns in m2["buckets"].items()
                  if len(ns) > COMPACT_FILE_THRESHOLD]
    compacted = set(over_before) - set(over_after)
    assert len(compacted) == min(len(over_before), COMPACT_BUCKETS_PER_COMMIT)
    for b in compacted:
        assert len(m2["buckets"][b]) == 1, b
    # rows unchanged by compaction
    assert read_store(spark, target, "s").count() == total_rows


def test_pack_groups_big_bucket_never_shares():
    """A bucket at/above the packing target must never co-pack with
    preceding tiny buckets: the file-level CoW would otherwise rewrite
    the big bucket's rows on every touch of a tiny file-mate,
    unbounded by the packing target (a skewed store's hot bucket)."""
    from epe_data_wrangling_spark.streaming.manifest import (
        TARGET_MIN_FILE_ROWS as T,
    )
    from epe_data_wrangling_spark.streaming.manifest import _pack_groups

    # tiny, huge, tiny: the huge bucket sits alone
    assert _pack_groups([(0, 100), (1, 100 * T), (2, 100)]) == [[0], [1], [2]]
    # tinies pack together until the target, then a new group opens
    assert _pack_groups([(0, T // 2), (1, T // 2), (2, 10), (3, 10)]) == [
        [0, 1],
        [2, 3],
    ]
    # all big: strictly per-bucket
    assert _pack_groups([(b, T) for b in range(4)]) == [[b] for b in range(4)]


def test_undeclared_bucket_replacement_raises(spark, tmp_path):
    """Data for a committed bucket NOT declared in ``touched`` must
    raise: replacing its entry without file-level CoW would leave its
    old shared file referenced by mates with the bucket's stale rows
    inside. (Bootstrap/backfill against a virgin store — no manifest —
    stays free-form.)"""
    target = str(tmp_path / "t")
    _commit(spark, target, "s", _df(spark, [(k, k) for k in range(32)]),
            list(range(8)), 0)
    b3 = spark.createDataFrame([(3,)], "k BIGINT").select(
        F.pmod(F.hash("k"), F.lit(8)).alias("b")
    ).collect()[0]["b"]
    other = next(b for b in range(8) if b != b3)
    # mate sub-case (tiny store, shared file): b3 would ride in as a
    # mate of `other` and the mate union would duplicate its rows
    import os

    from epe_data_wrangling_spark.streaming.manifest import pool_store_dir

    pool_before = set(os.listdir(pool_store_dir(target, "s")))
    with pytest.raises(RuntimeError, match="not declared in touched"):
        _commit(spark, target, "s", _df(spark, [(3, 999)]), [other], 1)
    # the witness runs PRE-write: a rejected commit leaves the pool
    # byte-identical (an external caller that never runs sweep_orphans
    # must not leak stranded files on every rejection)
    assert set(os.listdir(pool_store_dir(target, "s"))) == pool_before
    # unshared sub-case (production sizing): same pre-write witness
    from epe_data_wrangling_spark.streaming.manifest import (
        TARGET_MIN_FILE_ROWS,
    )

    target2 = str(tmp_path / "t2")
    per = 2 * TARGET_MIN_FILE_ROWS
    _commit(spark, target2, "s", _df(spark, [(k, k) for k in range(8 * per)]),
            list(range(8)), 0)
    pool2_before = set(os.listdir(pool_store_dir(target2, "s")))
    with pytest.raises(RuntimeError, match="not declared in touched"):
        _commit(spark, target2, "s", _df(spark, [(3, 999)]), [other], 1)
    assert set(os.listdir(pool_store_dir(target2, "s"))) == pool2_before


def test_append_mode_accumulates_without_rewriting(spark, tmp_path):
    """`write_store_delta(append=True)` — the segment-append commit:
    new rows ADD to the touched buckets' entries, the standing files
    are never rewritten (byte-identical carry), rows accumulate
    exactly, digests are rejected, and the normal over-threshold
    compaction absorbs the file growth (appended buckets stay
    eligible)."""
    import os

    from epe_data_wrangling_spark.streaming.manifest import (
        COMPACT_FILE_THRESHOLD,
        pool_store_dir,
    )

    target = str(tmp_path / "t")
    _commit(spark, target, "s", _df(spark, [(k, k) for k in range(40)]),
            list(range(8)), 0)
    pool = pool_store_dir(target, "s")
    before_files = set(os.listdir(pool))
    _commit(spark, target, "s",
            _df(spark, [(k, k) for k in range(40, 80)]),
            list(range(8)), 1, append=True)
    # standing files untouched, new files added
    assert before_files <= set(os.listdir(pool))
    rows = {(r["k"], r["v"]) for r in read_store(spark, target, "s").collect()}
    assert rows == {(k, k) for k in range(80)}
    # digests cannot ride an append commit
    import pytest

    with pytest.raises(ValueError, match="append=True"):
        _commit(spark, target, "s", _df(spark, [(100, 100)]),
                [0], 2, append=True, digests={"0": ["1", "2"]})
    # many appends -> over-threshold buckets compact back down
    for i in range(2, 2 + COMPACT_FILE_THRESHOLD + 3):
        base = i * 1000
        _commit(spark, target, "s",
                _df(spark, [(base + k, base + k) for k in range(16)]),
                list(range(8)), i, append=True)
    m = read_manifest(target, "s")
    n_total = read_store(spark, target, "s").count()
    assert n_total == 80 + (COMPACT_FILE_THRESHOLD + 3) * 16
    assert all(
        len(names) <= COMPACT_FILE_THRESHOLD + 1
        for names in m["buckets"].values()
    ), {b: len(n) for b, n in m["buckets"].items()}


def test_short_supplied_counts_raise_before_any_commit(spark, tmp_path):
    """`write_store_delta(counts=...)` with a tally that MISSES a bucket
    the delta carries must raise — not route that bucket's rows into a
    file no manifest entry names (the fast path: every bucket its own
    partition) or into a neighbor group's file (the packed path) — and
    must leave no manifest in the stage."""
    delta = _df(spark, [(k, k) for k in range(16)])
    tally = delta.groupBy("_kb").agg(F.count(F.lit(1)).alias("c")).collect()
    assert len(tally) > 2
    # one bucket left (fast path) and all but one (packed path)
    for i, short in enumerate((tally[:1], tally[1:])):
        target = str(tmp_path / f"t{i}")
        stage = f"{target}.stage-0"
        with pytest.raises(RuntimeError, match="counts miss a bucket"):
            write_store_delta(
                spark, delta, target, "s", stage, batch_id=0,
                touched=list(range(8)), manifest=None, counts=short,
            )
        assert not os.path.exists(os.path.join(stage, "_manifest_s.json"))
        assert not os.listdir(pool_store_dir(target, "s"))  # tmp removed


def test_caller_supplied_counts_match_self_counted_commit(spark, tmp_path):
    """r17: `write_store_delta(counts=...)` lets a caller that already
    tallied the delta per bucket (the support sinks' guard aggregate)
    skip the commit's own count job. The supplied-counts commit must
    behave exactly like the self-counting one: same committed rows,
    same bucket->packing layout, and the stray-bucket witness still
    fires (pre-write) when the counts reveal an undeclared bucket."""
    from pyspark.sql import Row

    def counts_of(df):
        return (
            df.groupBy("_kb").agg(F.count(F.lit(1)).alias("c")).collect()
        )

    rows = [(k, k * 10) for k in range(64)]
    base, delta = _df(spark, rows), _df(spark, [(3, 999), (11, 111)])
    ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
    for t in (ta, tb):
        _commit(spark, t, "s", base, list(range(8)), 0)
    touched = sorted({int(r["_kb"]) for r in delta.select("_kb").distinct().collect()})
    _commit(spark, ta, "s", delta, touched, 1)                       # self-counted
    _commit(spark, tb, "s", delta, touched, 1, counts=counts_of(delta))  # supplied
    ma, mb = read_manifest(ta, "s"), read_manifest(tb, "s")
    assert sorted(ma["buckets"]) == sorted(mb["buckets"])
    assert {b: len(n) for b, n in ma["buckets"].items()} == {
        b: len(n) for b, n in mb["buckets"].items()
    }, "packing layout diverged between self-counted and supplied counts"
    ra = sorted(map(tuple, read_store(spark, ta, "s").collect()))
    rb = sorted(map(tuple, read_store(spark, tb, "s").collect()))
    assert ra == rb and ra, "committed rows diverged"

    # the witness must still fire from SUPPLIED counts (no count job,
    # same guarantee): bucket of k=3 not declared touched
    stray = _df(spark, [(3, 42)])
    b3 = int(stray.select("_kb").collect()[0]["_kb"])
    other = next(b for b in range(8) if b != b3)
    with pytest.raises(RuntimeError, match="not declared in touched"):
        _commit(spark, tb, "s", stray, [other], 2, counts=counts_of(stray))
