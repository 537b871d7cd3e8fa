"""Property-based invariants (SURVEY §5.2): unpivot∘pivot round-trip,
LOCF idempotence and leading-null preservation, union-by-name
alignment, selector-key functional dependency, MinHash containment.

Hypothesis drives the *data*; each property runs on a handful of
generated frames (Spark jobs are ~100 ms each, so max_examples stays
small — the point is shrinkable structural coverage, not volume).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from epe_data_wrangling_spark.operators.reshape import pivot_wide, unpivot_regex
from epe_data_wrangling_spark.operators.windows import locf

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# values: floats without NaN (NaN breaks equality checks), incl. None
opt_double = st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32))


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), opt_double, opt_double, opt_double),
        min_size=1,
        max_size=8,
        unique_by=lambda r: r[0],
    )
)
@SETTINGS
def test_unpivot_pivot_roundtrip(spark, rows):
    """melt → pivot_wide(first) reconstructs the original wide frame
    (keys unique, so `first` is exact)."""
    df = spark.createDataFrame(rows, "id int, m1 double, m2 double, m3 double")
    long = unpivot_regex(
        df, id_cols=["id"], name_pattern=r"^m[0-9]+$", var_name="k", value_name="v"
    )
    wide = pivot_wide(
        long, group_cols=["id"], pivot_col="k", value_col="v", values=["m1", "m2", "m3"]
    )
    assert sorted(map(tuple, wide.collect())) == sorted(rows)


@given(
    vals=st.lists(opt_double, min_size=1, max_size=12),
)
@SETTINGS
def test_locf_idempotent_and_leading_nulls(spark, vals):
    """locf∘locf == locf; leading nulls stay null (na.locf0 parity,
    `tratamento_epe.R:100`); non-null positions are never changed."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "idx int, x double"
    ).withColumn("g", F.lit(1))
    once = df.withColumn("f", locf("x", partition_by=["g"], order_by=["idx"]))
    twice = once.withColumn("f2", locf("f", partition_by=["g"], order_by=["idx"]))
    rows = sorted(twice.collect(), key=lambda r: r.idx)

    # reference semantics computed in plain Python
    expect, last = [], None
    for v in vals:
        last = v if v is not None else last
        expect.append(last)
    assert [r.f for r in rows] == expect
    assert [r.f2 for r in rows] == [r.f for r in rows]  # idempotent
    for r in rows:
        if vals[r.idx] is not None:
            assert r.f == vals[r.idx]


@given(
    a=st.lists(st.tuples(st.integers(0, 9), st.text(max_size=3)), max_size=5),
    b=st.lists(st.tuples(st.text(max_size=3), st.integers(0, 9)), max_size=5),
)
@SETTINGS
def test_union_by_name_aligns_columns(spark, a, b):
    """unionByName matches by NAME (bind_rows parity, `R:267-273`)
    even when physical column order differs."""
    da = spark.createDataFrame(a, "k int, s string")
    db = spark.createDataFrame(b, "s string, k int")
    u = da.unionByName(db)
    assert sorted(map(tuple, u.collect())) == sorted(a + [(k, s) for s, k in b])


def test_chave_seletora_functional_dependency(spark):
    """chave_seletora is a pure function of (dado, mercado, classe,
    abertura): one key per distinct tuple and vice versa (`R:274`)."""
    from epe_data_wrangling_spark.plans.epe_demo import workbook_grids
    from epe_data_wrangling_spark.plans.epe_pipeline import run_pipeline

    out = run_pipeline(spark, workbook_grids())
    n_keys = out.select("chave_seletora").distinct().count()
    n_tuples = out.select("dado", "mercado", "classe", "abertura").distinct().count()
    n_both = out.select("chave_seletora", "dado", "mercado", "classe", "abertura").distinct().count()
    assert n_keys == n_tuples == n_both


@given(
    words_a=st.lists(st.text("abcdef", min_size=1, max_size=4), min_size=6, max_size=20),
)
@SETTINGS
def test_minhash_identical_docs_collide(spark, words_a):
    """A document always MinHash-LSH-collides with itself: an exact
    duplicate pair is a candidate in every band and has Jaccard 1."""
    from epe_data_wrangling_spark.operators.dedup import minhash_lsh_pairs

    text = " ".join(words_a)
    df = spark.createDataFrame([(0, text), (1, text)], "doc_id long, text string")
    pairs = minhash_lsh_pairs(
        df, "text", "doc_id", shingle_n=3, num_hashes=8, bands=4, threshold=0.9
    ).collect()
    assert len(pairs) == 1
    assert pairs[0].a_id == 0 and pairs[0].b_id == 1
    assert pairs[0].jaccard == pytest.approx(1.0)


@given(
    points=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50_000)),
                    min_size=1, max_size=20),
    ivals=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50_000), st.integers(0, 20_000)),
        min_size=1, max_size=10,
    ),
    bin_s=st.sampled_from([60, 3600, 7200]),
)
@SETTINGS
def test_binned_interval_join_equals_range_join(spark, points, ivals, bin_s):
    """binned_interval_join == the naive BETWEEN join for arbitrary
    keys, offsets, interval lengths, and bin widths (incl. intervals
    spanning many bins and zero-length intervals)."""
    from epe_data_wrangling_spark.operators.joins import binned_interval_join

    p = spark.createDataFrame(
        [(k, s) for k, s in points], "k int, off long"
    ).select("k", F.timestamp_seconds(F.col("off") + 1_700_000_000).alias("pts"))
    iv = spark.createDataFrame(
        [(k, s, d) for k, s, d in ivals], "k int, s long, d long"
    ).select(
        "k",
        F.timestamp_seconds(F.col("s") + 1_700_000_000).alias("ivs"),
        F.timestamp_seconds(F.col("s") + F.col("d") + 1_700_000_000).alias("ive"),
    )
    got = binned_interval_join(
        p, iv, on="k", point_ts="pts", start_ts="ivs", end_ts="ive",
        bin_seconds=bin_s,
    ).select("k", "pts", "ivs", "ive")
    want = p.join(iv, "k").filter(
        (F.col("pts") >= F.col("ivs")) & (F.col("pts") <= F.col("ive"))
    ).select("k", "pts", "ivs", "ive")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@given(
    pairs=st.lists(st.tuples(st.integers(0, 255), st.integers(0, 255)),
                   min_size=1, max_size=16),
)
@SETTINGS
def test_zorder_key_matches_python_morton(spark, pairs):
    """The shift/or expression tree computes the textbook Morton
    interleave (verified bit-for-bit against a Python reference)."""
    from epe_data_wrangling_spark.operators.layout import zorder_key

    def morton(x: int, y: int, bits: int = 8) -> int:
        z = 0
        for b in range(bits - 1, -1, -1):
            z = (z << 1) | ((x >> b) & 1)
            z = (z << 1) | ((y >> b) & 1)
        return z

    df = spark.createDataFrame(pairs, "x long, y long")
    got = df.select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], bits=8).alias("z")
    ).collect()
    for row in got:
        assert row.z == morton(row.x, row.y), (row.x, row.y)


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10**6)),
        min_size=1, max_size=60, unique_by=lambda t: t[1],
    ),
    shards=st.integers(1, 7),
)
@SETTINGS
def test_global_row_number_equals_window_rank(spark, vals, shards):
    """Distributed rank (range shards + offsets) must equal the global
    window's row_number for any data and shard count — including heavy
    value ties, which must never straddle a shard."""
    from pyspark.sql import Window

    from epe_data_wrangling_spark.operators.windows import global_row_number

    df = spark.createDataFrame(vals, "v INT, k BIGINT")
    ranked, total = global_row_number(df, F.col("v"), "k", out="r", n_shards=shards)
    got = {(r.v, r.k): r.r for r in ranked.collect()}
    w = Window.orderBy("v", "k")
    want = {
        (r.v, r.k): r.r
        for r in df.withColumn("r", F.row_number().over(w)).collect()
    }
    assert got == want and total == len(vals)


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 10**6)),
        min_size=1, max_size=60, unique_by=lambda t: t[1],
    ),
    n=st.integers(1, 10),
)
@SETTINGS
def test_exact_ntile_from_rank_equals_ntile(spark, vals, n):
    """Arithmetic ntile from (rank, total) == F.ntile over the global
    window, for any bucket count (incl. n > rows)."""
    from pyspark.sql import Window

    from epe_data_wrangling_spark.operators.windows import (
        exact_ntile_from_rank,
        global_row_number,
    )

    df = spark.createDataFrame(vals, "v INT, k BIGINT")
    ranked, total = global_row_number(df, F.col("v"), "k", out="r")
    got = {
        (r.v, r.k): r.b
        for r in ranked.select(
            "v", "k", exact_ntile_from_rank("r", total, n).alias("b")
        ).collect()
    }
    w = Window.orderBy("v", "k")
    want = {
        (r.v, r.k): r.b
        for r in df.withColumn("b", F.ntile(n).over(w).cast("int")).collect()
    }
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 1000)),
        min_size=1, max_size=60, unique_by=lambda t: t[0],
    ),
    shards=st.integers(1, 7),
)
@SETTINGS
def test_sharded_cumsum_equals_window_cumsum(spark, vals, shards):
    """Sharded running sum == global-window running sum over a unique
    order key, for any shard count."""
    from pyspark.sql import Window

    from epe_data_wrangling_spark.operators.windows import sharded_cumsum

    df = spark.createDataFrame(vals, "k BIGINT, wt BIGINT")
    got = {
        r.k: r.cum
        for r in sharded_cumsum(df, "k", "wt", out="cum", n_shards=shards).collect()
    }
    w = Window.orderBy("k")
    want = {
        r.k: r.cum
        for r in df.withColumn("cum", F.sum("wt").over(w)).collect()
    }
    assert got == want


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 20), st.integers(-50, 50), st.integers(0, 10**6)),
        min_size=1, max_size=50, unique_by=lambda t: t[2],
    ),
    shards=st.integers(1, 5),
)
@SETTINGS
def test_sharded_prefix_max_equals_window(spark, vals, shards):
    """Sharded exclusive prefix max == the global exclusive-frame
    window, including NULL for first rows and ties of the order
    value across rows."""
    from pyspark.sql import Window

    from epe_data_wrangling_spark.operators.windows import sharded_prefix_max

    df = spark.createDataFrame(vals, "ov INT, x INT, k BIGINT")
    got = {
        r.k: r.pm
        for r in sharded_prefix_max(
            df, F.col("ov"), ["k"], "x", out="pm", n_shards=shards
        ).collect()
    }
    w = Window.orderBy("ov", "k").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.k: r.pm
        for r in df.withColumn("pm", F.max("x").over(w)).collect()
    }
    assert got == want


_cell = st.one_of(
    st.none(),
    st.integers(-10**9, 10**9).map(str),
    st.floats(allow_nan=False, allow_infinity=False, width=32).map(lambda x: repr(float(x))),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc")),
        min_size=0, max_size=25,
    ),
)


def _canon_cell(c):
    import re
    if c is None:
        return None
    s = str(c)
    if re.fullmatch(r"-?\d+(\.\d+)?", s):
        return repr(float(s))
    return s


def _strip(grid):
    rows = [list(r) for r in grid]
    while rows and all(c is None for c in rows[-1]):
        rows.pop()
    width = 0
    for r in rows:
        w = len(r)
        while w and r[w - 1] is None:
            w -= 1
        width = max(width, w)
    return [
        [_canon_cell(c) for c in (r[:width] + [None] * (width - len(r[:width])))]
        for r in rows
    ]


@given(
    grid=st.lists(st.lists(_cell, min_size=1, max_size=6), min_size=1, max_size=8),
)
@SETTINGS
def test_xls_biff8_roundtrip_property(tmp_path_factory, grid):
    """Any text/numeric/None grid survives a BIFF8 write+read up to
    the documented canonicalization (numeric text re-canonicalized,
    trailing blanks unstored). Shrinking finds minimal failing cells
    — the reader/writer pair has no grid-shape assumptions."""
    from epe_data_wrangling_spark.sources.xls_biff import read_xls_grids, write_xls

    path = str(tmp_path_factory.mktemp("xls") / "p.xls")
    write_xls(path, {"S": grid})
    back = read_xls_grids(path)["S"]
    assert _strip(back) == _strip(grid)


@given(
    grid=st.lists(st.lists(_cell, min_size=1, max_size=6), min_size=1, max_size=8),
)
@SETTINGS
def test_xlsx_roundtrip_property(tmp_path_factory, grid):
    """Same property over the OOXML writer/reader pair."""
    from epe_data_wrangling_spark.sources.xlsx import read_xlsx_grids, write_xlsx

    path = str(tmp_path_factory.mktemp("xlsx") / "p.xlsx")
    write_xlsx(path, {"S": grid})
    back = read_xlsx_grids(path)["S"]
    assert _strip(back) == _strip(grid)


@given(
    svals=st.lists(st.one_of(st.none(), st.text(
        alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=20)),
        min_size=1, max_size=12),
    xvals=st.lists(st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False)),
                   min_size=1, max_size=12),
    ivals=st.lists(st.one_of(st.none(), st.integers(-(2**31) + 1, 2**31 - 1)),
                   min_size=1, max_size=12),
)
@SETTINGS
def test_rds_roundtrip_property(tmp_path_factory, spark, svals, xvals, ivals):
    """Random character/double/integer columns (with NAs) survive the
    RDS write+read byte-format round trip."""
    from epe_data_wrangling_spark.sources.rds import read_rds_frame, write_rds_small

    n = min(len(svals), len(xvals), len(ivals))
    rows = list(zip(svals[:n], xvals[:n], ivals[:n]))
    df = spark.createDataFrame(rows, "s string, x double, i long")
    path = str(tmp_path_factory.mktemp("rds") / "p.rds")
    write_rds_small(df, path)
    back = read_rds_frame(path)
    assert back["s"] == [r[0] for r in rows]
    assert back["x"] == [r[1] for r in rows]
    got_i = back["i"]
    want_i = [r[2] for r in rows]
    # all-int columns (no float upcast in the column chooser)
    assert [None if v is None else int(v) for v in got_i] == want_i


# ---- codec fuzz (round-4 continuation decoders) ----------------------


@given(st.binary(min_size=0, max_size=400))
@settings(max_examples=60, deadline=None)
def test_gif_lzw_roundtrip_any_bytes(data):
    """GIF-flavor LZW is lossless on arbitrary byte strings (code
    width growth, CLEAR/EOI, KwKwK all exercised by random data)."""
    from epe_data_wrangling_spark.multimodal.assets import _gif_lzw_compress
    from epe_data_wrangling_spark.multimodal.decode import gif_lzw_decompress

    assert gif_lzw_decompress(_gif_lzw_compress(data, 8), 8) == data


@given(st.integers(0, 10_000), st.integers(2, 200))
@settings(max_examples=30, deadline=None)
def test_jpeg_decoders_never_raise_on_truncation(aid, cut):
    """ANY prefix of a valid stream must decode to None or a valid
    result — never raise (the task-killing failure mode the
    self-review found)."""
    from epe_data_wrangling_spark.multimodal import assets as A
    from epe_data_wrangling_spark.multimodal import decode as D

    for payload in (
        A.make_jpeg(aid % 50),
        A.make_progressive_jpeg(aid % 50, ac_refine=True),
        A.make_gif(aid % 50),
        A.make_adpcm_wav(aid % 50),
        A.make_mjpeg_avi(aid % 10, frames=2),
    ):
        cut_at = min(cut * len(payload) // 200, len(payload))
        for fn in (
            D.decode_jpeg_pixels,
            D.decode_gif_pixels,
            D.decode_adpcm_wav,
            D.decode_mjpeg_avi,
            D.decode_png_pixels,
        ):
            fn(payload[:cut_at])  # must not raise; value unconstrained


@given(st.integers(0, 1_000_000))
@settings(max_examples=15, deadline=None)
def test_jpeg_smooth_gradient_roundtrip_bound(seed):
    """Randomized smooth gradients (bounded slope) reconstruct within
    a few code values through every encoder mode — baseline, 4:2:0,
    restart markers, and the eight-scan progressive form."""
    from epe_data_wrangling_spark.multimodal import assets as A
    from epe_data_wrangling_spark.multimodal.decode import decode_jpeg_pixels

    a = seed % 97
    b = (seed // 97) % 89
    base_r, base_g, base_b = 30 + a % 60, 40 + b % 60, 50 + (a + b) % 60
    orig = A.jpeg_pixel
    A.jpeg_pixel = lambda x, y, aid: (
        base_r + x + y, base_g + 2 * x, base_b + 2 * y
    )
    try:
        payloads = [
            A.make_jpeg(0),
            A.make_jpeg(0, subsample=True),
            A.make_jpeg(0, restart_interval=2),
            A.make_progressive_jpeg(0, ac_refine=True),
        ]
    finally:
        A.jpeg_pixel = orig
    for payload in payloads:
        w, h, rgb = decode_jpeg_pixels(payload)
        for y in range(h):
            for x in range(w):
                exp = (base_r + x + y, base_g + 2 * x, base_b + 2 * y)
                o = (y * w + x) * 3
                for c in range(3):
                    assert abs(rgb[o + c] - exp[c]) <= 6, (x, y, c)


@given(st.integers(0, 500), st.integers(16, 300))
@settings(max_examples=25, deadline=None)
def test_adpcm_roundtrip_bound_random_lengths(aid, n)  :
    """IMA ADPCM near-losslessness holds for arbitrary sample counts
    (odd/even nibble padding, wSamplesPerBlock honored)."""
    from epe_data_wrangling_spark.multimodal.assets import adpcm_sample, make_adpcm_wav
    from epe_data_wrangling_spark.multimodal.decode import decode_adpcm_wav

    rate, samples = decode_adpcm_wav(make_adpcm_wav(aid, n=n))
    assert len(samples) == n
    for i in range(n):
        assert abs(samples[i] - adpcm_sample(i, aid)) <= 1


@given(st.integers(0, 500), st.integers(16, 300), st.integers(1, 80))
@settings(max_examples=25, deadline=None)
def test_adpcm_multiblock_roundtrip_and_truncation(aid, n, spb):
    """Multi-block IMA streams (random block sizes, incl. spb > n and
    non-dividing spb with padded tails): every real sample decodes
    within ±1 and the fact chunk trims the tail pad exactly; any
    byte-prefix truncation must degrade gracefully (None or fewer
    samples), never raise — the mapInPandas decode contract."""
    from epe_data_wrangling_spark.multimodal.assets import adpcm_sample, make_adpcm_wav
    from epe_data_wrangling_spark.multimodal.decode import decode_adpcm_wav

    b = make_adpcm_wav(aid, n=n, samples_per_block=spb)
    rate, samples = decode_adpcm_wav(b)
    assert rate == 8000 and len(samples) == n
    for i in range(n):
        assert abs(samples[i] - adpcm_sample(i, aid)) <= 1, (i, spb)
    for cut in (0, 11, 12, 20, len(b) // 2, len(b) - 1):
        out = decode_adpcm_wav(b[:cut])
        assert out is None or len(out[1]) <= n


def test_hash_u32_matches_duckdb_hex_int(spark):
    """Cross-engine pin of the md5→int64 parity idiom now centralized
    as functions.hashing.hash_u32 (r6): for a diverse value sample
    (ids, unicode, quotes, whitespace, empties), Spark's hash_u32 and
    the oracle-side ducksql.hex_int(md5('<prefix>|' || v), 1, 8) must
    agree EXACTLY — every sketch bucket, fold id, and uniform draw in
    the catalog rides on this equality, so a divergence (e.g. a md5
    input-cast change on either engine) should fail here first, not
    in a driver hash-red."""
    import duckdb

    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog import ducksql as D
    from epe_data_wrangling_spark.functions.hashing import hash_u32

    values = [
        "42", "0", "-7", "", " ", "  padded  ", "naïve café", "日本語",
        "O'Brien", 'quote"d', "tab\tsep", "a|b", "fold|x", "1e30",
        "3.14159", "TOTAL BRASIL", "🙂emoji", "\\backslash",
    ] + [f"key_{i * 7919 % 104729}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    got = {
        r.v: (r.a, r.b)
        for r in df.select(
            "v",
            hash_u32("v", "wrs").alias("a"),
            hash_u32("v", "0").alias("b"),
        ).collect()
    }
    con = duckdb.connect()
    # hex_int expands its md5 argument once per hex digit, so bind the
    # value through a 1-row CTE instead of repeating placeholders
    expr_a = D.hex_int("md5('wrs|' || t.v)", 1, 8)
    expr_b = D.hex_int("md5('0|' || t.v)", 1, 8)
    for v in values:
        (ea, eb) = con.execute(
            f"WITH t(v) AS (SELECT ?) SELECT {expr_a}, {expr_b} FROM t", [v]
        ).fetchone()
        assert got[v] == (ea, eb), f"hash_u32 diverged for {v!r}"
        assert 0 <= ea < 2**32


# bounded exact doubles for the seeding property: float32-width keeps
# every value exactly representable (and its square finite) in both
# engines' float64 arithmetic
_seed_double = st.floats(
    allow_nan=False, allow_infinity=False, width=32, min_value=-1e6,
    max_value=1e6,
)


@given(
    data=st.data(),
    dim=st.integers(1, 3),
    k=st.integers(2, 4),
    cap=st.sampled_from([None, 3, 6, 4096]),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_farthest_first_seeds_always_match_sql_mirror(
    spark, data, dim, k, cap
):
    """PROPERTY: for ANY corpus (duplicates included), any k, and any
    sample cap — active or identity — the Spark Gonzalez traversal
    and the unrolled DuckDB mirror (`_spread_init_ctes`) pick
    bit-identical seed sequences; where Spark stops early (bit-equal
    argmax winner), every extra mirror pick is a copy of an
    already-chosen seed, so the trained means cannot differ. This is
    the exact contract the certified spread retrain/rebuild hashes
    rest on, exercised over random corpora instead of the fixtures."""
    import duckdb

    from epe_data_wrangling_spark.catalog.streaming_q import (
        _spread_init_ctes,
    )
    from epe_data_wrangling_spark.functions import vectors as V
    from epe_data_wrangling_spark.operators.kmeans import (
        farthest_first_seeds,
    )

    vecs = data.draw(
        st.lists(
            st.lists(_seed_double, min_size=dim, max_size=dim),
            min_size=1,
            max_size=12,
        )
    )
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    ev = spark.createDataFrame(
        rows, "vec_id BIGINT, v ARRAY<DOUBLE>"
    ).withColumn("vv", V.dot(F.col("v"), F.col("v")))
    got = [
        tuple(s["c"])
        for s in farthest_first_seeds(ev, k, sample_cap=cap).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE corpus(vec_id BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO corpus VALUES (?, ?)", rows)
    sql = (
        "WITH tv AS (SELECT vec_id, v, list_dot_product(v, v) AS vv"
        " FROM corpus),\n    "
        + _spread_init_ctes(k, sample_cap=cap if cap is not None else 10**9)
        + "\n    SELECT cid, c FROM c0l ORDER BY cid"
    )
    mirror = [tuple(c) for _, c in con.execute(sql).fetchall()]
    assert 1 <= len(got) <= k and len(mirror) == k
    assert mirror[: len(got)] == got
    # early-stop equivalence: every extra mirror pick duplicates an
    # already-chosen seed (empty cell under argmin lowest-cid ties)
    for extra in mirror[len(got):]:
        assert extra in got
