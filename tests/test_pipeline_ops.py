"""Training-data pipeline operators: crafted-example semantics for
chunking, PII scrubbing, repetition scoring, and contamination
(the catalog queries check them against DuckDB at corpus scale;
these tests pin the behaviors the synthetic corpus can't exercise,
e.g. actual PII hits)."""

from __future__ import annotations

from pyspark.sql import functions as F

from epe_data_wrangling_spark.functions import pipeline as P


def _one(spark, text: str, cols: dict):
    df = spark.createDataFrame([(text,)], "text STRING").select(
        *[c.alias(n) for n, c in cols.items()]
    )
    return df.collect()[0]


def test_chunking_boundaries(spark):
    text = " ".join(f"w{i}" for i in range(30))  # 30 words
    df = spark.createDataFrame([(1, text)], "doc_id LONG, text STRING")
    rows = (
        df.select("doc_id", "text", F.explode(P.chunk_starts("text", 12)).alias("start"))
        .select(
            "start",
            F.size(F.expr("slice(filter(split(trim(text), '\\\\s+'), w -> w != ''), start, 16)")).alias("n"),
        )
        .collect()
    )
    # starts 1, 13, 25; last chunk truncated to 6 words
    assert [(r.start, r.n) for r in rows] == [(1, 16), (13, 16), (25, 6)]


def test_chunking_empty_doc(spark):
    df = spark.createDataFrame([(1, "   ")], "doc_id LONG, text STRING")
    assert df.select(F.explode(P.chunk_starts("text", 12))).count() == 0


def test_pii_scrub_and_counts(spark):
    text = (
        "mail alice.smith+x@example.co.uk or bob@test.org, "
        "call +1 (555) 123-4567, server at 10.0.0.1 port 8080"
    )
    r = _one(
        spark,
        text,
        {
            "scrubbed": P.pii_scrub("text"),
            **{f"n_{k}": c for k, c in P.pii_counts("text").items()},
        },
    )
    assert r.n_email == 2
    assert r.n_ipv4 == 1
    assert r.n_phone >= 1
    assert "<EMAIL>" in r.scrubbed and "<IPV4>" in r.scrubbed and "<PHONE>" in r.scrubbed
    assert "example.co.uk" not in r.scrubbed
    assert "10.0.0.1" not in r.scrubbed
    assert "555" not in r.scrubbed


def test_pii_scrub_clean_text_identity(spark):
    text = "no personal data here just words"
    r = _one(spark, text, {"scrubbed": P.pii_scrub("text")})
    assert r.scrubbed == text


def test_repetition_metrics(spark):
    # "a b a b a b" -> 6 words, 2 distinct, max freq 3,
    # trigrams: [a b a, b a b, a b a, b a b] -> 4 total 2 distinct -> 0.5
    r = _one(
        spark,
        "a b a b a b",
        {
            "ratio": P.distinct_word_ratio("text"),
            "maxf": P.max_word_frequency("text"),
            "dup3": P.dup_ngram_fraction("text", 3),
        },
    )
    assert abs(r.ratio - 2 / 6) < 1e-12
    assert r.maxf == 3
    assert abs(r.dup3 - 0.5) < 1e-12


def test_repetition_short_and_empty(spark):
    r = _one(spark, "one two", {"dup3": P.dup_ngram_fraction("text", 3)})
    assert r.dup3 == 0.0  # too short for any trigram
    r = _one(spark, "", {"ratio": P.distinct_word_ratio("text"),
                         "maxf": P.max_word_frequency("text")})
    assert r.ratio == 1.0 and r.maxf == 0


def test_contamination_excludes_self_matches(spark):
    """A benchmark doc that matches only itself is NOT contaminated;
    a train doc sharing a 5-gram with a benchmark doc is."""
    from epe_data_wrangling_spark.catalog.pipeline_q import contamination_ngram_overlap

    # monkey-build: run the catalog query on the real corpus and check
    # the invariants rather than a fixture (query logic = operator).
    out = contamination_ngram_overlap(spark, "/root/testdata/sf0.001").collect()
    by_id = {r.doc_id: r for r in out}
    assert all((r.doc_id % 97 == 0) == r.is_benchmark for r in out)
    assert all((r.n_shared_shingles > 0) == r.contaminated for r in out)
    # every doc present exactly once
    assert len(by_id) == len(out)


def test_shared_span_pairs_localizes_overlap(spark):
    """A planted 15-word run shared between two otherwise-different
    documents must come back as exactly one span with the right
    positions and length; unrelated docs must produce nothing."""
    from epe_data_wrangling_spark.operators.dedup import shared_span_pairs

    run = " ".join(f"shared{k}" for k in range(15))
    docs = [
        (1, "alpha beta gamma " + run + " delta epsilon"),      # run at pos 4
        (2, "one two three four five six " + run),              # run at pos 7
        (3, "totally unrelated words " * 5),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = shared_span_pairs(df, "text", "doc_id", n=8, min_run=12).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.doc_a, row.doc_b) == (1, 2)
    assert (row.a_start, row.b_start, row.len_words) == (4, 7, 15)


def test_split_manifest_ratios_and_stability(spark):
    """The md5 split is ~80/10/10 and identical under repartitioning
    (the property rand()-based splits lack)."""
    from epe_data_wrangling_spark.catalog import all_queries

    q = all_queries()["split_manifest"].fn
    got = q(spark, "/root/testdata/sf0.01")
    counts = {r.split: r.n for r in got.groupBy("split").count().withColumnRenamed("count", "n").collect()}
    total = sum(counts.values())
    assert total == 500
    assert 0.7 < counts["train"] / total < 0.9
    assert 0.04 < counts["val"] / total < 0.17
    assert 0.04 < counts["test"] / total < 0.17
    again = q(spark, "/root/testdata/sf0.01").repartition(13)
    assert got.exceptAll(again).count() == 0


def test_pps_sample_size_tracks_target_at_both_sfs(spark):
    from epe_data_wrangling_spark.catalog import all_queries

    q = all_queries()["sample_weighted_systematic"].fn
    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        n = q(spark, sf).count()
        assert 45 <= n <= 55, f"{sf}: PPS sample size {n} far from target 50"


def test_pca_component_is_unit_norm(spark):
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog import all_queries

    comp = all_queries()["pca_top_component"].fn(spark, "/root/testdata/sf0.01")
    norm2 = comp.agg(F.sum(F.col("component") * F.col("component")).alias("s")).collect()[0].s
    assert abs(norm2 - 1.0) < 1e-6
    eig = comp.select("eigenvalue_est").distinct().collect()
    assert len(eig) == 1 and eig[0][0] > 0


def test_bpe_greedy_run_handling(spark, tmp_path):
    """BPE merge application must be greedy-left over runs: 'aaaa'
    with learned pair (a,a) becomes ('aa','aa'), never ('aa','a','a')
    or an overlap artifact — the gaps-and-islands keep-odd rule. Also
    covers the no-pairs-left early stop (vocabulary fully merged
    before BPE_MERGES steps)."""
    from epe_data_wrangling_spark.catalog.pipeline_q import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aa", "en", "t", 12)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = [tuple(r) for r in bpe_train_merges(spark, str(tmp_path)).collect()]
    # step 1: pairs of 'aaaa' = 3 per occurrence x2 + 1 from 'aa' = 7
    # greedy: aaaa -> [aa, aa], aa -> [aa]
    # step 2: (aa, aa) count 2 -> aaaa -> [aaaa]
    # step 3: no adjacent pairs remain -> early stop, no third row
    assert got == [(1, "a", "a", 7), (2, "aa", "aa", 2)]


def _bpe_python(words_freq: dict, n_merges: int):
    """Reference BPE trainer in plain Python: pair counts weighted by
    word freq, argmax with (count desc, pair lex) tie-break, greedy
    left-to-right merge — the textbook algorithm, independently of
    both the Spark plan and the DuckDB oracle."""
    syms = {w: [c for c in w] for w in words_freq}
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict = {}
        for w, f in words_freq.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, cnt))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_bpe_matches_reference_python_on_random_corpora(spark, tmp_path):
    """Third-implementation check: the Spark gaps-and-islands BPE must
    equal a plain-Python textbook trainer on deterministic pseudo-
    random corpora (run-heavy alphabet to stress overlap handling)."""
    import random

    from epe_data_wrangling_spark.catalog.pipeline_q import BPE_MERGES, bpe_train_merges

    rng = random.Random(7)
    for trial in range(3):
        words = [
            "".join(rng.choice("aab") for _ in range(rng.randint(1, 7)))
            for _ in range(rng.randint(5, 25))
        ]
        text = " ".join(words)
        docs = spark.createDataFrame(
            [(1, text, "en", "t", len(text))],
            "doc_id long, text string, lang string, source string, n_chars int",
        )
        d = tmp_path / f"t{trial}"
        d.mkdir()
        docs.write.mode("overwrite").parquet(str(d / "documents.parquet"))
        got = [tuple(r) for r in bpe_train_merges(spark, str(d)).collect()]
        freqs: dict = {}
        for w in words:
            freqs[w] = freqs.get(w, 0) + 1
        want = _bpe_python(freqs, BPE_MERGES)
        assert got == want, (trial, text)


def test_staged_sum_queries_invariant_to_shuffle_partitioning(spark):
    """The session's order-free claims, exercised: DSIR, the LR
    trainer and RRF must produce IDENTICAL results when the shuffle
    partition count (and so the order partial aggregates merge in)
    changes — the integer-staging idiom is what makes this hold."""
    from epe_data_wrangling_spark.catalog import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    # r6 additions: pack_sequences rides sharded_cumsum, whose
    # approx-percentile shard CUTS can move with partitioning — the
    # global cumsum (and so the bin manifest) must not; the CM sketch
    # and winsorize are pure integer/rank pipelines that must not
    # notice partition count either.
    for name in ("dsir_importance_select", "logreg_train_quality",
                 "retrieval_rrf_hybrid", "pack_sequences_contiguous",
                 "sketch_countmin_heavy_hitters", "feature_winsorize_robust"):
        results = []
        for parts in ("3", "17"):
            old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            try:
                rows = sorted(map(tuple, qs[name].fn(spark, sf).collect()))
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)
            results.append(rows)
        assert results[0] == results[1], name


def test_countmin_overestimates_and_packing_conserves(spark):
    """r6 sketch/packing properties beyond the oracle equality:
    (a) count-min estimates NEVER undercount (the CM one-sided error
    guarantee — an estimate below exact means the bucket math is
    broken, not merely collided); (b) contiguous sequence packing
    conserves tokens and docs exactly (Σ bin_tokens = corpus tokens,
    Σ n_docs = corpus docs) and every bin except possibly the last
    starts within budget of its predecessor (contiguity)."""
    from pyspark.sql import functions as F

    from epe_data_wrangling_spark.catalog import all_queries
    from epe_data_wrangling_spark.catalog.pipeline_q import PACK_BUDGET
    from epe_data_wrangling_spark.functions import text as T
    from epe_data_wrangling_spark.sources.tables import load_table

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    cms = qs["sketch_countmin_heavy_hitters"].fn(spark, sf).collect()
    assert cms and all(r.cms_n >= r.exact_n for r in cms)

    bins = sorted(
        map(tuple, qs["pack_sequences_contiguous"].fn(spark, sf).collect())
    )
    docs = load_table(spark, sf, "documents")
    truth = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(T.words("text"))).alias("tok"),
    ).first()
    assert sum(r[1] for r in bins) == truth.n
    assert sum(r[2] for r in bins) == truth.tok
    # golden twin: recompute the packing in pure Python from the same
    # (doc_id, n_tokens) stream and require the EXACT per-bin manifest
    # — catches a sharded_cumsum regression (mis-ordered shard
    # offsets) that total-conservation alone cannot see
    per_doc = sorted(
        (r.doc_id, r.n_tokens)
        for r in docs.select(
            "doc_id", F.size(T.words("text")).alias("n_tokens")
        ).collect()
    )
    expect: dict[int, list] = {}
    cum = 0
    for doc_id, n_tokens in per_doc:
        b = cum // PACK_BUDGET
        cum += n_tokens
        e = expect.setdefault(b, [0, 0, doc_id, doc_id])
        e[0] += 1
        e[1] += n_tokens
        e[3] = doc_id
    assert bins == sorted(
        (b, e[0], e[1], e[2], e[3]) for b, e in expect.items()
    )
