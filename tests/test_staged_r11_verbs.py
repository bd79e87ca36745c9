"""Round-10-built verbs staged for the round-11 window: CCNet
head/middle/tail perplexity buckets (operators/text.py:perplexity_buckets),
the ANN recall audit as an oracle-backed relation
(operators/similarity.py:topk_recall), the near-dup threshold-sensitivity
sweep (operators/dedup.py:neardup_threshold_sweep), BPE merge candidates
(operators/text.py:bpe_merge_candidates), the source overlap matrix
(operators/dedup.py:source_overlap_matrix), the key-skew diagnostic
over LSH band buckets (operators/skew.py:key_skew_report), and the
quality-score calibration curve against the Gopher gate
(operators/text.py:quality_calibration_bins), and the Heaps-law vocab
growth curve (operators/text.py:vocab_growth_curve).

Layers: semantics on hand-built frames (expected values computed by hand),
hypothesis invariants, then the side-by-side DuckDB parity the r11 driver
window will run."""

import duckdb
from pyspark.sql import functions as F


def _con(sf_dir, *tables):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _assert_parity(got, want):
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
    w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    assert len(g) == len(w) and len(g) > 0
    for c in cols:
        assert (g[c].values == w[c].values).all(), c


# ---------------------------------------------------------------- semantics


def test_topk_recall_counts_overlap_per_query(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        # q1 recovers 2 of 3 (plus a spurious 99); q2 recovers none
        [(1, 10), (1, 12), (1, 99), (2, 77)],
        "query_id long, neighbor_id long",
    )
    from spark_gp_spark.operators.similarity import topk_recall

    out = {r.query_id: r for r in topk_recall(approx, exact).collect()}
    assert (out[1].n_exact, out[1].n_hit, out[1].recall) == (3, 2, 0.666667)
    assert (out[2].n_exact, out[2].n_hit, out[2].recall) == (2, 0, 0.0)


def test_perplexity_buckets_tercile_semantics(spark):
    """6 docs, one language: ntile(3) must yield 2/2/2 with the two
    highest-scoring (most in-distribution) docs in 'head'.  Docs made of
    the corpus-frequent token get high avg_logprob; rare-token docs low."""
    rows = [
        (1, "aa aa aa aa", "en"),
        (2, "aa aa aa zz", "en"),
        (3, "aa aa zz qq", "en"),
        (4, "aa zz qq rr", "en"),
        (5, "zz qq rr ss", "en"),
        (6, "qq rr ss tt uu vv ww xx", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    from spark_gp_spark.operators.text import perplexity_buckets

    out = perplexity_buckets(df).collect()
    assert len(out) == 6
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.ppl_bucket, set()).add(r.doc_id)
    assert {len(v) for v in by_bucket.values()} == {2}
    # doc 1 (all-frequent tokens) must be head; doc 6 (all-rare) must be tail
    assert 1 in by_bucket["head"]
    assert 6 in by_bucket["tail"]
    # scores are monotone with the share of the frequent token
    scores = {r.doc_id: r.avg_logprob for r in out}
    assert scores[1] > scores[2] > scores[3] > scores[4] > scores[5]


def test_threshold_sweep_keeps_zero_rows_and_counts_by_hand(spark):
    """A=abcde, D=abcqr share exactly one 3-gram: jaccard = 1/(3+3-1) = 0.2.
    Grid (0.1, 0.5): one row per rung, the empty rung kept as zeros."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c q r"), (3, "x y z w v")],
        "doc_id long, text string",
    )
    from spark_gp_spark.operators.dedup import neardup_threshold_sweep

    out = {
        r.threshold: (r.n_pairs, r.n_docs)
        for r in neardup_threshold_sweep(df, thresholds=(0.1, 0.5)).collect()
    }
    assert out == {0.1: (1, 2), 0.5: (0, 0)}


# ------------------------------------------------------------ oracle parity


def test_staged_perplexity_buckets_matches_duckdb_oracle(spark, sf_dir):
    from spark_gp_spark.queries import _PPL_BUCKETS_SQL, perplexity_buckets

    got = perplexity_buckets(spark, sf_dir).toPandas()
    want = _con(sf_dir, "documents").execute(_PPL_BUCKETS_SQL).df()
    _assert_parity(got, want)
    # non-vacuity: every language yields all three buckets
    cells = got.groupby(["lang", "ppl_bucket"]).size()
    assert (cells > 0).all()
    assert got.groupby("lang")["ppl_bucket"].nunique().min() == 3


def test_staged_ann_recall_report_matches_duckdb_oracle(spark):
    # pinned to sf0.01 — the driver's correctness corpus — because the
    # oracle bakes the quantizer trained from THAT file (the documented
    # cross-sf ANN-artifact caveat, tools/check_correctness.py:12-21);
    # at other sfs the Spark side correctly retrains while the oracle
    # replays sf0.01 centroids.
    sf_dir = "/root/testdata/sf0.01"
    from spark_gp_spark.queries import _sql_ann_recall, ann_recall_report

    sql = _sql_ann_recall()
    assert sql is not None  # testdata present in this env
    got = ann_recall_report(spark, sf_dir).toPandas()
    want = _con(sf_dir, "embeddings").execute(sql).df()
    _assert_parity(got, want)
    # non-vacuity: the report distinguishes queries (recall genuinely varies)
    assert got["recall"].nunique() >= 3
    assert (got["n_exact"] == 5).all()


def test_staged_threshold_sweep_matches_duckdb_oracle(spark, sf_dir):
    from spark_gp_spark.queries import _SWEEP_SQL, _SWEEP_GRID, neardup_threshold_sweep

    got = neardup_threshold_sweep(spark, sf_dir).toPandas()
    want = _con(sf_dir, "documents").execute(_SWEEP_SQL).df()
    _assert_parity(got, want)
    assert len(got) == len(_SWEEP_GRID)
    # non-vacuity: a real elbow — several distinct levels, strictly
    # monotone non-increasing in the threshold
    s = got.sort_values("threshold")
    assert s["n_pairs"].nunique() >= 4
    assert (s["n_pairs"].diff().dropna() <= 0).all()
    assert (s["n_docs"].diff().dropna() <= 0).all()


# ---------------------------------------------------------------- properties


def test_topk_recall_invariants_property(spark):
    """Invariants over arbitrary exact/approx top-k relations: counts
    bounded, recall = n_hit/n_exact at 6 dp, recall = 1 iff the index
    recovered every exact neighbour."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_gp_spark.operators.similarity import topk_recall

    pair = st.tuples(st.integers(0, 3), st.integers(0, 9))

    @settings(max_examples=5, deadline=None)
    @given(
        exact=st.sets(pair, min_size=1, max_size=20),
        approx=st.sets(pair, max_size=20),
    )
    def run(exact, approx):
        e = spark.createDataFrame(
            sorted(exact), "query_id long, neighbor_id long"
        )
        a = spark.createDataFrame(
            sorted(approx) or [(-(10 ** 6), -(10 ** 6))],
            "query_id long, neighbor_id long",
        )
        out = topk_recall(a, e).collect()
        exact_by_q = {}
        for q, n in exact:
            exact_by_q.setdefault(q, set()).add(n)
        approx_by_q = {}
        for q, n in approx:
            approx_by_q.setdefault(q, set()).add(n)
        assert {r.query_id for r in out} == set(exact_by_q)
        for r in out:
            got_approx = approx_by_q.get(r.query_id, set())
            want_hit = len(exact_by_q[r.query_id] & got_approx)
            assert r.n_exact == len(exact_by_q[r.query_id])
            assert r.n_hit == want_hit
            assert r.recall == round(want_hit / r.n_exact, 6)
            assert (r.recall == 1.0) == (exact_by_q[r.query_id] <= got_approx)

    run()


def test_threshold_sweep_monotone_property(spark):
    """n_pairs and n_docs are non-increasing in the threshold for ANY
    corpus, and every grid rung yields exactly one row (zeros kept)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_gp_spark.operators.dedup import neardup_threshold_sweep

    @settings(max_examples=4, deadline=None)
    @given(
        docs=st.lists(
            st.text(alphabet="ab ", min_size=0, max_size=30),
            min_size=2,
            max_size=12,
        )
    )
    def run(docs):
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        grid = (0.1, 0.4, 0.8)
        rows = sorted(
            neardup_threshold_sweep(df, thresholds=grid).collect(),
            key=lambda r: r.threshold,
        )
        assert [r.threshold for r in rows] == list(grid)
        for a, b in zip(rows, rows[1:]):
            assert a.n_pairs >= b.n_pairs
            assert a.n_docs >= b.n_docs
        for r in rows:
            assert 0 <= r.n_docs <= len(docs)
            assert r.n_pairs <= r.n_docs * (r.n_docs - 1) // 2

    run()


# ------------------------------------------- bpe merges + source overlap


def test_bpe_merge_candidates_counts_by_hand(spark):
    """'abab' contributes ab,ba,ab; 'ab' contributes ab; 'x' nothing.
    Totals: ab=3, ba=1."""
    from spark_gp_spark.operators.text import bpe_merge_candidates

    df = spark.createDataFrame(
        [(1, "abab ab x"), (2, "")], "doc_id long, text string"
    )
    out = [(r.pair, r.n_occurrences, r.rank) for r in
           bpe_merge_candidates(df, k=10).orderBy("rank").collect()]
    assert out == [("ab", 3, 1), ("ba", 1, 2)]


def test_source_overlap_matrix_by_hand(spark):
    """Two verbatim near-dups across sources s1/s2 plus one within s1 —
    cells (s1,s1)=1 and (s1,s2)=2 regardless of input source order."""
    from spark_gp_spark.operators.dedup import source_overlap_matrix

    t1 = "w1 w2 w3 w4 w5"
    t2 = "z1 z2 z3 z4 z5"
    df = spark.createDataFrame(
        [
            (1, t1, "s1"),
            (2, t1, "s2"),   # cross-source dup with 1
            (3, t1, "s1"),   # within-s1 dup with 1; cross with 2
            (4, t2, "s2"),
            (5, "q r s t u", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r.src_a, r.src_b): r.n_pairs
        for r in source_overlap_matrix(df, threshold=0.9).collect()
    }
    assert out == {("s1", "s1"): 1, ("s1", "s2"): 2}


def test_staged_bpe_merge_candidates_matches_duckdb_oracle(spark, sf_dir):
    from spark_gp_spark.queries import _BPE_MERGE_SQL, bpe_merge_candidates

    got = bpe_merge_candidates(spark, sf_dir).toPandas()
    want = _con(sf_dir, "documents").execute(_BPE_MERGE_SQL).df()
    _assert_parity(got, want)
    assert len(got) == 20
    # non-vacuity: a real frequency gradient, not a flat tie table
    assert got["n_occurrences"].nunique() >= 10


def test_staged_source_overlap_matches_duckdb_oracle(spark, sf_dir):
    from spark_gp_spark.queries import _SOURCE_OVERLAP_SQL, source_overlap_matrix

    got = source_overlap_matrix(spark, sf_dir).toPandas()
    want = _con(sf_dir, "documents").execute(_SOURCE_OVERLAP_SQL).df()
    _assert_parity(got, want)
    # non-vacuity: off-diagonal cells exist (cross-source copying) and the
    # cell key is normalized (src_a <= src_b)
    assert (got["src_a"] <= got["src_b"]).all()
    assert (got["src_a"] != got["src_b"]).any()


# ----------------------------------------------------------- key skew report


def test_key_skew_report_by_hand(spark):
    """9 rows over keys a(5) b(3) c(1): mean = 3 rows/key, so skew factors
    are 5/3, 1, 1/3; shares 5/9, 3/9, 1/9; ranks by count then key."""
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)], "k string"
    )
    from spark_gp_spark.operators.skew import key_skew_report

    out = [
        (r.k, r.n_rows, r.share, r.skew_factor, r.rank)
        for r in key_skew_report(df, ["k"], top_k=2).orderBy("rank").collect()
    ]
    assert out == [
        ("a", 5, round(5 / 9, 6), round(5 / 3, 6), 1),
        ("b", 3, round(3 / 9, 6), 1.0, 2),
    ]


def test_key_skew_report_top_k_is_take_ordered_not_global_sort(spark):
    """The corpus-sized count relation must reach the top-k through
    TakeOrderedAndProject (per-partition heaps), never a global Sort —
    the plan property that keeps the diagnostic cheap at 100 TB."""
    df = spark.range(0, 1000).selectExpr("id % 37 AS k")
    from spark_gp_spark.operators.skew import key_skew_report

    plan = (
        key_skew_report(df, ["k"], top_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_staged_band_skew_report_matches_duckdb_oracle(spark, sf_dir):
    from spark_gp_spark.queries import _BAND_SKEW_SQL, band_skew_report

    got = band_skew_report(spark, sf_dir).toPandas()
    want = _con(sf_dir, "documents").execute(_BAND_SKEW_SQL).df()
    _assert_parity(got, want)
    # non-vacuity: the head of the report is a real multi-occupant bucket
    s = got.sort_values("rank")
    assert s.iloc[0]["n_rows"] > 1
    assert s.iloc[0]["skew_factor"] > 1.0


# ------------------------------------------------------ quality calibration


def test_quality_calibration_bins_by_hand(spark):
    """20 docs, 2 bins, forced separation: 10 symbol-junk docs score low
    on the composite (alpha ratio ≈ 0.3, no stopwords ⇒ quality ≈ 0.58)
    AND fail the gate (too short, non-alpha words, no stopwords); 10
    fluent docs score high (≈ 0.97) and pass every Gopher rule (24
    tokens, mwl 4.75, stopword-rich, alpha-only).  So bin 1 must be the
    junk (keep_rate 0) and bin 2 the fluent (keep_rate 1)."""
    from spark_gp_spark.operators.text import quality_calibration_bins

    junk = "@@ ## $$ %% ^^ && ** (( )) !!"  # 10 symbol tokens
    fluent = " ".join(["the house and garden with window table before"] * 3)
    rows = [(i, junk) for i in range(10)] + [(i + 10, fluent) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.decile: r
        for r in quality_calibration_bins(df, n_bins=2, min_tokens=20).collect()
    }
    assert out[1].n_docs == 10 and out[2].n_docs == 10
    assert out[1].keep_rate == 0.0
    assert out[2].keep_rate == 1.0
    assert out[1].max_quality < out[2].min_quality


def test_staged_quality_calibration_matches_duckdb_oracle(spark, sf_dir):
    from spark_gp_spark.queries import (
        _QUALITY_CALIBRATION_SQL,
        quality_calibration_bins,
    )

    got = quality_calibration_bins(spark, sf_dir).toPandas()
    want = _con(sf_dir, "documents").execute(_QUALITY_CALIBRATION_SQL).df()
    _assert_parity(got, want)
    assert len(got) == 10
    # non-vacuity: a real calibration signal — the bottom decile keeps
    # (much) less than the top, and rates are not all equal
    s = got.sort_values("decile")
    assert s.iloc[0]["keep_rate"] < s.iloc[-1]["keep_rate"]
    assert s["keep_rate"].nunique() >= 3


# -------------------------------------------------------- vocab growth curve


def test_vocab_growth_curve_by_hand(spark):
    """4 docs, 2 bins.  Doc1 introduces shingles {abc, bcd}; doc2 repeats
    doc1 (nothing new); doc3 introduces {xyz w}; doc4 repeats doc3.  So
    bin 1 (docs 1-2) adds 2, bin 2 (docs 3-4) adds 1, cumulative 2 then 3."""
    from spark_gp_spark.operators.text import vocab_growth_curve

    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "a b c d"),
            (3, "x y z"),
            (4, "x y z"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.decile: (r.new_shingles, r.vocab_size)
        for r in vocab_growth_curve(df, n_bins=2).collect()
    }
    assert out == {1: (2, 2), 2: (1, 3)}


def test_staged_vocab_growth_matches_duckdb_oracle(spark, sf_dir):
    from spark_gp_spark.queries import _VOCAB_GROWTH_SQL, vocab_growth_curve

    got = vocab_growth_curve(spark, sf_dir).toPandas()
    want = _con(sf_dir, "documents").execute(_VOCAB_GROWTH_SQL).df()
    _assert_parity(got, want)
    assert len(got) == 10
    # non-vacuity: a real Heaps decay — the first decile introduces
    # (much) more than the last, and cumulative vocab strictly grows
    s = got.sort_values("decile")
    assert s.iloc[0]["new_shingles"] > s.iloc[-1]["new_shingles"]
    assert (s["vocab_size"].diff().dropna() > 0).all()


def test_perplexity_buckets_partition_property(spark):
    """For ANY corpus: every doc with ≥1 token is assigned exactly one
    bucket, per-language bucket sizes differ by at most 1 (ntile
    contract), and bucket membership respects the score order."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_gp_spark.operators.text import perplexity_buckets

    @settings(max_examples=4, deadline=None)
    @given(
        docs=st.lists(
            st.tuples(
                st.text(alphabet="ab c", min_size=1, max_size=20),
                st.sampled_from(["en", "de"]),
            ),
            min_size=3,
            max_size=15,
        )
    )
    def run(docs):
        rows = [(i, t, l) for i, (t, l) in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
        n_tokenful = sum(1 for t, _ in docs if t.strip())
        out = perplexity_buckets(df).collect()
        assert len(out) == n_tokenful
        sizes = {}
        for r in out:
            assert r.ppl_bucket in ("head", "middle", "tail")
            sizes.setdefault(r.lang, []).append(r.ppl_bucket)
        order = {"head": 0, "middle": 1, "tail": 2}
        for lang, buckets in sizes.items():
            counts = [buckets.count(b) for b in ("head", "middle", "tail")]
            nz = [c for c in counts if c]
            assert max(nz) - min(nz) <= 1
        # score order respected: every head score >= every tail score per lang
        by_lang = {}
        for r in out:
            by_lang.setdefault(r.lang, []).append((order[r.ppl_bucket], r.avg_logprob))
        for pairs in by_lang.values():
            heads = [s for b, s in pairs if b == 0]
            tails = [s for b, s in pairs if b == 2]
            if heads and tails:
                assert min(heads) >= max(tails)

    run()


def test_vocab_growth_conservation_property(spark):
    """For ANY corpus: per-bin new_shingles sums to the corpus's total
    distinct shingle count, vocab_size is its running sum, and the curve
    never decreases."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_gp_spark.operators.text import vocab_growth_curve, word_ngrams
    from pyspark.sql import functions as F

    @settings(max_examples=4, deadline=None)
    @given(
        docs=st.lists(
            st.text(alphabet="xy z", min_size=0, max_size=25),
            min_size=2,
            max_size=12,
        )
    )
    def run(docs):
        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        total_distinct = (
            df.select(F.explode(word_ngrams(F.col("text"), 3)).alias("s"))
            .select("s")
            .distinct()
            .count()
        )
        rows = sorted(
            vocab_growth_curve(df, n_bins=3).collect(), key=lambda r: r.decile
        )
        assert sum(r.new_shingles for r in rows) == total_distinct
        run_sum = 0
        for r in rows:
            run_sum += r.new_shingles
            assert r.vocab_size == run_sum

    run()


# ------------------------------------------------------ streaming vocab drift


def test_staged_streaming_vocab_drift_matches_duckdb_oracle(spark, sf_dir):
    """The streaming OOV monitor's complete-mode relation must equal the
    batch oracle EXACTLY — counts are integers, so a single row lost or
    double-counted in the cross-batch merge fails hard.  The merge is
    genuinely exercised: arrivals are id-RANGE files while slices key on
    id % 3, so every slice receives rows from every micro-batch."""
    from spark_gp_spark.queries import (
        _STREAM_VOCAB_DRIFT_SQL,
        streaming_vocab_drift,
    )

    got = streaming_vocab_drift(spark, sf_dir).toPandas()
    want = _con(sf_dir, "documents").execute(_STREAM_VOCAB_DRIFT_SQL).df()
    _assert_parity(got, want)
    assert len(got) == 3
    # non-vacuity: a real OOV band (the 16-token vocab leaves it), and the
    # slices genuinely differ
    assert (got["n_oov"] > 0).all()
    assert got["oov_rate"].nunique() == 3
