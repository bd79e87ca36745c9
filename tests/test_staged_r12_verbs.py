"""Round-12-built verbs staged for the round-13 window: the nearest-
either-direction as-of variant (operators/asof.py, semantics gated in
tests/test_asof.py), paragraph-grain duplicate stats
(operators/dedup.py:paragraph_dedup_stats), the pairwise two-sample KS
drift report (operators/dq.py:source_ks_drift), the PII exposure
report (operators/prep.py:pii_scan_report), the exact-quota stratified
split (operators/prep.py:stratified_split), and the embedding-norm DQ
screen (operators/similarity.py:embedding_norm_outliers); second wave:
the near-dup-cluster-granular split (operators/prep.py:
component_split_assign), the robust median/MAD anomaly screen
(operators/dq.py:robust_anomaly_screen), the Gopher-rule co-failure
matrix (operators/text.py:rule_cofail_matrix), and the whole-schema FK
orphan audit (operators/dq.py:referential_integrity_report).

Layers: semantics on hand-built frames (expected values computed by
hand), then the side-by-side DuckDB parity the r13 driver window will
run (via the planted registry wrappers)."""

import duckdb
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


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


def test_paragraph_dedup_counts_cross_doc_only(spark):
    """dup = paragraph shared across >= 2 DISTINCT documents; a paragraph
    repeated twice inside ONE document is not boilerplate."""
    from spark_gp_spark.operators.dedup import paragraph_dedup_stats

    df = spark.createDataFrame(
        [
            (1, "alpha beta\n\nshared footer"),
            (2, "gamma delta\n\nshared footer"),
            (3, "self twin\n\nself twin"),  # within-doc repeat, no other doc
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup_stats(df).collect()}
    assert out[1]["n_paras"] == 2 and out[1]["n_dup_paras"] == 1
    assert out[1]["kept_chars"] == len("alpha beta")
    assert out[2]["n_dup_paras"] == 1
    assert out[3]["n_paras"] == 2 and out[3]["n_dup_paras"] == 0
    assert out[3]["kept_chars"] == 2 * len("self twin")


def test_source_ks_drift_hand_computed(spark):
    """Disjoint supports -> KS = 1 and (at n=10 per side, critical
    1.628*sqrt(20/100) = 0.728) drifted; identical sources -> KS = 0, not
    drifted; a half-overlap pair lands at the hand-computed 0.5.  Exact
    integers throughout."""
    from spark_gp_spark.operators.dq import source_ks_drift

    rows = (
        [("a", i) for i in range(1, 11)]
        + [("b", i) for i in range(11, 21)]
        + [("c", i) for i in range(1, 11)]
        + [("h", i) for i in range(6, 16)]  # half-overlaps a: max gap at v=10
    )
    df = spark.createDataFrame(rows, "source string, n_chars bigint")
    out = {
        (r["source_a"], r["source_b"]): r for r in source_ks_drift(df).collect()
    }
    assert out[("a", "b")]["ks"] == 1.0 and out[("a", "b")]["drifted"]
    assert out[("a", "c")]["ks"] == 0.0 and not out[("a", "c")]["drifted"]
    # F_a(10) = 1.0, F_h(10) = 5/10 -> KS = 0.5 < 0.728 -> not drifted
    assert out[("a", "h")]["ks"] == 0.5 and not out[("a", "h")]["drifted"]
    assert out[("a", "b")]["n_a"] == 10 and out[("a", "b")]["n_b"] == 10


def test_pii_scan_report_counts_docs_and_hits(spark):
    """n_docs counts documents with >= 1 hit; n_hits counts matches — a doc
    with two emails adds 1 to n_docs and 2 to n_hits."""
    from spark_gp_spark.operators.prep import pii_scan_report

    df = spark.createDataFrame(
        [
            (1, "en", "mail a@b.co and c@d.org here"),
            (2, "en", "card 4111222233334444"),
            (3, "en", "clean text"),
            (4, "fr", "x@y.io"),
        ],
        "doc_id bigint, lang string, text string",
    )
    out = {
        (r["lang"], r["pii_class"]): r for r in pii_scan_report(df).collect()
    }
    assert out[("en", "email")]["n_docs"] == 1
    assert out[("en", "email")]["n_hits"] == 2
    assert out[("en", "long_number")]["n_hits"] == 1
    assert out[("fr", "email")]["n_docs"] == 1
    assert out[("fr", "long_number")]["n_hits"] == 0


# ------------------------------------------------------------------ parity


def test_staged_r12_verbs_duckdb_parity(spark):
    """The driver's side-by-side at sf0.001 for the 23 verbs that lead
    the registry."""
    from spark_gp_spark.queries import ORACLE_SQL, QUERIES

    registered_r13 = list(QUERIES)[:23]
    con = _con(
        SF, "documents", "events", "embeddings", "lineitem", "orders",
        "customer", "supplier", "part", "nation", "region",
    )
    for name in registered_r13:
        got = QUERIES[name](spark, SF).toPandas()
        want = con.execute(ORACLE_SQL[name]).fetchdf()
        _assert_parity(got, want)


def test_stratified_split_exact_quotas(spark):
    """Every stratum cuts at exactly ceil(n*pct/100) — including the
    remainder strata a hash split gets wrong by luck — and assignment is
    a pure function of the id (re-partitioning cannot move a row)."""
    import math

    from spark_gp_spark.operators.prep import stratified_split

    rows = [(i, "a") for i in range(17)] + [(100 + i, "b") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = stratified_split(df).collect()
    by = {}
    for r in out:
        by.setdefault(r["lang"], []).append(r["split"])
    for lang, n in (("a", 17), ("b", 4)):
        splits = by[lang]
        tr = math.ceil(n * 80 / 100)
        va = math.ceil(n * 90 / 100) - tr
        assert splits.count("train") == tr, (lang, splits)
        assert splits.count("val") == va, (lang, splits)
        assert splits.count("test") == n - tr - va, (lang, splits)
    # determinism: same ids re-partitioned -> identical assignment
    again = {
        (r["doc_id"], r["split"])
        for r in stratified_split(df.repartition(7)).collect()
    }
    assert again == {(r["doc_id"], r["split"]) for r in out}


def test_embedding_norm_outliers_flags_scaled_vector(spark):
    """A 4x-scaled twin of an otherwise-typical vector is the only
    outlier; z-scores are computed against the corpus including it."""
    import numpy as np

    from spark_gp_spark.operators.similarity import embedding_norm_outliers

    rng = np.random.default_rng(11)
    base = rng.normal(size=(50, 8))
    base /= np.linalg.norm(base, axis=1, keepdims=True)  # all norms = 1
    vecs = list(base) + [base[0] * 4.0]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in embedding_norm_outliers(df).collect()}
    assert out[50]["is_outlier"] and out[50]["norm"] == 4.0
    assert sum(r["is_outlier"] for r in out.values()) == 1
    assert all(abs(out[i]["norm"] - 1.0) < 1e-6 for i in range(50))


# --------------------------------------------------------------- properties

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 23), min_size=1, max_size=4),
    train=st.integers(50, 90),
    val=st.integers(5, 25),
)
def test_stratified_split_quota_invariant(spark, sizes, train, val):
    """For ANY stratum sizes and any (train, val) pcts with train+val
    <= 100: every stratum's train count is exactly ceil(n*train/100) and
    train+val count exactly ceil(n*(train+val)/100) — including the
     1-row strata where ceil puts everything in train."""
    import math

    from spark_gp_spark.operators.prep import stratified_split

    if train + val > 100:
        val = 100 - train
    rows = [
        (s * 1000 + i, f"s{s}") for s, n in enumerate(sizes) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = stratified_split(df, train_pct=train, val_pct=val).collect()
    by = {}
    for r in out:
        by.setdefault(r["lang"], []).append(r["split"])
    for s, n in enumerate(sizes):
        splits = by[f"s{s}"]
        tr = math.ceil(n * train / 100)
        tv = math.ceil(n * (train + val) / 100)
        assert splits.count("train") == tr, (n, train, val, splits)
        assert splits.count("train") + splits.count("val") == tv


@settings(max_examples=8, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 9)),
        min_size=4, max_size=40,
    )
)
def test_source_ks_bounds_and_identity(spark, data):
    """KS statistics are always in [0, 1]; a source compared against an
    exact copy of itself reads 0.  (The exact-integer max makes these
    hard invariants, not float approximations.)"""
    from spark_gp_spark.operators.dq import source_ks_drift

    rows = [(s, v) for s, v in data] + [("a_copy", v) for s, v in data if s == "a"]
    if not any(s == "a" for s, _ in data):
        rows += [("a", 1), ("a_copy", 1)]
    df = spark.createDataFrame(rows, "source string, n_chars bigint")
    out = source_ks_drift(df).collect()
    assert all(0.0 <= r["ks"] <= 1.0 for r in out)
    ident = [r for r in out if {r["source_a"], r["source_b"]} == {"a", "a_copy"}]
    assert ident and ident[0]["ks"] == 0.0 and not ident[0]["drifted"]


# ------------------------------------------- second r12 wave (4 more verbs)


def test_component_split_assign_semantics(spark):
    """Every component shares ONE split; singletons (component == id) can
    never migrate (identical hash input); migrated == (split != doc_split)
    by definition; and the assignment is a pure function of the component
    relation (repartitioning cannot move a row)."""
    from spark_gp_spark.operators.prep import component_split_assign

    comps = spark.createDataFrame(
        [(1, 1, 1), (2, 2, 3), (7, 2, 3), (9, 2, 3), (50, 50, 2), (51, 50, 2)],
        "doc_id long, component long, component_size long",
    )
    out = component_split_assign(comps).toPandas().set_index("doc_id")
    # one split per component
    for comp in (2, 50):
        members = out[out.component == comp]
        assert members.split.nunique() == 1, comp
    # singleton: identical hash input => identical split, never migrated
    assert out.loc[1, "split"] == out.loc[1, "doc_split"]
    assert not out.loc[1, "migrated"]
    # flag definition
    assert (out.migrated == (out.split != out.doc_split)).all()
    # representative member inherits its own hash => doc_split == split
    assert out.loc[2, "split"] == out.loc[2, "doc_split"]
    # stability under repartitioning
    out2 = component_split_assign(comps.repartition(7)).toPandas().set_index("doc_id")
    assert (out.sort_index().split == out2.sort_index().split).all()


def test_robust_anomaly_screen_hand_computed(spark):
    """median/MAD are LOWER order statistics at rank ceil(N/2), and the
    modified z-score rule flags |x - med| > 3.5 * 1.4826 * MAD; MAD = 0
    degrades to flagging every nonzero deviation."""
    from spark_gp_spark.operators.dq import robust_anomaly_screen

    rows = [("a", v) for v in [1.0, 1.0, 1.0, 1.0, 100.0]]
    rows += [("b", v) for v in [10.0, 12.0, 14.0, 16.0, 18.0, 1000.0]]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {
        r["event_type"]: r
        for r in robust_anomaly_screen(df, "value", "event_type").collect()
    }
    # a: N=5 -> med = rank-3 value = 1; ads [0,0,0,0,99] -> MAD = 0
    #    threshold 0 -> the single 99-deviation row flags
    assert out["a"]["median"] == 1.0 and out["a"]["mad"] == 0.0
    assert out["a"]["n_anomalies"] == 1 and out["a"]["n_events"] == 5
    # b: N=6 -> med = rank-3 of [10,12,14,16,18,1000] = 14;
    #    ads sorted [0,2,2,4,4,986] -> MAD = rank-3 = 2;
    #    threshold = 3.5*1.4826*2 = 10.3782 -> only 986 flags
    assert out["b"]["median"] == 14.0 and out["b"]["mad"] == 2.0
    assert abs(out["b"]["threshold"] - 10.3782) < 1e-9
    assert out["b"]["n_anomalies"] == 1
    assert abs(out["b"]["anomaly_rate"] - round(1 / 6, 6)) < 1e-12


def test_rule_cofail_matrix_hand_computed(spark):
    """Diagonal = per-rule fail counts; off-diagonal = docs failing BOTH;
    rates divide by the full corpus size."""
    from spark_gp_spark.operators.text import rule_cofail_matrix

    flags = spark.createDataFrame(
        [
            (1, False, False),
            (2, False, True),
            (3, True, True),
            (4, True, False),
        ],
        "doc_id long, r1 boolean, r2 boolean",
    )
    out = {
        (r.rule_a, r.rule_b): r
        for r in rule_cofail_matrix(flags, ["r1", "r2"]).collect()
    }
    assert len(out) == 3
    assert out[("r1", "r1")].n_cofail == 2
    assert out[("r2", "r2")].n_cofail == 2
    assert out[("r1", "r2")].n_cofail == 1
    assert out[("r1", "r2")].cofail_rate == 0.25


def test_referential_integrity_report_hand_computed(spark):
    """Orphan = non-null child key absent from the parent; NULL keys are
    not orphans (they are not_null's job); rate divides by ALL child
    rows.  Duplicate parent keys must not multiply child counts."""
    from spark_gp_spark.operators.dq import referential_integrity_report

    child = spark.createDataFrame(
        [(1,), (2,), (3,), (None,), (2,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (2,)], "pk long")
    out = referential_integrity_report(
        [
            ("edge_shuffle", child, "fk", parent, "pk", False),
            ("edge_broadcast", child, "fk", parent, "pk", True),
        ]
    ).collect()
    by = {r.fk: r for r in out}
    for name in ("edge_shuffle", "edge_broadcast"):
        r = by[name]
        assert r.child_rows == 5, name          # dup parent key: no fanout
        assert r.n_orphans == 1, name           # only fk=3; NULL not counted
        assert r.orphan_rate == 0.2, name


@settings(max_examples=8, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(-50, 50)),
        min_size=1, max_size=40,
    )
)
def test_robust_anomaly_screen_matches_numpy_rank_definition(spark, data):
    """For ANY grouped integer data: median and MAD equal the rank-
    ceil(N/2) lower order statistics computed directly in numpy, and the
    anomaly count equals the brute-force count under the same strict->
    rule."""
    import math

    import numpy as np

    from spark_gp_spark.operators.dq import robust_anomaly_screen

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in data], "event_type string, value double"
    )
    out = {r["event_type"]: r for r in robust_anomaly_screen(df).collect()}
    groups = {}
    for g, v in data:
        groups.setdefault(g, []).append(float(v))
    for g, vals in groups.items():
        n = len(vals)
        med = sorted(vals)[math.ceil(n / 2) - 1]
        ads = sorted(abs(v - med) for v in vals)
        mad = ads[math.ceil(n / 2) - 1]
        thr = 3.5 * 1.4826 * mad
        n_anom = sum(1 for v in vals if abs(v - med) > thr)
        assert out[g]["median"] == med, (g, vals)
        assert out[g]["mad"] == mad, (g, vals)
        assert out[g]["n_anomalies"] == n_anom, (g, vals)
        assert out[g]["n_events"] == n


@settings(max_examples=8, deadline=None)
@given(
    comp_sizes=st.lists(st.integers(1, 5), min_size=1, max_size=8),
)
def test_component_split_one_split_per_component(spark, comp_sizes):
    """For ANY component structure: every component carries exactly one
    split; singletons never migrate; migrated equals the split
    disagreement flag."""
    from spark_gp_spark.operators.prep import component_split_assign

    rows, nxt = [], 1
    for size in comp_sizes:
        rep = nxt
        for _ in range(size):
            rows.append((nxt, rep, size))
            nxt += 1
    comps = spark.createDataFrame(
        rows, "doc_id long, component long, component_size long"
    )
    out = component_split_assign(comps).collect()
    by_comp = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        assert len({m["split"] for m in members}) == 1, comp
        for m in members:
            assert m["migrated"] == (m["split"] != m["doc_split"])
            if m["component_size"] == 1:
                assert not m["migrated"]


@settings(max_examples=8, deadline=None)
@given(
    flags=st.lists(
        st.tuples(st.booleans(), st.booleans(), st.booleans()),
        min_size=1, max_size=30,
    )
)
def test_rule_cofail_matrix_matches_bruteforce(spark, flags):
    """For ANY boolean flag relation: every matrix cell equals the
    brute-force count of rows failing both rules, the diagonal equals
    per-rule fail counts, and every off-diagonal cell is bounded by its
    two diagonals."""
    from spark_gp_spark.operators.text import rule_cofail_matrix

    df = spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(flags)],
        "doc_id long, r1 boolean, r2 boolean, r3 boolean",
    )
    rules = ["r1", "r2", "r3"]
    out = {
        (r["rule_a"], r["rule_b"]): r["n_cofail"]
        for r in rule_cofail_matrix(df, rules).collect()
    }
    assert len(out) == 6
    vals = {r: [row[i] for row in flags] for i, r in enumerate(rules)}
    for i, ra in enumerate(rules):
        for rb in rules[i:]:
            want = sum(
                1 for a, b in zip(vals[ra], vals[rb]) if not a and not b
            )
            assert out[(ra, rb)] == want, (ra, rb)
            assert out[(ra, rb)] <= min(out[(ra, ra)], out[(rb, rb)])


@settings(max_examples=8, deadline=None)
@given(
    child=st.lists(st.one_of(st.none(), st.integers(0, 9)), min_size=1, max_size=25),
    parent=st.lists(st.integers(0, 9), min_size=0, max_size=10),
)
def test_referential_integrity_matches_set_difference(spark, child, parent):
    """For ANY child/parent key multisets: orphans equal the brute-force
    count of non-null child keys absent from the parent, on both the
    broadcast and shuffle paths."""
    from spark_gp_spark.operators.dq import referential_integrity_report

    cdf = spark.createDataFrame([(v,) for v in child], "fk int")
    pdf = (
        spark.createDataFrame([(v,) for v in parent], "pk int")
        if parent
        else spark.createDataFrame([], "pk int")
    )
    out = {
        r["fk"]: r
        for r in referential_integrity_report(
            [
                ("shuffle", cdf, "fk", pdf, "pk", False),
                ("broadcast", cdf, "fk", pdf, "pk", True),
            ]
        ).collect()
    }
    pset = set(parent)
    want = sum(1 for v in child if v is not None and v not in pset)
    for name in ("shuffle", "broadcast"):
        assert out[name]["n_orphans"] == want
        assert out[name]["child_rows"] == len(child)


def _bruteforce_heavy(docs, n, denom):
    counts = {}
    total = 0
    for toks in docs:
        for i in range(0, max(len(toks) - n, 0) + 1):
            g = " ".join(toks[i : i + n])
            counts[g] = counts.get(g, 0) + 1
            total += 1
    return {
        (g, c, round(c / total, 6))
        for g, c in counts.items()
        if c * denom >= total
    }


def test_heavy_hitter_grams_compress_branch_fires_and_stays_exact(spark):
    """One partition, 12 distinct 2-grams, sketch_k = 4: the Misra–Gries
    compress PROVABLY fires (counters exceed k on the first batch), and
    the verified output still equals the exact thresholded answer — the
    superset guarantee under forced compression."""
    from spark_gp_spark.operators.text import heavy_hitter_grams

    docs = [["x", "y"] * 6] + [[f"t{i}", f"u{i}"] for i in range(11)]
    df = spark.createDataFrame(
        [(" ".join(t),) for t in docs], "text string"
    ).coalesce(1)
    got = {
        (r.gram, r.n_occurrences, r.share)
        for r in heavy_hitter_grams(
            df, n=2, min_share_denom=4, sketch_k=4
        ).collect()
    }
    assert got == _bruteforce_heavy(docs, 2, 4)
    # the planted hitter survives: 6 of the 22 grams (11 from doc0 + 11
    # singleton docs)
    assert ("x y", 6, round(6 / 22, 6)) in got


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=1, max_size=12),
        min_size=1, max_size=20,
    ),
    parts=st.integers(1, 5),
)
def test_heavy_hitter_grams_partition_invariant_equality(spark, docs, parts):
    """For ANY corpus and ANY partitioning, with a sketch small enough
    that compression fires routinely (k = 4), the output equals the
    exact thresholded answer — the Mergeable-Summaries superset property
    as a hard invariant."""
    from spark_gp_spark.operators.text import heavy_hitter_grams

    df = spark.createDataFrame(
        [(" ".join(t),) for t in docs], "text string"
    ).repartition(parts)
    got = {
        (r.gram, r.n_occurrences, r.share)
        for r in heavy_hitter_grams(
            df, n=2, min_share_denom=3, sketch_k=4
        ).collect()
    }
    assert got == _bruteforce_heavy(docs, 2, 3)


def test_volume_trend_anomalies_hand_computed(spark):
    """A flat daily stream has zero residuals everywhere (the centered MA
    of a constant is the constant, even at the edges) -> no anomalies;
    over a NOISY alternating baseline (MAD positive), a tripled day
    flags exactly itself — the leak of the spike into its neighbors'
    moving averages stays under the detrended threshold.  (On a
    perfectly flat baseline MAD collapses to 0 and the screen degrades
    to flagging every nonzero deviation — the documented modified-z
    behavior, exercised by the flat case's inverse.)"""
    import datetime

    from spark_gp_spark.operators.dq import volume_trend_anomalies

    def stream(counts):
        rows = []
        for i, c in enumerate(counts):
            t = datetime.datetime(2024, 3, 1 + i, 12, 0, 0)
            rows += [(t,)] * c
        return spark.createDataFrame(rows, "ts timestamp")

    flat = volume_trend_anomalies(stream([10] * 14)).collect()
    assert len(flat) == 14
    assert not any(r.is_anomaly for r in flat)
    assert all(r.resid == 0.0 for r in flat)

    base = [10, 12] * 7  # alternating noise -> MAD ~ 1
    base[7] = 30         # the planted triple-ingest day
    spiked = volume_trend_anomalies(stream(base)).collect()
    anom = [r for r in spiked if r.is_anomaly]
    assert [str(r.day) for r in anom] == ["2024-03-08"]
    assert anom[0].n_events == 30


def test_volume_trend_total_outage_day_appears_and_flags(spark):
    """A day with ZERO events must still appear (dense calendar spine)
    and flag: the r12 review caught the first cut silently dropping
    empty days from the groupBy output — a full outage passed green."""
    import datetime

    from spark_gp_spark.operators.dq import volume_trend_anomalies

    rows = []
    for i, c in enumerate([10, 12] * 7):
        if 1 + i == 8:
            continue  # 2024-03-08 has NO events at all
        t = datetime.datetime(2024, 3, 1 + i, 12, 0, 0)
        rows += [(t,)] * c
    out = {
        str(r.day): r
        for r in volume_trend_anomalies(
            spark.createDataFrame(rows, "ts timestamp")
        ).collect()
    }
    assert len(out) == 14                       # the empty day is present
    assert out["2024-03-08"].n_events == 0
    assert out["2024-03-08"].is_anomaly
    assert sum(r.is_anomaly for r in out.values()) == 1


def test_embedding_norm_outliers_constant_norm_corpus(spark):
    """sd = 0 (every norm identical — the pre-normalized corpus this
    screen exists to validate): z is defined as 0 and nothing flags,
    instead of NULL/inf division artifacts (r12 review)."""
    from spark_gp_spark.operators.similarity import embedding_norm_outliers

    df = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(6)],  # every norm exactly 5
        "vec_id bigint, embedding array<double>",
    )
    out = embedding_norm_outliers(df).collect()
    assert len(out) == 6
    assert all(r.z == 0.0 for r in out)
    assert all(r.is_outlier is False for r in out)


def test_referential_integrity_empty_inputs(spark):
    """An empty edges list raises (caller error, the dq_report
    convention); an empty child table reports rate 0.0, not a NULL a
    threshold gate would silently pass (r12 review)."""
    import pytest

    from spark_gp_spark.operators.dq import referential_integrity_report

    with pytest.raises(ValueError):
        referential_integrity_report([])

    child = spark.createDataFrame([], "fk long")
    parent = spark.createDataFrame([(1,)], "pk long")
    r = referential_integrity_report(
        [("empty_child", child, "fk", parent, "pk", True)]
    ).collect()[0]
    assert r.child_rows == 0 and r.n_orphans == 0
    assert r.orphan_rate == 0.0


def test_user_concentration_hand_computed(spark):
    """Uniform counts -> gini exactly 0; a hand frame [1, 1, 14] ->
    gini = (2*45 - 4*16)/(3*16) = 0.541667, top-1% = the single top key
    (ceil(0.03) = 1) holding 14/16."""
    from spark_gp_spark.operators.dq import user_concentration_report

    uniform = spark.createDataFrame(
        [(u,) for u in (1, 2, 3, 4) for _ in range(5)], "user_id long"
    )
    r = user_concentration_report(uniform).collect()[0]
    assert r.n_users == 4 and r.n_events == 20
    assert r.gini == 0.0

    skewed = spark.createDataFrame(
        [(1,), (2,)] + [(3,)] * 14, "user_id long"
    )
    r = user_concentration_report(skewed).collect()[0]
    assert r.n_users == 3 and r.n_events == 16
    assert r.gini == round((2 * 45 - 4 * 16) / (3 * 16), 6)
    assert r.top1pct_share == round(14 / 16, 6)
    assert r.top10pct_share == round(14 / 16, 6)


@settings(max_examples=8, deadline=None)
@given(
    counts=st.lists(st.integers(1, 30), min_size=1, max_size=25),
    parts=st.integers(1, 5),
)
def test_user_concentration_matches_numpy(spark, counts, parts):
    """For ANY per-key counts and ANY partitioning, gini and the top
    shares equal the brute-force rank-formula values — the
    exact_global_rank path is bit-equivalent to a plain sorted rank."""
    import math

    from spark_gp_spark.operators.dq import user_concentration_report

    rows = [(k,) for k, c in enumerate(counts) for _ in range(c)]
    df = spark.createDataFrame(rows, "user_id long").repartition(parts)
    r = user_concentration_report(df).collect()[0]
    xs = sorted(counts)
    n, t = len(xs), sum(xs)
    s = sum((i + 1) * x for i, x in enumerate(xs))
    assert r.n_users == n and r.n_events == t
    assert r.gini == round((2.0 * s - (n + 1.0) * t) / (n * float(t)), 6)
    k1, k10 = math.ceil(0.01 * n), math.ceil(0.10 * n)
    assert r.top1pct_share == round(sum(xs[n - k1:]) / float(t), 6)
    assert r.top10pct_share == round(sum(xs[n - k10:]) / float(t), 6)
