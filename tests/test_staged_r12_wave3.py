"""Third wave of round-12-built verbs staged for the round-13 window:
the header-vs-detail reconciliation audit (operators/dq.py:
reconciliation_report), the Benford first-digit screen (operators/dq.py:
benford_first_digit_report), the language-tag confusion matrix
(operators/text.py:lang_mislabel_matrix), and the dedup survivor-bias
report (queries.py:dedup_survivor_bias, composing neardup_components +
text_stats + the canonical quality-max rule).

Layers: semantics on hand-built frames (expected classes/values computed
by hand — including the exact integer micro-unit arithmetic and the
tight-boundary inclusivity of the reconciliation classes, and the 9-row
Benford spine emitting zero-mass digits), then DuckDB parity at sf0.001
via test_staged_r12_verbs.py::test_staged_r12_verbs_duckdb_parity."""

from pyspark.sql import functions as F


def _recon_units():
    child_units = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
        * (100 + F.round(F.col("l_tax") * 100, 0).cast("long"))
    )
    total_units = F.round(F.col("o_totalprice") * 1000000, 0).cast("long")
    return total_units, child_units


def test_reconciliation_classes_hand_computed(spark):
    """Four classes on six hand-built orders: exact match and the
    inclusive tight boundary (rel == 0.01) both land in n_within_tight;
    a detail-less order is n_missing and contributes NO rel delta; the
    discount/tax product reconciles exactly in integer micro-units
    (100.00 × 0.9 × 1.1 = 99.00)."""
    from spark_gp_spark.operators.dq import reconciliation_report

    orders = spark.createDataFrame(
        [
            (1, 100.00, "A"),  # exact match -> tight, rel 0
            (2, 100.00, "A"),  # recomputed 110 -> rel 0.10 -> loose
            (3, 100.00, "B"),  # recomputed 200 -> rel 1.0 -> beyond
            (4, 50.00, "B"),   # no lineitems -> missing
            (5, 100.00, "C"),  # recomputed 101 -> rel 0.01 -> tight (<=)
            (6, 99.00, "C"),   # 100 * (1-0.10) * (1+0.10) = 99 exact
        ],
        "o_orderkey bigint, o_totalprice double, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [
            (1, 100.00, 0.0, 0.0),
            (2, 110.00, 0.0, 0.0),
            (3, 200.00, 0.0, 0.0),
            (5, 101.00, 0.0, 0.0),
            (6, 100.00, 0.10, 0.10),
        ],
        "l_orderkey bigint, l_extendedprice double, l_discount double,"
        " l_tax double",
    )
    total_units, child_units = _recon_units()
    out = {
        r["o_orderpriority"]: r
        for r in reconciliation_report(
            orders, li,
            parent_key="o_orderkey", child_key="l_orderkey",
            total_units=total_units, child_units=child_units,
            group_col="o_orderpriority",
        ).collect()
    }
    a, b, c = out["A"], out["B"], out["C"]
    assert (a["n_rows"], a["n_missing"], a["n_within_tight"],
            a["n_within_loose"], a["n_beyond"]) == (2, 0, 1, 1, 0)
    assert a["avg_rel_delta"] == 0.05 and a["max_rel_delta"] == 0.1
    assert (b["n_rows"], b["n_missing"], b["n_beyond"]) == (2, 1, 1)
    # the missing order contributes no rel: avg over {1.0} not {1.0, ...}
    assert b["avg_rel_delta"] == 1.0 and b["max_rel_delta"] == 1.0
    assert (c["n_within_tight"], c["n_within_loose"]) == (2, 0)
    assert c["avg_rel_delta"] == 0.005 and c["max_rel_delta"] == 0.01


def test_reconciliation_detail_sum_is_exact_across_rows(spark):
    """Many 2-decimal detail rows whose DOUBLE sum would carry binary
    residue (0.1-cent-class values) reconcile exactly in integer cents:
    1000 × 0.07 = 70.00 with zero delta."""
    from spark_gp_spark.operators.dq import reconciliation_report

    orders = spark.createDataFrame(
        [(1, 70.00, "A")],
        "o_orderkey bigint, o_totalprice double, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(1, 0.07, 0.0, 0.0)] * 1000,
        "l_orderkey bigint, l_extendedprice double, l_discount double,"
        " l_tax double",
    )
    total_units, child_units = _recon_units()
    row = reconciliation_report(
        orders, li,
        parent_key="o_orderkey", child_key="l_orderkey",
        total_units=total_units, child_units=child_units,
        group_col="o_orderpriority",
    ).collect()[0]
    assert row["n_within_tight"] == 1 and row["max_rel_delta"] == 0.0


def test_benford_spine_and_flags_hand_computed(spark):
    """Amounts {1.5, 19, 25, 0.5, 999.99, 1e6}: 0.5 is out of scope
    (< 1), so total = 5 with digits 1×3, 2×1, 9×1.  Digit 2's deviation
    0.2 − 0.176091 = 0.023909 sits BELOW the 0.04 threshold (unflagged);
    digit 1 (0.29897) and every zero-mass digit 3-8 (exp > 0.04) flag.
    The spine emits all 9 digits even though six have no rows."""
    from spark_gp_spark.operators.dq import benford_first_digit_report

    df = spark.createDataFrame(
        [(1.5,), (19.0,), (25.0,), (0.5,), (999.99,), (1000000.0,)],
        "amt double",
    )
    out = {r["digit"]: r for r in benford_first_digit_report(df, "amt").collect()}
    assert sorted(out) == list(range(1, 10))
    assert out[1]["n_rows"] == 3 and out[1]["obs_share"] == 0.6
    assert out[1]["deviation"] == 0.29897 and out[1]["flagged"] == 1
    assert out[2]["n_rows"] == 1 and out[2]["deviation"] == 0.023909
    assert out[2]["flagged"] == 0
    assert out[9]["n_rows"] == 1 and out[9]["flagged"] == 1
    for d in range(3, 9):
        assert out[d]["n_rows"] == 0 and out[d]["obs_share"] == 0.0
        assert out[d]["flagged"] == 1  # exp_share > 0.04 for d <= 8
    assert abs(sum(r["exp_share"] for r in out.values()) - 1.0) < 1e-5


def test_lang_mislabel_matrix_hand_computed(spark):
    """Declared-vs-predicted cells: an English-stopword doc agrees, a
    German-stopword doc declared 'en' lands in the (en, de) cell, a
    no-stopword doc falls to 'und'; shares are per-DECLARED-lang."""
    from spark_gp_spark.operators.text import lang_mislabel_matrix

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog", "en"),
            (2, "der hund ist und bleibt", "en"),
            (3, "zzz qqq xxx", "de"),
            (4, "the fish and the chips", "en"),
        ],
        "doc_id bigint, text string, lang string",
    )
    out = {
        (r["lang"], r["lang_pred"]): r
        for r in lang_mislabel_matrix(df).collect()
    }
    assert set(out) == {("en", "en"), ("en", "de"), ("de", "und")}
    en_en = out[("en", "en")]
    assert en_en["n_docs"] == 2 and en_en["agree"] == 1
    assert en_en["share_of_lang"] == 0.666667
    assert out[("en", "de")]["n_docs"] == 1
    assert out[("en", "de")]["agree"] == 0
    assert out[("en", "de")]["share_of_lang"] == 0.333333
    assert out[("de", "und")]["share_of_lang"] == 1.0


def test_dedup_survivor_bias_keeps_quality_max(spark, tmp_path):
    """A planted verbatim near-dup pair in one source: the survivor is
    the quality-max member (tie -> lowest doc_id), the twin is removed;
    a singleton source reports zero removals with NULL removed-side
    stats.  Expected kept/removed split derived from text_stats on the
    same frame, not re-asserted by hand."""
    from spark_gp_spark.queries import dedup_survivor_bias

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to the green hills beyond the river"
    )
    docs = [
        (1, base, "en", "s1", len(base)),
        (2, base, "en", "s1", len(base)),  # verbatim twin -> removed
        (3, "completely different words entirely unrelated content here",
         "en", "s2", 57),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    ).write.parquet(f"{sf}/documents.parquet")
    out = {r["source"]: r for r in dedup_survivor_bias(spark, sf).collect()}
    s1, s2 = out["s1"], out["s2"]
    assert (s1["n_docs"], s1["n_removed"]) == (2, 1)
    assert s1["removed_rate"] == 0.5
    # verbatim twins tie on quality -> doc 1 kept, stats equal both sides
    assert s1["avg_quality_kept"] == s1["avg_quality_removed"]
    assert s1["avg_chars_kept"] == float(len(base))
    assert (s2["n_docs"], s2["n_removed"]) == (1, 0)
    assert s2["avg_quality_removed"] is None
    assert s2["avg_chars_removed"] is None


def test_storage_layout_report_measures_written_files(spark, tmp_path):
    """Controlled counts through the layout-controlled writer: 300 rows
    split at cap 128 into {128, 128, 44}, exactly-one-cap 128 into {128},
    an under-cap 50 into {50}; small_files flags the partitions whose
    smallest file is under half the cap (44 and 50, but not 128)."""
    from spark_gp_spark.sources.sinks import (
        storage_layout_report,
        write_layout_controlled,
    )

    rows = (
        [(i, "a") for i in range(300)]
        + [(i, "b") for i in range(128)]
        + [(i, "c") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "event_id bigint, event_type string")
    path = str(tmp_path / "layout")
    write_layout_controlled(df, path, "event_type", 128)
    out = {
        r["event_type"]: r
        for r in storage_layout_report(spark, path, "event_type", 128).collect()
    }
    a, b, c = out["a"], out["b"], out["c"]
    assert (a["n_rows"], a["n_files"]) == (300, 3)
    assert (a["min_file_rows"], a["max_file_rows"]) == (44, 128)
    assert a["avg_file_rows"] == 100.0 and a["small_files"] == 1
    assert (b["n_files"], b["min_file_rows"], b["small_files"]) == (1, 128, 0)
    assert (c["n_files"], c["min_file_rows"], c["small_files"]) == (1, 50, 1)


def test_split_balance_report_zero_cells_and_gaps_hand_computed(spark):
    """11 docs over strata {a: 9, b: 2}, splits {train: 10, val: 1}, with
    b entirely absent from val: the zero cell APPEARS (n_docs 0,
    split_share 0, gap = −corpus_share, flagged), val's pure-a cell flags
    (+0.181818), and both train gaps (∓0.018182) sit just under the 2pp
    tolerance — unflagged."""
    from spark_gp_spark.operators.prep import split_balance_report

    rows = (
        [("train", "a")] * 8
        + [("train", "b")] * 2
        + [("val", "a")]
    )
    df = spark.createDataFrame(rows, "split string, lang string")
    out = {
        (r["split"], r["lang"]): r
        for r in split_balance_report(df).collect()
    }
    assert set(out) == {("train", "a"), ("train", "b"), ("val", "a"),
                        ("val", "b")}
    zero = out[("val", "b")]
    assert zero["n_docs"] == 0 and zero["split_share"] == 0.0
    assert zero["gap"] == -0.181818 and zero["flagged"] == 1
    assert out[("val", "a")]["gap"] == 0.181818
    assert out[("val", "a")]["flagged"] == 1
    assert out[("train", "a")]["gap"] == -0.018182
    assert out[("train", "a")]["flagged"] == 0
    assert out[("train", "b")]["gap"] == 0.018182
    assert out[("train", "b")]["flagged"] == 0
    assert out[("train", "a")]["corpus_share"] == 0.818182


def test_csv_ingest_quality_classes_hand_planted(spark, tmp_path):
    """Five hand-built orders hitting each planted modulus exactly once
    (11 -> short row, 5 -> bad 'N/A' price, 13 -> empty price field) plus
    two clean rows: the audit reports every class with the right count
    and rate, proving the writer's malformation classes and the reader's
    PERMISSIVE classification line up end-to-end at unit scale."""
    from spark_gp_spark.queries import csv_ingest_quality

    rows = [
        (11, "O", 10.5),   # 11 % 307 == 11 -> short_row
        (5, "F", 20.0),    # 5 % 211 == 5  -> bad_value
        (13, "P", 30.0),   # 13 % 401 == 13 -> null_value
        (1, "O", 40.0),
        (2, "F", 50.0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).write.parquet(f"{sf}/orders.parquet")
    out = {r["ingest_class"]: r for r in csv_ingest_quality(spark, sf).collect()}
    assert out["short_row"]["n_rows"] == 1
    assert out["bad_value"]["n_rows"] == 1
    assert out["null_value"]["n_rows"] == 1
    assert out["clean"]["n_rows"] == 2 and out["clean"]["rate"] == 0.4


def test_jsonl_ingest_quality_classes_hand_planted(spark, tmp_path):
    """One order per planted modulus (7 -> dropped closing brace, 3 ->
    "oops" in the double field, 17 -> status key omitted, 29 -> explicit
    JSON null) plus two clean: all five classes appear with the right
    counts — including the missing-field vs explicit-null distinction
    JSON preserves and CSV cannot."""
    from spark_gp_spark.queries import jsonl_ingest_quality

    rows = [
        (7, "O", 10.5),    # 7 % 313 == 7   -> syntax_error
        (3, "F", 20.0),    # 3 % 199 == 3   -> type_mismatch
        (17, "P", 30.0),   # 17 % 353 == 17 -> missing_field
        (29, "O", 40.0),   # 29 % 433 == 29 -> explicit_null
        (1, "F", 50.0),
        (2, "O", 60.0),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).write.parquet(f"{sf}/orders.parquet")
    out = {
        r["ingest_class"]: r for r in jsonl_ingest_quality(spark, sf).collect()
    }
    assert out["syntax_error"]["n_rows"] == 1
    assert out["type_mismatch"]["n_rows"] == 1
    assert out["missing_field"]["n_rows"] == 1
    assert out["explicit_null"]["n_rows"] == 1
    assert out["clean"]["n_rows"] == 2
    assert abs(sum(r["rate"] for r in out.values()) - 1.0) < 1e-5


def test_multimodal_resize_audit_byte_exact_tails(spark, tmp_path):
    """A 2-byte payload pads to 256 with a '0'*16 hex tail; a 300-byte
    payload truncates with a tail equal to the python-computed hex of
    bytes 249-256 — byte-exact resize semantics, not just lengths."""
    from spark_gp_spark.queries import multimodal_resize_audit

    short, long_ = "ab", "x" * 300
    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, short, "en", "s", 2), (2, long_, "en", "s", 300)],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(f"{sf}/documents.parquet")
    out = {r["doc_id"]: r for r in multimodal_resize_audit(spark, sf).collect()}
    assert out[1]["action"] == "padded" and out[1]["new_bytes"] == 256
    assert out[1]["tail_hex"] == "0" * 16
    assert out[2]["action"] == "truncated" and out[2]["orig_bytes"] == 300
    assert out[2]["tail_hex"] == long_.encode()[:256].hex()[-16:]


def test_avg_exactness_fixed_verbs_parity_pinned(spark):
    """Pinning test for the r13 exact-integer fix of the
    round(avg(double)) fold-order class (VERDICT r12 #1): the three
    verbs whose avg_* columns averaged arbitrary doubles
    (dedup_survivor_bias — the reproduced flake — lang_mislabel_report,
    order_reconciliation_report) now quantize per-row to 1e-6 integer
    units, so their DuckDB parity must hold under ANY partition fold
    order.  Runs the side-by-side FIVE times while forcing different
    fold orders via spark.sql.shuffle.partitions {1, 2, 7, 17, 32}; a
    regression to double sums flaps on a boundary cell and fails here
    rather than in a 1-in-3 multi-file run."""
    from spark_gp_spark.queries import ORACLE_SQL, QUERIES

    sf = "/root/testdata/sf0.001"
    con = _mk_con(sf)
    verbs = [
        "dedup_survivor_bias",
        "lang_mislabel_report",
        "order_reconciliation_report",
    ]
    oracle = {
        name: con.execute(ORACLE_SQL[name]).fetchdf()
        for name in verbs
    }
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "2", "7", "17", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in verbs:
                got = QUERIES[name](spark, sf).toPandas()
                _pin_parity(got, oracle[name], (name, parts))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def _mk_con(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    for t in ("documents", "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _pin_parity(got, want, ctx):
    cols = sorted(got.columns)
    assert cols == sorted(want.columns), ctx
    g = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
    w = want[cols].astype(str).sort_values(cols).reset_index(drop=True)
    assert len(g) == len(w) and len(g) > 0, ctx
    for c in cols:
        assert (g[c].values == w[c].values).all(), (ctx, c)

