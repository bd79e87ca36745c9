"""Unit tests for numeric utilities (integrator / logdet+inv / L-BFGS-B) and
the query registry contract.

Mirrors IntegratorTest.scala:11-26 with a fixed MC seed (the reference is
seedless and flaky-by-design; we pin the seed per FIXTURES.md F2).
"""

import numpy as np

from spark_gp_spark.util import expected_of_function_of_normal, logdet_and_inv
from spark_gp_spark.util.linalg import solve_posdef


def test_integrator_matches_monte_carlo():
    mean, variance = 0.5, 3.0

    def sigmoid(x):
        return 1.0 / (1.0 + np.exp(-x))

    quad = expected_of_function_of_normal(mean, variance, sigmoid, n=100)

    rng = np.random.default_rng(7)
    samples = sigmoid(rng.normal(mean, np.sqrt(variance), size=100_000))
    mc = samples.mean()
    mc_sd = samples.std() / np.sqrt(len(samples))
    assert abs(mc - quad) < 3 * mc_sd


def test_logdet_and_inv_posdef():
    rng = np.random.default_rng(0)
    A = rng.normal(size=(20, 20))
    K = A @ A.T + 20 * np.eye(20)
    sign, logdet, inv = logdet_and_inv(K)
    assert sign == 1.0
    expected_sign, expected_logdet = np.linalg.slogdet(K)
    assert abs(logdet - expected_logdet) < 1e-8
    assert np.allclose(inv @ K, np.eye(20), atol=1e-8)


def test_logdet_and_inv_general_matrix():
    rng = np.random.default_rng(1)
    A = rng.normal(size=(10, 10))  # not symmetric
    sign, logdet, inv = logdet_and_inv(A, assume_posdef=False)
    expected_sign, expected_logdet = np.linalg.slogdet(A)
    assert sign == expected_sign
    assert abs(logdet - expected_logdet) < 1e-8
    assert np.allclose(inv @ A, np.eye(10), atol=1e-6)


def test_solve_posdef_raises_actionable_error():
    import pytest

    from spark_gp_spark.util.linalg import NotPositiveDefiniteException

    bad = np.array([[1.0, 2.0], [2.0, 1.0]])  # eigenvalues 3, -1
    with pytest.raises(NotPositiveDefiniteException, match="sigma2"):
        solve_posdef(bad, np.ones(2))


def test_lbfgsb_bounded_quadratic():
    from spark_gp_spark.util.lbfgsb import minimize_lbfgsb

    # min (x-3)^2 + (y+2)^2 s.t. 0<=x<=2, 0<=y<=5 → (2, 0)
    def f(v):
        return float((v[0] - 3) ** 2 + (v[1] + 2) ** 2), np.array(
            [2 * (v[0] - 3), 2 * (v[1] + 2)]
        )

    x = minimize_lbfgsb(f, np.array([1.0, 1.0]), np.array([0.0, 0.0]), np.array([2.0, 5.0]))
    assert np.allclose(x, [2.0, 0.0], atol=1e-5)


def test_lbfgsb_rosenbrock():
    from spark_gp_spark.util.lbfgsb import minimize_lbfgsb

    def rosen(v):
        x, y = v
        f = (1 - x) ** 2 + 100 * (y - x * x) ** 2
        g = np.array([-2 * (1 - x) - 400 * x * (y - x * x), 200 * (y - x * x)])
        return float(f), g

    x = minimize_lbfgsb(
        rosen,
        np.array([-1.2, 1.0]),
        np.array([-2.0, -2.0]),
        np.array([2.0, 2.0]),
        max_iter=500,
        tol=1e-10,
    )
    assert np.allclose(x, [1.0, 1.0], atol=1e-4)


def test_bench_compact_line_ladder():
    """The driver tails 2000 chars of bench stdout: the compact line must
    always fit the budget, preferring coarser rounding, then shedding the
    cheapest per-query entries (with an omitted count) before going
    mapless — and the real r8-sized suite must keep its full map."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    from bench import compact_stdout_line

    def mk(n):
        t = {f"query_name_number_{i:03d}": 0.01 * i + 0.37 for i in range(n)}
        return {"metric": "m", "value": 1.0, "unit": "sec",
                "queries": {k: round(v, 2) for k, v in t.items()},
                "sf": 0.1, "value_normalized": 1.0,
                "normalization": {"jvm_factor": 1.5219, "pandas_factor": 0.9632},
                "full": "BENCH_local_r8.json"}, t

    # the REAL current suite (names + magnitudes from the latest committed
    # payload): as of r10's 84-entry list the full map no longer fits the
    # driver's 2000-char stdout tail, and shedding the cheapest entries is
    # the designed behavior — the official full per-query map still lands
    # in the committed BENCH_local file (the driver's own run overwrites
    # it).  Invariants: the line fits and parses, the expensive entries
    # all survive, only a cheap tail is shed, and the omitted count is
    # stated.
    import glob
    import re

    latest = max(
        (
            p
            for p in glob.glob("/root/repo/BENCH_local_r*.json")
            if re.search(r"_r(\d+)\.json$", p)  # skip e.g. _r13_baseline.json
        ),
        key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1)),
    )
    real = json.load(open(latest))["queries"]
    compact = mk(0)[0]
    compact["queries"] = {k: round(v, 2) for k, v in real.items()}
    line = compact_stdout_line(compact, real)
    parsed = json.loads(line)
    assert len(line) <= 1985
    kept = parsed["queries"]
    n_omitted = parsed.get("queries_omitted", 0)
    assert len(kept) + n_omitted == len(real)
    assert len(kept) >= min(len(real), 50)  # never sheds into the meat
    top10 = sorted(real, key=real.get, reverse=True)[:10]
    assert all(k in kept for k in top10)
    if n_omitted:  # shed entries are cheaper than kept ones, up to the
        # rounding grain the ladder sorts at (ties can cross within 0.1)
        assert max(v for k, v in real.items() if k not in kept) <= 0.1 + min(
            real[k] for k in kept
        )

    # a much larger suite sheds cheapest-first but keeps the expensive tail
    compact, t = mk(300)
    line = compact_stdout_line(compact, t)
    parsed = json.loads(line)
    assert len(line) <= 1985
    kept = parsed["queries"]
    assert kept and parsed["queries_omitted"] == 300 - len(kept)
    assert max(t, key=t.get) in kept  # most expensive survives
    assert min(t, key=t.get) not in kept  # cheapest shed first

    # pathological budget: sheds down to a handful of expensive entries
    # (or mapless at the limit) but always fits and parses
    compact, t = mk(73)
    line = compact_stdout_line(compact, t, budget=300)
    parsed = json.loads(line)
    assert len(line) <= 300
    assert len(parsed.get("queries", {})) < 10
    if parsed.get("queries"):
        assert max(t, key=t.get) in parsed["queries"]


#: The committed registry order: the round driver records official
#: correctness rows for the first 50 entries, so reordering is a contract
#: change, never a side effect.
REGISTRY_ORDER = (
    "asof_nearest_view", "paragraph_dedup_stats", "source_ks_drift",
    "pii_scan_report", "stratified_split", "embedding_norm_outliers",
    "leakage_safe_split", "event_anomaly_screen", "rule_cofail_matrix",
    "referential_integrity_report", "streaming_quality_gate",
    "heavy_hitter_grams", "event_volume_trend", "user_concentration_report",
    "order_reconciliation_report", "benford_screen", "lang_mislabel_report",
    "dedup_survivor_bias", "storage_layout_report", "split_balance_report",
    "csv_ingest_quality", "jsonl_ingest_quality", "multimodal_resize_audit",
    "event_pair_interval_join", "user_status_history", "event_rolling_24h",
    "session_stats", "event_window_agg", "event_props_stats",
    "event_value_percentiles", "event_distinct_users", "doc_repetition",
    "dup_ngram_fraction", "embedding_label_centroids", "embedding_quantize",
    "top_docs_per_lang", "doc_logprob", "perplexity_buckets",
    "embedding_dim_stats", "embedding_whiten", "embedding_drift", "dsir_select",
    "streaming_embedding_drift", "streaming_stateful_sessions",
    "streaming_static_enrich", "streaming_sessions", "streaming_window_counts",
    "q1_pricing_summary", "revenue_by_nation", "part_type_revenue",
    "customer_revenue_quartiles", "order_segment_revenue_salted",
    "bucketed_join_roundtrip", "jsonl_roundtrip", "orc_roundtrip",
    "csv_roundtrip", "streaming_window_counts_append",
    "streaming_sessions_append", "event_gap_fill", "language_distribution",
    "ann_recall_report_auto", "ngram_novelty", "dedup_cluster_size_histogram",
    "price_exact_quantiles", "streaming_asof_enrich", "minhash_estimate_report",
    "metadata_integrity_report", "event_value_quantiles",
    "hard_negatives_planted", "ivf_topk_auto", "ivfadc_topk_auto",
    "pq_topk_auto", "opq_topk_auto", "lsh_topk_multiprobe", "event_zorder_key",
    "orders_dq_report", "orders_profile", "viewers_without_purchase",
    "event_type_pivot", "doc_fingerprints", "tfidf_top_terms", "token_budget",
    "doc_chunks", "event_group_sample", "neardup_incremental",
    "token_pmi_pairs", "contamination_check", "domain_mix_sample",
    "tfidf_cosine_pairs", "split_assign", "pack_batches", "ngram_jaccard_pairs",
    "neardup_components", "neardup_components_star", "neardup_canonical",
    "text_stats", "bm25_topk", "event_status_asof", "minhash_signatures",
    "minhash_lsh_pairs", "simhash_signatures", "simhash_pairs", "lsh_topk",
    "embedding_neardup_pairs", "asof_purchases_views",
    "asof_purchases_views_tolerance", "asof_next_view", "containment_screen",
    "editdist_screen", "corpus_diff", "incremental_refresh",
    "streaming_trending_terms", "streaming_neardup_join", "dedup_normalized",
    "split_leakage", "dedup_incremental", "corpus_prep_gpc_filter",
    "gpc_embeddings", "gpc_uncertainty_sample", "streaming_neardup",
    "streaming_neardup_event_ttl", "streaming_neardup_expiry",
    "streaming_embedding_neardup", "opq_topk", "gopher_quality_rules",
    "quality_rule_rates", "jl_project", "temperature_mix", "cosine_topk",
    "dedup_span_clean", "repetition_clean", "shard_export_manifest",
    "streaming_shard_export", "pack_sequences", "token_budget_fill",
    "revenue_rollup", "returnflag_status_cube", "user_retention_cohorts",
    "session_funnel", "event_value_histogram", "event_distinct_users_salted",
    "vocab_coverage_report", "streaming_ingest_dedup", "multimodal_media_dedup",
    "exact_dedup_planted", "dedup_keep_first_planted", "redact_pii_planted",
    "ann_recall_report", "neardup_threshold_sweep", "bpe_merge_candidates",
    "source_overlap_matrix", "band_skew_report", "quality_calibration_bins",
    "vocab_growth_curve", "streaming_vocab_drift",
    "streaming_neardup_join_bounded", "corpus_prep_pipeline_v2", "ivf_topk",
    "pq_encode", "pq_topk", "ivfadc_topk", "ivfadc_topk_persisted",
    "ivfadc_topk_codes", "ivfadc_topk_filtered", "streaming_ann_ingest",
    "semdedup_keep", "cluster_balance_sample", "cluster_exemplars",
    "streaming_token_budget", "corpus_prep_pipeline", "orders_upsert_merge",
    "streaming_dedup", "streaming_interval_join", "streaming_upsert",
    "multimodal_binary_stats", "multimodal_decode_features",
    "multimodal_frame_sample", "gpr_lineitem",
)


def test_registry_contract():
    from spark_gp_spark.queries import ORACLE_SQL, QUERIES

    assert tuple(QUERIES) == REGISTRY_ORDER
    assert set(ORACLE_SQL) <= set(QUERIES)
    for name, sql in ORACLE_SQL.items():
        assert isinstance(sql, str), name


def test_registry_import_trains_no_ann_artifact():
    """Importing the registry must not train IVF/PQ/OPQ artifacts: the
    trainers are patched to raise a BaseException (which the oracle
    builders' rows-only fallback cannot swallow) before the import."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from spark_gp_spark.operators import ivf, pq

class Trained(BaseException):
    pass

def refuse(*args, **kwargs):
    raise Trained("ANN artifact trained at import")

for mod, names in (
    (ivf, ("_cached_artifact", "_local_kmeans", "train_centroids_from_parquet")),
    (pq, ("train_pq_codebooks_from_parquet",
          "train_pq_codebooks_residual_from_parquet",
          "train_opq_from_parquet", "read_query_vectors")),
):
    for name in names:
        setattr(mod, name, refuse)
import spark_gp_spark.queries
"""
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
