"""Cache lifetime (operators/cache.py): a relation an operator persists for
its lazy result lives until the outermost ``cache_scope()`` exits — another
operator built in the same scope does not evict it, an inner scope's exit
releases nothing, and each thread sees only the scope it opened."""

import contextvars
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_gp_spark.operators import dedup as D
from spark_gp_spark.operators import dq
from spark_gp_spark.operators import prep as P
from spark_gp_spark.operators import selection
from spark_gp_spark.operators import similarity as S
from spark_gp_spark.operators import text as T
from spark_gp_spark.operators.cache import cache_scope
from spark_gp_spark.queries import load_table


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _outermost(fn, *args):
    """Run ``fn`` outside the per-test scope conftest opens, so a scope it
    opens is the outermost one."""
    return contextvars.Context().run(fn, *args)


def _semdedup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = np.asarray(
        [r["embedding"] for r in emb.orderBy("vec_id").limit(8).collect()],
        dtype=np.float64,
    )
    return selection.semdedup(emb, cents, tau=0.35)


def _table(name, op):
    return lambda spark, sf_dir: op(load_table(spark, sf_dir, name))


#: one operator per relation kind that persists for a lazy result
OPERATORS = {
    "ngram_jaccard_pairs": _table("documents", D.ngram_jaccard_pairs),
    "dedup_span_clean": _table("documents", D.dedup_span_clean),
    "semdedup": _semdedup,
    "heavy_hitter_grams": _table("documents", T.heavy_hitter_grams),
    "source_ks_drift": _table("documents", dq.source_ks_drift),
    "robust_anomaly_screen": _table("events", dq.robust_anomaly_screen),
    "volume_trend_anomalies": _table("events", dq.volume_trend_anomalies),
    "user_concentration_report": _table("events", dq.user_concentration_report),
    "benford_first_digit_report": _table(
        "orders", lambda df: dq.benford_first_digit_report(df, "o_totalprice")
    ),
    "embedding_norm_outliers": _table("embeddings", S.embedding_norm_outliers),
    "token_budget_fill": _table(
        "documents", lambda df: P.token_budget_fill(df, budgets=500)
    ),
    "split_leakage_check": _table("documents", P.split_leakage_check),
    "split_balance_report": _table(
        "documents",
        lambda df: P.split_balance_report(df.withColumn("split", P.split_expr())),
    ),
}


@pytest.mark.parametrize("name", list(OPERATORS))
def test_outermost_scope_exit_releases_operator_caches(spark, sf_dir, name):
    cm = _cache_manager(spark)
    # earlier tests' session/module fixtures hold unscoped caches
    spark.catalog.clearCache()

    def run():
        with cache_scope():
            with cache_scope():
                OPERATORS[name](spark, sf_dir).collect()
            assert not cm.isEmpty(), "an inner scope's exit released the caches"
        assert cm.isEmpty(), "the outermost scope's exit left caches behind"

    _outermost(run)


def test_lazy_result_keeps_its_shingles_while_another_operator_builds(
    spark, sf_dir
):
    docs = load_table(spark, sf_dir, "documents")
    near = docs.filter(F.col("doc_id") % 2 == 0)
    other = docs.filter(F.col("doc_id") % 2 == 1)

    def solo():
        with cache_scope():
            return sorted(D.ngram_jaccard_pairs(near).collect())

    expected = _outermost(solo)
    assert expected

    first = D.ngram_jaccard_pairs(near)
    T.tfidf_cosine_pairs(other)
    shingles = D._staged_shingles(near, "text", "doc_id", 3)
    assert _cache_manager(spark).lookupCachedData(shingles._jdf).isDefined()
    assert sorted(first.collect()) == expected


def test_threads_on_one_session_use_their_own_scopes(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "split", P.split_expr()
    )
    inputs = [docs.filter(F.col("doc_id") % 2 == k) for k in (0, 1)]

    def run(df):
        with cache_scope():
            return sorted(P.split_balance_report(df).collect())

    serial = [_outermost(run, df) for df in inputs]
    with ThreadPoolExecutor(max_workers=2) as pool:
        futures = [pool.submit(run, df) for df in inputs]
        threaded = [f.result(timeout=600) for f in futures]
    assert threaded == serial
    assert serial[0] != serial[1]
