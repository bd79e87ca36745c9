"""Training-data SELECTION operators: semantic dedup and importance resampling.

Two published corpus-selection techniques the reference has no counterpart
for (its surface is the GP estimator family), re-expressed Spark-first for
the 100 TB training-data pipeline this engine targets:

- ``semdedup``: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — cluster the
  embedding corpus with a coarse k-means quantizer, then drop within-cluster
  semantic duplicates (cosine >= tau to an already-kept item).  All-pairs
  never appears: the only join is a self equi-join on the cluster id, so
  candidate count is sum of squared cluster sizes, not N².
- ``dsir_doc_weights``: DSIR (Xie et al. 2023, arXiv:2302.03169) — hashed
  n-gram importance weights log p_target(x)/p_raw(x) under bag-of-ngrams
  multinomials, the standard cheap "select raw web data that looks like the
  target distribution" scorer.  The per-bucket log-ratio table is tiny
  (``buckets`` rows) and broadcast; the corpus-side work is one tokenize +
  explode + broadcast-join + per-doc sum — linear, two passes, no
  corpus-sized shuffle other than the final per-doc aggregation.

Both use only engine-portable primitives (the md5 hash family from
operators/hashing.py, the shared deterministic k-means from operators/ivf.py)
so the DuckDB oracle replays them bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import persist
from .hashing import h32
from .ivf import _sq_dists
from .similarity import norm, paired_cosine
from .text import tokens

def _assigned_with_order(
    emb: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, norm, cell, ord): nearest centroid per row plus the
    SemDeDup keep-priority order within the cell — farthest-from-centroid
    first (the paper keeps the item with LOWEST similarity to the centroid),
    ties broken by id.  One shuffle (the window by cell)."""
    dotted = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        _sq_dists(F.col(vec_col).cast("array<double>"), centroids).alias("_d"),
    ).select(
        "_id",
        "_v",
        norm(F.col("_v")).alias("_n"),
        F.array_position(F.col("_d"), F.array_min(F.col("_d"))).cast("int").alias("cell"),
        F.array_min(F.col("_d")).alias("_dist"),
    )
    w = Window.partitionBy("cell").orderBy(F.desc("_dist"), F.asc("_id"))
    return dotted.withColumn("ord", F.row_number().over(w)).drop("_dist")


def semdedup(
    emb: DataFrame,
    centroids: np.ndarray,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup keep/drop decision per vector.

    Output: (``id_col``, cell, max_prior_cosine, keep) — one row per input
    row.  ``max_prior_cosine`` is the max cosine (rounded to 6 dp, the
    engine-portable comparison grain) between this vector and any
    HIGHER-PRIORITY vector of the same cluster (NULL when none exists);
    ``keep`` is true iff that max is NULL or < ``tau``.  Priority is
    farthest-from-centroid first, so the survivor of a duplicate group is
    the cluster-edge example the paper argues is the most informative.

    Scale shape: the quantizer is trained once on a bounded sample
    (operators/ivf.py trainers — never the corpus); assignment is a codegen
    column expression; the ONLY join is a self equi-join on ``cell`` whose
    candidate count is Σ|cell|² — at 100 TB you size the centroid count so
    cells hold ~10⁴ rows each, exactly like the paper's 100k-cluster runs.
    The window and the join share the hash-partitioning on ``cell``.  The
    assigned relation feeds both join sides, so it is persisted — without
    it the Arrow-batched distance UDF and the cell window would run twice;
    at past-cluster-memory scale swap the persist for a checkpoint to
    cell-partitioned parquet.
    """
    a = persist(_assigned_with_order(emb, centroids, id_col, vec_col))
    left = a.select(
        F.col("_id"), F.col("_v"), F.col("_n"), F.col("cell"), F.col("ord")
    )
    right = a.select(
        F.col("_id").alias("_jid"),
        F.col("_v").alias("_jv"),
        F.col("_n").alias("_jn"),
        F.col("cell"),
        F.col("ord").alias("_jord"),
    )
    prior = (
        left.join(right, on="cell")
        .filter(F.col("_jord") < F.col("ord"))
        .select(
            "_id",
            F.round(
                paired_cosine(F.col("_v"), F.col("_jv"), F.col("_n"), F.col("_jn")), 6
            ).alias("_cos"),
        )
        .groupBy("_id")
        .agg(F.max("_cos").alias("max_prior_cosine"))
    )
    return (
        left.join(prior, on="_id", how="left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            "max_prior_cosine",
            (
                F.col("max_prior_cosine").isNull()
                | (F.col("max_prior_cosine") < F.lit(tau))
            ).alias("keep"),
        )
    )


def unigram_bigram_feats(text: Column) -> Column:
    """Hashable word features of a text column: unigrams ++ bigrams, WITH
    multiplicity (DSIR's bag-of-hashed-ngrams is a multiset).  Bigrams are
    guarded against Spark's descending ``sequence(1, 0)`` surprise on
    single-token documents — a 1-token doc contributes its unigram only."""
    toks = tokens(text)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def dsir_bucket(feat: Column, buckets: int, salt: str = "dsir_") -> Column:
    """Engine-portable hash bucket of one n-gram feature."""
    return h32(F.concat(F.lit(salt), feat)) % buckets


def dsir_logratio(
    hashed: DataFrame, buckets: int, alpha: float = 1.0
) -> DataFrame:
    """Per-bucket log importance ratio from a (bucket, is_target) relation
    with one row per n-gram OCCURRENCE.

    logr(b) = log p_target(b) − log p_raw(b) under add-``alpha`` smoothed
    multinomials over ``buckets`` cells.  The output has at most ``buckets``
    rows — broadcast it.  Totals are computed with an unpartitioned window
    over that bounded table (never a driver-side collect)."""
    cnt = hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
    )
    tot = Window.partitionBy()
    return cnt.select(
        "bucket",
        (
            F.log((F.col("ct") + alpha) / (F.sum("ct").over(tot) + alpha * buckets))
            - F.log((F.col("cr") + alpha) / (F.sum("cr").over(tot) + alpha * buckets))
        ).alias("logr"),
    )


def dsir_doc_weights(
    docs: DataFrame,
    target: Column,
    buckets: int = 1024,
    alpha: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weight per document: Σ over the doc's hashed
    unigram+bigram occurrences of log p_target(bucket)/p_raw(bucket).

    ``target`` is a boolean column expression marking the target-distribution
    slice (e.g. ``F.col('lang') == 'en'``).  Output: (``id_col``, weight) —
    weight rounded to 6 dp, one row per document (docs whose token set is
    empty still appear, with weight 0.0).

    Scale shape: tokenize+explode is linear in corpus token count (the same
    cost class as any tokenization pass); the log-ratio table is ≤``buckets``
    rows and broadcast into the scoring join, so the only corpus-sized
    shuffle is the final per-doc sum.  The exploded features feed both the
    counting and the scoring pass — two scans of the corpus, the same
    two-pass structure as the reference DSIR implementation; persist the
    hashed relation to trade memory for the second scan at full scale.
    """
    hashed = docs.select(
        F.col(id_col),
        target.alias("is_target"),
        F.explode(unigram_bigram_feats(F.col(text_col))).alias("_g"),
    ).select(
        id_col, "is_target", dsir_bucket(F.col("_g"), buckets).alias("bucket")
    )
    logratio = dsir_logratio(hashed, buckets, alpha)
    scored = (
        hashed.join(F.broadcast(logratio), on="bucket")
        .groupBy(id_col)
        # exact-integer sum (r13 fold-order sweep): the per-feature
        # log-ratio is deterministic (same counts, same ln in both
        # engines); it quantizes to 1e-6 units so the per-doc sum is
        # exact at any partitioning
        .agg(
            F.round(
                F.sum(F.round(F.col("logr") * 1e6, 0).cast("long"))
                / F.lit(1e6),
                6,
            ).alias("weight")
        )
    )
    return (
        docs.select(id_col)
        .join(scored, on=id_col, how="left")
        .select(id_col, F.coalesce(F.col("weight"), F.lit(0.0)).alias("weight"))
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    threshold: float = 0.45,
    bits: int = 6,
    tables: int = 8,
    seed: int = 11,
    dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query, the ``k``
    MOST similar corpus vectors that are NOT near-duplicates of it.  The
    hardest negatives train the best embedding models, but the very top of
    a similarity ranking is polluted with unlabeled positives — near-dup
    copies of the anchor — so the standard mining step excludes anything a
    near-duplicate detector flags, then takes the top of what remains
    (false-negative filtering in the contrastive literature).

    Exclusion reuses the SAME sign-LSH family as
    ``dedup.embedding_neardup_pairs`` (identical hyperplanes/threshold) via
    its candidate block (``dedup.query_corpus_lsh_candidates``), so
    "near-duplicate" means exactly what the dedup pipeline means by it —
    one definition across cleaning and mining — and the contract holds for
    ANY query relation, including anchors that are not rows of the corpus.
    (Anchors in a foreign id space that COLLIDES with corpus ids are the
    one caveat: the exact scorer skips same-id pairs, so a colliding corpus
    row can neither rank nor be flagged — same-id semantics follow
    ``cosine_topk``'s.)

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k by (rounded)
    cosine descending, ties by neighbor_id.

    Scale shape: ONE pass over the corpus — scoring broadcasts the fixed
    query set (the ``similarity.cosine_scored_pairs`` block, shared with
    cosine_topk); the dup exclusion broadcast-joins the bounded LSH
    candidate pairs (~|Q|·tables/2^bits of a corpus scan, never a
    corpus-wide self-join) onto the ALREADY-SCORED stream and drops rows
    with cosine >= threshold — the exact verification reuses the scorer's
    own rounded cosines instead of re-fetching corpus vectors; ranking
    partitions by query."""
    from .dedup import query_corpus_lsh_candidates
    from .similarity import cosine_scored_pairs, rank_topk

    scored = cosine_scored_pairs(corpus, queries, vec_col, id_col)
    cand = query_corpus_lsh_candidates(
        corpus, queries, vec_col, id_col, bits=bits, tables=tables, seed=seed,
        dim=dim,
    ).withColumn("_cand", F.lit(True))
    kept = (
        scored.join(F.broadcast(cand), ["query_id", "neighbor_id"], "left")
        .filter(
            ~(
                F.coalesce(F.col("_cand"), F.lit(False))
                # NULL cosine (a zero-norm vector) is NOT >= threshold — the
                # coalesce keeps the three-valued logic from silently
                # dropping LSH-colliding rows the anti-join form kept
                & F.coalesce(F.col("cosine") >= F.lit(threshold), F.lit(False))
            )
        )
        .drop("_cand")
    )
    return rank_topk(kept, k).withColumn("rank", F.col("rank").cast("long"))


def cluster_balance_sample(
    emb: DataFrame,
    centroids: np.ndarray,
    alpha: float = 0.5,
    seed: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced subsampling: assign each vector to its nearest
    coarse-quantizer cell (the SAME deterministic k-means the IVF index and
    ``semdedup`` use — one clustering, three consumers), then downsample
    each cell with the temperature mixing rule (``prep.
    temperature_mix_sample`` with the cell as the group): kept counts
    flatten from |cell| toward |cell|^alpha, so over-represented semantic
    regions of the corpus shrink and the sparse tail survives intact — the
    cluster-level diversity rebalancing step of curation pipelines that
    select "balanced" pretraining mixes from skewed web crawls.

    Output: (``id_col``, cell, n_group, thresh_bp) — kept rows only, with
    the cell population and the basis-point keep threshold for audit.

    Scale shape: assignment is one Arrow-batched projection (no shuffle);
    the mixing pass adds one map-side-combined count over ≤ |cells| keys
    and a broadcast join of the thresholds back onto the thin (id, cell)
    relation — the embedding payload itself never moves.  The assigned
    relation feeds BOTH the count and the keep-predicate join, so it is
    persisted (as in ``semdedup``) — without it the Arrow distance UDF
    would run twice over the corpus; at past-cluster-memory scale swap the
    persist for a checkpoint to parquet, exactly the encode-once trade the
    ANN codes relation makes."""
    from .ivf import ivf_assign_frame
    from .prep import temperature_mix_sample

    assign = persist(
        ivf_assign_frame(
            emb,
            F.col(id_col),
            F.col(vec_col).cast("array<double>"),
            np.asarray(centroids, dtype=np.float64),
            id_col,
        )
    )
    return temperature_mix_sample(
        assign, group_col="cell", id_col=id_col, alpha=alpha, seed=seed
    )


def cluster_exemplars(
    emb: DataFrame,
    centroids: np.ndarray,
    per_cell: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell exemplars: the ``per_cell`` vectors CLOSEST to each coarse-
    quantizer centroid — the medoid-style corpus summary a curation team
    inspects (or sends for labeling) to understand what each semantic
    region of a 100 TB corpus actually contains.  The inverse of
    SemDeDup's priority (which keeps the cluster EDGE): exemplars are the
    cluster CENTER, the most typical members.

    Output: (cell, rank, ``id_col``, dist) — rank 1..per_cell by squared
    L2 distance to the centroid ascending (raw unrounded distances from
    the shared left-to-right fold, so the order is bit-identical across
    engines), ties by id; ``dist`` rounded to 6 dp for the output grain.

    Scale shape: one Arrow-batched distance projection at the scan, then
    ONE shuffle (the per-cell ranking window over thin (id, cell, dist)
    rows); output is ≤ |cells|·per_cell rows — driver-safe at any corpus
    size."""
    if per_cell <= 0:
        raise ValueError(f"per_cell must be positive, got {per_cell}")
    from .ivf import ivf_assign_frame

    dotted = ivf_assign_frame(
        emb,
        F.col(id_col),
        F.col(vec_col).cast("array<double>"),
        np.asarray(centroids, dtype=np.float64),
        id_col,
        dist_col="_dist",
    )
    w = Window.partitionBy("cell").orderBy(F.asc("_dist"), F.asc(id_col))
    return (
        dotted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_cell)
        .select(
            "cell",
            F.col("rank").cast("long").alias("rank"),
            id_col,
            F.round("_dist", 6).alias("dist"),
        )
    )
