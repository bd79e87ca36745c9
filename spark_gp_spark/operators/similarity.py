"""Similarity search over embedding columns (`array<float>`).

Two strategies:

- **Brute-force cosine top-k** (exact baseline): broadcast the query set,
  JVM-side dot products via ``zip_with``/``aggregate``, per-query top-k via a
  window.  Cost O(|Q|·N) — the right plan when the query set is small enough
  to broadcast, which is the common "find neighbours for this batch" shape.
- **Random-hyperplane LSH buckets** (scale path): h sign-bits from fixed
  seeded hyperplanes (embedded as literal arrays so the DuckDB oracle can
  replay them), equi-join on bucket, rank within bucket.  Trades recall for
  turning the O(|Q|·N) scan into a shuffle-on-bucket join; recall rises with
  fewer bits / more tables.

The RBF ``cross_kernel`` of the GP library is the same primitive
mathematically (a dense similarity between a query batch and a reference set);
these operators are its SQL-native counterpart (SURVEY §2.8).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import persist


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def paired_cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with the norms read from precomputed columns.

    Higher-order-function aggregates are interpreted per element (outside
    whole-stage codegen), so on a pair join the norms — fixed per row —
    must not be recomputed per candidate pair: precompute them once per id
    frame and this drops 3 HOF passes per pair to 1.  The arithmetic is
    bit-identical to ``cosine`` (same expressions, same order), so oracle
    hash-matches are unaffected."""
    return dot(a, b) / (norm_a * norm_b)


def cosine_scored_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, neighbor_id, cosine) for every (query, corpus) pair with
    distinct ids — the exact-scoring block shared by ``cosine_topk`` and
    ``selection.hard_negatives``.  The query side is broadcast (no corpus
    shuffle); cosine is rounded to 6 dp, the engine-portable comparison
    grain, with the norms precomputed per id frame (see ``paired_cosine``).
    This block is parity-critical — the DuckDB oracles replay its exact
    rounding and fold order — so there is ONE copy of it."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(paired_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6),
        )
        .select("query_id", "neighbor_id", "cosine")
    )


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of a (query_id, neighbor_id, cosine) relation: rank
    1..k by cosine descending, ties by neighbor_id ascending — the shared
    deterministic ranking tail of every top-k operator in this module."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbours for every query row.

    Output: (query_id, neighbor_id, cosine, rank), rank 1..k, ties broken by
    neighbor_id so results are deterministic.  The query side is broadcast —
    no shuffle of the corpus.
    """
    return rank_topk(cosine_scored_pairs(corpus, queries, vec_col, id_col), k)


def random_hyperplanes(dim: int, bits: int, seed: int = 11) -> np.ndarray:
    """Fixed hyperplanes for sign-LSH, deterministic in (dim, bits, seed).
    Rounded to 6 decimals so they can be embedded verbatim in oracle SQL."""
    rng = np.random.default_rng(seed)
    return np.round(rng.normal(size=(bits, dim)), 6)


def hyperplane_tables(dim: int, bits: int, tables: int, seed: int = 11) -> list[np.ndarray]:
    """One independent hyperplane set per LSH table (seeds seed, seed+1, …)."""
    return [random_hyperplanes(dim, bits, seed + t) for t in range(tables)]


def lsh_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Bucket id = integer of sign bits of ⟨vec, plane_i⟩."""
    out = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(v)) for v in plane])
        out = out + F.when(dot(vec, lit_plane) > 0, F.lit(1 << i).cast("bigint")).otherwise(
            F.lit(0)
        )
    return out


def _bucket_udf(planes_by_table: list[np.ndarray]):
    """Arrow-batched pandas UDF: per input vector, the bucket id in every
    LSH table, returned as one array<bigint>.

    The tables·bits hyperplane dots are the numeric hot loop of the LSH
    path; as interpreted higher-order-function expressions they cost ~1 µs
    per element (6 s for 2 000 × 48 × 64 at sf0.1) — this numpy version is
    vectorized across the Arrow batch.  The accumulation loops over the
    DIMENSION axis with scalar adds (acc = acc + x_j·p_j), which is the
    exact left-to-right IEEE association of the SQL oracle's unrolled
    ``0.0 + v[1]*p1 + v[2]*p2 + …`` (queries._sql_lsh_dot), so every sign —
    and every bucket — stays bit-identical across engines (a BLAS matmul's
    blocked summation would not guarantee that)."""
    from pyspark.sql.types import ArrayType, LongType

    P = np.vstack([p for planes in planes_by_table for p in planes])  # (T·B, d)
    bits = len(planes_by_table[0])
    tables = len(planes_by_table)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype=np.float64)          # (n, d) exact
        acc = np.zeros((X.shape[0], P.shape[0]), dtype=np.float64)
        for j in range(P.shape[1]):                           # left-to-right
            acc = acc + X[:, j, None] * P[None, :, j]
        signs = (acc > 0.0).reshape(-1, tables, bits)
        out = (signs * weights).sum(axis=2)                   # (n, T)
        return pd.Series(list(out))

    return buckets


def lsh_bucket_frame(
    df: DataFrame,
    id_expr: Column,
    vec_expr: Column,
    planes_by_table: list[np.ndarray],
    id_name: str,
) -> DataFrame:
    """(id, tbl, bucket) relation: one row per (input row, LSH table).

    Buckets come from one Arrow-batched pandas UDF computing all tables·bits
    hyperplane dots per row (see ``_bucket_udf`` for why numpy, and for the
    bit-parity contract with the SQL oracle).  Only (id, tbl, bucket) leaves
    the projection; vectors never ride the downstream shuffle."""
    udf = _bucket_udf(planes_by_table)
    dotted = df.select(id_expr.alias(id_name), udf(vec_expr).alias("_b"))
    return dotted.select(
        id_name, F.posexplode(F.col("_b")).alias("tbl", "bucket")
    )


def _multiprobe_udf(planes_by_table: list[np.ndarray], n_flip: int):
    """Arrow-batched pandas UDF: per input vector, for EACH table the list
    of 1 + ``n_flip`` probe buckets — the vector's own bucket plus the
    buckets reached by flipping, one at a time, the ``n_flip`` sign bits
    with the smallest |margin| (multi-probe LSH, Lv et al. 2007 adapted to
    sign-LSH: the near-zero dots are the signs a true neighbor most likely
    landed on the other side of).  Same left-to-right dot fold as
    ``_bucket_udf`` (bit-parity with the SQL oracle); flip order is
    (|dot|, bit index) ascending — np.argsort(stable) here, the (m, i)
    struct sort in the oracle — so the probe sets are identical across
    engines."""
    from pyspark.sql.types import ArrayType, LongType

    P = np.vstack([p for planes in planes_by_table for p in planes])  # (T·B, d)
    bits = len(planes_by_table[0])
    tables = len(planes_by_table)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @F.pandas_udf(ArrayType(ArrayType(LongType())))
    def probes(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype=np.float64)          # (n, d) exact
        acc = np.zeros((X.shape[0], P.shape[0]), dtype=np.float64)
        for j in range(P.shape[1]):                           # left-to-right
            acc = acc + X[:, j, None] * P[None, :, j]
        acc = acc.reshape(-1, tables, bits)
        buckets = ((acc > 0.0) * weights).sum(axis=2)         # (n, T)
        order = np.argsort(np.abs(acc), axis=2, kind="stable")  # ties → low bit
        flips = order[:, :, :n_flip]                          # (n, T, f)
        probe = np.concatenate(
            [buckets[:, :, None], buckets[:, :, None] ^ (1 << flips).astype(np.int64)],
            axis=2,
        )                                                     # (n, T, 1+f)
        return pd.Series(list(probe))

    return probes


def lsh_multiprobe_frame(
    df: DataFrame,
    id_expr: Column,
    vec_expr: Column,
    planes_by_table: list[np.ndarray],
    n_flip: int,
    id_name: str,
) -> DataFrame:
    """(id, tbl, bucket) relation with 1 + ``n_flip`` rows per (input row,
    table): the multi-probe QUERY side.  The corpus keeps its single-bucket
    relation (``lsh_bucket_frame``) — multi-probe spends extra probes at
    query time instead of extra stored tables, which is the point: stored
    index size is the 100 TB cost, probe count is a per-query knob."""
    udf = _multiprobe_udf(planes_by_table, n_flip)
    dotted = df.select(id_expr.alias(id_name), udf(vec_expr).alias("_p"))
    return dotted.select(
        id_name, F.posexplode(F.col("_p")).alias("tbl", "_bl")
    ).select(id_name, "tbl", F.explode(F.col("_bl")).alias("bucket"))


def lsh_multiprobe_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    n_flip: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-probe sign-LSH: same stored corpus
    buckets as ``lsh_bucketed_topk``, but each query probes 1 + ``n_flip``
    buckets per table (its own plus the lowest-|margin| single-bit flips).
    Candidates per query ≈ (1+n_flip)·tables·N/2^bits — recall rises with
    probes at UNCHANGED index size, the trade multi-probe LSH exists for
    (more tables would cost stored bytes per corpus vector; more probes
    cost only query work).  Ranking tail identical to the single-probe
    operator."""
    dim = dim if dim is not None else _vector_dim(corpus, vec_col)
    planes_by_table = hyperplane_tables(dim, bits, tables, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    cb = lsh_bucket_frame(
        corpus, F.col(id_col), F.col(vec_col).cast("array<double>"), planes_by_table,
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    qb = lsh_multiprobe_frame(
        queries, F.col(id_col), F.col(vec_col).cast("array<double>"), planes_by_table,
        n_flip, "query_id",
    )
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            F.round(paired_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _vector_dim(df: DataFrame, vec_col: str) -> int:
    """Fallback dimension probe — costs one Spark job (first()); callers on
    the hot path should pass ``dim`` explicitly instead."""
    return len(df.select(vec_col).first()[0])


def lsh_candidate_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 6,
    tables: int = 8,
    seed: int = 11,
    dim: int | None = None,
) -> DataFrame:
    """Candidate id pairs (id_a < id_b) colliding in ≥1 of ``tables`` sign-LSH
    tables — the scale path for near-duplicate detection.

    The self-join key is (table, bucket): an equi-join, never a cross join.
    Only (id, table, bucket) rides the shuffle; vectors are re-joined by id
    AFTER candidate dedup (same discipline as the MinHash band join —
    operators/dedup.py).  Collision probability per table is
    (1 − θ/π)^bits, so recall at cosine ≥ 0.9 with the defaults (6 bits ×
    8 tables) is ≈ 0.98; low-similarity pairs are pruned, which is the point.
    """
    dim = dim if dim is not None else _vector_dim(df, vec_col)
    planes_by_table = hyperplane_tables(dim, bits, tables, seed)
    bucketed = lsh_bucket_frame(
        df, F.col(id_col), F.col(vec_col).cast("array<double>"), planes_by_table, "_id"
    )
    left = bucketed.select("tbl", "bucket", F.col("_id").alias("id_a"))
    right = bucketed.select("tbl", "bucket", F.col("_id").alias("id_b"))
    return (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: rank only within the query's LSH buckets, unioned
    over ``tables`` independent hyperplane tables.

    One shuffle on (table, bucket); the corpus is scanned once and emits
    ``tables`` thin (id, table, bucket) rows per vector.  Recall rises with
    more tables and falls with more bits (finer buckets); candidates per
    query ≈ tables · N / 2^bits, which is the knob that keeps this sub-scan
    at corpus scale.  Window ranking runs per query over candidates only.
    """
    dim = dim if dim is not None else _vector_dim(corpus, vec_col)
    planes_by_table = hyperplane_tables(dim, bits, tables, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    cb = lsh_bucket_frame(
        corpus, F.col(id_col), F.col(vec_col).cast("array<double>"), planes_by_table,
        "neighbor_id",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    qb = lsh_bucket_frame(
        queries, F.col(id_col), F.col(vec_col).cast("array<double>"), planes_by_table,
        "query_id",
    )
    # Candidate ids first (thin shuffle), vectors re-joined after dedup.
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            F.round(paired_cosine(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid of an embedding column, emitted as one row per
    (label, component position) — the class-prototype operator (nearest-
    centroid classification, cluster drift monitoring, IVF seeding).

    ``posexplode → groupBy(label, pos) → sum`` is ONE shuffle of thin
    (label, pos, value) rows with map-side partial sums; no executor
    ever materializes a full matrix and the driver sees nothing, so the
    same plan runs at any corpus size (vs. collecting vectors per label,
    which dies at the first hot label).

    Exactness (r13 sweep of the round(avg(double)) fold-order class):
    components quantize per-row to 1e-6 integer units, the per-cell sum
    is exact 64-bit arithmetic at any partitioning, and one double
    division per cell runs on identical integers in both engines — a
    double sum here would make the 6-dp rounding boundary depend on
    Spark's partition fold order."""
    ex = df.select(
        label_col,
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "_v"),
    )
    v6 = F.round(F.col("_v") * 1e6, 0).cast("long")
    return ex.groupBy(label_col, "pos").agg(
        # scale-0 close on the exact integer quotient (the sum/count can
        # land exactly on half a micro-unit; see text.doc_logprob)
        (F.round(F.sum(v6) / F.count("*"), 0) / F.lit(1e6)).alias("value")
    )


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension distribution statistics of an embedding column:
    (pos, mean, std, min_v, max_v) — one row per vector component.  The
    drift/health monitor for an embedding corpus (a collapsed dimension,
    a scaling regression after a model swap, or an outlier batch shows up
    here before any downstream recall metric moves), and the input to
    per-dimension whitening.

    ``std`` is the sample standard deviation (n−1); all floats round to
    6 dp, the engine-portable grain.

    Exactness (r13 sweep of the round(avg(double)) fold-order class):
    components quantize per-row to 1e-6 integer units; Σv and Σv² are
    exact integer arithmetic at any partitioning (Σv² in DECIMAL(38,0) —
    the squared 1e-6 units would saturate int64 near ~1e10 rows), and
    the closing mean/variance expressions are the SAME few IEEE ops on
    identical integers in both engines (the oracle restates them
    verbatim).  ``min``/``max`` need no quantization — order statistics
    are fold-order-independent.  This also makes the streaming twin
    (streaming/drift.py, complete-mode merge of the same expression
    tree) agree with the batch stats EXACTLY, not just at 6 dp: integer
    partials merge associatively across micro-batches.

    Scale shape: same as ``label_centroids`` — posexplode to thin
    (pos, value) rows, ONE shuffle over ≤ dim keys with map-side partial
    aggregates; no executor materializes a matrix and the driver sees
    nothing."""
    ex = df.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "_v")
    )
    v6 = F.round(F.col("_v") * 1e6, 0).cast("long")
    n = F.count("*")
    s = F.sum(v6)
    ss = F.sum((v6 * v6).cast("decimal(38,0)"))
    m1 = s / n  # mean in 1e-6 units, one double division on exact ints
    var12 = (ss.cast("double") - m1 * s.cast("double")) / (n - 1)
    return ex.groupBy("pos").agg(
        # scale-0 close on micro-unit quantities, /1e6 after: m1 is an
        # integer quotient that can land exactly on half a micro-unit
        # (see text.doc_logprob); std gets the same shape so both
        # engines round the identical pre-division double
        (F.round(m1, 0) / F.lit(1e6)).alias("mean"),
        F.when(
            n > 1,
            F.round(F.sqrt(F.greatest(var12, F.lit(0.0))), 0) / F.lit(1e6),
        ).alias("std"),
        F.round(F.min("_v"), 6).alias("min_v"),
        F.round(F.max("_v"), 6).alias("max_v"),
    )


def embedding_whiten(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension standardization (diagonal whitening) of an embedding
    column: whitened[i] = (v[i] − mean_i) / std_i, the cheap whitening step
    that removes per-dimension scale/offset drift before cosine retrieval
    or quantizer training (full-covariance whitening needs an
    eigendecomposition; the diagonal form captures the common failure —
    a mis-scaled or offset dimension after a model swap — with nothing but
    the ``embedding_dim_stats`` pass).  Dimensions with zero (or undefined)
    sample std map to 0.0 — a constant dimension carries no signal.

    Output: (``id_col``, whitened array<double>) — values rounded to 6 dp.
    Stats are the 6-dp-rounded means/stds of ``embedding_dim_stats``, so
    the division inputs are identical across engines and the result is
    exactly rounded under IEEE 754 in both.

    Scale shape: one stats pass (posexplode → ≤ dim keys, map-side
    combined), folded to a SINGLE broadcast row of two dim-length arrays;
    the whitening itself is a zip_with projection at the corpus scan — the
    corpus never shuffles and no executor sees more than its own batch."""
    stats = embedding_dim_stats(df, vec_col)
    row = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))), lambda s: s["mean"]
        ).alias("_means"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "std"))), lambda s: s["std"]
        ).alias("_stds"),
    )
    diffs = F.zip_with(
        F.col(vec_col).cast("array<double>"), F.col("_means"), lambda x, m: x - m
    )
    return df.crossJoin(F.broadcast(row)).select(
        id_col,
        F.zip_with(
            diffs,
            F.col("_stds"),
            lambda d, s: F.when(s > 0, F.round(d / s, 6)).otherwise(F.lit(0.0)),
        ).alias("whitened"),
    )


def _jl_project_udf(planes: np.ndarray):
    """Arrow-batched pandas UDF: per input vector, its RAW projection onto
    the ``planes`` rows.  Same left-to-right dimension-axis accumulation as
    ``_bucket_udf`` (the SQL oracle's unrolled ``0.0 + v[1]*p1 + …``
    association), so every projected value is bit-identical across engines.
    Rounding happens OUTSIDE, via F.round — np.round ties-to-even while
    F.round/DuckDB round tie half-away, and the gate compares the rounded
    values."""
    from pyspark.sql.types import ArrayType, DoubleType

    P = np.asarray(planes, dtype=np.float64)  # (m, d)

    @F.pandas_udf(ArrayType(DoubleType()))
    def proj(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype=np.float64)          # (n, d)
        acc = np.zeros((X.shape[0], P.shape[0]), dtype=np.float64)
        for j in range(P.shape[1]):                           # left-to-right
            acc = acc + X[:, j, None] * P[None, :, j]
        return pd.Series(list(acc))

    return proj


def jl_project(
    df: DataFrame,
    out_dim: int = 16,
    seed: int = 23,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: reduce the embedding column
    to ``out_dim`` Gaussian-projected components (the JL lemma preserves
    pairwise geometry to within 1±ε for out_dim = O(log n / ε²)) — the
    cheap dimensionality-reduction step in front of clustering or
    brute-force similarity when 64 dims of exactness aren't worth 4× the
    scan cost.  The projection matrix is the SAME deterministic 6-dp
    Gaussian family as the sign-LSH hyperplanes (``random_hyperplanes``) —
    in fact sign-LSH IS this projection plus a sign, so the two share one
    geometry.  The conventional 1/√out_dim variance scale is omitted:
    downstream cosine similarity is scale-invariant, and unscaled values
    embed verbatim in the oracle SQL.

    Output: (``id_col``, projected array<double>), values rounded to 6 dp.

    Scale shape: one Arrow-batched projection at the corpus scan — no
    shuffle, no join, nothing driver-side; the matrix is a (out_dim × dim)
    closure constant."""
    if out_dim <= 0:
        raise ValueError(f"out_dim must be positive, got {out_dim}")
    dim = dim if dim is not None else _vector_dim(df, vec_col)
    planes = random_hyperplanes(dim, out_dim, seed)
    raw = _jl_project_udf(planes)(F.col(vec_col).cast("array<double>"))
    # round JVM-side: F.round ties half-away like the DuckDB oracle's
    # round(); np.round would tie to even and hash-mismatch on exact halves
    return df.select(
        id_col,
        F.transform(raw, lambda x: F.round(x, 6)).alias("projected"),
    )


def embedding_drift_report(
    base: DataFrame,
    cand: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension drift between a BASELINE and a CANDIDATE embedding
    corpus (two snapshots, two encoder versions, or two shards): joins the
    two ``embedding_dim_stats`` passes on the dimension index and reports
    the standardized mean shift — shift = (mean_b − mean_a) / pooled_std,
    pooled_std = sqrt((std_a² + std_b²)/2).  |shift| ≳ 0.1 on any dimension
    is the "re-check your encoder / re-train your quantizer" alarm that
    should fire BEFORE recall metrics move; dimensions constant in both
    slices report 0.

    Output: (pos, mean_a, std_a, mean_b, std_b, shift), one row per
    dimension, every float at the 6-dp engine-portable grain.  All
    arithmetic after the 6-dp stats is single-operation IEEE (multiply,
    add, halve, sqrt, divide — each exactly rounded), so the report is
    bit-identical across engines.

    Scale shape: two independent stats passes (posexplode, map-side
    combined, ≤ dim keys each) and one ≤ dim-row join — corpus size only
    affects the scan."""
    a = embedding_dim_stats(base, vec_col)
    b = embedding_dim_stats(cand, vec_col)
    return drift_report_from_stats(a, b)


def drift_report_from_stats(a_stats: DataFrame, b_stats: DataFrame) -> DataFrame:
    """The drift-report tail over two PRECOMPUTED stats relations (pos,
    mean, std, …) — shared by the batch report above and the streaming
    monitor (streaming/drift.py), so the parity-critical standardized-shift
    arithmetic exists exactly once.  Inputs may carry extra columns (min/
    max); only (pos, mean, std) are consumed."""
    a = a_stats.select(
        "pos", F.col("mean").alias("mean_a"), F.col("std").alias("std_a")
    )
    b = b_stats.select(
        "pos", F.col("mean").alias("mean_b"), F.col("std").alias("std_b")
    )
    pooled = F.sqrt(
        (F.col("std_a") * F.col("std_a") + F.col("std_b") * F.col("std_b"))
        / F.lit(2)
    )
    return a.join(b, "pos").select(
        "pos",
        "mean_a",
        "std_a",
        "mean_b",
        "std_b",
        F.when(
            pooled > 0,
            F.round((F.col("mean_b") - F.col("mean_a")) / pooled, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("shift"),
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall of an approximate top-k relation against the exact one — the
    index-quality audit every ANN deployment runs before trusting an index
    (Jégou et al. 2011 report exactly this recall@k curve for IVF/PQ).
    Per query: how many of the exact neighbours the index recovered.

    Output: (``query_col``, n_exact, n_hit, recall) — recall = n_hit /
    n_exact, rounded to 6 dp; one row per query present in ``exact``.

    Scale shape: both inputs are top-k relations — O(|queries|·k) rows, not
    corpus-sized — so the left join and the per-query aggregate are
    negligible next to the scans that produced them; each input DataFrame
    is computed once (Spark plans both subtrees into one job).  Both sides
    are de-duplicated on (query, neighbor) first: a duplicate pair in
    either input would otherwise multiply join rows and inflate
    n_exact/n_hit (ADVICE r10) — for already-unique top-k relations the
    dedup is one cheap aggregate over O(|queries|·k) rows."""
    hits = exact.select(query_col, neighbor_col).dropDuplicates(
        [query_col, neighbor_col]
    ).join(
        approx.select(query_col, neighbor_col, F.lit(1).alias("_hit"))
        .dropDuplicates([query_col, neighbor_col]),
        [query_col, neighbor_col],
        "left",
    )
    return hits.groupBy(query_col).agg(
        F.count("*").alias("n_exact"),
        F.count("_hit").alias("n_hit"),
        F.round(F.count("_hit").cast("double") / F.count("*"), 6).alias(
            "recall"
        ),
    )


def embedding_norm_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    z_thresh: float = 3.0,
) -> DataFrame:
    """Embedding-table DQ: flag vectors whose L2 norm is a z-score outlier
    against the corpus — the cheap screen that catches broken encoders,
    unnormalized batches, and zero/explosive vectors BEFORE they poison
    cosine ranking (an un-normalized twin dominates every dot product) or
    quantizer training.

    Output: (``id_col``, norm, z, is_outlier) — norm/z rounded 6 dp and
    the flag computed from the ROUNDED z so both engines decide borderline
    cases identically.

    Scale shape: one codegen'd fold per row for the squared norm into a
    PERSISTED thin (id, norm) relation, one global aggregate for
    (mean, stddev) over it, broadcast
    back — the embedding payload is read once and never shuffled.  (The
    r12 plan audit caught the first cut re-folding the corpus for the
    stats pass; the persist is the fix, asserted in tests/test_plans.py.)"""
    sq = F.aggregate(
        F.col(vec_col).cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    norms = persist(df.select(F.col(id_col), F.sqrt(sq).alias("_norm")))
    # Exactness (r13 sweep of the round(avg(double)) fold-order class):
    # mu/sd feed EVERY output row's z, so ulp noise in a double sum would
    # put the whole relation's 6-dp rounding at the mercy of partition
    # fold order.  Norms quantize per-row to 1e-6 integer units; Σn and
    # Σn² are exact (Σn² in DECIMAL(38,0) — squared units saturate int64
    # at ~100 rows of norm 1e3), and the closing mu/sd expressions are
    # the same few IEEE ops on identical integers in both engines.
    n6 = F.round(F.col("_norm") * 1e6, 0).cast("long")
    cnt = F.count("*")
    s = F.sum(n6)
    ss = F.sum((n6 * n6).cast("decimal(38,0)"))
    m1 = s / cnt  # mean norm in 1e-6 units
    varp12 = ss.cast("double") / cnt - m1 * m1
    stats = norms.agg(
        (m1 / F.lit(1e6)).alias("_mu"),
        (F.sqrt(F.greatest(varp12, F.lit(0.0))) / F.lit(1e6)).alias("_sd"),
    )
    # sd == 0 (constant-norm corpus, e.g. everything pre-normalized to
    # unit L2 — the very case this screen validates): define z = 0 and
    # flag nothing, instead of Spark's NULL-division vs IEEE inf/nan
    # diverging between engines (r12 review).
    z = F.round(
        F.when(F.col("_sd") == 0.0, F.lit(0.0)).otherwise(
            (F.col("_norm") - F.col("_mu")) / F.col("_sd")
        ),
        6,
    )
    return norms.join(F.broadcast(stats)).select(
        id_col,
        F.round("_norm", 6).alias("norm"),
        z.alias("z"),
        (F.abs(z) > F.lit(z_thresh)).alias("is_outlier"),
    )
