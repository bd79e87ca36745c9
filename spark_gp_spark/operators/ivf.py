"""IVF (inverted-file) approximate nearest-neighbour search.

The second scale path for similarity search next to sign-LSH
(operators/similarity.py): a coarse k-means quantizer partitions the corpus
into ``n_centroids`` cells; each query probes only its ``nprobe`` nearest
cells.  Candidates per query ≈ nprobe·N/n_centroids — the classic
FAISS-style IVF-Flat trade (probe more cells → higher recall, bigger scan).

Spark shape (the 100 TB plan):
- centroids are a small driver-side numpy array (trained on a sample),
  embedded as literal columns — an implicit broadcast, no shuffle;
- cell assignment is a per-row projection (one Arrow-batched pandas UDF
  over the broadcast centroid matrix — same shape as
  similarity.lsh_bucket_frame);
- the candidate join is an equi-join on cell id carrying only (id, cell);
  vectors are re-joined by id after candidate generation;
- exact cosine verification + per-query rank run on candidates only.

Centroids are rounded to 6 decimals so the DuckDB oracle can replay
assignment and probing bit-for-bit (distances use the same left-to-right
float summation as the SQL rendering; ties break on centroid index).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import telemetry
from .similarity import norm, paired_cosine



#: Knuth multiplicative hash over 30-bit-masked ids, mod 2^30 — an odd
#: multiplier makes x → (x·MULT) mod 2^30 a BIJECTION of Z_2^30, so the
#: selection h(id) < T is an unbiased fixed-rate sample; all products fit
#: int64, and the power-of-two modulus renders as one bit_wise_and in a
#: pyarrow dataset-filter expression (no % support there).
_HASH_MULT = 2654435761
_HASH_MASK = (1 << 30) - 1


def sample_hash_np(ids: np.ndarray) -> np.ndarray:
    """The numpy twin of the pushed-down pyarrow hash predicate."""
    return (np.asarray(ids, dtype=np.int64) & _HASH_MASK) * _HASH_MULT & _HASH_MASK


def parquet_num_rows(path: str) -> int:
    """Corpus row count from parquet METADATA — no scan; the input every
    auto-sizing rule keys on (cached per file fingerprint)."""
    key = ("num_rows", path, _file_fingerprint(path))

    def build() -> int:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows

    return _cached_artifact(key, build)


def auto_ivf_params(n: int) -> dict:
    """Corpus-size-derived IVF parameters — the 100 TB sizing rule promoted
    from a bench experiment (BENCH_local_r7.json `ann_param_scaling`) to the
    operator default after frozen small-corpus constants were measured
    returning 7-59% of true neighbors at 4× the tuning corpus:

    - ``cells`` ≈ √N (FAISS's guideline for IVF list count: balances the
      probe scan ≈ nprobe·N/cells against the centroid scan ≈ cells),
      floored at 16 so tiny corpora keep a meaningful inverted file;
    - ``nprobe`` ≈ cells/2 CAPPED AT 128, floored at 4.  The cells/2
      FRACTION is a bench-corpus calibration, not the scale rule: the r11
      recall/time sweep (tools/ann_knee_sweep.py at the sf0.1 bench
      corpus: cells/4 → recall 0.71 @ 2.09 s, cells/3 → 0.81 @ 1.87 s,
      cells/2 → 0.90 @ 1.68 s, 2cells/3 → 0.96 @ 1.61 s) was run where
      fixed plan overhead dominates and the wider probe is free — and on
      near-isotropic SYNTHETIC embeddings, the worst case for inverted
      files.  Probing a constant fraction of cells scans ≈ N/2 candidates
      per query, i.e. near brute force at 100 TB, so the absolute cap
      bounds the candidate scan at 128·N/cells ≈ 128·√N (≈0.04 % of cells
      at N = 1e11), the standard IVF operating regime; real clustered
      corpora reach the gate recall well under the cap, and ``nprobe``
      stays the caller's recall/cost dial.  The cap binds only above
      N ≈ 65k — every test/bench corpus sits below it, so auto outputs
      there are unchanged;
    - ``nprobe_adc`` ≈ 2·cells/3 capped at 170 — the one-rung-wider probe
      the QUANTIZED-residual (IVFADC) path needs for the same recall: ADC
      distance error and probe misses compound, so the r11 sweep's ≥0.8
      knee sits one rung wider than exact-scored IVF's (cells/2 → 0.76,
      2cells/3 → 0.82 at shortlist R=100, identical wall time); the cap
      preserves the 4:3 ratio over the IVF cap at scale;
    - ``sample_rows`` = max(4000, 40·cells) training rows (≥40 points per
      centroid, the k-means stability floor), so the trainer sample grows
      with the index instead of starving √N centroids at scale.

    Every quantity is a pure function of N, so a DuckDB oracle reading the
    same parquet metadata derives the identical configuration."""
    cells = max(16, int(round(n ** 0.5)))
    nprobe = max(4, min(128, int(round(cells / 2))))
    return {
        "cells": cells,
        "nprobe": nprobe,
        "nprobe_adc": max(4, min(170, int(round(2 * cells / 3)))),
        "sample_rows": max(4000, 40 * cells),
    }


def _file_fingerprint(path: str) -> tuple:
    import os

    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (None, None)


#: process-level cache of trained ANN artifacts keyed by
#: (builder, path, file fingerprint, params): index training is
#: train-once/reuse, so repeated query invocations (the bench runs each
#: registry entry under per-query cache isolation) pay scan cost only,
#: not a k-means retrain.  Entries are a few KB (codebooks/centroids).
#: Superseded fingerprints are EVICTED on insert — a long-lived process
#: cycling through rewritten fixtures keeps exactly one generation per
#: (builder, path) instead of accumulating every generation it ever saw
#: (the same hygiene rule as the derived-copy tracker in queries.py).
_ANN_ARTIFACT_CACHE: dict[tuple, object] = {}


def _cached_artifact(key: tuple, builder):
    """Key layout contract: key[0] = builder kind, key[1] = source path,
    key[2] = file fingerprint, key[3:] = params.  On a miss, entries for
    the same (kind, path) with a DIFFERENT fingerprint are dropped first —
    they describe a file that no longer exists in that form."""
    if key not in _ANN_ARTIFACT_CACHE:
        stale = [
            k for k in _ANN_ARTIFACT_CACHE
            if k[:2] == key[:2] and k[2] != key[2]
        ]
        for k in stale:
            del _ANN_ARTIFACT_CACHE[k]
        with telemetry.span(str(key[0]), "train", cache="miss"):
            _ANN_ARTIFACT_CACHE[key] = builder()
    else:
        telemetry.event(str(key[0]), "train", cache="hit")
    return _ANN_ARTIFACT_CACHE[key]


def hash_sample_vectors(
    path: str,
    sample_rows: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic UNBIASED training sample: the ``sample_rows`` rows with
    the smallest Knuth multiplicative hash of their id (ties broken on id),
    with the hash predicate PUSHED DOWN into the pyarrow scan — the driver
    materializes only ~2·sample_rows candidate rows, never the corpus
    (a full-column driver read is an OOM at 100 TB; the scan itself stays
    O(N) but streams).

    'First N rows of one parquet file' is biased at corpus scale (files are
    written in ingest/partition order, so a head sample over-represents one
    shard or time range); hashing the id decouples selection from physical
    layout while staying a pure function of the data, so the DuckDB-oracle
    builders derive the IDENTICAL sample from the same file.  Mechanics:
    row count N comes from parquet METADATA (no scan); the filter
    h(id) < T with T ≈ 2× the expected sample rate guarantees — verified,
    with a doubling retry on the rare undershoot — that the filtered set
    contains the global ``sample_rows`` smallest (h, id) pairs, which are
    then selected exactly.  Rows are returned in (hash, id) order — a
    deterministic order is required because k-means seeding indexes into
    the sample."""
    key = ("hash_sample", path, _file_fingerprint(path), sample_rows, vec_col, id_col)
    return _cached_artifact(
        key, lambda: _hash_sample_vectors_scan(path, sample_rows, vec_col, id_col)
    )


def _hash_sample_vectors_scan(
    path: str, sample_rows: int, vec_col: str, id_col: str
) -> np.ndarray:
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    n = pq.ParquetFile(path).metadata.num_rows
    want = min(sample_rows, n)
    full = _HASH_MASK + 1
    if n <= sample_rows:
        threshold = full
    else:
        threshold = min(full, int(2.0 * sample_rows / n * full) + 16)
    while True:
        expr = (
            pc.bit_wise_and(
                pc.bit_wise_and(ds.field(id_col), _HASH_MASK) * _HASH_MULT,
                _HASH_MASK,
            )
            < threshold
        )
        table = ds.dataset(path).to_table(filter=expr, columns=[id_col, vec_col])
        # correctness of the pushdown: ≥ want rows strictly under T means
        # the global want-smallest (h, id) pairs all sit in the filtered set
        if table.num_rows >= want or threshold >= full:
            break
        threshold = min(full, threshold * 2)
    ids = np.asarray(table.column(id_col).to_pylist(), dtype=np.int64)
    h = sample_hash_np(ids)
    order = np.lexsort((ids, h))[:sample_rows]
    X = np.asarray(table.column(vec_col).to_pylist(), dtype=np.float64)
    return X[order]


def train_centroids_from_parquet(
    path: str, n_centroids: int | None = None, seed: int = 5,
    sample_rows: int | None = None, vec_col: str = "embedding",
) -> np.ndarray:
    """Driver-side coarse quantizer: k-means over a deterministic
    hash-sample of a parquet file via pyarrow + numpy (no Spark job — the
    sample is tiny and the result must be reproducible OUTSIDE Spark so the
    correctness oracle can derive the identical centroids; see
    ``hash_sample_vectors`` for why the sample is hash-selected rather than
    a file-head slice).  ``n_centroids=None`` / ``sample_rows=None``
    auto-size from the corpus row count (``auto_ivf_params`` — cells ≈ √N,
    sample ≥ 40/centroid), the default every caller without a pinned-oracle
    contract should take: frozen small-corpus constants were measured
    returning a fraction of true neighbors at 4× their tuning corpus
    (VERDICT r7 #1).  Trained once per (file fingerprint, params) per
    process (_ANN_ARTIFACT_CACHE) and persistable via
    operators/ann_index.py for cross-process reuse.  Production-scale users
    with evolving corpora can instead pass centroids from pyspark.ml
    KMeans; the operator only needs the (k, d) array."""
    from ..active_set import _local_kmeans

    if n_centroids is None or sample_rows is None:
        auto = auto_ivf_params(parquet_num_rows(path))
        n_centroids = auto["cells"] if n_centroids is None else n_centroids
        sample_rows = auto["sample_rows"] if sample_rows is None else sample_rows
    key = ("centroids", path, _file_fingerprint(path), n_centroids, seed,
           sample_rows, vec_col)
    return _cached_artifact(
        key,
        lambda: np.round(
            _local_kmeans(hash_sample_vectors(path, sample_rows, vec_col),
                          n_centroids, seed),
            6,
        ),
    )


def hash_sample_vectors_spark(
    df: DataFrame,
    sample_rows: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Cluster-side twin of ``hash_sample_vectors``: the IDENTICAL Knuth-
    hash selection (same constants, same (hash, id) order) computed by
    EXECUTORS — the scan parallelizes across the cluster and only
    ~2·sample_rows candidate rows ever reach the driver, so this is the
    path when even a single-process pyarrow pass over the corpus is too
    slow (the pyarrow twin remains for oracle reproducibility outside
    Spark; both return bit-identical samples, test-gated).  All arithmetic
    stays in int64: (id & 2^30−1) · MULT < 2^62."""
    n = df.count()
    want = min(sample_rows, n)
    full = _HASH_MASK + 1
    threshold = full if n <= sample_rows else min(
        full, int(2.0 * sample_rows / n * full) + 16
    )
    h = (
        F.col("_id").bitwiseAND(F.lit(_HASH_MASK)) * F.lit(_HASH_MULT)
    ).bitwiseAND(F.lit(_HASH_MASK))
    while True:
        rows = (
            df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
            .withColumn("_h", h)
            .filter(F.col("_h") < threshold)
            .collect()
        )
        if len(rows) >= want or threshold >= full:
            break
        threshold = min(full, threshold * 2)
    ids = np.asarray([r["_id"] for r in rows], dtype=np.int64)
    order = np.lexsort((ids, sample_hash_np(ids)))[:sample_rows]
    X = np.asarray([rows[i]["_v"] for i in order], dtype=np.float64)
    return X


def train_centroids_spark(
    df: DataFrame,
    n_centroids: int = 16,
    seed: int = 5,
    vec_col: str = "embedding",
    max_iter: int = 20,
) -> np.ndarray:
    """DISTRIBUTED coarse-quantizer training via pyspark.ml KMeans — the
    production path for evolving corpora where even a hash sample should be
    trained on-cluster (the whole scan stays on executors; only the (k, d)
    centroid matrix reaches the driver).  The deterministic pyarrow trainer
    (``train_centroids_from_parquet``) remains the oracle-reproducible
    default: Spark KMeans is seeded but its result depends on partitioning,
    so indexes built this way are consumed through the same (k, d) array
    contract, not through the DuckDB oracle.  Centroids round to 6 decimals
    like every quantizer here."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    # clusterCenters() yields numpy arrays in recent pyspark, ml Vectors
    # in older ones — normalize either
    cents = [np.asarray(getattr(c, "toArray", lambda: c)(), dtype=np.float64)
             for c in model.clusterCenters()]
    return np.round(np.asarray(cents, dtype=np.float64), 6)


def _sq_dists_udf(centroids: np.ndarray):
    """Arrow-batched pandas UDF: per row, the array of squared L2 distances
    to every centroid.

    The accumulation loops over the DIMENSION axis with scalar adds
    (acc = acc + (x_j − c_j)²), preserving the SQL oracle's left-to-right
    IEEE association (queries' unrolled `(v[1]-c1)*(v[1]-c1) + …`) so
    nearest-cell assignment and probe order stay bit-identical across
    engines — the same parity discipline as similarity._bucket_udf.  As
    interpreted HOF expressions these dots cost ~1 µs/element and dominated
    ivf_topk."""
    from pyspark.sql.types import ArrayType, DoubleType

    C = np.asarray(centroids, dtype=np.float64)  # (k, d)

    @F.pandas_udf(ArrayType(DoubleType()))
    def sq_dists(v: pd.Series) -> pd.Series:
        X = np.asarray(v.tolist(), dtype=np.float64)          # (n, d)
        acc = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
        for j in range(C.shape[1]):                           # left-to-right
            diff = X[:, j, None] - C[None, :, j]
            acc = acc + diff * diff
        return pd.Series(list(acc))

    return sq_dists


def _sq_dists(vec: Column, centroids: np.ndarray) -> Column:
    """Array of squared L2 distances to every centroid (Arrow-vectorized —
    see ``_sq_dists_udf`` for the oracle-parity contract)."""
    return _sq_dists_udf(centroids)(vec)


def ivf_assign_frame(
    df: DataFrame,
    id_expr: Column,
    vec_expr: Column,
    centroids: np.ndarray,
    id_name: str,
    dist_col: str | None = None,
) -> DataFrame:
    """(id, cell[, dist]) relation: nearest centroid per row (1-based,
    first-min ties); ``dist_col`` additionally emits the raw squared L2
    distance to that centroid — THE assignment expression every
    centroid-cell consumer shares (IVF probing, SemDeDup,
    cluster_balance_sample, cluster_exemplars), so tie-break or dtype
    changes can never de-synchronize cell ids between them."""
    dotted = df.select(id_expr.alias(id_name), _sq_dists(vec_expr, centroids).alias("_d"))
    cols = [
        F.col(id_name),
        F.array_position(F.col("_d"), F.array_min(F.col("_d"))).cast("int").alias("cell"),
    ]
    if dist_col is not None:
        cols.append(F.array_min(F.col("_d")).alias(dist_col))
    return dotted.select(*cols)


def ivf_probe_frame(
    df: DataFrame,
    id_expr: Column,
    vec_expr: Column,
    centroids: np.ndarray,
    nprobe: int,
    id_name: str,
) -> DataFrame:
    """(id, cell) relation with ``nprobe`` rows per input row: the nprobe
    nearest cells, ordered by (distance, cell index) — the deterministic
    tie-break both engines share."""
    dotted = df.select(id_expr.alias(id_name), _sq_dists(vec_expr, centroids).alias("_d"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: F.struct(
            F.element_at(F.col("_d"), i).alias("d"), i.cast("int").alias("i")
        ),
    )
    probe = F.slice(F.array_sort(pairs), 1, nprobe)
    return dotted.select(
        id_name, F.explode(F.transform(probe, lambda s: s["i"])).alias("cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k neighbours through the IVF index.

    ``nprobe=None`` auto-sizes to ≈ len(centroids)/2 (floor 4) — the same
    probed fraction ``auto_ivf_params`` pairs with √N cells (the r11
    recall/time knee: 0.90 recall@5 at the bench corpus, see
    auto_ivf_params), so an index built with auto defaults probes the
    recall-recovering fraction instead of a small-corpus constant.

    Output: (query_id, neighbor_id, cosine, rank) like cosine_topk /
    lsh_bucketed_topk; recall is measured against the exact baseline in
    tests/test_similarity.py.
    """
    if nprobe is None:
        nprobe = max(4, int(round(len(centroids) / 2)))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).withColumn("cn", norm(F.col("cv")))
    cb = ivf_assign_frame(
        corpus, F.col(id_col), F.col(vec_col).cast("array<double>"), centroids, "neighbor_id"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    qb = ivf_probe_frame(
        queries, F.col(id_col), F.col(vec_col).cast("array<double>"), centroids, nprobe,
        "query_id",
    )
    cand = (
        cb.join(F.broadcast(qb), "cell")
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
