"""Expert partitioning and distributed reduction for BCM Gaussian Processes.

The reference turns the training relation into an ``RDD[(y, Kernel)]`` of
small "expert" chunks via count + zipWithIndex + groupByKey
(GaussianProcessCommons.scala:26-38) and evaluates the summed marginal
likelihood with ``treeAggregate`` (GaussianProcessCommons.scala:71-80).

This rebuild keeps the data in DataFrames end to end:

- **Packing.** Experts are materialized ONCE as a persisted DataFrame with one
  row per expert: ``(y array<double>, xs array<double> flattened row-major,
  n int, d int)``.  Two assignment strategies:

  * ``chunk`` (default): ``mapInPandas`` slices each input partition into
    consecutive chunks of ``dataset_size_for_expert`` rows — ZERO shuffle.
    BCM is valid under any partition of the rows into chunks, so we pick the
    one that moves no data.  At 100 TB this is the difference between a free
    pass over parquet and a full-data shuffle.
  * ``roundrobin``: reproduces the reference's ``index % numExperts``
    assignment (one shuffle) for cases where input order correlates with the
    target and spread experts are preferred.

  ``num_experts = max(1, round(N / dataset_size_for_expert))`` — guards the
  reference's division-by-zero when N < datasetSizeForExpert/2
  (GaussianProcessCommons.scala:27-29).

- **Reduction.** Every distributed quantity the GP needs (summed likelihood +
  gradient, the m×m Gram products, greedy-selection argmax) is a
  sum/max over per-expert numpy payloads.  ``sum_over_experts`` runs one
  ``mapInPandas`` job that emits ONE partial-sum row per Arrow batch
  (map-side combine), so the driver only ever sees ~numPartitions small rows —
  the DataFrame analogue of ``treeAggregate``.

- **Adaptive locality.** When the packed experts are tiny (< driver_local_rows
  rows total) the whole set is collected once and subsequent optimizer
  iterations run driver-local with zero Spark jobs.  A 100-iteration L-BFGS
  run on a 2 000-row dataset should not launch 100 jobs; on 100 TB the
  distributed path kicks in automatically.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PACKED_SCHEMA = "y array<double>, xs array<double>, n int, d int"


def normalize_points(df: DataFrame, label_col: str, features_col: str) -> DataFrame:
    """Project to a canonical (label double, features array<double>) relation.

    Accepts either ``array<double>`` or ``pyspark.ml.linalg`` Vector features
    (the reference consumes ML Vectors, GaussianProcessCommons.scala:20-24).
    Only these two columns are selected, so Catalyst prunes everything else
    out of the scan.
    """
    from .estimator_base import features_as_array  # estimator_base imports us

    return df.select(
        F.col(label_col).cast("double").alias("label"),
        features_as_array(df, features_col).alias("features"),
    )


def _pack_batch(labels: list, feats: list) -> dict:
    X = np.asarray(feats, dtype=np.float64)
    return {
        "y": np.asarray(labels, dtype=np.float64),
        "xs": X.ravel(),
        "n": len(labels),
        "d": X.shape[1] if X.ndim == 2 else 1,
    }


def _chunk_packer(chunk_size: int):
    def pack(iterator):
        buf_y: list = []
        buf_x: list = []
        out_rows: list[dict] = []
        for pdf in iterator:
            buf_y.extend(pdf["label"].tolist())
            buf_x.extend(pdf["features"].tolist())
            while len(buf_y) >= 2 * chunk_size:
                out_rows.append(_pack_batch(buf_y[:chunk_size], buf_x[:chunk_size]))
                buf_y, buf_x = buf_y[chunk_size:], buf_x[chunk_size:]
            if out_rows:
                yield pd.DataFrame(out_rows)
                out_rows = []
        # Tail: emit full chunks; fold a small remainder (< chunk_size/2) into
        # the last chunk so expert sizes stay within [n/2, 3n/2] — mirrors the
        # reference's round(N/n) sizing.
        while len(buf_y) > 0:
            take = len(buf_y) if len(buf_y) <= chunk_size * 3 // 2 else chunk_size
            out_rows.append(_pack_batch(buf_y[:take], buf_x[:take]))
            buf_y, buf_x = buf_y[take:], buf_x[take:]
        if out_rows:
            yield pd.DataFrame(out_rows)

    return pack


def _group_packer():
    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame([_pack_batch(pdf["label"].tolist(), pdf["features"].tolist())])

    return pack


def build_expert_frame(
    points: DataFrame, dataset_size_for_expert: int, partitioning: str = "chunk"
) -> DataFrame:
    """Pack the points relation into one row per expert (see module doc)."""
    if partitioning == "chunk":
        return points.mapInPandas(_chunk_packer(dataset_size_for_expert), schema=PACKED_SCHEMA)
    if partitioning == "roundrobin":
        n_total = points.count()
        num_experts = max(1, round(n_total / dataset_size_for_expert))
        with_id = points.withColumn(
            "expert_id", F.pmod(F.monotonically_increasing_id(), F.lit(num_experts))
        )
        return with_id.groupBy("expert_id").applyInPandas(
            lambda key, pdf: pd.DataFrame(
                [_pack_batch(pdf["label"].tolist(), pdf["features"].tolist())]
            ),
            schema=PACKED_SCHEMA,
        )
    raise ValueError(f"unknown expert partitioning: {partitioning!r}")


ExpertFn = Callable[[np.ndarray, np.ndarray], np.ndarray]
"""Per-expert payload: (y (n,), X (n, d)) -> flat float64 array."""


def _iter_packed_rows(pdf: pd.DataFrame):
    """(y, X, state|None) triples from a packed-expert Arrow batch.

    Module-level (not a method) so worker closures don't capture the
    Experts instance — and with it an unpicklable DataFrame."""
    states = pdf["state"] if "state" in pdf.columns else [None] * len(pdf)
    for y, xs, n, d, st in zip(pdf["y"], pdf["xs"], pdf["n"], pdf["d"], states):
        yv = np.asarray(y, dtype=np.float64)
        X = np.asarray(xs, dtype=np.float64).reshape(int(n), int(d))
        stv = None if st is None else np.asarray(st, dtype=np.float64)
        yield yv, X, stv


class Experts:
    """Reduction interface over the expert set."""

    def sum_over_experts(self, fn: ExpertFn, out_len: int) -> np.ndarray:
        raise NotImplementedError

    def sum_over_experts_stateful(
        self, fn: "Callable[[np.ndarray, np.ndarray, np.ndarray | None], np.ndarray]", out_len: int
    ) -> np.ndarray:
        """Like ``sum_over_experts`` but ``fn(y, X, state)`` also reads this
        expert's latent state (None until the first ``update_states``)."""
        raise NotImplementedError

    def update_states(
        self, fn: "Callable[[np.ndarray, np.ndarray, np.ndarray | None], np.ndarray]"
    ) -> None:
        """Rewrite every expert's latent state to ``fn(y, X, state)``.

        This is the Spark-native rendering of the reference's in-place
        mutation of latent state inside the cached RDD
        (GaussianProcessClassifier.scala:52-60): state lives as an explicit
        ``state array<double>`` column of the packed expert frame and is
        rewritten wholesale — once per accepted optimizer iterate, not per
        evaluation — so workers stay stateless."""
        raise NotImplementedError

    def eval_and_update_states(self, update_fn, eval_fn, out_len: int) -> np.ndarray:
        """Rewrite states with ``update_fn`` then evaluate ``eval_fn`` against
        the NEW states, as one logical step.  Default: the two calls in
        sequence; DistributedExperts fuses them into a single Spark job."""
        self.update_states(update_fn)
        return self.sum_over_experts_stateful(eval_fn, out_len)

    def topk_over_experts(
        self,
        fn: "Callable[[np.ndarray, np.ndarray], tuple[np.ndarray, np.ndarray]]",
        k: int,
    ) -> np.ndarray:
        """fn returns (scores (c,), payloads (c, d)) per expert — its own
        top candidates, already capped at k; global merge keeps the k
        highest-scoring payload rows (ties broken by arrival order), NaN
        scores dropped (ActiveSetProvider.scala:130); raises ``ValueError``
        when no expert yields a finite score.  One reduction yields k
        selections."""
        raise NotImplementedError

    def unpersist(self) -> None:
        pass


class DistributedExperts(Experts):
    """Distributed reductions with executor-side tree merging.

    ``aggregation_depth`` mirrors the reference's reserved
    ``HasAggregationDepth`` (GaussianProcessParams.scala:9, used by
    ``treeAggregate`` in GaussianProcessCommons.scala:71-80): depth 2 is one
    map-side combine per partition + driver sum; depth ≥ 3 inserts executor-
    side merge rounds so the driver receives O(P^(1/(depth-1))) partial rows
    instead of P.  At m = 1000 active points one partial row is ~8 MB
    ((m²+m) doubles) — on a 100k-partition scan the merge level is the
    difference between ~2.5 GB and ~800 GB arriving at the driver.
    """

    #: partial-row counts at or below this collect directly — a merge round
    #: would cost a shuffle to save a negligible driver sum.
    _MERGE_FLOOR = 16

    def __init__(self, frame: DataFrame, aggregation_depth: int = 2) -> None:
        frame = frame.persist()
        # one count per fit: materializes the cache before the optimizer loop
        # AND tells us the expert count for partition right-sizing
        n_experts = frame.count()
        n_parts = frame.rdd.getNumPartitions()
        if 0 < n_experts < n_parts:
            # Fewer experts than partitions (small forced-distributed fits):
            # every reduction would launch (parts − experts) EMPTY
            # Python-worker tasks — pure scheduling + Arrow-roundtrip tax,
            # ~15 ms each, paid on every one of the optimizer's ~40 jobs.
            # Coalesce (no shuffle) so each task carries an expert.  At scale
            # experts ≫ partitions and this branch never fires.
            packed = frame.coalesce(int(n_experts)).persist()
            packed.count()
            frame.unpersist()
            frame, n_parts = packed, int(n_experts)
        self.frame = frame
        #: the DataFrame actually persisted/checkpointed behind self.frame —
        #: self.frame may be a cheap projection over it (fused updates), so
        #: cache release always goes through _backing, not frame
        self._backing = frame
        self.aggregation_depth = max(2, aggregation_depth)
        # JVM-side partition-count probe once per fit, not per reduction
        self._n_parts = n_parts

    def _tree_merge(self, partials: DataFrame, out_len: int) -> DataFrame:
        """Insert ``aggregation_depth - 2`` executor-side combine rounds."""

        def combine(iterator):
            acc = np.zeros(out_len)
            seen = False
            for pdf in iterator:
                for part in pdf["part"]:
                    acc += np.asarray(part, dtype=np.float64)
                    seen = True
            if seen:
                yield pd.DataFrame({"part": [acc]})

        p = self._n_parts
        depth = self.aggregation_depth
        while depth > 2 and p > self._MERGE_FLOOR:
            scale = max(2, int(np.ceil(p ** (1.0 / (depth - 1)))))
            p = max(1, p // scale)
            partials = partials.repartition(p).mapInPandas(combine, schema="part array<double>")
            depth -= 1
        return partials

    def sum_over_experts(self, fn: ExpertFn, out_len: int) -> np.ndarray:
        return self.sum_over_experts_stateful(lambda y, X, _st: fn(y, X), out_len)

    def sum_over_experts_stateful(self, fn, out_len: int) -> np.ndarray:
        def partial(iterator):
            for pdf in iterator:
                acc = np.zeros(out_len)
                for yv, X, stv in _iter_packed_rows(pdf):
                    acc += fn(yv, X, stv)
                yield pd.DataFrame({"part": [acc]})

        partials = self.frame.mapInPandas(partial, schema="part array<double>")
        rows = self._tree_merge(partials, out_len).collect()
        result = np.zeros(out_len)
        for row in rows:
            result += np.asarray(row["part"], dtype=np.float64)
        return result

    #: state-frame rewrites between lineage truncations — each update_states
    #: chains a mapInPandas on the previous cached frame; localCheckpoint
    #: every few rewrites keeps recomputation depth bounded if a cached
    #: partition is evicted mid-fit.
    _CHECKPOINT_EVERY = 8

    def update_states(self, fn) -> None:
        def rewrite(iterator):
            for pdf in iterator:
                new_states = [
                    np.asarray(fn(yv, X, stv), dtype=np.float64)
                    for yv, X, stv in _iter_packed_rows(pdf)
                ]
                out = pdf[["y", "xs", "n", "d"]].copy()
                out["state"] = new_states
                yield out

        rewritten = self.frame.mapInPandas(
            rewrite, schema=PACKED_SCHEMA + ", state array<double>"
        )
        self._state_rewrites = getattr(self, "_state_rewrites", 0) + 1
        if self._state_rewrites % self._CHECKPOINT_EVERY == 0:
            # checkpoint stores its own blocks — persisting first would
            # strand a cached copy of the whole packed frame per checkpoint
            new_frame = rewritten.localCheckpoint(eager=True)
        else:
            new_frame = rewritten.persist()
            new_frame.count()  # materialize before releasing the parent
        old = self._backing
        self.frame = new_frame
        self._backing = new_frame
        old.unpersist()

    def eval_and_update_states(self, update_fn, eval_fn, out_len: int) -> np.ndarray:
        """FUSED state rewrite + evaluation: one mapInPandas pass emits both
        the rewritten packed rows AND one partial-sum row per Arrow batch
        (data rows carry ``part = NULL``; partial rows carry NULL payload).

        Every accepted L-BFGS iterate previously cost TWO jobs — an
        update_states pass (mapInPandas → persist → count) followed by the
        next evaluation's reduction over the new frame.  At bench scale each
        job is dominated by fixed scheduling + Arrow round-trip cost, and
        the two passes run gpc_laplace over the same experts back to back —
        fusing them halves both the job count and the Python work on the
        accept path (measured 11.9 s → 8 s on gpc_fit_2k)."""

        def fused(iterator):
            for pdf in iterator:
                acc = np.zeros(out_len)
                new_states: list[np.ndarray] = []
                for yv, X, stv in _iter_packed_rows(pdf):
                    st2 = np.asarray(update_fn(yv, X, stv), dtype=np.float64)
                    new_states.append(st2)
                    acc += eval_fn(yv, X, st2)
                out = pdf[["y", "xs", "n", "d"]].copy()
                out["state"] = new_states
                out["part"] = None
                yield out
                yield pd.DataFrame(
                    {
                        "y": [None],
                        "xs": [None],
                        "n": [None],
                        "d": [None],
                        "state": [None],
                        "part": [acc],
                    }
                )

        combined = self.frame.mapInPandas(
            fused, schema=PACKED_SCHEMA + ", state array<double>, part array<double>"
        ).persist()
        partials = combined.filter(F.col("part").isNotNull()).select("part")
        rows = self._tree_merge(partials, out_len).collect()  # materializes cache
        result = np.zeros(out_len)
        for row in rows:
            result += np.asarray(row["part"], dtype=np.float64)

        data_rows = combined.filter(F.col("part").isNull()).select(
            "y", "xs", "n", "d", "state"
        )
        self._state_rewrites = getattr(self, "_state_rewrites", 0) + 1
        old = self._backing
        if self._state_rewrites % self._CHECKPOINT_EVERY == 0:
            # bound lineage depth: checkpoint stores its own blocks, so drop
            # the combined cache afterwards
            self.frame = data_rows.localCheckpoint(eager=True)
            self._backing = self.frame
            combined.unpersist()
        else:
            # the combined cache IS the materialization; the filter on top is
            # a cheap cache-read projection
            self.frame = data_rows
            self._backing = combined
        old.unpersist()
        return result

    def topk_over_experts(self, fn, k: int) -> np.ndarray:
        def partial(iterator):
            scores: list[float] = []
            payloads: list[np.ndarray] = []
            for pdf in iterator:
                for y, xs, n, d in zip(pdf["y"], pdf["xs"], pdf["n"], pdf["d"]):
                    yv = np.asarray(y, dtype=np.float64)
                    X = np.asarray(xs, dtype=np.float64).reshape(int(n), int(d))
                    s, P = fn(yv, X)
                    keep = ~np.isnan(s)
                    scores.extend(float(v) for v in s[keep])
                    payloads.extend(np.asarray(p, dtype=np.float64) for p in P[keep])
                    if len(scores) > 4 * k:
                        # partition-side cap: keep only the running top-k
                        order = np.argsort(np.negative(scores), kind="stable")[:k]
                        scores = [scores[i] for i in order]
                        payloads = [payloads[i] for i in order]
            if scores:
                order = np.argsort(np.negative(scores), kind="stable")[:k]
                yield pd.DataFrame(
                    {
                        "score": [scores[i] for i in order],
                        "payload": [list(payloads[i]) for i in order],
                    }
                )

        rows = self.frame.mapInPandas(
            partial, schema="score double, payload array<double>"
        ).collect()
        if not rows:
            raise ValueError("no expert produced a finite score")
        rows = sorted(rows, key=lambda r: -r["score"])[:k]
        return np.asarray([r["payload"] for r in rows], dtype=np.float64)

    def unpersist(self) -> None:
        self._backing.unpersist()


class LocalExperts(Experts):
    """Driver-local fast path: same reductions, zero Spark jobs per call."""

    def __init__(self, chunks: list[tuple[np.ndarray, np.ndarray]]) -> None:
        self.chunks = chunks
        self.states: list[np.ndarray | None] = [None] * len(chunks)

    @classmethod
    def from_frame(cls, frame: DataFrame) -> "LocalExperts":
        rows = frame.collect()
        chunks = [
            (
                np.asarray(r["y"], dtype=np.float64),
                np.asarray(r["xs"], dtype=np.float64).reshape(int(r["n"]), int(r["d"])),
            )
            for r in rows
        ]
        return cls(chunks)

    def sum_over_experts(self, fn: ExpertFn, out_len: int) -> np.ndarray:
        acc = np.zeros(out_len)
        for y, X in self.chunks:
            acc += fn(y, X)
        return acc

    def sum_over_experts_stateful(self, fn, out_len: int) -> np.ndarray:
        acc = np.zeros(out_len)
        for (y, X), st in zip(self.chunks, self.states):
            acc += fn(y, X, st)
        return acc

    def update_states(self, fn) -> None:
        self.states = [
            np.asarray(fn(y, X, st), dtype=np.float64)
            for (y, X), st in zip(self.chunks, self.states)
        ]

    def topk_over_experts(self, fn, k: int) -> np.ndarray:
        scores: list[float] = []
        payloads: list[np.ndarray] = []
        for y, X in self.chunks:
            s, P = fn(y, X)
            keep = ~np.isnan(s)
            scores.extend(float(v) for v in s[keep])
            payloads.extend(np.asarray(p, dtype=np.float64) for p in P[keep])
        if not scores:
            raise ValueError("no expert produced a finite score")
        order = np.argsort(np.negative(scores), kind="stable")[:k]
        return np.asarray([payloads[i] for i in order], dtype=np.float64)


def build_experts(
    points: DataFrame,
    dataset_size_for_expert: int,
    partitioning: str = "chunk",
    driver_local_rows: int = 100_000,
    aggregation_depth: int = 2,
) -> Experts:
    """Pack points into experts; choose local vs distributed reduction.

    ``driver_local_rows``: if the training relation has fewer rows than this,
    the packed experts are collected once and the optimizer loop runs with
    zero Spark jobs per iteration.  Set to 0 to force the distributed path.
    ``aggregation_depth``: ≥3 adds executor-side merge rounds before partial
    sums reach the driver (see DistributedExperts).
    """
    frame = build_expert_frame(points, dataset_size_for_expert, partitioning)
    if driver_local_rows > 0:
        n_total = points.count()
        if n_total <= driver_local_rows:
            return LocalExperts.from_frame(frame)
    return DistributedExperts(frame, aggregation_depth)


def sample_feature_rows(points: DataFrame, m: int, seed: int) -> np.ndarray:
    """Exact-size uniform sample of feature rows as a (m, d) numpy array.

    Reference: ``takeSample(false, m, seed)`` (ActiveSetProvider.scala:55).
    ``orderBy(rand).limit(m)`` compiles to TakeOrderedAndProject — a per-
    partition top-m heap + driver merge, not a full sort, so it scales.
    """
    rows = points.orderBy(F.rand(seed)).limit(m).select("features").collect()
    return np.asarray([r["features"] for r in rows], dtype=np.float64)
