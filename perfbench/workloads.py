"""The benchmark's workloads.

Each workload is a single-client closed loop: the next operation starts when
the previous one has finished.  A workload writes its inputs from the seed
(``generate``), loads them into the session (``stage``), runs one operation
(``operation``) and checks that operation's output.  The program under test
only ever sees the generated files.

An operation is a sequence of named phases.  ``operation(spark, phase)``
enters ``phase(name)`` around each; the traced run passes a context manager
that tags the phase's Spark jobs and spans, the untraced run a no-op.
"""

from __future__ import annotations

import contextlib
import math
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import corpus, oracle, tracing


@dataclass
class OpResult:
    #: wall seconds of the whole operation
    op_s: float
    #: failed checks, empty when the output is correct
    problems: list[str] = field(default_factory=list)
    #: per-layer figures the workload reads off the program after the op
    layers: dict[str, float] = field(default_factory=dict)


def _untraced(_phase: str):
    return contextlib.nullcontext()


def _write_xy(path: str, X: np.ndarray, y: np.ndarray) -> None:
    feats = pa.FixedSizeListArray.from_arrays(pa.array(X.ravel()), X.shape[1])
    pq.write_table(
        pa.table({"label": pa.array(y), "features": feats.cast(pa.list_(pa.float64()))}),
        path,
    )


def _read_xy(spark, path: str):
    """Load a generated (label, features) file spread over every core and
    cached, as a user would hold a training or scoring frame."""
    df = spark.read.parquet(path).repartition(spark.sparkContext.defaultParallelism).persist()
    df.count()
    return df


class GPRPart:
    """BCM regression on the reference PerformanceBenchmark protocol:
    y = sin((x1+x2+x3)/1000) over U(0,1)^3, expert size = active set = 100,
    RBF(0.1), sigma^2 = 1e-3; then a scoring pass over a separate cached
    frame.  Distributed expert reductions are forced with
    ``driverLocalRows = 0``, as the repository's own GP bench entries do: a
    training set above the 100k-row default takes ~6 s for one optimizer
    iteration here, more than the benchmark's time budget allows."""

    name = "gpr"
    TRAIN_ROWS = 40_000
    SCORE_ROWS = 100_000
    MAX_ITER = 1
    #: the protocol's signal (std 5e-4) sits far below its noise (sigma^2 =
    #: 1e-3), so a correct fit stays close to the zero prior mean.  The floor
    #: is the RMSE of predicting zero, plus 5%: it catches a broken fit or
    #: scoring pass (NaN, blown-up predictions), not a small accuracy loss,
    #: which the repository's tests pin.
    RMSE_FLOOR_FACTOR = 1.05

    def generate(self, directory: str, rng) -> None:
        for part, n in (("train", self.TRAIN_ROWS), ("score", self.SCORE_ROWS)):
            X = rng.random((n, 3))
            y = np.sin(X.sum(axis=1) / 1000.0)
            _write_xy(os.path.join(directory, f"gpr_{part}.parquet"), X, y)
        self.rmse_floor = self.RMSE_FLOOR_FACTOR * float(np.sqrt(np.mean(y * y)))

    def stage(self, spark, directory: str) -> None:
        self.train = _read_xy(spark, os.path.join(directory, "gpr_train.parquet"))
        self.scored = _read_xy(spark, os.path.join(directory, "gpr_score.parquet"))

    def estimator(self):
        from spark_gp_spark import GaussianProcessRegression, RBFKernel, Scalar

        return (
            GaussianProcessRegression()
            .setKernel(lambda: Scalar(1.0) * RBFKernel(0.1, 1e-6, 10))
            .setDatasetSizeForExpert(100)
            .setActiveSetSize(100)
            .setActiveSetProvider("random")
            .setSigma2(1e-3)
            .setSeed(13)
            .setMaxIter(self.MAX_ITER)
            .setMultiStart(1)
            .setExpertPartitioning("chunk")
            .setDriverLocalRows(0)
        )

    def score(self, model) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        err = F.col("prediction") - F.col("label")
        row = (
            model.setVarianceCol("variance")
            .transform(self.scored)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sqrt(F.avg(err * err)).alias("rmse"),
                F.min("variance").alias("min_var"),
            )
            .first()
        )
        problems = []
        if row["n"] != self.SCORE_ROWS:
            problems.append(f"gpr scored {row['n']} rows, expected {self.SCORE_ROWS}")
        if not (row["rmse"] is not None and math.isfinite(row["rmse"]) and row["rmse"] < self.rmse_floor):
            problems.append(f"gpr held-out RMSE {row['rmse']} not below {self.rmse_floor:.6g}")
        if not (row["min_var"] is not None and row["min_var"] > 0):
            problems.append(f"gpr non-positive predictive variance {row['min_var']}")
        return row["n"], problems

    def release(self) -> None:
        self.train.unpersist()
        self.scored.unpersist()


class GPCPart:
    """Laplace GP classification on an XOR-labelled plane, scored on a
    held-out set.  The training set sits below the library's default
    ``driverLocalRows``, so the library runs the optimizer loop driver-locally
    with no Spark job per evaluation."""

    name = "gpc"
    TRAIN_ROWS = 600
    TEST_ROWS = 2_000
    EXPERT_SIZE = 200
    MAX_ITER = 3
    ACCURACY_FLOOR = 0.9

    def generate(self, directory: str, rng) -> None:
        for part, n in (("train", self.TRAIN_ROWS), ("test", self.TEST_ROWS)):
            X = rng.uniform(-1.0, 1.0, size=(n, 2))
            y = (X[:, 0] * X[:, 1] > 0).astype(np.float64)
            _write_xy(os.path.join(directory, f"gpc_{part}.parquet"), X, y)

    def stage(self, spark, directory: str) -> None:
        # a few thousand rows: one partition, read per operation
        self.train = spark.read.parquet(os.path.join(directory, "gpc_train.parquet"))
        self.scored = spark.read.parquet(os.path.join(directory, "gpc_test.parquet"))

    def estimator(self):
        from spark_gp_spark import GaussianProcessClassifier, RBFKernel, Scalar

        return (
            GaussianProcessClassifier()
            .setKernel(lambda: Scalar(1.0) * RBFKernel(1.0))
            .setDatasetSizeForExpert(self.EXPERT_SIZE)
            .setActiveSetSize(self.EXPERT_SIZE)
            .setSeed(13)
            .setMaxIter(self.MAX_ITER)
            .setMultiStart(1)
        )

    def score(self, model) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        row = (
            model.transform(self.scored)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("acc"),
            )
            .first()
        )
        problems = []
        if row["n"] != self.TEST_ROWS:
            problems.append(f"gpc scored {row['n']} rows, expected {self.TEST_ROWS}")
        if not (row["acc"] is not None and row["acc"] >= self.ACCURACY_FLOOR):
            problems.append(f"gpc held-out accuracy {row['acc']} below {self.ACCURACY_FLOOR}")
        return row["n"], problems

    def release(self) -> None:
        pass


class GP:
    """Both GP estimators in one operation: the distributed BCM regression
    fit and its scoring pass, then the driver-local Laplace classification
    fit and its held-out scoring.  They share one workload so the runs fit
    the benchmark's time budget; each keeps its own phases and per-layer
    metrics, so a change to the distributed reduction path shows on the
    ``gpr.*`` metrics and not on the ``gpc.*`` ones."""

    name = "gp"
    #: the first operation in a fresh JVM takes ~1.7x a warm one
    WARMUP_OPS = 1

    def __init__(self, seed: int, work_dir: str) -> None:
        self.seed = seed
        self.dir = os.path.join(work_dir, f"{self.name}-{seed}")
        self.parts = (GPRPart(), GPCPart())
        self._evals: dict[str, float] = {}

    def generate(self) -> None:
        os.makedirs(self.dir, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        for part in self.parts:
            part.generate(self.dir, rng)

    def stage(self, spark) -> None:
        for part in self.parts:
            part.stage(spark, self.dir)

    def install(self, tracer, patches, sc) -> None:
        tracing.install_gp(tracer, patches, sc)

    def operation(self, spark, phase=_untraced) -> OpResult:
        t0 = time.perf_counter()
        problems: list[str] = []
        layers: dict[str, float] = {}
        for part in self.parts:
            est = part.estimator()
            with phase(f"{part.name}.fit"):
                model = est.fit(part.train)
            with phase(f"{part.name}.predict"):
                n_scored, found = part.score(model)
            problems += found
            stats = est._fit_stats
            evals = float(stats["evals"])
            # the fit is deterministic: every operation takes the same path
            first = self._evals.setdefault(part.name, evals)
            if evals != first:
                problems.append(f"{part.name} eval count {evals} differs from the first operation's {first}")
            layers.update({
                f"{part.name}.fit.evals": evals,
                f"{part.name}.fit.reductions": float(stats["reductions"]),
                f"{part.name}.fit.state_updates": float(stats["state_updates"]),
                f"{part.name}.fit.reduction_s": float(stats["reduction_wall_s"]),
                f"{part.name}.predict.rows": float(n_scored),
            })
        return OpResult(op_s=time.perf_counter() - t0, problems=problems, layers=layers)

    def release(self) -> None:
        for part in self.parts:
            part.release()


class CorpusPrep:
    """The registry capstone ``corpus_prep_pipeline_v2`` over a seeded corpus
    with near-duplicates, written to a no-op sink.  Row count, invariants and
    a content digest are observed on the sink's own pass (no extra job)."""

    name = "corpus_prep"
    DOCS = 2_000
    #: the first operation in a fresh JVM takes ~3x a warm one, and the next
    #: two still drift down by ~20%
    WARMUP_OPS = 2
    #: capstone constants the invariants check against
    PROBE_MAX, QUALITY_MIN = 20, 0.76

    def __init__(self, seed: int, work_dir: str) -> None:
        self.seed = seed
        self.dir = os.path.join(work_dir, f"{self.name}-{seed}")
        self._digest: str | None = None

    def generate(self) -> None:
        corpus.write(self.dir, self.DOCS, self.seed)

    def stage(self, spark) -> None:
        self.oracle_digest = oracle.recorded(self.seed, self.DOCS)

    def install(self, tracer, patches, sc) -> None:
        tracing.install_corpus(tracer, patches)

    def operation(self, spark, phase=_untraced) -> OpResult:
        from pyspark.sql import Observation

        from spark_gp_spark.queries import corpus_prep_pipeline_v2

        obs = Observation("corpus_prep")
        t0 = time.perf_counter()
        with phase("corpus.build"):
            out = corpus_prep_pipeline_v2(spark, self.dir)
        with phase("corpus.materialize"):
            out.observe(obs, *oracle.observed_columns()).write.format("noop").mode(
                "overwrite"
            ).save()
        op_s = time.perf_counter() - t0
        seen = obs.get
        # the capstone persists its intermediates; drop them so the next
        # operation runs the whole pipeline again
        spark.catalog.clearCache()

        problems = oracle.invariant_problems(seen, self.DOCS, self.PROBE_MAX, self.QUALITY_MIN)
        digest = oracle.digest_of(seen)
        first = self._digest = self._digest or digest
        if digest != first:
            problems.append(f"digest {digest} differs from the first operation's {first}")
        if self.oracle_digest is not None and digest != self.oracle_digest:
            problems.append(f"digest {digest} differs from the DuckDB oracle's {self.oracle_digest}")
        return OpResult(op_s=op_s, problems=problems, layers={"corpus.kept_ratio": seen["rows"] / self.DOCS})

    def release(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (GP, CorpusPrep)}
