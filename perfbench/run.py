"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository.  One run:

1. set-up: start a Spark session, write the workload's inputs from the seed,
   load them, and run the workload's ``WARMUP_OPS`` untimed operations (the
   first operation in a fresh JVM runs several times slower than later
   ones).  ``setup_s`` is the wall time of all of it, so work moved out of
   the timed loop shows.
2. timed closed loop: operations back to back until ``--seconds`` have passed
   (at least ``MIN_OPS``), each checked for correctness.

With ``--trace 0`` the end-to-end metrics are reported.  With ``--trace 1``
the loop alternates untraced and traced operations; the traced ones report
the per-layer metrics, and the pair gives the tracing overhead.  Host-noise
probes and the environment are recorded on the line before the result.  The
last stdout line is the result object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import hostenv, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

WORK = os.path.join(HERE, "_work")
MIN_OPS = 3

#: (name, unit) of every end-to-end metric, reported by untraced runs
END_TO_END = (("setup_s", "s"), ("op_s", "s"))

#: phases of the operations, as the workloads name them
PHASES = ("gpr.fit", "gpr.predict", "gpc.fit", "gpc.predict", "corpus.build", "corpus.materialize")
PHASE_KEYS = (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("exec_run_s", "s"), ("exec_cpu_s", "s"))
#: GP layers, per fit phase
FIT_KEYS = (
    ("fit.evals", "count"), ("fit.reductions", "count"), ("fit.state_updates", "count"),
    ("fit.reduction_s", "s"), ("fit.self_s", "s"), ("fit.optimizer_jobs", "count"),
    ("fit.jobs_per_eval", "ratio"), ("lbfgsb.runs", "count"), ("lbfgsb.self_s", "s"),
    ("experts.build_s", "s"), ("experts.reduce_calls", "count"), ("experts.reduce_s", "s"),
    ("experts.state_rewrites", "count"), ("active_set.select_s", "s"),
    ("gp_math.ppa_solve_s", "s"), ("gp_math.laplace_calls", "count"),
    ("gp_math.laplace_s", "s"), ("gp_math.newton_iters", "count"),
)
#: (name, unit) of every per-layer metric, reported by traced runs as the
#: median over the traced operations of the run; a layer a workload does
#: not reach reads 0
PER_LAYER = (
    *((f"spark.{k}", u) for k, u in tracing.SPARK_COUNTERS),
    *((f"{p}.{k}", u) for p in PHASES for k, u in PHASE_KEYS),
    *((f"{m}.{k}", u) for m in ("gpr", "gpc") for k, u in FIT_KEYS),
    ("gpr.predict.rows", "count"), ("gpc.predict.rows", "count"),
    *((f"{module}.{fn}_s", "s") for module, fn in tracing.CORPUS_OPERATORS),
    ("corpus.kept_ratio", "ratio"),
    ("trace.op_untraced_s", "s"), ("trace.op_traced_s", "s"), ("trace.overhead_s", "s"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def n_cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def make_session():
    from pyspark.sql import SparkSession

    n = str(n_cores())
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", n)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def median_layers(rows: list[dict]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}


class TracedOp:
    """Runs one operation with spans and per-phase job groups, and turns what
    they recorded into the per-layer figures of that operation."""

    def __init__(self, workload, spark, tag: str) -> None:
        self.workload = workload
        self.sc = spark.sparkContext
        self.tag = tag
        self.tracer = tracing.Tracer()
        #: phase -> (span totals, span self times, counters)
        self.phases: dict[str, tuple[dict, dict, dict]] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        group = f"{self.tag}/{name}"
        self.sc.setJobGroup(group, group, False)
        try:
            with self.tracer.span("phase"):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            t = self.tracer
            self.phases[name] = (t.totals(), t.self_times(), dict(t.counters))
            t.reset()

    def run(self, spark):
        patches = tracing.Patches()
        self.workload.install(self.tracer, patches, self.sc)
        try:
            result = self.workload.operation(spark, self.phase)
        finally:
            patches.restore()
        return result, self.layers(result)

    def layers(self, result) -> dict[str, float]:
        out = dict.fromkeys((f"spark.{k}" for k, _u in tracing.SPARK_COUNTERS), 0.0)
        for name, (totals, selfs, counters) in self.phases.items():
            group = f"{self.tag}/{name}"
            engine = tracing.spark_counters(self.sc, group)
            opt = tracing.spark_counters(self.sc, group + tracing.OPT_GROUP)
            for k, _u in tracing.SPARK_COUNTERS:
                engine[k] += opt[k]
                out[f"spark.{k}"] += engine[k]
            out[f"{name}.s"] = totals["phase"]
            for k in ("jobs", "tasks", "exec_run_s", "exec_cpu_s"):
                out[f"{name}.{k}"] = engine[k]
            for span, total in totals.items():
                if span.startswith(("text.", "dedup.", "prep.")):
                    out[f"{span}_s"] = out.get(f"{span}_s", 0.0) + total
            model, _, step = name.partition(".")
            if step != "fit":
                continue
            evals = result.layers.get(f"{model}.fit.evals", 0.0)
            out.update({f"{model}.{k}": v for k, v in {
                "fit.self_s": selfs["phase"],
                "fit.optimizer_jobs": opt["jobs"],
                "fit.jobs_per_eval": opt["jobs"] / evals if evals else 0.0,
                "lbfgsb.runs": counters.get("lbfgsb.runs", 0.0),
                "lbfgsb.self_s": selfs.get("lbfgsb", 0.0),
                "experts.build_s": totals.get("experts.build", 0.0),
                "experts.reduce_calls": counters.get("experts.reduce_calls", 0.0),
                "experts.reduce_s": totals.get("experts.reduce", 0.0),
                "experts.state_rewrites": counters.get("experts.state_rewrites", 0.0),
                "active_set.select_s": totals.get("active_set.select", 0.0),
                "gp_math.ppa_solve_s": totals.get("gp_math.ppa_solve", 0.0),
                "gp_math.laplace_calls": counters.get("gp_math.laplace_calls", 0.0),
                "gp_math.laplace_s": totals.get("gp_math.laplace", 0.0),
                "gp_math.newton_iters": counters.get("gp_math.newton_iters", 0.0),
            }.items()})
        out.update(result.layers)
        return out


def result_object(ops: list[dict], metrics: dict[str, float], declared) -> dict:
    """The result line: every declared (name, unit) metric, and the count of
    operations (warm-up included) whose check failed."""
    failed = sum(1 for o in ops if o["problems"])
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in declared},
    }


def run(args) -> tuple[dict, dict]:
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    record["probes_start"] = hostenv.probes()
    workload = WORKLOADS[args.workload](args.seed, WORK)

    spark = None
    ops: list[dict] = []
    try:
        marks = [time.perf_counter()]
        spark = make_session()
        marks.append(time.perf_counter())
        workload.generate()
        workload.stage(spark)
        marks.append(time.perf_counter())
        for _ in range(workload.WARMUP_OPS):
            warm = workload.operation(spark)
            ops.append({"warmup": True, "op_s": warm.op_s, "problems": warm.problems})
        marks.append(time.perf_counter())
        setup_s = marks[-1] - marks[0]
        record["setup_parts_s"] = dict(zip(("session", "inputs", "warmup"), (b - a for a, b in zip(marks, marks[1:]))))
        record["env"] = hostenv.environment(spark, args.seed)

        layer_rows: list[dict] = []
        start = time.perf_counter()
        i = 0
        while i < MIN_OPS or time.perf_counter() - start < args.seconds:
            traced = bool(args.trace) and i % 2 == 1
            if traced:
                res, layers = TracedOp(workload, spark, f"op{i}").run(spark)
                layer_rows.append(layers)
            else:
                res = workload.operation(spark)
            ops.append({"traced": traced, "op_s": res.op_s, "problems": res.problems})
            i += 1
        workload.release()
    finally:
        stop_spark(spark)
        shutil.rmtree(workload.dir, ignore_errors=True)
    record["probes_end"] = hostenv.probes()
    record["setup_s"] = setup_s
    record["ops"] = ops

    timed = [o for o in ops if not o.get("warmup")]
    plain = [o for o in timed if not o["traced"]]
    if args.trace:
        metrics = median_layers(layer_rows)
        untraced = statistics.median(o["op_s"] for o in plain)
        traced_s = statistics.median(o["op_s"] for o in timed if o["traced"])
        metrics.update({"trace.op_untraced_s": untraced, "trace.op_traced_s": traced_s,
                        "trace.overhead_s": traced_s - untraced})
    else:
        metrics = {
            "setup_s": setup_s,
            "op_s": statistics.median(o["op_s"] for o in plain),
        }
    result = result_object(ops, metrics, PER_LAYER if args.trace else END_TO_END)
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spark_gp_spark")):
        print(f"perfbench: no spark_gp_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # Python workers import the program from the checkout; every temp file,
    # the JVMs' included, stays in it
    tmp = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", os.environ.get("JAVA_TOOL_OPTIONS")) if p
    )

    record, result = run(args)
    with open(os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"record": record, "result": result}, f, indent=1, default=str)
    print(json.dumps({"record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
