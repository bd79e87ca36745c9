"""Tracing for the benchmark's traced runs.

Everything here observes the program from outside: spans are recorded around
calls into the program's public functions by swapping module and class
attributes for timed wrappers (``Patches``), and engine counters are read from
Spark's in-process status store per job group (``spark_counters``).  Nothing
here is installed in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder.

    A span is ``(name, start, end, parent)`` with ``parent`` the index of the
    enclosing span or ``None``.  Counters are plain named sums.
    """

    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[list] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    def reset(self) -> None:
        self.spans.clear()
        self.counters.clear()
        self._stack.clear()

    @property
    def current(self) -> str | None:
        return self.spans[self._stack[-1]][0] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, self.clock(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = self.clock()

    def count(self, name: str, n: float = 1.0) -> None:
        self.counters[name] += n

    def totals(self) -> dict[str, float]:
        """Summed wall time per span name."""
        out: dict[str, float] = defaultdict(float)
        for name, start, end, _parent in self.spans:
            out[name] += end - start
        return dict(out)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus the
        part of its interval that its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, start, end, parent in self.spans:
            if parent is not None:
                children[parent].append((start, end))
        out: dict[str, float] = defaultdict(float)
        for idx, (name, start, end, _parent) in enumerate(self.spans):
            out[name] += (end - start) - covered(start, end, children.get(idx, []))
        return dict(out)


def covered(start: float, end: float, intervals) -> float:
    """Length of the union of ``intervals`` clipped to ``[start, end]``."""
    total, reach = 0.0, start
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, end)
        if e > s:
            total += e - s
            reach = e
    return total


class Patches:
    """Attribute swaps that are undone in reverse order by ``restore``."""

    def __init__(self) -> None:
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make) -> None:
        original = owner.__dict__[attr]
        self._undo.append((owner, attr, original))
        setattr(owner, attr, make(original))

    def restore(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


def timed(tracer: Tracer, name: str, on_result=None):
    """Wrapper factory for ``Patches.wrap``: run the call inside a span and
    pass its result to ``on_result`` (for counters)."""

    def make(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        return wrapper

    return make


def outermost(tracer: Tracer, prefix: str, name: str, counter: str | None = None):
    """Like ``timed`` but only for calls not already inside a ``prefix`` span,
    so a method that delegates to another wrapped method counts once."""

    def make(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            cur = tracer.current
            if cur is not None and cur.startswith(prefix):
                return fn(*args, **kwargs)
            if counter is not None:
                tracer.count(counter)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    return make


#: suffix of the job group that jobs launched inside the optimizer run under
OPT_GROUP = ":lbfgsb"


def install_gp(tracer: Tracer, patches: Patches, sc) -> None:
    """Spans around the GP layers: optimizer, expert packing and reductions,
    active-set selection, the PPA solve and the driver-side Laplace solves.
    Jobs launched inside the optimizer run under the op's job group plus
    ``OPT_GROUP``, so they can be counted apart."""
    from spark_gp_spark import classification, estimator_base, experts

    def optimizer(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            tracer.count("lbfgsb.runs")
            outer = sc.getLocalProperty("spark.jobGroup.id")
            if outer:
                sc.setJobGroup(outer + OPT_GROUP, outer + OPT_GROUP, False)
            try:
                with tracer.span("lbfgsb"):
                    return fn(*args, **kwargs)
            finally:
                if outer:
                    sc.setJobGroup(outer, outer, False)

        return wrapper

    def provider(resolve):
        @functools.wraps(resolve)
        def wrapper(spec):
            return timed(tracer, "active_set.select")(resolve(spec))

        return wrapper

    def on_laplace(result):
        tracer.count("gp_math.laplace_calls")
        tracer.count("gp_math.newton_iters", result[3])

    patches.wrap(estimator_base, "minimize_lbfgsb", optimizer)
    patches.wrap(estimator_base, "build_experts", timed(tracer, "experts.build"))
    patches.wrap(estimator_base, "resolve_provider", provider)
    patches.wrap(estimator_base, "ppa_solve", timed(tracer, "gp_math.ppa_solve"))
    patches.wrap(classification, "gpc_laplace", timed(tracer, "gp_math.laplace", on_laplace))

    reduce = outermost(tracer, "experts.", "experts.reduce", "experts.reduce_calls")
    rewrite = outermost(tracer, "experts.", "experts.reduce", "experts.state_rewrites")
    # LocalExperts inherits eval_and_update_states from Experts
    patches.wrap(experts.Experts, "eval_and_update_states", rewrite)
    for cls in (experts.LocalExperts, experts.DistributedExperts):
        patches.wrap(cls, "sum_over_experts", reduce)
        patches.wrap(cls, "sum_over_experts_stateful", reduce)
        patches.wrap(cls, "update_states", rewrite)
    patches.wrap(experts.DistributedExperts, "eval_and_update_states", rewrite)


#: capstone operators, as (module name under spark_gp_spark.operators, function)
CORPUS_OPERATORS = (
    ("text", "gopher_filter"),
    ("dedup", "neardup_components"),
    ("text", "text_stats"),
    ("prep", "contamination_check"),
    ("prep", "temperature_mix_sample"),
    ("prep", "pack_batches"),
)


def install_corpus(tracer: Tracer, patches: Patches) -> None:
    """Spans around each operator the corpus-prep capstone calls.  The
    capstone reaches them as module attributes, so swapping the module
    attribute is enough."""
    import importlib

    for module, fn in CORPUS_OPERATORS:
        mod = importlib.import_module(f"spark_gp_spark.operators.{module}")
        patches.wrap(mod, fn, timed(tracer, f"{module}.{fn}"))


_MB = 1024.0 * 1024.0

#: (name, unit) of the engine counters ``spark_counters`` sums
SPARK_COUNTERS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("exec_run_s", "s"), ("exec_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("input_mb", "MB"),
)


def spark_counters(sc, group: str) -> dict[str, float]:
    """Engine counters of every job run under job group ``group``, read from
    the in-process status store (works with the UI disabled).  Stages that
    several jobs share are counted once; skipped stages are not counted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    out = dict.fromkeys((k for k, _unit in SPARK_COUNTERS), 0.0)
    out["jobs"] = float(len(job_ids))
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["exec_run_s"] += sd.executorRunTime() / 1e3
            out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            out["input_mb"] += sd.inputBytes() / _MB
    return out
