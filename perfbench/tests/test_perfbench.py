"""Tests of the benchmark's own code.  They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

from perfbench import corpus, run, tracing

BENCHMARK_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_corpus_is_a_pure_function_of_the_seed():
    assert corpus.generate(300, seed=7).equals(corpus.generate(300, seed=7))
    assert not corpus.generate(300, seed=7).equals(corpus.generate(300, seed=8))


def test_corpus_plants_one_word_reversed_copies():
    table = corpus.generate(400, seed=3)
    texts = table.column("text").to_pylist()
    assert table.num_rows == 400
    assert table.column("doc_id").to_pylist() == list(range(400))
    vocab = set(corpus.VOCAB)
    copies = [t for t in texts if any(w not in vocab for w in t.split())]
    assert len(copies) == round(400 * corpus.NEAR_DUP_SHARE)
    by_text = set(texts)
    for copy in copies:
        words = copy.split()
        (i,) = [i for i, w in enumerate(words) if w not in vocab]
        original = " ".join(words[:i] + [words[i][::-1]] + words[i + 1 :])
        assert original in by_text


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_subtracts_direct_children_only():
    clock = FakeClock()
    t = tracing.Tracer(clock)
    with t.span("fit"):  # 0 .. 10
        clock.now = 1.0
        with t.span("lbfgsb"):  # 1 .. 7
            clock.now = 2.0
            with t.span("reduce"):  # 2 .. 5
                clock.now = 5.0
            clock.now = 6.0
            with t.span("reduce"):  # 6 .. 6.5
                clock.now = 6.5
            clock.now = 7.0
        clock.now = 8.0
        with t.span("ppa"):  # 8 .. 9
            clock.now = 9.0
        clock.now = 10.0
    assert t.totals() == {"fit": 10.0, "lbfgsb": 6.0, "reduce": 3.5, "ppa": 1.0}
    assert t.self_times() == {"fit": 3.0, "lbfgsb": 2.5, "reduce": 3.5, "ppa": 1.0}


def test_covered_merges_overlapping_and_clips_intervals():
    assert tracing.covered(0.0, 10.0, [(1, 3), (2, 4), (8, 12), (-1, 0.5)]) == 5.5
    assert tracing.covered(0.0, 1.0, []) == 0.0


def test_outermost_counts_delegating_calls_once_and_patches_restore():
    class Experts:
        def reduce(self):
            return self.reduce_stateful() + 1

        def reduce_stateful(self):
            return 1

    original = Experts.__dict__["reduce"]
    t = tracing.Tracer()
    patches = tracing.Patches()
    wrap = tracing.outermost(t, "experts.", "experts.reduce", "experts.reduce_calls")
    patches.wrap(Experts, "reduce", wrap)
    patches.wrap(Experts, "reduce_stateful", wrap)
    assert Experts().reduce() == 2
    assert t.counters["experts.reduce_calls"] == 1
    assert [s[0] for s in t.spans] == ["experts.reduce"]
    patches.restore()
    assert Experts.__dict__["reduce"] is original


@pytest.fixture(scope="module")
def bench():
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def test_every_benchmark_metric_is_declared_by_the_runner(bench):
    assert {(m["name"], m["unit"]) for m in bench["end_to_end"]} == set(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_emits_every_benchmark_metric(bench, trace):
    ops = [{"op_s": 1.0, "problems": []}, {"op_s": 1.0, "problems": ["bad digest"]}]
    declared = run.PER_LAYER if trace else run.END_TO_END
    result = run.result_object(ops, {"op_s": 2.5}, declared)
    key = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in bench[key]}
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 2, 1)
    if not trace:
        assert result["metrics"]["op_s"] == {"value": 2.5, "unit": "s"}
