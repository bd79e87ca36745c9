"""One telemetry path (spark_gp_spark/telemetry.py): rows exist only inside
an open ``record()``, a nested record joins the outer one, and each thread
sees only the record it opened."""

import os
import threading

from spark_gp_spark import telemetry
from spark_gp_spark.operators import ivf
from spark_gp_spark.queries import ivf_topk_auto

_KEY = ("telemetry_probe", "/no/such/file", (None, None))


def _lookups(n):
    try:
        for _ in range(n):
            ivf._cached_artifact(_KEY, object)
    finally:
        ivf._ANN_ARTIFACT_CACHE.pop(_KEY, None)


def _module_containers(mod):
    return [
        k for k, v in vars(mod).items()
        if isinstance(v, (list, dict, set)) and not k.startswith("__")
    ]


def test_no_record_open_stores_nothing():
    _lookups(100)
    assert _module_containers(telemetry) == []
    assert [k for k, v in vars(ivf).items() if isinstance(v, list)] == []
    with telemetry.record() as rows:
        pass
    assert rows == []


def test_record_holds_miss_then_hits_and_nested_record_joins():
    with telemetry.record() as outer:
        _lookups(1)
        with telemetry.record() as inner:
            assert inner is outer
            ivf._cached_artifact(_KEY, object)
            ivf._cached_artifact(_KEY, object)
        ivf._ANN_ARTIFACT_CACHE.pop(_KEY, None)
    assert [(r["kind"], r["stage"], r["cache"]) for r in outer] == [
        ("telemetry_probe", "train", "miss"),
        ("telemetry_probe", "train", "miss"),
        ("telemetry_probe", "train", "hit"),
    ]
    assert all(set(r) == {"kind", "stage", "s", "cache"} for r in outer)


def _run_entry(spark, sf_dir):
    with telemetry.record() as rows:
        ivf_topk_auto(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return [(r["kind"], r["stage"], r.get("cache")) for r in rows]


def test_threads_see_only_their_own_record(spark, sf_dir):
    sf_dir = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    # warm the artifact cache so every lookup below is a hit
    _run_entry(spark, sf_dir)
    solo = _run_entry(spark, sf_dir)
    assert solo.count(("ivf_topk_auto", "plan_build", None)) == 1
    assert solo[-1] == ("ivf_topk_auto", "plan_build", None)
    assert any(stage == "train" for _, stage, _ in solo)

    got = [None, None]
    barrier = threading.Barrier(2)

    def worker(i):
        barrier.wait()
        got[i] = _run_entry(spark, sf_dir)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert got == [solo, solo]
