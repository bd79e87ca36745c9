"""Isolated per-query timing + plan capture for the optimization rounds.

Times individual registry queries with the noop sink (guide §1.4) in a
fresh session configured exactly like bench.py (same master/shuffle/AQE
settings), after the same JVM + Python-worker + ANN-artifact warmups, so a
query's number here is its bench steady-state cost without the other ~95
entries around it.  Each rep prints its time followed by the telemetry rows
the entry recorded (spark_gp_spark/telemetry.py), the same split bench.py
reports under stage_times.  Optionally captures .explain("formatted") per
query.

Usage:
    python tools/time_query.py [--sf DIR] [--reps N] [--explain OUTDIR]
                               [--no-warm-ann] query [query ...]

Env: SPARK_GRAFT_CPUS (default 32) — master local[N], like bench.py.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--explain", default=None, metavar="OUTDIR")
    ap.add_argument("--suffix", default="", help="plan filename suffix, e.g. _before")
    ap.add_argument("--no-warm-ann", action="store_true")
    args = ap.parse_args()

    import bench  # reuse make_spark/warm_up so configs never drift from the bench

    spark = bench.make_spark()
    spark.sparkContext.setLogLevel("ERROR")

    from spark_gp_spark.queries import QUERIES
    from spark_gp_spark.telemetry import record

    needs_ann = not args.no_warm_ann and any(
        any(t in q for t in ("ivf", "pq_", "opq", "lsh", "ann", "semdedup",
                             "hard_negatives", "cluster_", "embedding_neardup"))
        for q in args.queries
    )
    bench.warm_up(spark, args.sf, ann=needs_ann)

    results: dict[str, list[float]] = {}
    for name in args.queries:
        fn = QUERIES[name]
        times = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"time_query: {name} rep{rep}")
            t0 = time.time()
            with record() as rows:
                df = fn(spark, args.sf)
                df.write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
            print(f"{name} rep{rep}: {times[-1]} s {rows}", flush=True)
            spark.catalog.clearCache()
        results[name] = times
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, args.sf)
            buf = io.StringIO()
            stdout = sys.stdout
            sys.stdout = buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            with open(
                os.path.join(args.explain, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
        print(f"{name}: {times}", flush=True)

    spark.stop()
    print("RESULTS", {k: v for k, v in results.items()})


if __name__ == "__main__":
    main()
