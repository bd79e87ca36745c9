"""Output checks for the ``corpus_prep`` workload.

Every operation observes aggregates of its own output on the sink's pass:
the row count, invariants and an order-independent content digest
(``rows:sum:xor`` of a 64-bit hash per row).  The DuckDB oracle of the
capstone computes the same digest once, offline, and the values are
recorded in ``oracle_digests.json``; it is far too slow to run per run.

Record the digests (takes minutes; rerun only when the corpus generator,
its size or the capstone changes)::

    python3 -m perfbench.oracle 0 1 2
"""

from __future__ import annotations

import json
import os
import sys

DIGESTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_digests.json")
SPLITS = ("train", "val", "test")


def observed_columns():
    """Aggregate columns over the capstone's output frame."""
    from pyspark.sql import functions as F

    c = F.col
    h = F.xxhash64(
        c("doc_id").cast("long"),
        c("component").cast("long"),
        c("component_size").cast("long"),
        F.round(c("quality").cast("double"), 9),
        c("lang").cast("string"),
        c("thresh_bp").cast("long"),
        c("split").cast("string"),
        c("n_tokens").cast("long"),
        c("batch_id").cast("long"),
    )
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("hash_sum"),
        F.bit_xor(h).alias("hash_xor"),
        F.min("doc_id").alias("min_doc_id"),
        F.min("component_size").alias("min_component_size"),
        F.min("quality").alias("min_quality"),
        F.sum(F.when(c("split").isin(*SPLITS), 0).otherwise(1)).alias("bad_split"),
        F.min("thresh_bp").alias("min_thresh_bp"),
        F.max("thresh_bp").alias("max_thresh_bp"),
        F.min("n_tokens").alias("min_n_tokens"),
        F.min("batch_id").alias("min_batch_id"),
    ]


def digest_of(seen) -> str:
    return f"{seen['rows']}:{seen['hash_sum']}:{seen['hash_xor']}"


def invariant_problems(seen, n_docs: int, probe_max: int, quality_min: float) -> list[str]:
    """Cheap invariants of the capstone's output, from the observed row."""
    checks = [
        (1 <= seen["rows"] <= n_docs, f"kept {seen['rows']} of {n_docs} docs"),
        (seen["min_doc_id"] >= probe_max, f"probe doc {seen['min_doc_id']} kept"),
        (seen["min_component_size"] >= 1, f"component size {seen['min_component_size']}"),
        (seen["min_quality"] >= quality_min, f"quality {seen['min_quality']} below {quality_min}"),
        (seen["bad_split"] == 0, f"{seen['bad_split']} rows outside {SPLITS}"),
        (
            0 < seen["min_thresh_bp"] <= seen["max_thresh_bp"] <= 10_000,
            f"mix threshold outside (0, 10000]: {seen['min_thresh_bp']}..{seen['max_thresh_bp']}",
        ),
        (seen["min_n_tokens"] >= 1, f"empty document kept ({seen['min_n_tokens']} tokens)"),
        (seen["min_batch_id"] >= 0, f"negative batch id {seen['min_batch_id']}"),
    ]
    return [msg for ok, msg in checks if not ok]


def recorded(seed: int, n_docs: int) -> str | None:
    """The oracle digest recorded for ``seed`` at ``n_docs``, if any."""
    with open(DIGESTS_FILE) as f:
        data = json.load(f)
    if data["docs"] != n_docs:
        return None
    return data["digests"].get(str(seed))


def oracle_digest(spark, corpus_dir: str) -> str:
    """Run the capstone's DuckDB oracle over ``corpus_dir`` and digest its
    output with the same expression the benchmark observes."""
    import duckdb

    from spark_gp_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        path = os.path.join(corpus_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        pdf = con.execute(ORACLE_SQL["corpus_prep_pipeline_v2"]).fetchdf()
    finally:
        con.close()
    row = spark.createDataFrame(pdf).agg(*observed_columns()).first()
    return digest_of(row)


def main(argv: list[str]) -> int:
    import time

    from pyspark.sql import SparkSession

    from . import corpus
    from .run import WORK
    from .workloads import CorpusPrep

    seeds = [int(a) for a in argv] or [0]
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    try:
        digests = {}
        for seed in seeds:
            t0 = time.perf_counter()
            directory = corpus.write(os.path.join(WORK, f"oracle-{seed}"), CorpusPrep.DOCS, seed)
            digests[str(seed)] = oracle_digest(spark, directory)
            print(f"seed {seed}: {digests[str(seed)]} ({time.perf_counter() - t0:.1f} s)", flush=True)
    finally:
        spark.stop()
    with open(DIGESTS_FILE, "w") as f:
        json.dump({"docs": CorpusPrep.DOCS, "digests": digests}, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
