"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry at the given scale factor and compares it with
its ``oracle_sql()`` via DuckDB: row count, sorted-by-name schema, and
order-insensitive value comparison.  Each entry (the Spark query plus its
``toPandas()``) runs inside its own ``cache_scope()``, so one entry's
persisted relations are released before the next entry runs.  Each line
carries ``digest``, an md5 of the entry's normalized rows, to compare runs
of two versions of the program.  Usage:

    python tools/check_correctness.py [sf_dir] [query ...] [--window]

``--window`` restricts to the first 50 registry keys — the exact slice the
round driver records official rows for.

Scale caveat: the ANN oracles bake artifacts (centroids, codebooks, LUTs)
trained on the DRIVER'S correctness corpus, /root/testdata/sf0.01, because
oracle_sql() is one static dict for every scale factor (documented in each
entry's docstring).  Running this tool at sf0.01 is authoritative; at other scale
factors the artifact-baking ANN entries — the refine-step autos
(ivfadc/pq/opq_topk_auto) and the frozen trained-codebook entries
(e.g. opq_topk) — are EXPECTED to mismatch: the Spark side correctly
retrains from the given sf_dir while the oracle replays sf0.01 artifacts
over the other corpus.  Everything non-ANN is scale-generic (r10 measured
45/50 green at sf0.001 — the 5 misses are exactly that ANN class).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def digest(df: pd.DataFrame) -> str:
    a = normalize(df)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            a[c] = a[c].round(9)
    return hashlib.md5(a.to_csv(index=False).encode()).hexdigest()[:12]


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    sc, oc = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if sc != oc:
        problems.append(f"columns: spark={sc} oracle={oc}")
        return problems
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if len(a) == len(b):
        for c in a.columns:
            col_a, col_b = a[c], b[c]
            if pd.api.types.is_float_dtype(col_a) or pd.api.types.is_float_dtype(col_b):
                col_a = pd.to_numeric(col_a, errors="coerce").round(9)
                col_b = pd.to_numeric(col_b, errors="coerce").round(9)
                eq = (col_a.fillna(-1e307) == col_b.fillna(-1e307)).all()
            else:
                eq = col_a.astype(str).equals(col_b.astype(str))
            if not eq:
                mism = (col_a.astype(str) != col_b.astype(str))
                idx = list(mism[mism].index[:3])
                problems.append(
                    f"values differ in '{c}' at {idx}: "
                    f"spark={[col_a.iloc[i] for i in idx]} oracle={[col_b.iloc[i] for i in idx]}"
                )
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--window"]
    window_only = "--window" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import importlib
    entry = importlib.import_module("__spark_entry__")
    from spark_gp_spark.operators.cache import cache_scope

    queries = entry.queries()
    oracles = entry.oracle_sql()
    if window_only:
        # the round driver records official rows for the FIRST 50 registry
        # keys only — --window replicates exactly that slice
        queries = dict(list(queries.items())[:50])

    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            with cache_scope():
                spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark query raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        rows = f"rows={len(spark_pdf)} digest={digest(spark_pdf)}"
        if name not in oracles:
            print(f"ok   {name}: {rows} (rows-only, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            oracle_pdf = con.sql(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle sql raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, spark_pdf, oracle_pdf)
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s):")
            for p in problems:
                print(f"     {p}")
            n_fail += 1
        else:
            print(f"ok   {name}: {rows} match ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
