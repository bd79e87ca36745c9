"""Regenerate SURVEY.md §2.8's per-query status table from the registry.

One row per queries.REGISTRY entry, in registry order: operator file(s)
its implementation touches (static scan of queries.py for module
references, chasing local helper calls one level), oracle class (sql vs
rows-only), and the last round with an official driver correctness row
(scanned from CORRECTNESS_r0*.json; hash-green or rows-only records both
count).  Run from the repo root:

    python tools/gen_survey_table.py          # prints the table
    python tools/gen_survey_table.py --patch  # rewrites the SURVEY block

--patch replaces the lines between the table header and the first
non-table line after it.
"""

from __future__ import annotations

import ast
import glob
import json
import re
import sys

sys.path.insert(0, ".")

ALIAS = {
    "D": "operators/dedup.py", "S": "operators/similarity.py",
    "T": "operators/text.py", "A": "operators/asof.py",
    "M": "operators/multimodal.py", "P": "operators/prep.py",
    "SK": "operators/skew.py",
}
IMPORT_MOD = {
    "ivf": "operators/ivf.py", "pq": "operators/pq.py",
    "ann_index": "operators/ann_index.py", "quantize": "operators/quantize.py",
    "scd": "operators/scd.py", "merge": "operators/merge.py",
    "dq": "operators/dq.py", "sinks": "sources/sinks.py",
    "neardup": "streaming/neardup.py", "events": "streaming/events.py",
    "stateful": "streaming/stateful.py", "dedup": "operators/dedup.py",
    "similarity": "operators/similarity.py", "text": "operators/text.py",
    "prep": "operators/prep.py", "hashing": "operators/hashing.py",
    "tables": "sources/tables.py", "skew": "operators/skew.py",
    "asof": "operators/asof.py", "multimodal": "operators/multimodal.py",
    "scaling": "scaling.py", "selection": "operators/selection.py",
    "budget": "streaming/budget.py", "ann": "streaming/ann.py",
}


def build_table() -> str:
    src = open("spark_gp_spark/queries.py").read()
    tree = ast.parse(src)
    funcs = {n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}

    def mods_of(name, seen=None):
        seen = seen or set()
        if name in seen or name not in funcs:
            return set()
        seen.add(name)
        body = ast.get_source_segment(src, funcs[name])
        out = set()
        for a, f in ALIAS.items():
            if re.search(rf"\b{a}\.", body):
                out.add(f)
        for m in re.finditer(
            r"from \.(?:operators|streaming|sources)\.(\w+) import", body
        ):
            out.add(IMPORT_MOD.get(m.group(1), m.group(1)))
        if "GaussianProcessRegression" in body:
            out.add("regression.py")
        if "GaussianProcessClassifier" in body:
            out.add("classification.py")
        for m in re.finditer(r"\b(_[a-z_]+|run_[a-z_]+)\(", body):
            out |= mods_of(m.group(1), seen)
        return out

    greens = {}
    for f in sorted(glob.glob("CORRECTNESS_r*.json")):
        r = re.search(r"r(\d+)", f).group(1).lstrip("0")
        d = json.load(open(f))
        for k, v in d.items():
            hash_green = v.get("err") is None and v.get("rows_match")
            rows_only = v.get("err") == "no_oracle" and (v.get("spark_rows") or 0) > 0
            if hash_green or rows_only:
                greens[k] = f"r{r}"

    from spark_gp_spark.queries import ORACLE_SQL, REGISTRY

    lines = [
        "| # | registry query | operator(s) | oracle | last official row |",
        "|---|---|---|---|---|",
    ]
    for i, k in enumerate(REGISTRY, 1):
        m = sorted(mods_of(k)) or ["queries.py (Spark SQL)"]
        oracle = "sql" if k in ORACLE_SQL else "rows-only"
        last = greens.get(k, "new")
        win = " → window" if i <= 50 else ""
        lines.append(f"| {i} | `{k}` | {', '.join(m)} | {oracle} | {last}{win} |")
    return "\n".join(lines)


def main() -> None:
    table = build_table()
    if "--patch" not in sys.argv:
        print(table)
        return
    path = "SURVEY.md"
    doc = open(path).read()
    header = "| # | registry query | operator(s) | oracle | last official row |"
    start = doc.index(header)
    end = start
    for line in doc[start:].splitlines(keepends=True):
        if line.startswith("|"):
            end += len(line)
        else:
            break
    open(path, "w").write(doc[:start] + table + "\n" + doc[end:])
    n_rows = len(table.splitlines()) - 2
    print(f"patched SURVEY.md with {n_rows} rows")


if __name__ == "__main__":
    main()
