#!/usr/bin/env python3
"""Writes the expected result digests of the batch workloads into
workloads.json, after checking each against its DuckDB oracle at sf0.1.

For every batch query this runs the harness's warm-up pass (which writes
each query's result as parquet), digests the Spark result, runs the
query's oracle SQL in DuckDB over the same parquet tables, and digests
that. A query is only given an expected digest when both agree.

Usage (from the repository root): python3 graftbench/make_digests.py
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import digest  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    run.build()
    path = os.path.join(HERE, "workloads.json")
    spec = json.load(open(path))
    queries = [q for w in spec["workloads"].values() for q in w.get("queries", [])]
    work = os.path.join(HERE, "work", "digests")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    oracle_file = os.path.join(work, "oracles.json")
    before = run.scratch_entries()
    subprocess.run(run.java_cmd(["--oracles", oracle_file, ",".join(queries)], work),
                   check=True)
    oracles = json.load(open(oracle_file))
    sf = run.sf_dir()
    args = ["batch", "0", "0", "0", work, sf, str(run.cores()), "0",
            ",".join(queries)]
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        subprocess.run(run.java_cmd(args, work), stdout=jl, stderr=subprocess.STDOUT,
                       check=True)
    run.clean_scratch(before)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    digests, bad = {}, []
    for q in queries:
        got = digest.of_dir(os.path.join(work, "out", q))
        if q not in oracles:
            bad.append(f"{q}: no oracle")
            continue
        want = digest.of_df(con.execute(oracles[q]).fetch_arrow_table().to_pandas())
        if got != want:
            bad.append(f"{q}: spark {got} != duckdb {want}")
        else:
            digests[q] = got
        print(f"{'PASS' if got == want else 'FAIL'} {q} {got}")
    spec["digests"] = digests
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
