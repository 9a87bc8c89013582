#!/usr/bin/env python3
"""Compute the expected result digests of the query workloads from the
engine's DuckDB oracles (`SparkEntry.oracleSql`) over the benchmark's data,
and write them to perfbench/expected/query_digests.json.

    python3 perfbench/make_digests.py

Run once when the query lists or the data change, never per benchmark run:
the `dedup_simhash_clusters` oracle alone takes minutes at sf0.1. The
reference never comes from Spark's own output.
"""
import json
import os
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import digest  # noqa: E402
import run  # noqa: E402


def oracle_sql(cp, names):
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, "target")) as d:
        out = os.path.join(d, "oracles.json")
        subprocess.run(["java", *run.JVM_OPENS, "-cp", cp, "perfbench.Harness",
                        "--oracles", out, *names], check=True, capture_output=True)
        with open(out) as f:
            return json.load(f)


def main():
    cp = run.classpath()
    result = {}
    for workload, spec in run.WORKLOADS.items():
        if "queries" not in spec:
            continue
        data = os.path.join(HERE, "data", spec["data"])
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
        sql = oracle_sql(cp, spec["queries"])
        result[workload] = {}
        for name in spec["queries"]:
            t0 = time.time()
            rows, h = digest.digest_table(con.execute(sql[name]).arrow())
            result[workload][name] = {"rows": rows, "sha256": h}
            print(f"{workload} {name}: {rows} rows ({time.time() - t0:.1f} s)", file=sys.stderr)
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "query_digests.json"), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
