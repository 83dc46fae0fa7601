#!/usr/bin/env python3
"""Derive perfbench/refs.json: the reference fingerprint of every batch query
the benchmark runs, computed by DuckDB from the query's oracle SQL
(`graft.SparkEntry.oracleSql`) over the tables in perfbench/data.

    python3 perfbench/make_refs.py

Run from the repository root. The benchmark compares each query's Spark
result against these references in an untimed pass; regenerate only when
the query sets or the data change.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    cp = run.build()
    sql_file = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Main", "--oracle-sql", sql_file], check=True)
    with open(sql_file) as fh:
        oracle = json.load(fh)
    con = run.duckdb_with_tables()
    refs = {name: run.fingerprint(con.sql(sql)) for name, sql in sorted(oracle.items())}
    with open(run.REFS, "w") as fh:
        json.dump(refs, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(refs)} references written to {run.REFS}")


if __name__ == "__main__":
    main()
