#!/usr/bin/env python3
"""Regenerates oracle_answers.json, the cached DuckDB answers of the
operator_suite queries on the benchmark's fixed tables.

    python3 perfbench/oracle.py [threads]

Run from the root of a checkout. It builds like run.py, writes the tables,
asks the program for each query's `SparkEntry.oracleSql` and runs all of
them in DuckDB. Three of the text oracles take minutes each. run.py uses a
cached answer only while the tables and that query's SQL are unchanged and
runs DuckDB itself for any other.
"""
import os
import shutil
import sys

import checks
import inputs
import run


def main():
    threads = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    cp = run.build()
    tables = os.path.join(run.BUILD, "data", "tables")
    inputs.write_tables(tables)
    run_dir = os.path.join(run.BUILD, "runs", "oracle-%d" % os.getpid())
    os.makedirs(run_dir, exist_ok=True)
    try:
        res, _ = run.run_jvm(cp, {"workload": "oracle_sql",
                                  "names": inputs.READS + inputs.WRITES},
                             run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sql = res["oracle_sql"]
    missing = set(inputs.READS + inputs.WRITES) - set(sql)
    if missing:
        raise SystemExit("queries without an oracle: %s" % sorted(missing))
    checks.write_cache(tables, sql, checks.duckdb_answers(tables, sql, threads))
    print("wrote", checks.CACHE)


if __name__ == "__main__":
    main()
