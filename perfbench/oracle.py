#!/usr/bin/env python3
"""Recomputes perfbench/expected.json from the DuckDB oracles.

Usage (from the repository root): python3 perfbench/oracle.py

For every query of every workload, the harness prints the query's
oracle SQL (graft.QueryDef.oracle, the SQL behind
graft.SparkEntry.oracleSql); DuckDB runs it over perfbench/data and the
result is digested exactly as run.py digests graft's own output. Run it
only when the data or a query's definition changes on purpose.
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    run.build()
    work = os.path.join(run.WORK, "oracle")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "oracle_sql.json")
    names = [q for w in run.WORKLOADS.values() for q in w]
    rc = run.run_group(run.java_cmd(work, [
        "--mode", "oracle", "--queries", ",".join(names), "--out", out]),
        run.RUN_TIMEOUT_S, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        run.fail(f"oracle SQL dump failed (exit {rc})", 4)
    with open(out) as f:
        sql = json.load(f)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(run.DATA, t)}.parquet'")
    expected = {}
    for name in sorted(sql):
        rows, sha = run.frame_digest(con.execute(sql[name]).fetchdf())
        expected[name] = {"rows": rows, "sha256": sha}
        run.log(f"{name}: {rows} rows")
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
