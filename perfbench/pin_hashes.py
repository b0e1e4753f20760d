#!/usr/bin/env python3
"""Re-derive expected_hashes.json: the result hash of every query the
closed-loop workloads run, computed by DuckDB from the library's own oracle
SQL (SparkEntry.oracleSql) over the benchmark's generated tables, with the
canonical hash of tools/oracle_check.py.

    python3 perfbench/pin_hashes.py

Run it after changing gen_data.py; the run.py checks compare against it.
"""
import json
import tempfile
from pathlib import Path

import duckdb

import checks
import run

QUERIES = ["q1_sort_limit", "q2_count", "q3_null_blank", "q3b_anti_join",
           "q4_dup_having", "q5_range", "q_pagerank", "q_lpa", "sim_topk_ivfpq_res"]


def main():
    classpath = run.build()
    data = run.tables()
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        out = Path(tmp) / "oracle.json"
        run.java(classpath, "perfbench.DumpOracle", [str(out)] + QUERIES, Path(tmp),
                 Path(tmp) / "dump.log")
        oracle = json.loads(out.read_text())
    con = duckdb.connect()
    for t in ("customer", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / (t + '.parquet')}')")
    pinned = {}
    for q in QUERIES:
        df = con.execute(oracle[q]).df()
        pinned[q] = {"hash": checks.hash_df(checks.canon(df)), "rows": len(df)}
        print(f"{q}: {len(df)} rows")
    checks.EXPECTED.write_text(json.dumps(pinned, indent=2, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
