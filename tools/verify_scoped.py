"""Scoped verify drive: the .claude/skills/verify recipe (vanilla
SparkSession + __spark_entry__ contract + DuckDB compare at sf0.01)
restricted to the query names given on argv — used between full-drive
runs so every commit still exercises the real driver path for the
queries it touched.

Usage: python tools/verify_scoped.py q1 q2 ...   (no names = entry only)
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as e

    print("RESULT entry rows:", e.entry(spark).count(), flush=True)
    qs, oracles = e.queries(), e.oracle_sql()
    names = sys.argv[1:]
    missing = [n for n in names if n not in qs]
    if missing:
        print("RESULT missing from queries():", missing)
        return 1
    from odns_dataimporter_spark.oracle import compare, duckdb_connect

    con = duckdb_connect("/root/testdata/sf0.01")
    bad = []
    for n in names:
        if n not in oracles:
            rows = qs[n](spark, "/root/testdata/sf0.01").count()
            print(f"RESULT {n}: rows-only ({rows} rows)", flush=True)
            continue
        r = compare(n, qs[n](spark, "/root/testdata/sf0.01"), con, oracles[n])
        print(f"RESULT {n}: {'ok' if r.ok else r.detail}", flush=True)
        if not r.ok:
            bad.append(n)
    print("RESULT scoped-verify:", "FAIL " + ",".join(bad) if bad else "PASS")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
