"""Output check against `SparkEntry.oracleSql`, run in DuckDB.

After the timed passes the harness runs each query of the last pass once
more and writes that result to parquet. It is compared in full with the
oracle by `canon` of tools/oracle_check.py, the repo's stand-in for the
correctness gate (columns sorted by name, floats rounded to 6 places,
timestamps as µs ISO text, rows sorted, then hashed). Each timed op is
checked by its row count against the oracle's. An op fails if it threw, if
its query has no oracle, if its row count differs, or if its query's
written result does not match.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

from gen import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from oracle_check import canon  # noqa: E402


def compare(con, name, sql, out_dir):
    """None if the written result of `name` equals the oracle's, else why;
    also the oracle's row count."""
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return "no result written", None
    if sql is None:
        return "no oracle SQL", None
    try:
        duck = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001 - report any oracle failure
        return f"oracle SQL error: {e}", None
    spark = pd.concat([pd.read_parquet(f) for f in files])
    if sorted(spark.columns) != sorted(duck.columns):
        return (f"schema spark={sorted(spark.columns)} "
                f"oracle={sorted(duck.columns)}"), len(duck)
    if len(spark) != len(duck):
        return f"rows spark={len(spark)} oracle={len(duck)}", len(duck)
    try:
        if canon(spark) != canon(duck):
            return "hash mismatch", len(duck)
    except TypeError as e:
        return str(e), len(duck)
    return None, len(duck)


def check(data_dir, out_dir, oracle_sql, names, ops):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '2GB'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    verdict = {n: compare(con, n, oracle_sql.get(n), out_dir) for n in names}
    con.close()
    why_by_name, failed = {}, 0
    for o in ops:
        why, expect_rows = verdict[o["name"]]
        if o["err"]:
            why = o["err"]
        elif why is None and o["rows"] != expect_rows:
            why = f"count {o['rows']} != oracle {expect_rows}"
        if why:
            failed += 1
            why_by_name.setdefault(o["name"], why)
    return {"attempted": len(ops), "failed": failed, "why": why_by_name}
