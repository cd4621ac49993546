#!/usr/bin/env python3
"""Reduce the cells' DuckDB twins to the digests the benchmark checks.

    sbt "runMain graft.Verify perfbench/data/sf0.01 <out>"   # writes <out>/oracle_sql.json
    python3 perfbench/make_expected.py <out>/oracle_sql.json      # from the checkout root

Runs each benchmarked cell's oracle SQL (`SparkEntry.oracleSql`) with DuckDB
over the shipped fixture and writes perfbench/expected/cells_sf0.01.json:
{cell: {"sha256": ..., "rows": ...}}, hashed with run.py's digest, which
canonicalises values as tools/check.py does. Re-run it only when a cell's
semantics or the fixture change.
"""
import json
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import DATA, HERE, TOOLS, digest  # noqa: E402
sys.path.insert(0, TOOLS)
from check import TABLES  # noqa: E402


def cell_names():
    """The cell list of Cells.scala, read from its source."""
    src = open(os.path.join(HERE, "src", "main", "scala", "perfbench", "Cells.scala")).read()
    return re.findall(r'Cell\("([a-z0-9_]+)"', src)


def main():
    oracle = json.load(open(sys.argv[1]))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(DATA, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in cell_names():
        res = con.execute(oracle[name])
        names = [c[0] for c in res.description]
        rows = res.fetchall()
        sha, n = digest(names, [[r[i] for r in rows] for i in range(len(names))])
        out[name] = {"sha256": sha, "rows": n}
        print(f"{name}: {n} rows")
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "cells_sf0.01.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
