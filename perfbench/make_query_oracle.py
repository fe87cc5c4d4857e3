"""Regenerate perfbench/oracle/query_hashes.json.

Runs each query_mix query's DuckDB ``oracle_sql()`` text over the
benchmark's input tables and stores the order-insensitive value hash
(``tools/check_oracles.value_hash``) the benchmark compares Spark's rows
against. Run from the repository root when the query list or the input
tables change:

    python3 perfbench/make_query_oracle.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from tools.check_oracles import value_hash  # noqa: E402

from perfbench.query_workload import DATA_DIR, HASH_FILE, pandas_rows  # noqa: E402


def main() -> int:
    with open(os.path.join(HERE, "spec.json")) as f:
        names = json.load(f)["workloads"]["query_mix"]["queries"]
    con = duckdb.connect()
    for fn in sorted(os.listdir(DATA_DIR)):
        table = fn.removesuffix(".parquet")
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(DATA_DIR, fn)}'"
        )
    oracles = entry_mod.oracle_sql()
    out = {}
    for name in names:
        cols, rows = pandas_rows(con.sql(oracles[name]).df())
        out[name] = {"rows": len(rows), "hash": value_hash(cols, rows)}
        print(f"{name:28s} {out[name]['rows']:7d} rows  {out[name]['hash']}")
    with open(HASH_FILE, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
