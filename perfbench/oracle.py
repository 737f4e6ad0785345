"""DuckDB oracle for the catalog workload.

`compute` runs each query's `oracle_sql()` text over the staged tables and
returns its row count and order-insensitive digest.  It runs in a child
process, so DuckDB's memory never counts toward the measured process's peak
RSS:

    python3 perfbench/oracle.py <sf_dir> <tmp_dir> <threads> <query>...

prints one JSON object {query: [rows, digest]}.  Run it from the root of a
checkout.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_rows(rows, cols) -> tuple[int, str]:
    """(row count, order-insensitive digest) with floats at 6 decimals —
    the canonical form of the repository's oracle test."""
    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(bool(v))
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6f}"
        return str(v)

    lines = sorted(",".join(cell(r[c]) for c in cols) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def compute(sf_dir: str, queries: list[str], tmp_dir: str,
            threads: int) -> dict:
    """-> {query: (rows, digest)} for every query that has oracle SQL."""
    import duckdb

    from stakgraph_spark.textops.catalog import CATALOG

    out = {}
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"'{sf_dir}/{name}.parquet'")
        for q in queries:
            sql = CATALOG[q][1]
            if sql is not None:
                df = con.execute(sql).df()
                cols = sorted(df.columns, key=str.lower)
                out[q] = canon_rows(df.to_dict("records"), cols)
    finally:
        con.close()
    return out


def main(argv: list[str]) -> int:
    sf_dir, tmp_dir, threads, *queries = argv
    sys.path.insert(0, os.getcwd())
    json.dump(compute(sf_dir, queries, tmp_dir, int(threads)), sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
