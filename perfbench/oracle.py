"""Expected op results, computed by DuckDB in a process of their own.

Run by ``perfbench/run.py`` before any Spark session starts, so DuckDB's
memory never sits beside the JVM heap. Each result is pickled to
``<out>/<op>.pkl`` and reused for every later run on the same inputs.

    python3 perfbench/oracle.py --sf-dir DIR --out DIR --ops a,b,...
"""

from __future__ import annotations

import argparse
import os
import pickle

# The feed pass is checked against these totals of the rows it must deliver.
FEED_SQL = (
    "SELECT count(*) AS n, CAST(sum(o_orderkey) AS DOUBLE) AS o_orderkey, "
    "CAST(sum(o_custkey) AS DOUBLE) AS o_custkey, "
    "sum(o_totalprice) AS o_totalprice FROM orders"
)
MEMORY_LIMIT = "2GB"


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ops", required=True)
    args = ap.parse_args(argv)

    from fireworks_spark.oracle import duckdb_connect
    from fireworks_spark.registry import ORACLES
    from perfbench.workloads import FEED

    con = duckdb_connect(args.sf_dir)
    con.sql(f"SET memory_limit = '{MEMORY_LIMIT}'")
    con.sql(f"SET threads = {os.cpu_count()}")
    os.makedirs(args.out, exist_ok=True)
    for name in args.ops.split(","):
        path = os.path.join(args.out, f"{name}.pkl")
        if os.path.exists(path):
            continue
        df = con.sql(FEED_SQL if name == FEED else ORACLES[name]).df()
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(df, fh)
        os.replace(path + ".tmp", path)


if __name__ == "__main__":
    main()
