#!/usr/bin/env python
"""Oracle parity checker for the optimization round: runs declared
queries via Spark and their oracle_sql() via DuckDB over the same sf
dir, and compares the full sorted row sets exactly (values, not just
counts). Usage:

    python scripts/check_oracle.py --sf-dir /root/testdata/sf0.01 q1 q2 ...
    python scripts/check_oracle.py --sf-dir ... --all
"""

from __future__ import annotations

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier",
]


def _norm(v):
    """Sort key for one value: a (rank, value) pair, so a column that
    mixes NULLs (or NaNs) with values still sorts. NULL sorts first."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (2, "NaN") if math.isnan(v) else (1, round(v, 9))
    if isinstance(v, bytes):
        return (2, v.hex())
    return (2, str(v))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()

    import duckdb

    from podcast_plow_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", cores=os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sqls = entrymod.oracle_sql()
    names = sorted(qs) if args.all else args.queries

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failed = []
    for name in names:
        sdf = qs[name](spark, args.sf_dir)
        srows = sorted(tuple(_norm(v) for v in r) for r in sdf.collect())
        orows = sorted(
            tuple(_norm(v) for v in r) for r in con.execute(sqls[name]).fetchall()
        )
        ok = srows == orows
        status = "OK " if ok else "FAIL"
        print(f"{status} {name}: spark={len(srows)} oracle={len(orows)}", flush=True)
        if not ok:
            failed.append(name)
            sset, oset = set(srows), set(orows)
            for r in list(sset - oset)[:3]:
                print(f"  spark-only: {r}")
            for r in list(oset - sset)[:3]:
                print(f"  oracle-only: {r}")
            if sset == oset:
                print("  (same set, different multiplicity or order)")
    print(f"DONE failed={failed}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
