#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs each __spark_entry__.queries() entry against its oracle_sql() twin on
the same sf dir and compares row count, column names, and order-insensitive
values (columns sorted by name, rows sorted, floats compared exactly after
both sides round-trip through Python floats).

Usage: python scripts/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return ("arr", tuple(norm_cell(x) for x in v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, bytes):
        return ("b", v.hex())
    return (type(v).__name__, str(v))


def frame_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [c for c in sorted(cols)], out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from dygiepp_spark.session import get_spark

    spark = get_spark("parity", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows={len(srows):7d}  (no oracle — rows-only)")
            continue
        orel = con.sql(oracles[name])
        ocols = [d[0] for d in orel.description]
        orows = orel.fetchall()
        sc, sv = frame_key(scols, [tuple(r) for r in srows])
        oc, ov = frame_key(ocols, orows)
        ok = sc == oc and sv == ov
        status = "OK " if ok else "FAIL"
        print(f"{name:28s} rows={len(srows):7d} oracle={len(orows):7d}  {status}")
        if not ok:
            failures.append(name)
            if sc != oc:
                print(f"   cols spark={sc} oracle={oc}")
            else:
                sset, oset = set(map(tuple, sv)), set(map(tuple, ov))
                for x in list(sset - oset)[:3]:
                    print("   spark-only:", x)
                for x in list(oset - sset)[:3]:
                    print("   oracle-only:", x)
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all parity checks passed")


if __name__ == "__main__":
    main()
