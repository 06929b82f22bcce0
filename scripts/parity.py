#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs each __spark_entry__.queries() entry against its oracle_sql() twin on
the same sf dir and compares row count, column names, and order-insensitive
values (columns sorted by name, rows sorted, floats compared exactly after
both sides round-trip through Python floats). A query that raises, on
either side, prints ``<name> ERROR <ExcType>: <message>`` and the run goes
on; any failure, or a named query that is not in queries(), exits 1.

Usage: python scripts/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
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


def check(name, fn, spark, sf_dir, con, sql) -> bool:
    """Run one query and its DuckDB twin (``sql``; None for a rows-only
    query) and print its status line on stdout. An exception on either
    side is reported as ERROR; returns True when the two frames match."""
    try:
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        if sql is None:
            print(f"{name:28s} rows={len(srows):7d}  (no oracle — rows-only)")
            return True
        orel = con.sql(sql)
        ocols = [d[0] for d in orel.description]
        orows = orel.fetchall()
    except Exception as e:  # report it, with its traceback on stderr, and go on
        traceback.print_exc()
        msg = str(e).strip().splitlines()
        print(f"{name} ERROR {type(e).__name__}: {msg[0] if msg else ''}")
        return False
    sc, sv = frame_key(scols, [tuple(r) for r in srows])
    oc, ov = frame_key(ocols, orows)
    ok = sc == oc and sv == ov
    status = "OK " if ok else "FAIL"
    print(f"{name:28s} rows={len(srows):7d} oracle={len(orows):7d}  {status}")
    if not ok:
        if sc != oc:
            print(f"   cols spark={sc} oracle={oc}")
        else:
            sset, oset = set(map(tuple, sv)), set(map(tuple, ov))
            for x in list(sset - oset)[:3]:
                print("   spark-only:", x)
            for x in list(oset - sset)[:3]:
                print("   oracle-only:", x)
    return ok


def run(spark, sf_dir, con, qs, oracles, only=()) -> int:
    """Check every query in ``qs`` (or only the names in ``only``, each of
    which must be a key of ``qs``) and return the exit status: 1 if any
    query failed or raised, else 0."""
    failures = [n for n in only if n not in qs]
    for name in failures:
        print(f"{name} ERROR KeyError: not in queries()")
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if not check(name, fn, spark, sf_dir, con, oracles.get(name)):
            failures.append(name)
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all parity checks passed")
    return 0


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:]

    import __spark_entry__ as entry_mod
    from dygiepp_spark.session import get_spark

    spark = get_spark("parity", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    sys.exit(run(spark, sf_dir, con, entry_mod.queries(),
                 entry_mod.oracle_sql(), only))


if __name__ == "__main__":
    main()
