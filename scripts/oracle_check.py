#!/usr/bin/env python3
"""Compare Verify.scala's parquet dumps against the DuckDB oracle SQL: the
row count first, then the values.

Rows are compared as typed multisets: row order does not count, a row's
multiplicity does, and every value is normalised explicitly before the
compare, so only a real value difference is reported:
  - floats and decimals round to FLOAT_DIGITS significant digits (the
    oracle and Spark may sum in different orders); NaN equals NaN;
  - a date equals the midnight timestamp of that day (Spark writes some
    date results as timestamps);
  - bools, ints, numbers, timestamps, strings and bytes stay distinct
    kinds: `1`, `True`, `1.0` and `"1"` are four different values;
  - lists, structs and maps compare element-wise.

Usage: oracle_check.py <sfDir> <verifyOutDir> [query ...]
"""
import datetime
import decimal
import glob
import json
import math
import os
import sys
from collections import Counter

import duckdb

FLOAT_DIGITS = 9


def norm(v):
    """One value as a hashable (kind, value) pair."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return ("num", "nan" if math.isnan(f) else float(f"{f:.{FLOAT_DIGITS}g}"))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return ("ts", v)
    if isinstance(v, datetime.date):
        return ("ts", datetime.datetime.combine(v, datetime.time()))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("bytes", bytes(v))
    if isinstance(v, (list, tuple)):
        return ("list", tuple(norm(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((str(k), norm(x)) for k, x in v.items())))
    return (type(v).__name__, v)


def multiset(rows):
    return Counter(tuple(norm(v) for v in r) for r in rows)


def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)

    con = duckdb.connect()
    for t in glob.glob(os.path.join(sf, "*.parquet")):
        name = os.path.basename(t).replace(".parquet", "")
        src = f"{t}/*.parquet" if os.path.isdir(t) else t
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM parquet_scan('{src}')")

    fail = 0
    for q, sql in sorted(oracle.items()):
        if only and q not in only:
            continue
        d = os.path.join(out, q)
        if not os.path.isdir(d):
            print(f"{q}: MISSING spark dump")
            fail += 1
            continue
        spark_rows = con.execute(
            f"SELECT * FROM parquet_scan('{d}/*.parquet')").fetchall()
        try:
            oracle_rows = con.execute(sql).fetchall()
        except Exception as e:
            print(f"{q}: ORACLE ERROR {e}")
            fail += 1
            continue
        if len(spark_rows) != len(oracle_rows):
            print(f"{q}: ROWS {len(spark_rows)} vs {len(oracle_rows)}")
            fail += 1
            continue
        s, o = multiset(spark_rows), multiset(oracle_rows)
        if s != o:
            extra, missing = s - o, o - s
            print(f"{q}: VALUE MISMATCH: {sum(extra.values())} spark row(s) not "
                  f"in the oracle, e.g. {next(iter(extra))}; oracle row "
                  f"e.g. {next(iter(missing))}")
            fail += 1
            continue
        print(f"{q}: OK ({len(spark_rows)} rows)")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
