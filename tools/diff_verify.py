#!/usr/bin/env python3
"""Differential compare of two `graft.Verify` dumps.

Usage: python3 tools/diff_verify.py <dirA> <dirB>

Compares every entry output (<dir>/<name>/*.parquet) present in either dump,
without regard to row order — the normalisation and the exact compare are
check_oracle.py's — and the two oracle_sql.json files after collapsing
whitespace. Prints one line per difference and exits 1 on any, 0 when the
dumps are identical. Use it as the gate of a change that must not move
outputs: run Verify on the same entries before and after, then diff.
"""
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import collapse_ws, diff  # noqa: E402


def entries(d):
    return {n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n))
            and any(f.endswith(".parquet") for f in os.listdir(os.path.join(d, n)))}


def main(a, b):
    con = duckdb.connect()
    problems = []
    ea, eb = entries(a), entries(b)
    for name in sorted(ea ^ eb):
        problems.append(f"{name}: output only in {a if name in ea else b}")
    for name in sorted(ea & eb):
        d = diff(*(con.sql(f"SELECT * FROM '{x}/{name}/*.parquet'").arrow()
                   for x in (a, b)))
        if d:
            problems.append(f"{name}: {d[:400]}")
    oa, ob = (json.load(open(os.path.join(x, "oracle_sql.json"))) for x in (a, b))
    for name in sorted(set(oa) ^ set(ob)):
        problems.append(f"oracle_sql.json: {name} only in {a if name in oa else b}")
    for name in sorted(set(oa) & set(ob)):
        if collapse_ws(oa[name]) != collapse_ws(ob[name]):
            problems.append(f"oracle_sql.json: {name} SQL differs")
    for p in problems:
        print(f"DIFF {p}")
    print(f"{len(ea & eb)} outputs and {len(set(oa) & set(ob))} oracle SQLs "
          f"compared: {len(problems)} difference(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
