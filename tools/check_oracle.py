#!/usr/bin/env python3
"""Local mimic of the driver's t2 DuckDB-oracle gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query dumped by `graft.Verify` into <verifyOutDir>/<name>/ with an
entry in oracle_sql.json: register every parquet table from <sfDir> as a
DuckDB view, run the oracle SQL, and compare against the Spark parquet output
— columns sorted by name, rows sorted by all columns, exact value equality
(the driver hash-compares, so any diff is a fail).
"""
import json
import sys

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def collapse_ws(sql):
    """SQL text with every whitespace run collapsed to one space."""
    return " ".join(sql.split())


def normalise(table):
    """An Arrow result as (column -> Arrow dtype, pandas frame with columns
    sorted by name and rows sorted by all columns) — the order-free form two
    results are compared in."""
    dtypes = {f.name: str(f.type) for f in table.schema}
    df = table.to_pandas()
    df = df.reindex(sorted(df.columns), axis=1)
    return dtypes, df.sort_values(by=list(df.columns), ignore_index=True)


def diff(a, b):
    """None when two Arrow results are equal as normalised sets of rows, else
    a one-line description of the first difference. Arrow dtypes are checked
    first: the driver hash-compares bit-identically, so a type widening
    (e.g. sum(BIGINT) -> HUGEINT) fails its gate even when values match."""
    import pandas as pd
    (ad, af), (bd, bf) = normalise(a), normalise(b)
    dtype_diff = {k: (ad.get(k), bd.get(k))
                  for k in set(ad) | set(bd) if ad.get(k) != bd.get(k)}
    if dtype_diff:
        return f"arrow dtypes differ: {dtype_diff}"
    if list(af.columns) != list(bf.columns):
        return f"columns differ: {list(af.columns)} vs {list(bf.columns)}"
    if len(af) != len(bf):
        return f"row counts differ: {len(af)} vs {len(bf)}"
    try:
        pd.testing.assert_frame_equal(af, bf, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).replace("\n", " | ")
    return None


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    failed = []
    for name, sql in sorted(oracles.items()):
        try:
            oa = con.sql(sql).arrow()
            sa = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").arrow()
            d = diff(oa, sa)
            if d:
                raise AssertionError(d)
            print(f"PASS {name} ({oa.num_rows} rows)")
        except Exception as e:
            failed.append(name)
            msg = str(e).replace("\n", " | ")[:400]
            print(f"FAIL {name}: {msg}")
    print(f"\n{len(oracles) - len(failed)}/{len(oracles)} queries match")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
