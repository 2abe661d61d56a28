#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/compare_outputs.py <verifyOutA> <verifyOutB>

For every query dir (one parquet result per query) in either side,
compute a fingerprint in DuckDB: the column names and types, the row
count, and per column the sum of DuckDB's hash() over all rows (an
order-free multiset digest). Prints every dir that differs or exists
on one side only, then a summary line; exits 1 if there is any.
"""
import os
import sys

import duckdb


def query_dirs(root):
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))}


def fingerprint(con, path):
    """(schema, row count, {column: hash sum}), or None with no parquet."""
    if not any(f.endswith(".parquet") for f in os.listdir(path)):
        return None
    rel = f"read_parquet('{path}/*.parquet')"
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    cols = sorted((name, typ) for name, typ, *_ in cols)
    sums = "".join(f', sum(hash("{name}"))' for name, _ in cols)
    row = con.execute(f"SELECT count(*){sums} FROM {rel}").fetchone()
    return tuple(cols), row[0], dict(zip((n for n, _ in cols), row[1:]))


def difference(fa, fb):
    if fa is None or fb is None:
        return None if fa == fb else "no parquet files on one side"
    if fa[0] != fb[0]:
        return f"schema {fa[0]} vs {fb[0]}"
    if fa[1] != fb[1]:
        return f"{fa[1]} vs {fb[1]} rows"
    cols = [c for c in fa[2] if fa[2][c] != fb[2][c]]
    return f"column hash sums differ: {', '.join(cols)}" if cols else None


def main(a, b):
    con = duckdb.connect()
    da, db = query_dirs(a), query_dirs(b)
    bad = 0
    for name in sorted(da | db):
        if name not in db or name not in da:
            side = b if name not in db else a
            print(f"  [missing] {name}: not in {side}")
            bad += 1
            continue
        diff = difference(fingerprint(con, os.path.join(a, name)),
                          fingerprint(con, os.path.join(b, name)))
        if diff:
            print(f"  [differs] {name}: {diff}")
            bad += 1
    print(f"{len(da | db) - bad} identical, {bad} differ or missing "
          f"({len(da)} dirs in {a}, {len(db)} in {b})")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
