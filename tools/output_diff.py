#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

    python3 tools/output_diff.py <parent_out> <change_out>

For every query directory on either side it reads the parquet output with
DuckDB and compares the column names, the row count and the sum of a per-row
hash over all columns (columns hashed in name order, so a reordered
projection with equal rows still matches). It prints one line per query
that differs or is missing on one side, then a total, and exits 1 on any
difference. `oracle_sql.json` and `_errors/` are not query directories;
compare `oracle_sql.json` with `cmp`.
"""
import os
import sys

import duckdb


def queries(out):
    return {q for q in os.listdir(out)
            if os.path.isdir(os.path.join(out, q)) and not q.startswith("_")}


def digest(con, path):
    """(column names, row count, row-hash sum) of one query's output."""
    files = os.path.join(path, "*.parquet")
    cols = [r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM read_parquet('{files}')").fetchall()]
    row = ", ".join(f'"{c}"' for c in sorted(cols))
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) "
        f"FROM read_parquet('{files}')").fetchone()
    return sorted(cols), n, h


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    parent, change = sys.argv[1:]
    con = duckdb.connect()
    a, b = queries(parent), queries(change)
    differ = 0
    for q in sorted(a | b):
        if q not in b or q not in a:
            print(f"{q:>24}: only in {'parent' if q in a else 'change'}")
            differ += 1
            continue
        try:
            pa, pb = digest(con, os.path.join(parent, q)), digest(con, os.path.join(change, q))
        except duckdb.Error as e:
            print(f"{q:>24}: unreadable ({e})")
            differ += 1
            continue
        if pa != pb:
            what = ("columns" if pa[0] != pb[0] else
                    f"rows {pa[1]} -> {pb[1]}" if pa[1] != pb[1] else "row hashes")
            print(f"{q:>24}: differs ({what})")
            differ += 1
    print(f"\nTOTAL: {len(a | b) - differ} equal, {differ} differ")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
