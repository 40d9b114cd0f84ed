#!/usr/bin/env python3
"""Compare two graft.Verify output dirs query by query.

Usage: python3 tools/rowdiff.py <verifyDirA> <verifyDirB>

For every query dir in either side, compares the column names and the
sorted canonical rows (columns sorted by name, values rendered with
check.py's `canon`), so a refactor's "sorted-row-identical to the
parent" claim covers the rows-only queries too. Prints one line per
query and exits 1 on any difference or a query missing from one side.
"""
import os
import sys

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon  # noqa: E402


def queries(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def sorted_rows(con, qdir):
    rel = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')")
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(canon(r[i]) for i in order) for r in rel.fetchall())
    return sorted(cols), rows


def main(dir_a, dir_b):
    con = duckdb.connect()
    qa, qb = queries(dir_a), queries(dir_b)
    n_same = n_diff = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            side = dir_a if name not in qa else dir_b
            print(f"MISSING {name}: not in {side}")
            n_diff += 1
            continue
        try:
            cols_a, rows_a = sorted_rows(con, os.path.join(dir_a, name))
            cols_b, rows_b = sorted_rows(con, os.path.join(dir_b, name))
        except Exception as ex:
            print(f"DIFF {name}: cannot read: {str(ex).splitlines()[0]}")
            n_diff += 1
            continue
        if cols_a != cols_b:
            print(f"DIFF {name}: columns {cols_a} != {cols_b}")
            n_diff += 1
        elif rows_a != rows_b:
            bad = next((i for i, (x, y) in enumerate(zip(rows_a, rows_b))
                        if x != y), min(len(rows_a), len(rows_b)))
            print(f"DIFF {name}: rows {len(rows_a)} vs {len(rows_b)}, "
                  f"first difference at sorted row {bad}")
            n_diff += 1
        else:
            print(f"SAME {name} ({len(rows_a)} rows)")
            n_same += 1
    print(f"\n{n_same} same, {n_diff} differ or missing")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
