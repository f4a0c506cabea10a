#!/usr/bin/env python3
"""Row-identity check between two graft.Verify dumps.

For each query it compares the schema (column names and DuckDB types, in
order) and the sorted rows, canonicalized exactly as check.py does (floats
by exact repr). Use it for rows-only queries, which have no oracle: dump
the parent and the change, then diff them.

Usage: python3 scripts/dump_diff.py <parentDump> <changeDump> [query...]
With no query names, every query dumped on either side is compared; a
query missing on one side counts as a difference. Exit status 1 if any
query differs.
"""
import os
import sys

import duckdb

from check import frame_key


def dumped(d):
    return {q for q in os.listdir(d) if os.path.isdir(os.path.join(d, q))}


def load(con, d, q):
    rel = con.sql(f"SELECT * FROM '{d}/{q}/*.parquet'")
    schema = [(c[0], str(c[1])) for c in rel.description]
    return schema, rel.fetchall()


def main(parent, change, queries):
    con = duckdb.connect()
    names = queries or sorted(dumped(parent) | dumped(change))
    n_same = n_diff = 0
    for q in names:
        try:
            ps, pr = load(con, parent, q)
            cs, cr = load(con, change, q)
        except Exception as e:
            print(f"DIFF {q}: error {e}")
            n_diff += 1
            continue
        if ps != cs:
            print(f"DIFF {q}: schema parent={ps} change={cs}")
            n_diff += 1
            continue
        cols = [c for c, _ in ps]
        a, b = frame_key(pr, cols), frame_key(cr, cols)
        if a != b:
            bad = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"DIFF {q}: rows parent={len(pr)} change={len(cr)}, first diffs: {bad}")
            n_diff += 1
            continue
        print(f"SAME {q} ({len(pr)} rows)")
        n_same += 1
    print(f"== {n_same} same, {n_diff} differ ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
