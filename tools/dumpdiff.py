#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps row by row.

Usage:
  python3 tools/dumpdiff.py OUT_A OUT_B [q1,q2,...]

OUT_A and OUT_B are `graft.Verify` output directories (one parquet
directory per row, e.g. one run of the parent and one of the change). For
every row dumped on either side, or only the named rows, both results are
read in DuckDB and compared with `check.py`'s canonical strings: column
names, exact DuckDB column types, row count and every value, in order.
This is the evidence for the rows that have no DuckDB oracle, whose
values the hash gate never sees.

Prints `same:` or `DIFF:` per row (a row dumped on one side only is a
`DIFF:`). Exits 1 when any row differs, 0 otherwise.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


def rows_in(out):
    """The row names `graft.Verify` dumped under `out`."""
    return {n for n in os.listdir(out)
            if os.path.isdir(os.path.join(out, n))}


def read(con, out, name):
    """({column: type}, canonical rows) of one dumped row."""
    q = f"SELECT * FROM '{out}/{name}/*.parquet'"
    types = check.sql_types(con, q)
    rows = [tuple(check.canon(v) for v in r)
            for r in con.execute(q).fetchall()]
    return types, rows


def compare(con, a, b, name):
    """None when both dumps of `name` agree, else a one-line reason."""
    try:
        ta, ra = read(con, a, name)
    except Exception as e:
        return f"A unreadable: {str(e).splitlines()[0]}"
    try:
        tb, rb = read(con, b, name)
    except Exception as e:
        return f"B unreadable: {str(e).splitlines()[0]}"
    if ta != tb:
        return f"columns/types {ta} -> {tb}"
    if len(ra) != len(rb):
        return f"rows {len(ra)} -> {len(rb)}"
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"row {i}: {x} -> {y}"
    return None


def main():
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    in_a, in_b = rows_in(a), rows_in(b)
    if len(sys.argv) == 4:
        names = sorted({n.strip() for n in sys.argv[3].split(",")} - {""})
        if not names:
            sys.exit("dumpdiff: the row list names no row")
    else:
        names = sorted(in_a | in_b)
    con = duckdb.connect()
    diffs = []
    for name in names:
        if name not in in_a or name not in in_b:
            reason = "only in " + ("B" if name in in_b else
                                   "A" if name in in_a else "neither")
        else:
            reason = compare(con, a, b, name)
        if reason:
            diffs.append(name)
            print(f"DIFF: {name}: {reason}")
        else:
            print(f"same: {name}")
    print(f"== {len(names)} rows: {len(names) - len(diffs)} same, "
          f"{len(diffs)} differ")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
