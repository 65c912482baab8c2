#!/usr/bin/env python3
"""Run every oracle whose SQL text changed between two `oracle_sql.json`
files, on both sides, in DuckDB, and compare the results.

Usage:
  python3 tools/oraclediff.py OLD.json NEW.json SFDIR

OLD.json and NEW.json are the `oracle_sql.json` files `graft.Verify`
writes (one run of the parent, one of the change; a one-row
`SPARK_GRAFT_VERIFY_ONLY` run still writes every oracle). SFDIR holds the
fixture tables. For each row whose text differs, both texts run over the
same fixture views and are compared with `check.py`'s canonical strings:
column names, exact DuckDB column types, row count and every value, in
order. Each new text also passes `check.py`'s schema audit against the old
one (no HUGEINT, nested or DECIMAL output column, no numeric type-class
change). Rows present on one side only are listed, not run.

Prints `same:` or `DIFF:` per changed row. Exits 1 when any changed row
differs or fails to run, 0 otherwise.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


def run(con, sql):
    """(types, rows) of one oracle: {column: type} and canonical rows."""
    types = check.sql_types(con, sql)
    rows = [tuple(check.canon(v) for v in r)
            for r in con.execute(sql).fetchall()]
    return types, rows


def compare(con, old, new):
    """None when both texts give the same columns, types and rows, else a
    one-line reason."""
    try:
        old_types, old_rows = run(con, old)
    except Exception as e:
        return f"old text fails: {str(e).splitlines()[0]}"
    try:
        new_types, new_rows = run(con, new)
    except Exception as e:
        return f"new text fails: {str(e).splitlines()[0]}"
    if old_types != new_types:
        return f"columns/types {old_types} -> {new_types}"
    bad = check.audit_schemas(new_types, old_types)
    if bad:
        return f"schema audit: {bad}"
    if len(old_rows) != len(new_rows):
        return f"rows {len(old_rows)} -> {len(new_rows)}"
    for i, (a, b) in enumerate(zip(old_rows, new_rows)):
        if a != b:
            return f"row {i}: {a} -> {b}"
    return None


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        old = json.load(f)
    with open(sys.argv[2]) as f:
        new = json.load(f)
    con = check.connect(sys.argv[3])
    for name in sorted(set(old) - set(new)):
        print(f"only in old: {name}")
    for name in sorted(set(new) - set(old)):
        print(f"only in new: {name}")
    changed = sorted(n for n in set(old) & set(new) if old[n] != new[n])
    diffs = []
    for name in changed:
        reason = compare(con, old[name], new[name])
        if reason:
            diffs.append(name)
            print(f"DIFF: {name}: {reason}")
        else:
            print(f"same: {name}")
    print(f"== {len(changed)} changed texts: {len(changed) - len(diffs)} "
          f"same, {len(diffs)} differ")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
