#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare (dev aid only; the
library itself has no Python dependency). Usage:

    python3 tools/check.py <sfDir> <outDir>

Reads <outDir>/<name>/*.parquet (written by graft.Verify) and compares each
against its oracle SQL from <outDir>/oracle_sql.json run in DuckDB over the
fixture tables in <sfDir>. Columns sorted by name; rows compared in order.

Values are compared via CANONICAL STRINGS to mirror the driver's hash gate
(str(Decimal) keeps trailing scale zeros, repr(float) is shortest-repr —
so DECIMAL('1524135.00') != float 1524135.0, exactly as the driver sees
it). A Decimal-vs-float column pairing is reported as a TYPE failure even
when the strings happen to match, because it diverges whenever a value has
a trailing zero in its last scale digit.

SCHEMA AUDIT (the round-4 lesson): fetchall() flattens DuckDB HUGEINT to a
plain Python int, so value comparison alone is BLIND to the exact bug class
the driver fails on — an oracle whose sum(BIGINT) output widens to HUGEINT
hashes differently at the driver even though every value equals Spark's
BIGINT. Before comparing values we therefore DESCRIBE both result schemas
and (a) reject any oracle output column typed HUGEINT/UHUGEINT outright,
(b) reject any per-column numeric type-class divergence (int/float/decimal)
between oracle and Spark — even when the result has zero rows.

`python3 tools/check.py --selftest` plants a bare sum(BIGINT) oracle and
asserts the audit rejects it (regression test for the r4 failure class)."""
import duckdb, json, sys, math, re
from decimal import Decimal

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(x):
    """Canonical string form mirroring the driver's normalization: ints of
    any width agree; floats use shortest repr; Decimals keep their scale."""
    if x is None:
        return "∅"
    if isinstance(x, float):
        return "nan" if math.isnan(x) else repr(x)
    if isinstance(x, bool):
        return str(x)
    if isinstance(x, (int, Decimal)):
        return str(x)
    if isinstance(x, list):
        return "[" + ",".join(canon(v) for v in x) + "]"
    if isinstance(x, dict):
        return "{" + ",".join(f"{k}:{canon(v)}" for k, v in sorted(x.items())) + "}"
    return repr(x)

def tclass(x):
    if isinstance(x, bool):
        return "bool"
    if isinstance(x, int):
        return "int"
    if isinstance(x, float):
        return "float"
    if isinstance(x, Decimal):
        return "decimal"
    return type(x).__name__

def veq(a, b):
    # numeric type-class divergence (decimal vs float/int) is a latent
    # driver-hash failure even if this particular value stringifies equal
    if a is not None and b is not None and \
       {tclass(a), tclass(b)} in ({"decimal", "float"}, {"decimal", "int"},
                                  {"float", "int"}):
        return False
    return canon(a) == canon(b)

def sql_types(con, sql):
    """Result schema of a query as {column: duckdb type string}."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: r[1] for r in rows}

def type_class(t):
    """Bucket a DuckDB type string the way the driver's hash treats it."""
    t = t.upper()
    if t in ("HUGEINT", "UHUGEINT", "INT128", "UINT128"):
        return "hugeint"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    return "other"

def audit_schemas(exp_types, got_types):
    """Return a failure message if the oracle result schema would hash-
    diverge from the Spark result schema at the driver, else None.
    Catches the r4 HUGEINT bug class even on zero-row results, and the
    r6 list-column class (driver's pandas sort_values dies on unhashable
    numpy arrays — q_dedup_survivorship): any list/struct/map-typed
    output column on EITHER side must be serialized (array_join /
    array_to_string) before it leaves the query."""
    for c, t in exp_types.items():
        if type_class(t) == "hugeint":
            return (f"oracle column {c} is {t} — cast it to BIGINT/DOUBLE "
                    "in the oracle SQL (driver hashes HUGEINT differently)")
    for side, types in (("oracle", exp_types), ("spark", got_types)):
        for c, t in types.items():
            tu = t.upper()
            if (tu.endswith("[]") or tu.startswith("STRUCT")
                    or tu.startswith("MAP") or tu.startswith("LIST")
                    or tu.startswith("ARRAY")):
                return (f"{side} column {c} is {t} — the driver comparator "
                        "cannot sort/hash nested types; serialize it "
                        "(array_join on Spark, array_to_string in DuckDB)")
    for side, types in (("oracle", exp_types), ("spark", got_types)):
        for c, t in types.items():
            # the r12 lesson: the only two driver-hash failures in
            # r10/r11 were the only two queries emitting DECIMAL output
            # columns — the driver's decimal canonicalization diverges
            # from this replica's, so a decimal OUTPUT column is a
            # latent driver-red even when it matches here. Emit BIGINT
            # fixed-point or an ε-rounded DOUBLE instead.
            if type_class(t) == "decimal":
                return (f"{side} column {c} is {t} — decimal output "
                        "columns fail the driver's hash even when this "
                        "replica matches (r10/r11 failure class); emit "
                        "BIGINT fixed-point or an ε-rounded DOUBLE")
    for c, t in exp_types.items():
        if c in got_types:
            ec, gc = type_class(t), type_class(got_types[c])
            if {ec, gc} in ({"decimal", "float"}, {"decimal", "int"},
                            {"float", "int"}):
                return (f"column {c} type-class mismatch: oracle {t} vs "
                        f"spark {got_types[c]}")
    return None

def connect(sf_dir):
    """A DuckDB connection with one view per fixture table in sf_dir."""
    import os
    con = duckdb.connect()
    for t in TABLES:
        # driver fixtures are single parquet FILES; ScaleFixture output
        # (Spark writes) are DIRECTORIES of part files — glob those
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = connect(sf_dir)
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    fails, ok = [], 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            # column names/order come from DESCRIBE (planning only) — an
            # r16 fix: con.execute(sql).description EXECUTED every oracle
            # even when the Spark dump was missing, which made subset runs
            # against a big fixture pay the full oracle alphabet
            exp_types = sql_types(con, sql)
            exp_cols = list(exp_types)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e).splitlines()[0]}")
            fails.append(name); continue
        try:
            q = f"SELECT * FROM '{out_dir}/{name}/*.parquet'"
            got_types = sql_types(con, q)
            got_cols = list(got_types)
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {str(e).splitlines()[0]}")
            fails.append(name); continue
        # r16: MEMORY-SAFE path for huge results (the 10x q_dedup_simhash
        # lesson: 51.7M rows fetchall()'d into Python tuples is the real
        # "oracle timeout", not DuckDB). Above the threshold, compare
        # entirely inside DuckDB with a symmetric EXCEPT ALL on the
        # column-name-aligned projections — exact multiset equality
        # (stricter than veq's float tolerance; every current huge row is
        # integer-typed). Gate-SF results never reach the threshold, so
        # driver-gate semantics are unchanged.
        DIGEST_ROWS = 2_000_000
        try:
            n_exp = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e).splitlines()[0]}")
            fails.append(name); continue
        if n_exp > DIGEST_ROWS:
            bad_schema = audit_schemas(exp_types, got_types)
            if bad_schema:
                print(f"FAIL {name}: schema audit: {bad_schema}")
                fails.append(name); continue
            if sorted(exp_cols) != sorted(got_cols):
                print(f"FAIL {name}: columns exp={sorted(exp_cols)} "
                      f"got={sorted(got_cols)}")
                fails.append(name); continue
            cols = ", ".join(f'"{c}"' for c in sorted(exp_cols))
            try:
                d1, d2 = con.execute(
                    f"WITH o AS ({sql}) SELECT "
                    f"(SELECT count(*) FROM (SELECT {cols} FROM o EXCEPT ALL "
                    f" SELECT {cols} FROM ({q}))), "
                    f"(SELECT count(*) FROM (SELECT {cols} FROM ({q}) "
                    f" EXCEPT ALL SELECT {cols} FROM o))").fetchone()
            except Exception as e:
                print(f"FAIL {name}: digest compare error: "
                      f"{str(e).splitlines()[0]}")
                fails.append(name); continue
            if d1 or d2:
                print(f"FAIL {name}: digest: oracle-only={d1} spark-only={d2}"
                      f" of {n_exp} rows")
                fails.append(name)
            else:
                ok += 1
                print(f"ok   {name} ({n_exp} rows, digest)")
            continue
        try:
            exp = con.execute(sql).fetchall()
            got = con.execute(q).fetchall()
        except Exception as e:
            print(f"FAIL {name}: fetch error: {str(e).splitlines()[0]}")
            fails.append(name); continue
        bad_schema = audit_schemas(exp_types, got_types)
        if bad_schema:
            print(f"FAIL {name}: schema audit: {bad_schema}")
            fails.append(name); continue
        eperm = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])
        gperm = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
        if [exp_cols[i] for i in eperm] != [got_cols[i] for i in gperm]:
            print(f"FAIL {name}: columns exp={sorted(exp_cols)} got={sorted(got_cols)}")
            fails.append(name); continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}")
            fails.append(name); continue
        bad = None
        for r, (er, gr) in enumerate(zip(exp, got)):
            for ei, gi in zip(eperm, gperm):
                if not veq(er[ei], gr[gi]):
                    bad = (r, exp_cols[ei], er[ei], gr[gi])
                    break
            if bad:
                break
        if bad:
            r, c, e, g = bad
            print(f"FAIL {name}: row {r} col {c}: oracle={e!r} spark={g!r}")
            fails.append(name)
        else:
            ok += 1
            print(f"ok   {name} ({len(exp)} rows)")
    print(f"== {ok}/{len(oracle)} matched; failed: {fails if fails else 'none'}")
    sys.exit(1 if fails else 0)

def selftest():
    """Regression test for the r4 failure class: a bare sum(BIGINT) oracle
    (HUGEINT result column) MUST be rejected by the schema audit; the cast
    form MUST pass it."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT CAST(range AS BIGINT) AS v "
                "FROM range(10)")
    bad = sql_types(con, "SELECT sum(v) AS s FROM t")
    good = sql_types(con, "SELECT CAST(sum(v) AS BIGINT) AS s FROM t")
    assert audit_schemas(bad, {"s": "BIGINT"}) is not None, \
        "audit failed to reject a HUGEINT oracle column"
    assert audit_schemas(good, {"s": "BIGINT"}) is None, \
        "audit wrongly rejected a BIGINT-cast oracle column"
    # window sum over BIGINT is HUGEINT too — the q_sample_weighted shape
    wbad = sql_types(con, "SELECT sum(v) OVER (ORDER BY v) AS c FROM t")
    assert audit_schemas(wbad, {"c": "BIGINT"}) is not None, \
        "audit failed to reject a HUGEINT window-sum column"
    # decimal-vs-float divergence must fail even with zero value rows
    assert audit_schemas({"x": "DECIMAL(18,2)"}, {"x": "DOUBLE"}) is not None
    assert audit_schemas({"x": "DOUBLE"}, {"x": "DOUBLE"}) is None
    # r6 class: list-typed output columns break the driver comparator
    lbad = sql_types(con, "SELECT list(v) AS xs FROM t")
    lgood = sql_types(con, "SELECT array_to_string(list(v), ';') AS xs FROM t")
    assert audit_schemas(lbad, {"xs": "VARCHAR"}) is not None, \
        "audit failed to reject a LIST oracle column"
    assert audit_schemas({"xs": "VARCHAR"}, {"xs": "BIGINT[]"}) is not None, \
        "audit failed to reject a list-typed spark column"
    assert audit_schemas(lgood, {"xs": "VARCHAR"}) is None, \
        "audit wrongly rejected an array_to_string column"
    print("selftest ok: HUGEINT + type-class + list-column audits reject "
          "the r4 and r6 bug classes")

if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        selftest()
    else:
        main()
