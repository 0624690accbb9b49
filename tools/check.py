#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Loads each <verifyOutDir>/<name> parquet (Spark result), runs the
matching SQL from oracle_sql.json in DuckDB over the sfDir parquet
tables (a single file, or a directory of part files as `Diag replica`
writes), and compares: schema (sorted column names), row count,
per-column DTYPES (the driver's hash is dtype-sensitive — round 1's 13
"failures" were DuckDB HUGEINT sums vs Spark int64 with equal values,
invisible to a values-only compare), and exact values after sorting
columns by name and rows by all columns. Reports per-query PASS/FAIL
with a diff sample on mismatch. A gate named in <verifyOutDir>/failed.json,
or with an oracle but no dump directory, is a FAIL too.
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def nonscalar_cols(df: pd.DataFrame):
    """Columns holding non-scalar cells (ndarray/list/dict — i.e. Spark
    Array/Map/Struct outputs). The driver's harness sorts rows by every
    column before hashing and pandas factorize throws `unhashable type`
    on these (round 4: tx13's postings_head) — so the mirror must FAIL
    them the way the driver fails, never silently stringify."""
    import numpy as np
    bad = []
    for c in df.columns:
        if df[c].dtype == object:
            vals = df[c].dropna()
            if len(vals) and isinstance(
                    vals.iloc[0], (np.ndarray, list, tuple, dict, set)):
                bad.append(c)
    return bad


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: decimals -> float, categoricals -> str
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(float)
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_family(dt) -> str:
    k = getattr(dt, "kind", "O")
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    return "object"


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            continue
        # a table Spark wrote (a `Diag replica` fact table) is a
        # directory of part files
        src = f"{p}/**/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    failed_path = f"{out_dir}/failed.json"
    failed = json.load(open(failed_path)) if os.path.exists(failed_path) else {}
    dumped = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    n_pass = n_fail = 0
    # every dump, every oracle and every recorded failure gets a line: a
    # gate that threw in Verify (or never dumped) must count as a FAIL
    for name in sorted(dumped | set(oracles) | set(failed)):
        if name in failed or name not in dumped:
            n_fail += 1
            print(f"{name}: FAIL  " + (failed[name] if name in failed else
                                       "MISSING (in oracle_sql.json, no dump directory)"))
            continue
        got = pd.read_parquet(os.path.join(out_dir, name))
        if name not in oracles:
            print(f"{name}: NO-ORACLE rows={len(got)}")
            continue
        exp = con.execute(oracles[name]).df()
        ok = True
        msgs = []
        ns_got = nonscalar_cols(got)
        ns = ns_got + [c for c in nonscalar_cols(exp) if c not in ns_got]
        if ns:
            ok = False
            msgs.append(f"NON-SCALAR columns {ns} (driver harness cannot hash "
                        "arrays/structs — emit joined strings instead)")
        elif sorted(got.columns) != sorted(exp.columns):
            ok = False
            msgs.append(f"schema spark={sorted(got.columns)} duckdb={sorted(exp.columns)}")
        elif len(got) != len(exp):
            ok = False
            msgs.append(f"rows spark={len(got)} duckdb={len(exp)}")
        else:
            # dtype-family gate first: mirrors the driver's dtype-sensitive
            # hash. Round-1 evidence: int32 vs int64 PASSES the driver
            # (integers hash via a common uint64 cast) but int64 vs float64
            # FAILS (DuckDB HUGEINT sums arrive as float64) — so compare
            # dtype *families*, not exact widths.
            # Note this runs on RAW dtypes, before canon()'s object->float
            # coercion: an oracle emitting DECIMAL (pandas object) against
            # Spark float64 fails here even with equal values. That is
            # intentional — the driver's hash is just as dtype-sensitive,
            # and the gate-query numeric policy (GateQuery scaladoc) bans
            # DECIMAL outputs: every oracle wraps numeric aggregates in
            # CAST(... AS BIGINT/DOUBLE), lint-enforced by GateRegistrySpec.
            for c in sorted(got.columns):
                fg, fe = dtype_family(got[c].dtype), dtype_family(exp[c].dtype)
                if fg != fe:
                    ok = False
                    msgs.append(
                        f"col {c}: DTYPE-FAMILY spark={got[c].dtype}({fg}) "
                        f"duckdb={exp[c].dtype}({fe})")
        if ok:
            g, e = canon(got), canon(exp)
            for c in g.columns:
                bad = [
                    i for i in range(len(g))
                    if not values_equal(g[c].iloc[i], e[c].iloc[i])
                ]
                if bad:
                    ok = False
                    i = bad[0]
                    msgs.append(
                        f"col {c}: {len(bad)} mismatches, first@{i}: "
                        f"spark={g[c].iloc[i]!r} duckdb={e[c].iloc[i]!r}")
        if ok:
            n_pass += 1
            print(f"{name}: PASS rows={len(got)}")
        else:
            n_fail += 1
            print(f"{name}: FAIL  " + " | ".join(msgs))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
