#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage:
  python3 tools/check_oracle.py [sfDir] [outDir]

Reads each `outDir/<name>/` parquet (written by graft.Verify), runs the
matching oracle SQL from `outDir/oracle_sql.json` in DuckDB over the same
parquet tables, and compares: column names (sorted), row count, and values
(rows sorted canonically). Reports exact mismatches plus max float deltas
so float-hash risk is visible even when a tolerance would pass.
"""
import sys, os, json, glob, math
from collections import Counter
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "target/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
for t in TABLES:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon_cell(x):
    # type-insensitive ordering so int64-vs-Decimal columns align across
    # engines: numbers order numerically, everything else by repr
    if x is None:
        return (2, "", 0.0)
    if isinstance(x, bool):
        return (1, str(x), 0.0)
    if isinstance(x, (int, float)) or type(x).__name__ == "Decimal":
        try:
            return (0, "", float(x))
        except (ValueError, OverflowError):
            return (1, str(x), 0.0)
    return (1, str(x), 0.0)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    return sorted(out, key=lambda r: tuple(canon_cell(x) for x in r)), \
        [cols[i] for i in order]

def kind(x):
    # Driver hashes pandas-rendered values, so int64 -917 and DOUBLE
    # -917.0 are DIFFERENT (f_round_trunc r01 regression) — but DuckDB
    # DECIMAL becomes float64 in .df(), so Decimal ≡ float (s2_http_*
    # were driver-green with DECIMAL oracles). Mirror both.
    if x is None:
        return "none"
    if isinstance(x, bool):
        return "bool"
    if isinstance(x, int):
        return "int"
    if isinstance(x, float) or type(x).__name__ == "Decimal":
        return "float"
    return "other"

def cell_eq(a, b):
    ka, kb = kind(a), kind(b)
    if ka != kb:
        # report the numeric delta (0 if numerically equal) but FAIL the
        # cell — the driver's hash is type-sensitive and would mismatch
        try:
            d = abs(float(a) - float(b))
        except (TypeError, ValueError, OverflowError):
            d = math.inf
        return False, (d if d != math.inf else 0.0)
    if a is None or b is None:
        return a is None and b is None, 0.0
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False, math.inf
        if math.isnan(fa) and math.isnan(fb):
            return True, 0.0
        d = abs(fa - fb)
        return fa == fb, d
    return a == b, 0.0

# Many keys reuse another key's oracle text verbatim (SQL-facade twins,
# store round-trips, aliases): each distinct text runs once, and its
# result (or error) is held only until the last key using it is compared.
uses = Counter(oracle.values())
memo = {}

def run_oracle(sql):
    hit = memo.get(sql)
    if hit is None:
        try:
            rel = con.sql(sql)
            hit = (rel.columns, rel.fetchall())
        except Exception as e:
            hit = e
        memo[sql] = hit
    return hit

def release(sql):
    uses[sql] -= 1
    if uses[sql] == 0:
        memo.pop(sql, None)

n_pass = n_fail = n_noquery = 0
for name in sorted(oracle):
    res_dir = f"{out_dir}/{name}"
    files = glob.glob(f"{res_dir}/*.parquet")
    if not files:
        print(f"MISSING  {name}: no spark result at {res_dir}")
        n_noquery += 1
        release(oracle[name])
        continue
    try:
        try:
            spark_rel = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
            s_cols, s_rows = spark_rel.columns, spark_rel.fetchall()
            hit = run_oracle(oracle[name])
        finally:
            release(oracle[name])
        if isinstance(hit, Exception):
            raise hit
        o_cols, o_rows = hit
    except Exception as e:
        print(f"ERROR    {name}: {str(e).splitlines()[0][:160]}")
        n_fail += 1
        continue
    problems = []
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        problems.append(f"cols spark={sorted(s_cols)} oracle={sorted(o_cols)}")
    if len(s_rows) != len(o_rows):
        problems.append(f"rowcount spark={len(s_rows)} oracle={len(o_rows)}")
    max_delta = 0.0
    if not problems:
        sr, _ = canon(s_rows, [c.lower() for c in s_cols])
        orr, _ = canon(o_rows, [c.lower() for c in o_cols])
        bad = 0
        for a, b in zip(sr, orr):
            for x, y in zip(a, b):
                ok, d = cell_eq(x, y)
                max_delta = max(max_delta, d if d != math.inf else 0)
                if not ok:
                    bad += 1
                    if bad <= 3:
                        problems.append(f"cell {x!r} != {y!r} (row {a} vs {b})")
        if bad > 3:
            problems.append(f"... {bad} bad cells total")
    if problems:
        print(f"FAIL     {name}: " + " | ".join(p[:200] for p in problems[:5]))
        n_fail += 1
    else:
        flag = f" maxFloatDelta={max_delta:.2e}" if max_delta > 0 else ""
        # a 0-row match is vacuous — flag it so empty-on-both-sides
        # queries don't masquerade as real coverage
        warn = " *** WARN: 0 rows (vacuous match) ***" if len(s_rows) == 0 else ""
        print(f"PASS     {name} ({len(s_rows)} rows){flag}{warn}")
        n_pass += 1

print(f"\n== {n_pass} pass, {n_fail} fail, {n_noquery} missing ==")
sys.exit(1 if (n_fail or n_noquery) else 0)
