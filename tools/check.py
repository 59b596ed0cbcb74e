#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir>

Reads each <out_dir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <out_dir>/oracle_sql.json in DuckDB against the
sf_dir parquet tables, sorts columns by name and rows by value, and
compares cell-for-cell. Exit 1 on any mismatch.

Dev tool only — never shipped in the Spark library.
"""
import sys, json, glob, os, re
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


# DuckDB 1.0 inlines a CTE at every reference, so an oracle whose CTEs
# build on one another re-runs the earlier ones many times over: d33's
# 31 nested CTEs held 10.3 GB RSS for about a minute on sf0.01 (1 s and
# 164 MB with each CTE computed once). Materializing a CTE computes the
# same relation once, so the verdicts stay those of the inlined run.
CTE_DEF = re.compile(r"\b(\w+)\s+AS\s+\((?=\s*(?:SELECT|WITH|VALUES)\b)", re.IGNORECASE)


def materialized(sql: str) -> str:
    return CTE_DEF.sub(r"\1 AS MATERIALIZED (", sql)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for a stable total order (mirrors a hash-of-values compare)
    s = df.astype(str)
    order = s.sort_values(by=list(s.columns)).index
    return df.loc[order].reset_index(drop=True)


def cells_equal(a, b) -> bool:
    # STRICT: mirror the driver's hash of stringified values exactly.
    # Decimal('1.00') vs 1.0 must FAIL here because it fails there
    # (r1 lesson: a 1e-9 tolerance passed locally what the driver failed).
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return str(a) == str(b)


def log_mem(name):
    """This process's resident and peak memory after one gate (stderr, so
    the verdict lines stay as they are)."""
    kb = {}
    with open("/proc/self/status") as f:
        for line in f:
            key, _, val = line.partition(":")
            if key in ("VmRSS", "VmHWM"):
                kb[key] = int(val.split()[0])
    print(f"mem {name}: rss_mb={kb['VmRSS'] // 1024} hwm_mb={kb['VmHWM'] // 1024}",
          file=sys.stderr, flush=True)


def check_gate(con, out_dir, oracles, name):
    """Compare one gate's output with its oracle; prints the verdict line
    and returns "pass", "weak" or "fail"."""
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no parquet written")
        return "fail"
    got = pd.read_parquet(f"{out_dir}/{name}")
    if name not in oracles:
        status = "WEAK" if len(got) > 0 else "FAIL(empty)"
        print(f"{status} {name}: rows={len(got)} (no oracle)")
        return "weak" if len(got) > 0 else "fail"
    try:
        exp = con.sql(materialized(oracles[name])).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}")
        return "fail"
    if sorted(got.columns) != sorted(exp.columns):
        print(f"FAIL {name}: columns {sorted(got.columns)} != {sorted(exp.columns)}")
        return "fail"
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
        return "fail"
    g, e = canon(got), canon(exp)
    for col in g.columns:
        gv, ev = g[col].tolist(), e[col].tolist()
        for i, (a, b) in enumerate(zip(gv, ev)):
            if not cells_equal(a, b):
                print(f"FAIL {name}: col={col} row={i}: got={a!r} exp={b!r}")
                return "fail"
    print(f"PASS {name}: rows={len(got)}")
    return "pass"


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    dirs = {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}
    # union with oracle keys: a query that threw in Verify (no parquet
    # dir) must show up as FAIL, not silently vanish
    names = sorted(dirs | set(oracles))
    counts = {"pass": 0, "weak": 0, "fail": 0}
    for name in names:
        counts[check_gate(con, out_dir, oracles, name)] += 1
        log_mem(name)
    print(f"\n== {counts['pass']} pass, {counts['weak']} weak (rows-only), "
          f"{counts['fail']} fail")
    sys.exit(1 if counts["fail"] else 0)


if __name__ == "__main__":
    main()
