#!/usr/bin/env python3
"""Dev-only oracle pre-check (mirrors the driver's DuckDB compare).

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [queryName...]

Reads <verifyOutDir>/oracle_sql.json + each <verifyOutDir>/<name>/ parquet
dump (produced by `graft.Verify <sfDir> <verifyOutDir> [queryName...]`),
runs the oracle SQL in DuckDB over the sfDir parquet tables, sorts columns
BY NAME, and hash-compares values the way the driver does.
"""
import sys, json, glob, hashlib
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.10g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)

def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    lines = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    if not names:
        names = sorted(oracles)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    failures = 0
    for name in names:
        if name not in oracles:
            print(f"{name}: NO ORACLE (rows-only query)")
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        sp = con.execute(
            "SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])")
        sp_cols = [d[0] for d in sp.description]
        sp_rows = sp.fetchall()
        orc = con.execute(oracles[name])
        orc_cols = [d[0] for d in orc.description]
        orc_rows = orc.fetchall()
        ok_schema = sorted(sp_cols) == sorted(orc_cols)
        ok_rows = len(sp_rows) == len(orc_rows)
        ok_hash = ok_schema and ok_rows and \
            table_hash(sp_rows, sp_cols) == table_hash(orc_rows, orc_cols)
        status = "OK" if ok_hash else "FAIL"
        print(f"{name}: {status} rows={len(sp_rows)}/{len(orc_rows)} "
              f"schema={'ok' if ok_schema else f'{sorted(sp_cols)} vs {sorted(orc_cols)}'}")
        if not ok_hash:
            failures += 1
            if ok_schema and ok_rows:
                order = sorted(range(len(sp_cols)), key=lambda i: sp_cols[i])
                a = sorted("|".join(norm(r[i]) for i in order) for r in sp_rows)
                oorder = sorted(range(len(orc_cols)), key=lambda i: orc_cols[i])
                b = sorted("|".join(norm(r[i]) for i in oorder) for r in orc_rows)
                diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
                for x, y in diffs:
                    print(f"  spark : {x[:200]}")
                    print(f"  oracle: {y[:200]}")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
