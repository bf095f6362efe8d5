#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
  - loads each <outDir>/<name> parquet result (Spark side)
  - runs oracle_sql.json[name] in DuckDB with the sf tables registered
  - compares row count, sorted column names, and a hash of values with
    columns sorted by name (mirrors the driver's documented compare).

Exits 1 when any result fails, when a requested name has no result
directory under <outDir>, or when nothing was checked at all.

Usage: python3 tools/selfcheck.py <sfDir> <outDir> [name ...]
"""
import sys, os, json, glob, hashlib
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # sort rows for order-insensitive compare; driver may or may not —
    # our queries all have total ORDER BY so this is belt-and-braces
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True) if len(df) else df
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    # big-SF hygiene: pin spill to a known dir and drop insertion-order
    # preservation (cuts memory for the large-join/agg oracles; every
    # gate query has a total ORDER BY so order never matters here)
    os.makedirs("target/tmp/duck_spill", exist_ok=True)
    con.execute("SET temp_directory='target/tmp/duck_spill'")
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = n_noracle = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d) or (only and name not in only):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        if not files:
            print(f"FAIL  {name}: no parquet output"); n_fail += 1; continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)], ignore_index=True)
        if name not in oracle:
            print(f"-     {name}: no oracle (rows={len(got)})"); n_noracle += 1; continue
        try:
            exp = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}"); n_fail += 1; continue
        ok_rows = len(got) == len(exp)
        ok_cols = sorted(got.columns) == sorted(exp.columns)
        ok_hash = ok_rows and ok_cols and canon(got) == canon(exp)
        if ok_rows and ok_cols and ok_hash:
            print(f"PASS  {name} (rows={len(got)})"); n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL  {name}: rows {len(got)} vs {len(exp)}, cols_ok={ok_cols}, hash_ok={ok_hash}")
            if ok_cols and len(got) and len(exp):
                g = got.reindex(sorted(got.columns), axis=1)
                e = exp.reindex(sorted(exp.columns), axis=1)
                g = g.sort_values(by=list(g.columns), kind="mergesort", ignore_index=True)
                e = e.sort_values(by=list(e.columns), kind="mergesort", ignore_index=True)
                n = min(len(g), len(e))
                diff = (g.iloc[:n].astype(str).values != e.iloc[:n].astype(str).values).any(axis=1)
                idx = [i for i, x in enumerate(diff) if x][:3]
                for i in idx:
                    print(f"  spark : {g.iloc[i].to_dict()}")
                    print(f"  oracle: {e.iloc[i].to_dict()}")
            elif not ok_cols:
                print(f"  spark cols : {sorted(got.columns)}")
                print(f"  oracle cols: {sorted(exp.columns)}")
    missing = sorted(n for n in only if not os.path.isdir(os.path.join(out_dir, n)))
    for name in missing:
        print(f"FAIL  {name}: no result directory under {out_dir}")
    print(f"\n== {n_pass} pass / {n_fail + len(missing)} fail / {n_noracle} no-oracle")
    if n_pass + n_fail + n_noracle == 0:
        print("nothing was checked")
    sys.exit(1 if n_fail or missing or n_pass + n_fail + n_noracle == 0 else 0)


if __name__ == "__main__":
    main()
