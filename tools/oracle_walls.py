#!/usr/bin/env python3
"""Time every registry oracle in DuckDB and write ORACLE_WALLS.json.

Feeds graft.Bench, which (when the file is present at the repo root)
embeds {oracleWall, ratio} next to each query's Spark wall in
BENCH_DETAIL.json — making the BASELINE <=2x contract per-query
auditable from one artifact (round-12 verdict ask #2).

Each oracle runs `passes` times; the recorded number is the min, same
rule as the Spark side. DuckDB runs single-connection over the same
parquet files the bench reads.

Usage: python3 tools/oracle_walls.py <sfDir> <oracle_sql.json> [out] [passes]

<oracle_sql.json> is `<verifyOutDir>/oracle_sql.json`: every graft.Verify
run writes the full registry's oracle SQL there, also when query names
restrict which results it dumps.
"""
import sys, os, json, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir = sys.argv[1]
    oracle_path = sys.argv[2]
    out = sys.argv[3] if len(sys.argv) > 3 else "ORACLE_WALLS.json"
    passes = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    walls = {}
    for name in sorted(oracle):
        best = None
        for _ in range(passes):
            t0 = time.perf_counter()
            try:
                con.execute(oracle[name]).fetchall()
                dt = time.perf_counter() - t0
            except Exception as e:
                print(f"FAIL {name}: {e}", file=sys.stderr)
                dt = -1.0
                best = -1.0
                break
            best = dt if best is None else min(best, dt)
        walls[name] = round(best, 4)
        print(f"{name}: {best:.3f}s")
    with open(out, "w") as f:
        json.dump({"sf": sf_dir, "passes": passes, "walls": walls}, f,
                  indent=0, sort_keys=True)
    ok = [w for w in walls.values() if w >= 0]
    print(f"wrote {out}: {len(ok)}/{len(walls)} oracles timed, "
          f"total {sum(ok):.1f}s")


if __name__ == "__main__":
    main()
