#!/usr/bin/env python3
"""Fair-baseline timer: run every declared DuckDB oracle SQL over the
same sf-dir parquet tables and record per-query medians with the SAME
discipline as graft.Bench (warmup, median of 3 timed runs, full result
materialization via fetchall) — so "engine total vs DuckDB total on
identical SQL" is a committed, reproducible measurement instead of an
ad-hoc judge run.

What this measures and does not measure:
- It times ONLY oracle execution (connect + view registration excluded,
  like Bench excludes session startup). fetchall() materializes every
  row, the analogue of Measure.forceEval.
- Queries without an oracle (rows-only dumps) are skipped — the engine
  side of the comparison should exclude them too when quoting a ratio.
- One asymmetry documented in README: the engine's manifest-consumer
  queries amortize pair detection after warmup; DuckDB re-runs
  detection inside every query (MATERIALIZED amortizes within one
  query only). The per-query JSON lets a reader exclude those rows.

Usage: python3 dev/baseline_duckdb.py <sfDir> <verifyOutDir> [out.json]
  <verifyOutDir> only needs oracle_sql.json (from graft.Verify).
"""
import sys, json, os, time, statistics
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir, out_path="baseline_duckdb.json"):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    def steal():
        try:
            with open("/proc/stat") as f:
                cpu = next(l for l in f if l.startswith("cpu ")).split()
            return float(cpu[8]) / 100.0 if len(cpu) > 8 else 0.0
        except Exception:
            return 0.0

    steal0, wall0 = steal(), time.time()
    queries, failed = {}, []
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            con.sql(sql).fetchall()  # warmup (plans cached, buffers warm)
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                con.sql(sql).fetchall()
                samples.append(time.perf_counter() - t0)
            queries[name] = round(statistics.median(samples), 3)
        except Exception as e:
            failed.append(name)
            print(f"[baseline] {name} FAILED: {e}", file=sys.stderr)
    rec = {
        "metric": "duckdb_oracle_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "n_queries": len(queries),
        "failed": failed,
        "steal_sec": round(steal() - steal0, 2),
        "wall_sec": round(time.time() - wall0, 1),
        "sf": sf_dir,
        "duckdb_version": duckdb.__version__,
        "queries": queries,
    }
    line = json.dumps({k: rec[k] for k in
                       ("metric", "value", "unit", "n_queries", "steal_sec", "sf")})
    print(line)
    with open(out_path, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(f"[baseline] wrote {out_path}", file=sys.stderr)


if __name__ == "__main__":
    main(*sys.argv[1:])
