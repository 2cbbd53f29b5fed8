#!/usr/bin/env python3
"""Interleaved per-query DuckDB pairing for the bench gate (VERDICT r15 #2).

A pre/post bracket of the WHOLE Spark suite (two ~1 s DuckDB blocks
around a ~30 s Spark window) under-samples a container load spike inside
the Spark window — exactly the asymmetry SCALE.md §41.2's interleaved
rep-for-rep protocol was built to kill (r15's one RED bracket row is the
measured exposure). This worker keeps ONE warm
in-memory DuckDB open for the whole bench run; Bench asks it to time
each query's median-of-3 IMMEDIATELY after timing the same query's
Spark median-of-3, so drift moves both engines together at per-query
granularity and the per-query ratio is attributable.

Timing protocol per query (BASELINE.md): in-memory DB, views over the
same parquet files, one full warm-up pass at startup, median of 3
consecutive execute+fetchall walls.

Wire protocol (line-oriented stdin/stdout):
  startup -> {"ready": N}         after the warm pass
  <- <name>\n                     time oracle[name]
  -> {"name": ..., "sec": ...}    median-of-3 seconds
  <- EXIT\n                       quit

Usage: python3 tools/paired_duck.py <sfDir> <oracleSqlJson>
"""
import sys, json, time, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir, sql_json = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(p):
            continue
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src})")
    oracle = json.load(open(sql_json))
    for n in sorted(oracle):             # warm-up pass (protocol)
        con.execute(oracle[n]).fetchall()
    print(json.dumps({"ready": len(oracle)}), flush=True)
    for line in sys.stdin:
        name = line.strip()
        if name == "EXIT" or not name:
            break
        if name not in oracle:
            print(json.dumps({"name": name, "error": "unknown"}), flush=True)
            continue
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(oracle[name]).fetchall()
            ts.append(time.perf_counter() - t0)
        print(json.dumps({"name": name, "sec": round(sorted(ts)[1], 5)}),
              flush=True)


if __name__ == "__main__":
    main()
