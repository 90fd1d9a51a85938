#!/usr/bin/env python3
"""Cross-engine anchor BASKET (oracle side): time the oracle SQL of a
set of plan-family-diverse rows on DuckDB at a given SF, median of 3 each.

The engine side of the same basket comes from a Bench run
(`SPARK_GRAFT_ONLY=<rows> SPARK_GRAFT_GROWTH=0 sbt "runMain graft.Bench"`,
which records the median of 3 fully materialized runs, so the ratio
compares like with like). Recording
one query flatters; a basket spanning a window row, a distinct+window
row, a broadcast-scoring row, an object-agg row, and the original
join/generator row makes the 2x-of-baseline claim robust
(VERDICT r15 "Missing #2").

Usage: python3 tools/anchor_basket.py <sfDir> <oracle_sql.json> [row ...]
"""
import json, os, statistics, sys, time
import duckdb

DEFAULT_BASKET = [
    "sessionize_events",      # keyed window (lag + running session ids)
    "retention_cohorts",      # distinct + window family
    "bm25_search",            # broadcast term-scoring join
    "topn_union_agg_rollup",  # sketch object agg + re-agg
    "dedup_jaccard_pairs",    # generator + self-join (the r13-15 anchor)
]

def main():
    sf_dir, oracle_path = sys.argv[1], sys.argv[2]
    basket = sys.argv[3:] or DEFAULT_BASKET
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        # plain-file layout (testdata) or Spark directory layout (scaled
        # fixtures, which carry only the tables the basket reads)
        src = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(src):
            src += "/*.parquet"
        elif not os.path.exists(src):
            continue
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    out = {}
    for name in basket:
        sql = oracle[name]
        secs = []
        for _ in range(3):
            t0 = time.monotonic()
            con.sql(sql).fetchall()
            secs.append(time.monotonic() - t0)
        out[name] = round(statistics.median(secs), 3)
        print(f"{name}: duckdb median-of-3 = {out[name]}s", flush=True)
    print(json.dumps({"sf": sf_dir, "duckdb_median3": out}))

if __name__ == "__main__":
    main()
