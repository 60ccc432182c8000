"""DuckDB-on-parquet baseline for the bench suite — same SQL (the
ledger oracle texts), same parquet files, same methodology as bench.py
(warm pass over every query, then median of N fresh executions).

Usage: SPARK_GRAFT_SF_DIR=<dir> python tools/duckdb_baseline.py
Prints one JSON line {"metric": "duckdb_baseline_total_wall", ...}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

BENCH_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q13_customer_distribution",
    "q18_large_orders", "q_window_topk_per_customer", "q_sessionize",
    "q_time_bucket", "mongo_filter_projection", "mongo_agg_pushdown",
    "mongo_count_pushdown", "mongo_topn_pushdown", "mongo_semi_join_in",
    "text_analysis", "dedup_minhash_signatures", "dedup_simhash",
    "sim_cosine_topk",
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    import bench

    oracles = dict(entry.oracle_sql())
    # keep the same lean line items bench.py times (r3 ledger merges)
    bench._install_lean_line_items(dict(entry.queries()), oracles)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    names = [n for n in BENCH_QUERIES if n in oracles]
    for n in names:  # warm pass (buffer cache, duckdb object cache)
        con.execute(oracles[n]).fetchall()
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5"))
    timings = {}
    for n in names:
        samples = []
        for _ in range(iters):
            t0 = time.perf_counter()
            con.execute(oracles[n]).fetchall()
            samples.append(time.perf_counter() - t0)
        timings[n] = round(statistics.median(samples), 3)
    print(json.dumps({
        "metric": "duckdb_baseline_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf_dir": sf_dir,
    }))


if __name__ == "__main__":
    main()
