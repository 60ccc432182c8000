"""Measure the direct row path against the Python DataSource on JSONL.

Writes an orders-shaped JSONL collection (seeded) at each ``--rows``
size and times two find-shaped queries on both routes of one
``MongoFrame``: ``direct=None`` (the row path: ``_result_docs`` +
flatten + Arrow on the driver) and ``direct=False`` (the partitioned
Python DataSource scan). The queries:

- ``selective``: a price range and a two-status ``$in``, 4 columns out,
  about 1% of the rows (the shape of the ``interactive_query`` JSONL
  query);
- ``full``: every row, 4 columns out (the row path's worst case: every
  document crosses the driver into Arrow).

Each (size, query) runs ``--reps`` times per route, routes alternating,
after one untimed run of each; the medians of ``df()`` + ``collect()``
are printed. The row path is timed pinned (``direct=True``), so it is
measured past the size caps too. ``auto`` is the route an unpinned
frame takes and ``first_s`` its first query on a fresh backend, which
pays the bounded count probe.

Usage:
    python tools/row_path_crossover.py [--rows 8000 60000 250000] [--reps 5]

Run it on an otherwise idle host.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
from dataclasses import replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

STATUSES = ["F", "O", "P"]


def write_orders(root: str, n: int, seed: int = 7) -> None:
    import numpy as np

    rng = np.random.default_rng(seed)
    os.makedirs(os.path.join(root, "main"), exist_ok=True)
    cust = rng.integers(1, 10_001, size=n)
    status = rng.integers(0, 3, size=n)
    price = np.round(rng.uniform(900.0, 500_000.0, size=n), 2)
    prio = rng.integers(1, 6, size=n)
    with open(os.path.join(root, "main", "orders.jsonl"), "w") as f:
        for i in range(n):
            f.write(json.dumps({
                "_id": i + 1, "o_orderkey": i + 1, "o_custkey": int(cust[i]),
                "o_orderstatus": STATUSES[status[i]],
                "o_totalprice": float(price[i]),
                "o_orderpriority": f"{prio[i]}-P",
            }) + "\n")


def frames(spark, backend):
    from duckdb_mongo_spark.frame import MongoFrame
    from duckdb_mongo_spark.pushdown import C
    from duckdb_mongo_spark.schema.infer import resolve_schema

    base = MongoFrame(spark=spark, backend=backend, db="main", coll="orders",
                      schema=resolve_schema(backend, "main", "orders"))
    cols = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    return {
        "selective": base.filter((C("o_totalprice") > 485_000.0)
                                 & C("o_orderstatus").isin("F", "O")).select(*cols),
        "full": base.select(*cols),
    }


def run_once(frame) -> tuple[float, str, int]:
    t0 = time.perf_counter()
    f = replace(frame)
    n = len(f.df().collect())
    return time.perf_counter() - t0, f.last_exec_path, n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, nargs="+", default=[8_000, 60_000, 250_000])
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    import duckdb_mongo_spark as dms
    from duckdb_mongo_spark.backends import JsonlBackend

    spark = dms.get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    print(f"{'rows':>8} {'query':>9} {'auto':>10} {'first_s':>7} "
          f"{'row_s':>7} {'datasource_s':>12} {'out_rows':>8}")
    with tempfile.TemporaryDirectory() as tmp:
        for n in args.rows:
            root = os.path.join(tmp, str(n))
            write_orders(root, n)
            for name in ("selective", "full"):
                frame = frames(spark, JsonlBackend(root))[name]
                first, route, out = run_once(replace(frame, direct=None))
                row, ds = replace(frame, direct=True), replace(frame, direct=False)
                run_once(row)
                run_once(ds)
                t_row, t_ds = [], []
                for i in range(args.reps):
                    order = [(row, t_row), (ds, t_ds)]
                    for f, acc in (order if i % 2 == 0 else order[::-1]):
                        acc.append(run_once(f)[0])
                print(f"{n:>8} {name:>9} {route:>10} {first:>7.3f} "
                      f"{statistics.median(t_row):>7.3f} "
                      f"{statistics.median(t_ds):>12.3f} {out:>8}")
    spark.stop()


if __name__ == "__main__":
    main()
