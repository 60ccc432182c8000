"""Measure the per-task Python-worker floor of a ``get_spark()`` session.

Times a trivial Python RDD job (``parallelize(range(n), n).map(id)``,
no data to speak of) at 1 and 4 tasks, once with the engine's worker
daemon (``get_spark()`` as is) and once with the stock one
(``extra_conf={"spark.python.daemon.module": "pyspark.daemon"}``), and
prints the median latency of each.

Usage:
    python tools/pyworker_floor.py [--reps 15] [--rounds 2]

Each round starts one session per daemon, in alternating order, warms
its workers with 3 jobs per shape and then times ``--reps`` jobs per
shape. The medians pool every round. Run it on an otherwise idle host.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

VARIANTS = {
    "engine daemon": {},
    "pyspark.daemon": {"spark.python.daemon.module": "pyspark.daemon"},
}
TASKS = (1, 4)


def time_jobs(spark, n_tasks: int, reps: int) -> list[float]:
    sc = spark.sparkContext
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        sc.parallelize(range(n_tasks), n_tasks).map(lambda x: x).collect()
        out.append((time.perf_counter() - t0) * 1000.0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=15)
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args(argv)
    # workers run ``python -m <daemon>`` with this PYTHONPATH, whatever
    # the working directory
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")

    from duckdb_mongo_spark.session import get_spark

    samples = {(v, n): [] for v in VARIANTS for n in TASKS}
    for r in range(args.rounds):
        order = list(VARIANTS) if r % 2 == 0 else list(VARIANTS)[::-1]
        for variant in order:
            spark = get_spark("pyworker_floor", extra_conf={
                "spark.ui.showConsoleProgress": "false", **VARIANTS[variant]})
            module = spark.sparkContext.getConf().get("spark.python.daemon.module")
            for n in TASKS:
                time_jobs(spark, n, 3)
                samples[(variant, n)] += time_jobs(spark, n, args.reps)
            spark.stop()
            print(f"# round {r + 1}: {variant} ({module}) done", file=sys.stderr)
    print(f"{'daemon':<16}{'tasks':>6}{'median_ms':>11}{'p25_ms':>9}{'p75_ms':>9}{'n':>5}")
    for (variant, n), xs in samples.items():
        q = statistics.quantiles(xs, n=4)
        print(f"{variant:<16}{n:>6}{statistics.median(xs):>11.1f}{q[0]:>9.1f}{q[2]:>9.1f}{len(xs):>5}")
    for n in TASKS:
        ratio = (statistics.median(samples[("engine daemon", n)])
                 / statistics.median(samples[("pyspark.daemon", n)]))
        print(f"{n}-task job: engine daemon / pyspark.daemon = {ratio:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
