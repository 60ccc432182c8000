"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it, prefixed ``#``, repeat every metric
with its unit and sample count. Exits 2 without a result when the
checkout has no engine package to benchmark.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "interactive_query": "interactive",
    "curation_batch": "curation",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "duckdb_mongo_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no duckdb_mongo_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    import gen
    import harness

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.isolate()
    try:
        with run.phase("generate"):
            inp = gen.generate(args.workload, args.seed, os.path.join(run.run_dir, "inputs"))
        with run.phase("session"):
            run.start_session()
        metrics = importlib.import_module(WORKLOADS[args.workload]).main(run, inp)
    finally:
        with run.phase("stop"):
            run.stop_session()
            run.cleanup()
    run.finish(metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
