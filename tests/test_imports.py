"""Import hygiene: the package root must stay importable (and fast)
without pandas — ops submodules load lazily (PEP 562) because
multimodal imports pandas at module scope.
"""

from __future__ import annotations

import os
import subprocess
import sys


def test_root_import_does_not_load_pandas():
    code = (
        "import sys; import duckdb_mongo_spark as dms;"
        "assert 'pandas' not in sys.modules, 'root import pulled in pandas';"
        "assert dms.ops.joins.asof_join and dms.ops.sampling.hash_split;"
        "assert dms.ops.rollup.time_rollup and dms.streaming.temporal.stream_static_asof;"
        "print('ok')"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, cwd=repo)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == "ok"


# Every SPARK_GRAFT_* environment variable the package reads. A knob
# added or removed shows up as a diff of this list.
ENV_KNOBS = {
    "SPARK_GRAFT_AGG_MAX_DOCS",
    "SPARK_GRAFT_ARROW_BATCH_ROWS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DIRECT_AGG_ROWS",
    "SPARK_GRAFT_DIRECT_SCAN_CELLS",
    "SPARK_GRAFT_DIRECT_SCAN_ROWS",
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_GRAFT_FUZZY_EXPANSIONS_MAX",
    "SPARK_GRAFT_FUZZY_VOCAB_MAX",
    "SPARK_GRAFT_INDEX_DIR",
    "SPARK_GRAFT_INTERVAL_BUCKETS",
    "SPARK_GRAFT_INTERVAL_INDEX_DIR",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_TEXT_STATS_DIR",
}


def test_env_knobs_are_the_allowlist():
    import re

    pkg = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "duckdb_mongo_spark")
    found = set()
    for root, _, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name), encoding="utf-8") as f:
                    found.update(re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read()))
    assert found == ENV_KNOBS
