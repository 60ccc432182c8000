from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Durable sidecars go to per-run scratch roots so one test run's indexes
# can't shadow another's (tmp_path corpora get fresh fingerprints anyway,
# but the roots themselves shouldn't accumulate across runs). A root the
# environment already names is left to whoever set it.
_MADE_ROOTS = []
for _var, _prefix in (
        ("SPARK_GRAFT_INDEX_DIR", "spark_graft_idx_test_"),
        ("SPARK_GRAFT_TEXT_STATS_DIR", "spark_graft_txt_test_"),
        ("SPARK_GRAFT_INTERVAL_INDEX_DIR", "spark_graft_iv_test_")):
    if _var not in os.environ:
        os.environ[_var] = tempfile.mkdtemp(prefix=_prefix)
        _MADE_ROOTS.append(os.environ[_var])


@pytest.fixture(scope="session", autouse=True)
def _remove_made_sidecar_roots():
    yield
    for d in _MADE_ROOTS:
        shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    from duckdb_mongo_spark.session import get_spark

    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def backend():
    from corpus import build_backend

    return build_backend()


@pytest.fixture(scope="session")
def sf_dir():
    d = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(d):
        pytest.skip(f"testdata dir {d} not present")
    return d
