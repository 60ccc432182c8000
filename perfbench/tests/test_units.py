"""Fast tests of the benchmark's own pieces (no Spark session)."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import duckdb
import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import harness  # noqa: E402
import interactive  # noqa: E402
import oracles  # noqa: E402
import search  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from sparkstats import parse_metric  # noqa: E402


# -- percentile math ----------------------------------------------------------
@pytest.mark.parametrize("n", [1, 2, 3, 10, 26, 101])
def test_percentile_matches_inclusive_quantiles(n):
    xs = [((i * 37) % n) * 1.5 + 0.25 for i in range(n)]
    for q in (10, 25, 50, 75, 90):
        want = statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if n > 1 else xs[0]
        assert stats.percentile(xs, q) == pytest.approx(want)
    assert stats.percentile(xs, 100) == max(xs)
    assert stats.median(xs) == pytest.approx(statistics.median(xs))


def test_percentile_small_samples_and_errors():
    assert stats.percentile([4.0], 90) == 4.0
    assert stats.percentile([1.0, 3.0], 50) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0, 100.0], 90) == pytest.approx(61.6)
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0)


def test_gmean():
    assert stats.gmean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.gmean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        stats.gmean([])


def test_e2e_metrics_with_sample_counts():
    class _Run:
        def setup_s(self):
            return 12.5

    m = harness.e2e_common(_Run(), [0.1, 0.4, 1.6], [0.2, 0.4, 0.9],
                           docs_per_s=(100.0, 3), stored_ratio=0.5)
    assert m["op_gmean_ms"] == pytest.approx((400.0, "ms", 3))
    assert m["fresh_op_ms"] == pytest.approx((500.0, "ms", 3))
    assert m["docs_per_s"] == (100.0, "docs/s", 3)
    assert m["setup_s"] == (12.5, "s", 1)
    with pytest.raises(RuntimeError):
        harness.e2e_common(_Run(), [], [0.2], (1.0, 1), 0.5)


# -- SQL metric parsing -------------------------------------------------------
@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("74.0 B", 74.0),
    ("964.7 KiB", 964.7 * 1024),
    ("12 ms", 12.0),
    ("total (min, med, max (stageId: taskId))\n1.0 s (170 ms, 186 ms, 480 ms (stage 1.0: task 2))",
     1000.0),
    ("total (min, med, max (stageId: taskId))\n2.5 MiB (0.0 B, 1 MiB, 1 MiB (driver))",
     2.5 * 1024 ** 2),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


# -- span recorder ------------------------------------------------------------
class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_self_times_sum_to_wall():
    rec = spans.SpanRecorder(clock=FakeClock())
    rec.enabled = True
    rec.op = 7
    with rec.span("op"):
        with rec.span("frame.build"):
            with rec.span("backends"):
                pass
        with rec.span("spark.action"):
            pass
    own = rec.self_times()
    wall = rec.spans[0][2] - rec.spans[0][1]
    assert sum(own) == pytest.approx(wall)
    assert [s[3] for s in rec.spans] == [None, 0, 1, 0]
    assert all(s[4] == 7 for s in rec.spans)
    assert rec.layer_totals()["backends"] == 1.0
    assert rec.counts()["frame.build"] == 1


def test_disabled_recorder_records_nothing_and_wrap_passes_through():
    rec = spans.SpanRecorder()
    f = rec.wrap(lambda x: x + 1, "layer")
    assert f(1) == 2 and rec.spans == []
    rec.enabled = True
    assert f(2) == 3 and [s[0] for s in rec.spans] == ["layer"]


def test_pipeline_wrapper_counts_documents_lazily():
    rec = spans.SpanRecorder()
    rec.enabled = True
    seen = []

    def run_pipeline(docs, pipeline):
        return [d for d in docs if seen.append(d) is None]

    wrapped = rec.wrap(run_pipeline, "mql.pipeline")
    assert wrapped(iter([{"a": 1}, {"a": 2}]), []) == [{"a": 1}, {"a": 2}]
    assert wrapped([{"a": 3}], []) == [{"a": 3}]
    assert rec.counters["mql.pipeline_docs_in"] == 3


def test_instrument_and_uninstrument_restore_package_functions():
    import duckdb_mongo_spark.catalog as catalog
    import duckdb_mongo_spark.schema.infer as infer
    from duckdb_mongo_spark.frame import MongoFrame

    orig_resolve, orig_df = infer.resolve_schema, MongoFrame.df
    rec = spans.SpanRecorder()
    undo = spans.instrument(rec)
    try:
        assert catalog.resolve_schema is infer.resolve_schema is not orig_resolve
        assert MongoFrame.df is not orig_df
    finally:
        spans.uninstrument(undo)
    assert catalog.resolve_schema is infer.resolve_schema is orig_resolve
    assert MongoFrame.df is orig_df


# -- correctness checks -------------------------------------------------------
def test_same_rows_tolerance_and_order():
    assert oracles.same_rows([(1, 2.0), (0, None)], [(0, None), (1, 2.0 + 1e-13)])
    assert not oracles.same_rows([(1, 2.0)], [(1, 2.1)])
    assert not oracles.same_rows([(1, 2.0)], [(1, 2.0), (1, 2.0)])


def test_same_topk_tolerates_ties_at_the_cut():
    want = [(1, 3.0), (2, 2.0), (3, 1.0)]
    assert oracles.same_topk([(2, 2.0), (1, 3.0), (9, 1.0)], want)
    assert not oracles.same_topk([(9, 3.0), (2, 2.0), (3, 1.0)], want)
    assert not oracles.same_topk([(1, 3.0), (2, 2.5), (3, 1.0)], want)


def test_bm25_oracle_reproduces_the_bench_oracle():
    """The generalised BM25 SQL equals bench.py's three-term oracle."""
    import bench
    import __spark_entry__ as entry

    qs, ors = {}, {}
    bench._install_lean_line_items(qs, ors)
    con = duckdb.connect()
    words = ["spark", "vector", "merge", "alpha", "beta", "gamma", "the", "of"]
    rows = [(i, " ".join(words[(i * j) % len(words)] for j in range(3 + i % 7)))
            for i in range(1, 60)]
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    con.execute("CREATE VIEW docs AS SELECT * FROM documents")
    want = con.execute(ors["search_text_topk"]).fetchall()
    got = con.execute(oracles.bm25_sql(["spark", "vector", "merge"], 10,
                                       entry._SHINGLE_TOKS_SQL)).fetchall()
    assert want and oracles.same_topk(got, want)


def test_injected_wrong_result_counts_as_failed(tmp_path):
    """Every interactive oracle runs on generated data; feeding the
    oracle's own rows back passes, one corrupted value fails exactly one
    check."""
    inp = gen.generate("interactive_query", 3, str(tmp_path / "in"))
    run = harness.Run("interactive_query", 3, 1, False)
    w = interactive.Interactive(run, inp)
    tables = {c: ("parquet", c) for c in interactive.PARQUET}
    tables["orders_jsonl"] = ("jsonl", "orders_jsonl")
    con = oracles.connect(inp.parquet_root, inp.jsonl_root, tables)
    for shape, coll in interactive.OPS:
        p = interactive.draw(w.rng, shape)
        rows = con.execute(w.oracle_sql(shape, coll, p)).fetchall()
        assert rows, (shape, coll)
        w.checked[(shape, coll)] = (p, rows)
    con.close()
    w.check_all()
    assert (run.failed, run.attempted) == (0, 0)

    p, rows = w.checked[("or_filter", "orders_big")]
    bad = [rows[0][:2] + (rows[0][2] + 0.01,)] + rows[1:]
    w.checked[("or_filter", "orders_big")] = (p, bad)
    w.check_all()
    assert run.failed == 1
    assert "or_filter/orders_big" in run.failures[0]


def test_wrong_search_results_count_as_failed(tmp_path):
    """The oracles' own answers pass the search checks; a wrong id in
    each answer fails each check."""
    import __spark_entry__ as entry

    inp = gen.generate("curation_batch", 3, str(tmp_path / "in"))
    docs = search.read_docs(os.path.join(inp.parquet_root, "docs.parquet"))
    rng = np.random.default_rng(0)
    text_q = search.draw(rng, inp, "text_search")
    vec_q = search.draw(rng, inp, "vector_search")
    con = duckdb.connect()
    con.register("docs", docs.select(["doc_id", "text"]))
    top = [(int(i), float(s)) for i, s in con.execute(
        oracles.bm25_sql(text_q.split(" "), 10, entry._SHINGLE_TOKS_SQL)).fetchall()]
    con.close()
    emb = np.asarray(docs.column("embedding").to_pylist())
    q = np.asarray(vec_q)
    cos = emb @ q / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
    ids = docs.column("doc_id").to_pylist()
    near = [(ids[i], float(cos[i])) for i in (-cos).argsort()[:10]]
    run = harness.Run("curation_batch", 3, 1, False)
    search.check(run, docs, [("text_search", text_q, top), ("vector_search", vec_q, near),
                             ("ann_search", vec_q, near[:7])])
    assert run.failed == 0
    search.check(run, docs, [("text_search", text_q, [(-1, top[0][1])] + top[1:]),
                             ("vector_search", vec_q, [(-i, s) for i, s in near]),
                             ("ann_search", vec_q, near[:6])])
    assert run.failed == 3


def test_check_that_raises_counts_as_failed():
    run = harness.Run("curation_batch", 1, 1, False)
    run.check("boom", lambda: 1 / 0)
    run.check("fine", lambda: True)
    assert run.failed == 1 and "boom" in run.failures[0]


# -- generator -----------------------------------------------------------------
def test_generator_is_seeded(tmp_path):
    a = gen.generate("curation_batch", 5, str(tmp_path / "a"))
    b = gen.generate("curation_batch", 5, str(tmp_path / "b"))
    c = gen.generate("curation_batch", 6, str(tmp_path / "c"))
    read = lambda i: open(os.path.join(i.parquet_root, "corpus.parquet"), "rb").read()
    assert read(a) == read(b) != read(c)
    assert a.sizes == {"corpus": 200, "corpus_dup_rate": 0.2, "docs": 2000}
    assert a.json_bytes == b.json_bytes
    assert sorted(a.json_bytes) == ["corpus", "corpus_emb", "docs"]
    assert all(v > 0 for v in a.json_bytes.values())


# -- contract: no package, no result ----------------------------------------------
def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "curation_batch",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]


def test_benchmark_json_names_every_workload():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import run as run_py

    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run_py.WORKLOADS)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
