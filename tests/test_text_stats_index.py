"""r11: durable BM25 corpus-statistics sidecar (``ops/text_index``).

The reference's ``$search`` passthrough relies on Lucene's server-side
inverted index, which already holds the corpus statistics BM25 needs;
the sidecar is this engine's local stand-in, so routed ``$search`` text
queries stop paying a full corpus aggregate pass per query. These tests
pin: exact score parity (hit vs cold path), fingerprint invalidation,
clear_cache semantics, analyzer keying under ``search_index=``,
multibyte corpora, and the in-memory path for fingerprint-less
backends.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_mongo_spark.backends import JsonlBackend, ParquetBackend
from duckdb_mongo_spark.ops import text_index
from duckdb_mongo_spark.scan import mongo_scan

# jobs one durable sidecar build may launch: the tokenizer pass feeds the
# term groupBy, the range-partition sample and the dictionary write; the
# summary row rides that job as observed metrics
TEXT_INDEX_BUILD_MAX_JOBS = 3

PIPE = [
    {"$search": {"text": {"query": "spark vector merge", "path": "text"}}},
    {"$limit": 5},
    {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}},
]

TEXTS = [
    "spark is a fast engine for vector work",
    "merge sort beats bubble sort",
    "vector vector vector",
    "nothing relevant here at all",
    "spark merge spark merge spark",
    "one more document about engines",
    "the vector merge pass runs in spark",
    "plain text with no query words",
]


def _write_corpus(path, texts, ids=None):
    ids = ids if ids is not None else list(range(1, len(texts) + 1))
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()),
                  "text": pa.array(texts, pa.string())}),
        os.path.join(path, "documents.parquet"))


def _rows(spark, be, pipe=PIPE, **kw):
    mf = mongo_scan(spark, be, "main", "documents", pipeline=pipe, **kw)
    rows = [r.asDict() for r in mf.df().collect()]
    return sorted(rows, key=lambda r: (-(r["score"] or 0), r["doc_id"])), mf


@pytest.fixture()
def corpus(tmp_path):
    _write_corpus(str(tmp_path), TEXTS)
    return str(tmp_path)


class TestSidecarHit:
    def test_parity_and_hit(self, spark, corpus):
        be = ParquetBackend(corpus, db_name="main", id_field="doc_id")
        cold, mf = _rows(spark, be)
        assert mf.last_exec_path == "routed:search_text"
        assert cold and cold[0]["score"] > 0
        h0, b0 = text_index.hit_count, text_index.build_count
        built = text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        assert text_index.build_count == b0 + 1
        assert built["text"].n_docs == len(TEXTS)
        assert built["text"].sidecar is not None  # durable backend
        warm, mf2 = _rows(spark, be)
        assert mf2.last_exec_path == "routed:search_text"
        assert text_index.hit_count > h0
        assert warm == cold  # bit-identical scores: same N/len/df stats

    def test_build_idempotent(self, spark, corpus):
        be = ParquetBackend(corpus, db_name="main", id_field="doc_id")
        text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        b0 = text_index.build_count
        text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        assert text_index.build_count == b0  # committed sidecar reused

    def test_absent_term_is_df_zero(self, spark, corpus):
        be = ParquetBackend(corpus, db_name="main", id_field="doc_id")
        pipe = [
            {"$search": {"text": {"query": "spark zzzmissing",
                                  "path": "text"}}},
            {"$limit": 5},
            {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}},
        ]
        cold, _ = _rows(spark, be, pipe)
        text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        warm, _ = _rows(spark, be, pipe)
        assert warm == cold

    def test_count_spec_keeps_live_pass(self, spark, corpus):
        be = ParquetBackend(corpus, db_name="main", id_field="doc_id")
        text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        pipe = [
            {"$search": {"text": {"query": "spark", "path": "text"},
                         "count": {"type": "total"}}},
            {"$limit": 3},
            {"$project": {"doc_id": 1,
                          "c": {"$meta": "searchScoreDetails"}}},
        ]
        h0 = text_index.hit_count
        mf = mongo_scan(spark, be, "main", "documents", pipeline=pipe)
        mf.df().collect()
        assert text_index.hit_count == h0  # matched total needs the scan


class TestInvalidation:
    def test_fingerprint_miss_after_rewrite(self, spark, tmp_path):
        d = str(tmp_path)
        _write_corpus(d, TEXTS)
        be = ParquetBackend(d, db_name="main", id_field="doc_id")
        text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        # rewrite the corpus: different rows, different fingerprint
        new_texts = TEXTS + ["spark spark spark appended row"]
        _write_corpus(d, new_texts)
        be2 = ParquetBackend(d, db_name="main", id_field="doc_id")
        h0 = text_index.hit_count
        rows, _ = _rows(spark, be2)
        assert text_index.hit_count == h0  # stale sidecar never consulted
        assert any(r["doc_id"] == 9 for r in rows)  # new doc scored live

    def test_clear_cache_reloads_from_disk(self, spark, corpus):
        import duckdb_mongo_spark as dms

        be = ParquetBackend(corpus, db_name="main", id_field="doc_id")
        text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        cold, _ = _rows(spark, be)
        dms.catalog.clear_cache()
        assert not text_index._CACHE
        l0 = text_index.load_count
        warm, _ = _rows(spark, be)
        assert text_index.load_count == l0 + 1  # durable reload, no build
        assert warm == cold


class TestAnalyzers:
    def test_multibyte_corpus(self, spark, tmp_path):
        d = str(tmp_path)
        texts = ["Café für SPARK Nutzer", "москва spark café",
                 "plain ascii spark text", "café café merge"]
        _write_corpus(d, texts)
        be = ParquetBackend(d, db_name="main", id_field="doc_id")
        pipe = [
            {"$search": {"text": {"query": "café spark", "path": "text"}}},
            {"$limit": 4},
            {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}},
        ]
        cold, _ = _rows(spark, be, pipe)
        built = text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        assert built["text"].multibyte is True
        h0 = text_index.hit_count
        warm, _ = _rows(spark, be, pipe)
        assert text_index.hit_count > h0
        assert warm == cold

    def test_custom_analyzer_keying(self, spark, corpus):
        defn = {
            "mappings": {"fields": {"text": {
                "type": "string", "analyzer": "lucene.whitespace",
                "searchAnalyzer": "lucene.whitespace"}}},
        }
        be = ParquetBackend(corpus, db_name="main", id_field="doc_id")
        cold, mf = _rows(spark, be, search_index=defn)
        assert mf.last_exec_path == "routed:search_text"
        # a contract-key build must NOT serve a whitespace-analyzer query
        text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        h0 = text_index.hit_count
        again, _ = _rows(spark, be, search_index=defn)
        assert text_index.hit_count == h0
        assert again == cold
        # ... while a build WITH the definition does
        text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"],
            search_index=defn)
        warm, _ = _rows(spark, be, search_index=defn)
        assert text_index.hit_count > h0
        assert warm == cold

    def test_mixed_analyzer_paths_hit_per_path_keys(self, spark, tmp_path):
        # r11: with per-path analyzer pairs, each path's sidecar keys by
        # ITS index analyzer; a full hit needs both paths built
        import pyarrow as pa

        d = str(tmp_path)
        pq.write_table(
            pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()),
                      "text": pa.array(["Spark IS fast", "merge time",
                                        "spark vector"], pa.string()),
                      "title": pa.array(["Vector Intro", "SPARK",
                                         "other"], pa.string())}),
            os.path.join(d, "documents.parquet"))
        be = ParquetBackend(d, db_name="main", id_field="doc_id")
        defn = {"mappings": {"dynamic": True, "fields": {
            "text": {"type": "string", "analyzer": "lucene.whitespace"},
            "title": {"type": "string", "analyzer": "lucene.simple"}}}}
        pipe = [
            {"$search": {"text": {"query": "spark vector",
                                  "path": ["text", "title"]}}},
            {"$limit": 5},
            {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}},
        ]
        cold, mf = _rows(spark, be, pipe, search_index=defn)
        assert mf.last_exec_path == "routed:search_text"
        built = text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text", "title"],
            search_index=defn)
        assert built["text"].analyzer_key == "lucene.whitespace"
        assert built["title"].analyzer_key == "lucene.simple"
        h0 = text_index.hit_count
        warm, _ = _rows(spark, be, pipe, search_index=defn)
        assert text_index.hit_count > h0
        assert warm == cold

    def test_custom_analyzer_key_hashes_spec(self):
        from duckdb_mongo_spark.mql.search_index import SearchIndex

        d1 = SearchIndex({"analyzers": [
            {"name": "a", "tokenizer": {"type": "whitespace"}}]})
        d2 = SearchIndex({"analyzers": [
            {"name": "a", "tokenizer": {"type": "whitespace"},
             "tokenFilters": [{"type": "lowercase"}]}]})
        assert d1.analyzer_key("a") != d2.analyzer_key("a")
        assert d1.analyzer_key("lucene.keyword") == "lucene.keyword"


class TestMemoryBackend:
    def test_fingerprintless_backend_in_memory(self, spark, corpus):
        class NoFpBackend(ParquetBackend):
            def fingerprint(self, db, coll):
                return None

        be = NoFpBackend(corpus, db_name="main", id_field="doc_id")
        cold, _ = _rows(spark, be)
        built = text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        assert built["text"].mem_dfs is not None  # no durable sidecar
        assert built["text"].sidecar is None
        h0 = text_index.hit_count
        warm, _ = _rows(spark, be)
        assert text_index.hit_count > h0
        assert warm == cold

    def test_bad_path_raises(self, spark, corpus):
        be = ParquetBackend(corpus, db_name="main", id_field="doc_id")
        with pytest.raises(ValueError, match="not a string path"):
            text_index.build_text_stats_index(
                spark, be, "main", "documents", paths=["doc_id"])


ORACLE_TEXTS = [
    "Spark is a FAST engine; spark, spark!",
    None,
    "Café für Spark-Nutzer",
    "",
    "merge sort beats bubble sort",
    "москва spark café 42",
    "spark merge spark merge",
]


def _oracle(texts):
    """Plain-Python statistics over the collection with the contract
    analyzer: (n_docs, total_len, multibyte, sorted (term, df))."""
    from collections import Counter

    from duckdb_mongo_spark.mql.search import _analyze

    toks = [_analyze(t) if t is not None else [] for t in texts]
    dfs = Counter(term for ts in toks for term in set(ts))
    multibyte = any(len((t or "").encode()) != len(t or "") for t in texts)
    return (len(texts), sum(len(ts) for ts in toks), multibyte,
            sorted(dfs.items()))


def _sidecar_stats(idx):
    if idx.mem_dfs is not None:
        rows = sorted(idx.mem_dfs.items())
    else:
        t = pq.read_table(idx.terms_dir)
        rows = sorted(zip(t.column("term").to_pylist(), t.column("df").to_pylist()))
    return idx.n_docs, idx.total_len, idx.multibyte, rows


class TestBuildOracle:
    def test_durable_sidecar_matches_python_oracle(self, spark, tmp_path):
        d = str(tmp_path)
        _write_corpus(d, ORACLE_TEXTS)
        be = ParquetBackend(d, db_name="main", id_field="doc_id")
        built = text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        assert built["text"].sidecar is not None
        assert _sidecar_stats(built["text"]) == _oracle(ORACLE_TEXTS)

    def test_sidecar_without_metadata_count_matches_python_oracle(self, spark, tmp_path):
        # JSONL has a fingerprint (durable sidecar) but no metadata count,
        # so the dictionary's range partitions are sized by AQE
        import json

        os.makedirs(tmp_path / "main")
        with open(tmp_path / "main" / "documents.jsonl", "w") as f:
            for i, t in enumerate(ORACLE_TEXTS):
                f.write(json.dumps({"_id": i, "text": t}) + "\n")
        be = JsonlBackend(str(tmp_path))
        assert be.fast_count("main", "documents") is None
        built = text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        assert built["text"].sidecar is not None
        assert _sidecar_stats(built["text"]) == _oracle(ORACLE_TEXTS)

    def test_in_memory_sidecar_matches_python_oracle(self, spark, tmp_path):
        class NoFpBackend(ParquetBackend):
            def fingerprint(self, db, coll):
                return None

        d = str(tmp_path)
        _write_corpus(d, ORACLE_TEXTS)
        be = NoFpBackend(d, db_name="main", id_field="doc_id")
        built = text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"])
        assert built["text"].mem_dfs is not None
        assert _sidecar_stats(built["text"]) == _oracle(ORACLE_TEXTS)

    def test_empty_collection(self, spark, tmp_path):
        d = str(tmp_path)
        _write_corpus(d, [], ids=[])
        be = ParquetBackend(d, db_name="main", id_field="doc_id")
        built = text_index.build_text_stats_index(
            spark, be, "main", "documents", paths=["text"],
            columns={"doc_id": "BIGINT", "text": "VARCHAR"})
        assert _sidecar_stats(built["text"]) == (0, 0, False, [])

    def test_build_job_count_guard(self, spark, tmp_path):
        d = str(tmp_path)
        _write_corpus(d, ORACLE_TEXTS * 4)
        be = ParquetBackend(d, db_name="main", id_field="doc_id")
        sc = spark.sparkContext
        group = "text-index-build-job-count-guard"
        sc.setJobGroup(group, "text index build job count")
        try:
            text_index.build_text_stats_index(
                spark, be, "main", "documents", paths=["text"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert n_jobs <= TEXT_INDEX_BUILD_MAX_JOBS, n_jobs
