"""Span recorder for the traced run.

Spans are recorded from benchmark code only: ``instrument`` wraps the
package's public functions and methods in place (and every module-level
alias of them inside the package), so a call into a layer opens a span
named after the layer. Each span holds its name, start, end, parent and
the id of the workload operation it belongs to. Spans stay in memory and
are written out once, at the end of the run.

A span's self time is its duration minus the time its child spans
cover. Self times of all spans of an operation add up to the
operation's wall time by construction; the share of that wall time that
falls into layer spans (rather than into the benchmark's own glue,
which is the ``op`` root span's self time) is reported as
``trace.layer_share``.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

# (module, attribute or "Class.method", span name). Functions are also
# replaced wherever a package module imported them by name.
LAYER_FUNCTIONS = [
    ("duckdb_mongo_spark.catalog", "attach", "catalog.attach"),
    ("duckdb_mongo_spark.catalog", "AttachedCatalog.table", "catalog.table"),
    ("duckdb_mongo_spark.schema.infer", "resolve_schema", "schema.resolve"),
    ("duckdb_mongo_spark.frame", "MongoFrame.scan_description", "pushdown.compile"),
    ("duckdb_mongo_spark.frame", "MongoFrame.df", "frame.build"),
    ("duckdb_mongo_spark.scan", "mongo_scan", "scan.mongo_scan"),
    ("duckdb_mongo_spark.mql.interpreter", "run_pipeline", "mql.pipeline"),
    ("duckdb_mongo_spark.ops.joins", "asof_join", "ops.joins.asof"),
    ("duckdb_mongo_spark.ops.joins", "interval_join_points", "ops.joins.interval"),
    ("duckdb_mongo_spark.ops.interval_index", "build_interval_envelope_index",
     "ops.interval_index"),
    ("duckdb_mongo_spark.ops.interval_index", "cached_interval_envelope_index",
     "ops.interval_index"),
    ("duckdb_mongo_spark.ops.text_index", "build_text_stats_index", "ops.text_index.build"),
    ("duckdb_mongo_spark.ops.vector_index", "get_collection_vector_index", "ops.vector_index"),
    ("duckdb_mongo_spark.ops.text", "with_analysis", "ops.text.analysis"),
    ("duckdb_mongo_spark.ops.dedup", "dedup_exact", "ops.dedup.exact"),
    ("duckdb_mongo_spark.ops.dedup", "near_dup_pairs_minhash_lsh", "ops.dedup.lsh"),
    ("duckdb_mongo_spark.ops.dedup", "dedup_keep_canonical", "ops.dedup.lsh"),
    ("duckdb_mongo_spark.ops.similarity", "pq_train", "ops.similarity.pq"),
    ("duckdb_mongo_spark.ops.similarity", "pq_encode", "ops.similarity.pq"),
    ("duckdb_mongo_spark.ops.similarity", "pq_topk", "ops.similarity.pq"),
    ("duckdb_mongo_spark.ops.sampling", "hash_split", "ops.sampling.split"),
    ("duckdb_mongo_spark.ops.chunking", "chunk_documents", "ops.chunking.chunk"),
    ("duckdb_mongo_spark.ops.packing", "pack_sequences", "ops.packing.pack"),
    ("duckdb_mongo_spark.ops.sharding", "write_training_shards", "ops.sharding.write"),
    ("duckdb_mongo_spark.sinks", "write_collection", "sinks.write"),
    ("duckdb_mongo_spark.sinks", "compact_collection", "sinks.compact"),
]

# driver-side public methods of the document backends the workloads use
BACKEND_CLASSES = [
    ("duckdb_mongo_spark.backends.base", "DocumentBackend"),
    ("duckdb_mongo_spark.backends.parquet", "ParquetBackend"),
    ("duckdb_mongo_spark.backends.jsonl", "JsonlBackend"),
]
BACKEND_METHODS = [
    "find_schema_doc", "list_databases", "list_collections", "iter_documents",
    "find", "aggregate", "sample", "distinct_values", "fast_count",
    "fingerprint", "count", "partitions", "arrow_scan", "native_spark_paths",
]


class SpanRecorder:
    """In-memory span store. Records only while ``enabled`` and only on
    the thread that created it (the single closed-loop client)."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[list] = []   # [name, start, end, parent, op]
        self.enabled = False
        self.op = None
        self.counters: dict = defaultdict(float)
        self.on_enter = None          # callbacks(span name, index)
        self.on_exit = None
        self._stack: list[int] = []
        self._thread = threading.get_ident()

    def active(self) -> bool:
        return self.enabled and threading.get_ident() == self._thread

    def open(self, name: str) -> int | None:
        if not self.active():
            return None
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, self.clock(), None, parent, self.op])
        self._stack.append(idx)
        if self.on_enter is not None:
            self.on_enter(name, idx)
        return idx

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        if self.on_exit is not None:
            self.on_exit(self.spans[idx][0], idx)
        self.spans[idx][2] = self.clock()
        popped = self._stack.pop()
        if popped != idx:
            raise RuntimeError(f"span stack out of order: {popped} != {idx}")

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, fn, name: str):
        rec = self

        if name == "mql.pipeline":
            @functools.wraps(fn)
            def counted(docs, *args, **kwargs):
                if rec.active():
                    docs = rec._count_docs(docs)
                idx = rec.open(name)
                try:
                    return fn(docs, *args, **kwargs)
                finally:
                    rec.close(idx)
            counted.__perfbench_wrapped__ = fn
            return counted

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = rec.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                rec.close(idx)
        wrapper.__perfbench_wrapped__ = fn
        return wrapper

    def _count_docs(self, docs):
        counters = self.counters
        if isinstance(docs, (list, tuple)):
            counters["mql.pipeline_docs_in"] += len(docs)
            return docs

        def gen(it=docs):
            for d in it:
                counters["mql.pipeline_docs_in"] += 1
                yield d
        return gen()

    def self_times(self) -> list[float]:
        """Self time (seconds) of every span, by index."""
        own = [s[2] - s[1] for s in self.spans]
        for s in self.spans:
            if s[3] is not None:
                own[s[3]] -= s[2] - s[1]
        return own

    def layer_totals(self, ops=None) -> dict:
        """Sum of self times per span name, over spans of ``ops`` (all
        operations when None)."""
        out: dict = defaultdict(float)
        for s, t in zip(self.spans, self.self_times()):
            if ops is None or s[4] in ops:
                out[s[0]] += t
        return out

    def counts(self, ops=None) -> dict:
        out: dict = defaultdict(int)
        for s in self.spans:
            if ops is None or s[4] in ops:
                out[s[0]] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (s, t) in enumerate(zip(self.spans, self.self_times())):
                f.write(json.dumps({"id": i, "name": s[0], "start": s[1],
                                    "end": s[2], "parent": s[3], "op": s[4],
                                    "self_s": t}) + "\n")


class _SpanCtx:
    __slots__ = ("rec", "name", "idx")

    def __init__(self, rec: SpanRecorder, name: str):
        self.rec, self.name, self.idx = rec, name, None

    def __enter__(self):
        self.idx = self.rec.open(self.name)
        return self

    def __exit__(self, *exc):
        self.rec.close(self.idx)
        return False


def _resolve(modname: str, attr: str):
    mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
    if "." in attr:
        cls_name, meth = attr.split(".")
        return getattr(mod, cls_name), meth
    return mod, attr


def instrument(rec: SpanRecorder) -> list:
    """Wrap every layer function; returns the undo list for
    ``uninstrument``. Module-level aliases inside the package (``from x
    import f``) are replaced too, so calls between layers are seen."""
    undo = []
    done: dict = {}
    for modname, attr, name in LAYER_FUNCTIONS:
        owner, key = _resolve(modname, attr)
        orig = owner.__dict__[key] if inspect.isclass(owner) else getattr(owner, key)
        wrapped = done.get(id(orig)) or rec.wrap(orig, name)
        done[id(orig)] = wrapped
        undo.append((owner, key, orig))
        setattr(owner, key, wrapped)
        if inspect.isclass(owner):
            continue
        for mname, mod in list(sys.modules.items()):
            if not (mname == "duckdb_mongo_spark" or mname.startswith("duckdb_mongo_spark.")):
                continue
            if mod is owner or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    undo.append((mod, k, orig))
                    setattr(mod, k, wrapped)
    for modname, cls_name in BACKEND_CLASSES:
        cls = getattr(__import__(modname, fromlist=["_"]), cls_name)
        for meth in BACKEND_METHODS:
            orig = cls.__dict__.get(meth)
            if orig is None or not callable(orig) or getattr(orig, "__isabstractmethod__", False):
                continue
            undo.append((cls, meth, orig))
            setattr(cls, meth, rec.wrap(orig, "backends"))
    return undo


def uninstrument(undo: list) -> None:
    for owner, key, orig in reversed(undo):
        setattr(owner, key, orig)
