"""PySpark Python DataSource for document scans.

Spark-side equivalent of the reference's ``mongo_scan`` table function
(src/mongo_table_function.cpp:75-724): bind = schema resolution (done by
the engine before the DataFrame is built), init = cursor/pipeline setup
(here: per-partition scan payload), execute = streaming conversion of
documents into columnar batches (here: Arrow RecordBatches, the Spark
analog of 2048-row DataChunks).

Scale design (NEW vs the reference's single cursor): ``partitions()``
exposes backend-computed splits (parquet row groups / JSONL byte ranges /
``_id`` ranges) so a 1000-executor cluster scans in parallel; Catalyst
filter pushdown reaches ``pushFilters`` and is compiled to MQL ``$match``.
"""

from __future__ import annotations

import base64
import pickle

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

from duckdb_mongo_spark.mql import run_pipeline
from duckdb_mongo_spark.schema.flatten import SchemaMode, flatten_document
from duckdb_mongo_spark.schema.infer import SCHEMA_DOC_ID
from duckdb_mongo_spark.schema.types import to_spark_schema

# Rows per Arrow RecordBatch crossing the Python->JVM DataSource pipe.
# Bigger batches amortize per-batch IPC/pickle overhead: measured at sf1
# on the engine micro-suite, 65536 beats the original 4096 by ~10-12%
# per query (filter_projection 0.689->0.585 s, topn 0.675->0.599,
# agg 0.717->0.632, semi-join 0.719->0.674, medians of 5). Small scans
# are unaffected (the cap only bounds batch size); memory per in-flight
# batch stays modest for document-shaped rows. Env-tunable for
# wide-row deployments where 64k rows per batch would be too large.
ARROW_BATCH_ROWS = int(
    __import__("os").environ.get("SPARK_GRAFT_ARROW_BATCH_ROWS", "65536")
)

FORMAT_NAME = "duckdb_mongo"

# Guard for the single-stream local aggregate path: a manual pipeline with
# a non-record-wise stage ($group/$facet/$graphLookup/...) on a LOCAL
# backend cannot be split across partitions, so it runs the whole
# collection through one Python interpreter task. On a remote backend
# that is correct (the server executes it); on a local backend it is a
# silent scale trap — past this many input documents the engine refuses
# loudly instead. <= 0 disables the guard.
AGG_SINGLE_STREAM_MAX_DOCS = int(
    __import__("os").environ.get("SPARK_GRAFT_AGG_MAX_DOCS", "5000000")
)


def guard_single_stream_aggregate(backend, db: str, coll: str) -> None:
    """Raise when a whole-collection single-stream pipeline would run over
    a local collection larger than ``AGG_SINGLE_STREAM_MAX_DOCS`` (same
    stance as the semi-join ``max_keys`` / heavy-hitters
    ``max_candidates`` guards: bounded or loud, never silent)."""
    import duckdb_mongo_spark.datasource as _self

    cap = _self.AGG_SINGLE_STREAM_MAX_DOCS
    if cap <= 0 or getattr(backend, "is_remote", False):
        return
    try:
        # metadata-cheap on columnar backends; a file backend probes at
        # most cap + 1 documents once per file version
        n = backend.bounded_count(db, coll, cap)
    except Exception:
        return
    if n > cap:
        raise ValueError(
            f"manual pipeline with non-record-wise stages on local "
            f"collection {db}.{coll} (more than {cap} docs) would run "
            f"single-stream through the Python interpreter. Use the engine "
            f"API (distributed aggregation), restrict the pipeline to "
            f"record-wise stages ($match/$project/$addFields/$set/"
            f"$unwind), or raise SPARK_GRAFT_AGG_MAX_DOCS."
        )


def encode_payload(payload: dict) -> str:
    return base64.b64encode(pickle.dumps(payload)).decode("ascii")


def decode_payload(s: str) -> dict:
    return pickle.loads(base64.b64decode(s.encode("ascii")))


class MongoDataSource(DataSource):
    """format("duckdb_mongo") — one option: ``payload`` (pickled scan plan)."""

    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        payload = decode_payload(self.options["payload"])
        return to_spark_schema(payload["planned"].output_schema.fields)

    def reader(self, schema):
        payload = decode_payload(self.options["payload"])
        # When the active session disables Catalyst→Python filter pushdown
        # (spark.sql.python.filterPushdown.enabled=false), Spark refuses any
        # reader that overrides pushFilters (DATA_SOURCE_PUSHDOWN_DISABLED).
        # Engine-side pushdown still works — filters given through the
        # MongoFrame API are pre-compiled into the payload — so we degrade
        # gracefully to a pushFilters-free reader; only Catalyst-originated
        # pushdown (spark.sql over registered views) is skipped. Mirrors the
        # reference's pushdown-with-graceful-fallback strategy
        # (src/mongo_filter_pushdown.cpp:433-543).
        if payload.get("push_filters", True):
            return MongoScanReader(payload)
        return _MongoScanReaderNoPushdown(payload)


def _filter_column(attr) -> str:
    # ColumnPath is a tuple of path segments
    return ".".join(attr) if isinstance(attr, (tuple, list)) else str(attr)


def _v2_filter_to_mql(f, schema):
    """Translate a Catalyst V2 filter pushed into the reader to MQL.

    Returns None when the filter is outside the dialect (Spark keeps it)."""
    from duckdb_mongo_spark.pushdown.filters import _encode_value, _mongo_key

    def key(attr):
        name = _filter_column(attr)
        return _mongo_key(name, schema), name

    if isinstance(f, EqualTo):
        k, name = key(f.attribute)
        return {k: {"$eq": _encode_value(f.value, name, schema)}}
    if isinstance(f, GreaterThan):
        k, name = key(f.attribute)
        return {k: {"$gt": _encode_value(f.value, name, schema)}}
    if isinstance(f, GreaterThanOrEqual):
        k, name = key(f.attribute)
        return {k: {"$gte": _encode_value(f.value, name, schema)}}
    if isinstance(f, LessThan):
        k, name = key(f.attribute)
        return {k: {"$lt": _encode_value(f.value, name, schema)}}
    if isinstance(f, LessThanOrEqual):
        k, name = key(f.attribute)
        return {k: {"$lte": _encode_value(f.value, name, schema)}}
    if isinstance(f, In):
        k, name = key(f.attribute)
        return {k: {"$in": [_encode_value(v, name, schema) for v in f.values]}}
    if isinstance(f, IsNull):
        k, _ = key(f.attribute)
        return {k: None}
    if isinstance(f, IsNotNull):
        k, _ = key(f.attribute)
        return {k: {"$ne": None}}
    if isinstance(f, StringContains):
        k, _ = key(f.attribute)
        import re as _re

        return {k: {"$regex": _re.escape(f.value)}}
    if isinstance(f, StringStartsWith):
        k, _ = key(f.attribute)
        import re as _re

        return {k: {"$regex": "^" + _re.escape(f.value)}}
    if isinstance(f, StringEndsWith):
        k, _ = key(f.attribute)
        import re as _re

        return {k: {"$regex": _re.escape(f.value) + "$"}}
    if isinstance(f, Not):
        inner = _v2_filter_to_mql(f.child, schema)
        if inner is not None and len(inner) == 1:
            (k, cond), = inner.items()
            if not k.startswith("$"):
                return {k: {"$not": cond if isinstance(cond, dict) else {"$eq": cond}}}
        return None
    return None


class _Part(InputPartition):
    def __init__(self, scan_partition):
        self.scan_partition = scan_partition


class _MongoScanReaderNoPushdown(DataSourceReader):
    """Scan reader WITHOUT a pushFilters override — used when the session
    disables spark.sql.python.filterPushdown.enabled. Everything else
    (partitioned reads, Arrow batches, engine-side pre-compiled pushdown)
    is identical to MongoScanReader."""

    def __init__(self, payload: dict):
        self.backend = payload["backend"]
        self.db = payload["db"]
        self.coll = payload["coll"]
        self.planned = payload["planned"]
        self.mode = SchemaMode.parse(payload.get("mode", "PERMISSIVE"))
        self.num_partitions = payload.get("num_partitions", 8)
        self.seed = payload.get("seed", 42)
        self.use_arrow = payload.get("use_arrow", True)
        self.catalyst_match: dict | None = None

    def partitions(self):
        if self.planned.method == "aggregate" and not self.planned.parallelizable:
            guard_single_stream_aggregate(self.backend, self.db, self.coll)
            return [_Part(None)]  # whole-collection pipeline ("server-side")
        parts = self.backend.partitions(self.db, self.coll, self.num_partitions)
        return [_Part(p) for p in parts]

    # -- execution
    def _docs_for(self, part):
        if part.scan_partition is None:
            docs = self.backend.iter_documents(self.db, self.coll)
        else:
            docs = self.backend.read_partition(part.scan_partition)
        return (d for d in docs if d.get("_id") != SCHEMA_DOC_ID)

    def _result_docs(self, part):
        planned = self.planned
        is_remote = getattr(self.backend, "is_remote", False)
        if planned.method == "aggregate":
            pipeline = list(planned.pipeline or [])
            if self.catalyst_match:
                pipeline = [{"$match": self.catalyst_match}] + pipeline
            if len(pipeline) == 1 and next(iter(pipeline[0])) == "$count":
                # unfiltered COUNT(*): serve from the backend's count
                # (parquet metadata / server countDocuments / doc scan —
                # every backend excludes the __schema sentinel)
                alias = pipeline[0]["$count"]
                n = self.backend.count(self.db, self.coll)
                return [{alias: n}] if n > 0 else (
                    [{alias: 0}] if planned.count_empty_to_zero else []
                )
            # server-shipped pipelines never see local _docs_for, so the
            # __schema sentinel must be excluded in the pipeline itself
            sentinel_free = [{"$match": {"_id": {"$ne": SCHEMA_DOC_ID}}}]
            if is_remote and part.scan_partition is None:
                # whole-collection pipeline runs ON the server (reference
                # collection.aggregate, mongo_table_function.cpp:362)
                results = list(
                    self.backend.aggregate(
                        self.db, self.coll, sentinel_free + pipeline
                    )
                )
            elif is_remote and hasattr(self.backend, "aggregate_partition"):
                # record-wise pipeline per partition, server-side
                results = list(
                    self.backend.aggregate_partition(
                        part.scan_partition, sentinel_free + pipeline
                    )
                )
            else:
                docs = self._docs_for(part)
                results = run_pipeline(
                    docs, pipeline, seed=self.seed,
                    # $lookup in a manual pipeline resolves sibling
                    # collections of the same db (per-partition execution
                    # is safe: lookup is a map-side join per document)
                    collections=lambda c: self.backend.iter_documents(self.db, c),
                )
            if (
                planned.count_empty_to_zero is not None
                and not results
                and not self.catalyst_match
            ):
                # COUNT(*) over empty match → one row 0
                # (reference src/mongo_table_function.cpp:669-683)
                results = [{planned.count_empty_to_zero: 0}]
            return results
        filt = planned.filter
        if self.catalyst_match:
            from duckdb_mongo_spark.pushdown.filters import merge_match

            filt = merge_match(filt, self.catalyst_match)
        if is_remote and part.scan_partition is not None:
            # server-side filtered cursor per partition — executors pull
            # only their matching slice (projection_doc prunes the wire
            # format; schema-doc rows are filtered by _id below)
            docs = self.backend.find_partition(
                part.scan_partition, filter=filt,
                projection=planned.projection_doc, limit=planned.limit,
            )
            return (d for d in docs if d.get("_id") != SCHEMA_DOC_ID)
        docs = self._docs_for(part)
        pipeline = []
        if filt:
            pipeline.append({"$match": filt})
        if planned.limit is not None:
            pipeline.append({"$limit": planned.limit})
        # note: projection_doc is what we'd send to a remote server; local
        # flattening below only materializes schema columns anyway
        return run_pipeline(docs, pipeline, seed=self.seed)

    def _try_arrow_fast_path(self, partition):
        """Columnar backends can serve simple find() scans as Arrow batches
        with zero per-row Python (filter → pyarrow expression, projection →
        column pruning, types → vectorized cast)."""
        planned = self.planned
        if planned.method != "find" or not hasattr(self.backend, "arrow_scan"):
            return None
        if self.mode is not SchemaMode.PERMISSIVE:
            return None
        filt = planned.filter
        if self.catalyst_match:
            from duckdb_mongo_spark.pushdown.filters import merge_match

            filt = merge_match(filt, self.catalyst_match)
        out_fields = []
        for f in planned.output_schema.fields:
            if "." in f.mongo_path:
                # a dotted path means the scan must FLATTEN nested
                # documents — only the interpreted row path does that;
                # emitting nulls here would silently diverge from it
                return None
            src = f.mongo_path
            if f.name == "_id" and getattr(self.backend, "id_field", None):
                src = self.backend.id_field
            out_fields.append((f.name, _arrow_type(f.type), src))
        return self.backend.arrow_scan(
            self.db, self.coll, partition.scan_partition, filt, out_fields,
            limit=planned.limit,
        )

    def read(self, partition):
        planned = self.planned
        fast = self._try_arrow_fast_path(partition)
        if fast is not None:
            yield from fast
            return
        schema = planned.output_schema
        rows = flatten_rows(self._result_docs(partition), schema, self.mode)
        if not self.use_arrow:
            yield from (tuple(r) for r in rows)
            return
        yield from _to_arrow_batches(rows, schema)


class MongoScanReader(_MongoScanReaderNoPushdown):
    """Default scan reader: adds Catalyst → MQL filter pushdown on top of
    the engine-side pre-compiled pushdown."""

    # -- Catalyst → MQL filter pushdown (engine-pushed filters are already
    #    inside self.planned; this handles spark.sql over registered views)
    def pushFilters(self, filters):
        out_schema = self.planned.output_schema
        parts = []
        unsupported = []
        for f in filters:
            mql = _v2_filter_to_mql(f, out_schema)
            if mql is None:
                unsupported.append(f)
            else:
                parts.append(mql)
        if parts:
            from duckdb_mongo_spark.pushdown.filters import _merge_and

            self.catalyst_match = _merge_and(parts)
        return iter(unsupported)


def _arrow_type(t):
    import pyarrow as pa

    from duckdb_mongo_spark.schema.types import is_list, is_struct

    if is_list(t):
        return pa.list_(_arrow_type(t[1]))
    if is_struct(t):
        return pa.struct([pa.field(n, _arrow_type(ft)) for n, ft in t[1]])
    return {
        "VARCHAR": pa.string(),
        "BIGINT": pa.int64(),
        "DOUBLE": pa.float64(),
        "BOOLEAN": pa.bool_(),
        "DATE": pa.date32(),
        "TIMESTAMP": pa.timestamp("us"),
        "BLOB": pa.binary(),
        "HUGEINT": pa.decimal128(38, 0),
    }[t]


def flatten_rows(docs, schema, mode, cap=None):
    """Flatten result documents into row lists ordered per
    ``schema.fields`` — the one document-to-row step of every row
    materialization (the DataSource read, the direct paths and the
    routed tails), so they cannot diverge. Rows DROPMALFORMED drops are
    skipped; FAILFAST raises ``SchemaEnforcementError``. Returns None
    as soon as more than ``cap`` rows survive."""
    rows = []
    for doc in docs:
        row = flatten_document(doc, schema, mode)
        if row is not None:
            rows.append(row)
            if cap is not None and len(rows) > cap:
                return None
    return rows


def _to_arrow_batches(rows, schema):
    import pyarrow as pa

    arrow_schema = pa.schema(
        [pa.field(f.name, _arrow_type(f.type)) for f in schema.fields]
    )
    n = len(rows)
    if n == 0:
        return
    for start in range(0, n, ARROW_BATCH_ROWS):
        chunk = rows[start : start + ARROW_BATCH_ROWS]
        cols = []
        for i, f in enumerate(schema.fields):
            vals = [r[i] for r in chunk]
            cols.append(pa.array(vals, type=arrow_schema.field(i).type))
        yield pa.RecordBatch.from_arrays(cols, schema=arrow_schema)
