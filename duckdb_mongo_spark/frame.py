"""MongoFrame: the engine's query entry point with pre-Catalyst pushdown.

The reference owns DuckDB's ``mongo_scan`` bind/init and rewrites the
optimized logical plan (src/mongo_optimizer.cpp). PySpark exposes no
Catalyst rewrite hooks, so the engine owns the *entry point* instead:
MongoFrame accumulates filters/projections/limits/order/aggregates,
compiles the pushable part to MQL before building the DataFrame, and
evaluates the residual in Spark. ``explain()`` exposes the scan
annotation (scan_method / filter / pipeline) exactly like the
reference's EXPLAIN surface (src/mongo_table_function.cpp:45-73) so
tests can regex-assert pushdowns.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_mongo_spark.datasource import FORMAT_NAME, encode_payload
from duckdb_mongo_spark.pushdown import predicates as P
from duckdb_mongo_spark.pushdown.filters import compile_filter
from duckdb_mongo_spark.pushdown.planner import AggSpec, ScanSpec, plan_scan
from duckdb_mongo_spark.schema.flatten import render_json
from duckdb_mongo_spark.session import (
    ensure_python_filter_pushdown,
    register_data_source,
)

import os as _os

# Direct-materialization caps (see MongoFrame._try_direct_df). Row counts,
# not bytes: DIRECT_SCAN_MAX_ROWS gates find-shaped whole-collection
# scans (broadcast-class collections only), DIRECT_AGG_MAX_ROWS caps the
# result rows of a fully-pushed pipeline. ≤ 0 disables the path.
DIRECT_SCAN_MAX_ROWS = int(_os.environ.get("SPARK_GRAFT_DIRECT_SCAN_ROWS", "250000"))
DIRECT_AGG_MAX_ROWS = int(_os.environ.get("SPARK_GRAFT_DIRECT_AGG_ROWS", "100000"))
# rows × output-columns bound for the find-shaped direct path: a wide
# whole-table materialization loses to the parallel partitioned scan even
# under the row cap (measured at sf0.1: 150k×9 cells direct 0.94 s vs
# datasource 0.81 s; 150k×2 cells direct 0.48 s vs 0.72 s)
DIRECT_SCAN_MAX_CELLS = int(
    _os.environ.get("SPARK_GRAFT_DIRECT_SCAN_CELLS", "1000000")
)
# The row path (JSONL/CSV: flatten and Arrow build on the driver) gets
# 1/ROW_SCAN_CELLS_DIVISOR of that budget. Measured on 5-column JSONL
# orders (tools/row_path_crossover.py, 4 vCPUs, medians of 5): a
# full-output scan wins at 80k rows (2.37 vs 2.92 s), ties at 100-120k
# (2.61 vs 2.47, 3.52 vs 3.56 s) and loses at 150k (5.35 vs 4.31 s);
# a 1%-selective filter wins at every size up to 250k (5.00 vs 5.58 s).
ROW_SCAN_CELLS_DIVISOR = 2

# Per-(backend-fingerprint, db, coll, column) multibyte-text flags for
# routed $search: once a path is known pure-ASCII (JVM tokenizer) or
# multibyte (oracle-analyzer Arrow pass), repeat queries skip detection.
_MB_CACHE: dict = {}

# r14 (guide §7.3 driver-side planning / §6 listing caches): the native
# scan's eager mergeSchema footer merge is per-query DRIVER work — every
# part file's footer is read and unified before a single task runs. The
# merged reader frame is pure metadata (a plan handle, not rows), so it
# is memoized per (session, file set, stat fingerprint) exactly like
# ParquetBackend._has_schema_doc: any file rewrite (size or mtime_ns
# change) or a different file list misses and re-merges. Execution is
# untouched — each query still builds a fresh plan on top and re-scans.
_NATIVE_RAW_MEMO: dict = {}
_NATIVE_RAW_MEMO_CAP = 256


def _native_raw_parquet(spark, files):
    """Memoized ``spark.read.option("mergeSchema").parquet(*files)``.
    Raises whatever the underlying read raises (caller treats any
    failure as a decline); never serves a frame for changed files."""
    try:
        fp = tuple(
            (f, st.st_size, st.st_mtime_ns)
            for f, st in ((f, _os.stat(f)) for f in files)
        )
    except OSError:
        fp = None
    key = (id(spark), fp)
    if fp is not None:
        got = _NATIVE_RAW_MEMO.get(key)
        if got is not None:
            return got
    raw = spark.read.option("mergeSchema", "true").parquet(*files)
    if fp is not None:
        if len(_NATIVE_RAW_MEMO) >= _NATIVE_RAW_MEMO_CAP:
            _NATIVE_RAW_MEMO.clear()
        _NATIVE_RAW_MEMO[key] = raw
    return raw


def clear_native_read_memo() -> int:
    """Drop the memoized native reader frames (wired into
    ``catalog.clear_cache()``, A29)."""
    n = len(_NATIVE_RAW_MEMO)
    _NATIVE_RAW_MEMO.clear()
    return n


# r14 negative result (guide §1.2/§5, recorded so r15 does not re-try
# it): persisting the cold $search path's shared token-projection
# subtree (MEMORY_AND_DISK, pass-1 stats materializes, pass-2 reuses)
# was measured WORSE at sf10 — 3.84 s vs 2.34 s median, interleaved
# n=5 — because writing the wide token arrays into the block store
# costs more than the second regex-free tokenize pass it saves. The
# deployment-shape fix remains the BM25 stats sidecar (ops/text_index),
# which the search_text_topk_cached line measures.


def _fold(init, cols, op):
    """Left fold of Columns from ``init`` — the oracle's evaluation
    order for add/multiply score expressions (IEEE + and * are
    order-sensitive, so the routed side must associate identically)."""
    acc = init
    for c in cols:
        acc = (acc + c) if op == "+" else (acc * c)
    return acc


def _pred_to_column(pred, schema):
    """Residual predicate AST → PySpark Column."""
    if isinstance(pred, P.Cmp):
        l, r = _expr_to_column(pred.left, schema), _expr_to_column(pred.right, schema)
        return {
            "=": l == r, "!=": l != r, "<": l < r, "<=": l <= r, ">": l > r, ">=": l >= r,
        }[pred.op]
    if isinstance(pred, P.In):
        return _expr_to_column(pred.operand, schema).isin(
            [v.value for v in pred.values]
        )
    if isinstance(pred, P.IsNull):
        return _expr_to_column(pred.operand, schema).isNull()
    if isinstance(pred, P.IsNotNull):
        return _expr_to_column(pred.operand, schema).isNotNull()
    if isinstance(pred, P.Regex):
        return _expr_to_column(pred.operand, schema).rlike(pred.pattern)
    if isinstance(pred, P.And):
        out = _pred_to_column(pred.children[0], schema)
        for c in pred.children[1:]:
            out = out & _pred_to_column(c, schema)
        return out
    if isinstance(pred, P.Or):
        out = _pred_to_column(pred.children[0], schema)
        for c in pred.children[1:]:
            out = out | _pred_to_column(c, schema)
        return out
    if isinstance(pred, P.Not):
        return ~_pred_to_column(pred.child, schema)
    if isinstance(pred, P.Geo):
        raise ValueError(
            "geo predicates are source-evaluated only (no Spark residual "
            "form): use them in positive AND/OR positions so they push "
            "into the scan's $match")
    raise ValueError(f"cannot translate predicate {pred!r}")


def _pred_col_names(node, out: set) -> None:
    """Collect raw column names referenced by a predicate/expression AST."""
    if isinstance(node, P.Col):
        out.add(node.name)
    elif isinstance(node, P.Cmp):
        _pred_col_names(node.left, out)
        _pred_col_names(node.right, out)
    elif isinstance(node, P.In):
        _pred_col_names(node.operand, out)
    elif isinstance(node, (P.IsNull, P.IsNotNull, P.Regex)):
        _pred_col_names(node.operand, out)
    elif isinstance(node, (P.And, P.Or)):
        for c in node.children:
            _pred_col_names(c, out)
    elif isinstance(node, P.Not):
        _pred_col_names(node.child, out)
    elif isinstance(node, P.BinOp):
        _pred_col_names(node.left, out)
        _pred_col_names(node.right, out)
    elif isinstance(node, P.Cast):
        _pred_col_names(node.operand, out)
    elif isinstance(node, P.Func):
        for a in node.args:
            _pred_col_names(a, out)


def _col_name(name: str, schema) -> str:
    """Map a dotted document path to the flattened scan column name."""
    if schema is not None:
        fmap = schema.field_map()
        if name in fmap:
            return name
        flat = name.replace(".", "_")
        if flat in fmap:
            return flat
    return name


def _expr_to_column(expr, schema):
    if isinstance(expr, P.Col):
        return F.col(_col_name(expr.name, schema))
    if isinstance(expr, P.Lit):
        return F.lit(expr.value)
    if isinstance(expr, P.BinOp):
        l, r = _expr_to_column(expr.left, schema), _expr_to_column(expr.right, schema)
        return {"+": l + r, "-": l - r, "*": l * r, "/": l / r, "%": l % r}[expr.op]
    if isinstance(expr, P.Cast):
        spark_t = {
            "BIGINT": "long", "INT": "long", "INTEGER": "long", "LONG": "long",
            "DOUBLE": "double", "FLOAT": "double", "VARCHAR": "string",
            "STRING": "string", "DATE": "date", "TIMESTAMP": "timestamp",
            "BOOLEAN": "boolean",
        }.get(expr.type_name, expr.type_name.lower())
        return _expr_to_column(expr.operand, schema).cast(spark_t)
    if isinstance(expr, P.Func):
        name = expr.name.lower()
        args = [_expr_to_column(a, schema) for a in expr.args]
        if name in ("substring", "substr"):
            return F.substring(args[0], expr.args[1].value, expr.args[2].value)
        fn = {
            "length": F.length, "lower": F.lower, "upper": F.upper, "abs": F.abs,
            "floor": F.floor, "ceil": F.ceil, "round": F.round, "concat": F.concat,
            "year": F.year, "month": F.month, "day": F.dayofmonth,
        }[name]
        return fn(*args)
    raise ValueError(f"cannot translate expression {expr!r}")


@dataclass
class MongoFrame:
    """Lazy scan over one document collection with pushdown tracking."""

    spark: object
    backend: object
    db: str
    coll: str
    schema: object  # CollectionSchema
    schema_mode: str = "PERMISSIVE"
    # 0 = auto: the session's defaultParallelism at df() build time. A
    # fixed small default starves wide sessions (measured: 8-partition
    # scans left 24 of 32 cores idle at sf1); backends still cap at
    # their natural split granularity (parquet row groups, mongo chunk
    # ranges), so auto never over-splits a small collection.
    num_partitions: int = 0
    manual_filter: dict | None = None
    manual_pipeline: list | None = None
    # Direct-materialization fast path (None = auto, False = never,
    # True = force when expressible). See _try_direct_df.
    direct: bool | None = None
    _preds: tuple = ()
    _projection: tuple | None = None
    _limit: int | None = None
    _order_by_id: int | None = None
    _group_keys: tuple | None = None
    _aggs: tuple | None = None

    # -- relational surface -------------------------------------------------
    def filter(self, pred) -> "MongoFrame":
        return replace(self, _preds=self._preds + (pred,))

    where = filter

    def select(self, *cols) -> "MongoFrame":
        names = [c for c in (cols[0] if len(cols) == 1 and isinstance(cols[0], (list, tuple)) else cols)]
        flat = [_col_name(c, self.schema) for c in names]
        return replace(self, _projection=tuple(flat))

    def limit(self, n: int) -> "MongoFrame":
        return replace(self, _limit=int(n))

    def order_by_id(self, descending: bool = False) -> "MongoFrame":
        """ORDER BY _id — the only sort the source accepts (TopN, A17)."""
        return replace(self, _order_by_id=-1 if descending else 1)

    def group_by(self, *keys) -> "MongoGroupBy":
        return MongoGroupBy(self, [
            _col_name(k, self.schema) for k in
            (keys[0] if len(keys) == 1 and isinstance(keys[0], (list, tuple)) else keys)
        ])

    def count_rows(self) -> "MongoFrame":
        """COUNT(*) pushed as `$count` (A18)."""
        return replace(self, _aggs=(AggSpec("count_star", None, "count"),), _group_keys=None)

    def semi_join_in(
        self, build, on: str, build_col: str | None = None, max_keys: int = 100_000
    ):
        """Semi-join IN / runtime-filter pushdown (A11; reference
        OPTIONAL_FILTER/DYNAMIC_FILTER unwrap,
        src/mongo_filter_pushdown.cpp:302-318, README.md:874-899).

        Executes the (small) build side, then pushes the materialized
        key set to the source as ``$in`` — the engine-level analog of
        Spark's runtime filtering / DPP, which the Python DataSource API
        cannot express. ``build`` is a DataFrame (or MongoFrame); when
        its distinct key count exceeds ``max_keys`` the pushdown is
        abandoned and a plain left-semi join runs in Spark (the
        always-correct fallback).

        Returns a MongoFrame with the IN filter pushed, or a DataFrame
        (fallback) — callers that need the scan annotation should check
        the type.
        """
        build_col = build_col or on
        keys = None
        if isinstance(build, MongoFrame):
            # DIRECT build-side execution: fetch the distinct key set
            # straight from the backend (vectorized on columnar
            # backends) instead of paying a second full Spark
            # DataSource round-trip — the reference likewise
            # materializes its build side inside the host engine's own
            # pipeline. Only for residual-free find()-shaped builds;
            # anything else falls back to the Spark path below.
            _spec, planned, residual = build._compiled()
            if (
                residual is None
                and planned.method == "find"
                and build.manual_pipeline is None
            ):
                spec_f = build.schema.field_map().get(build_col)
                path = spec_f.mongo_path if spec_f is not None else build_col
                keys = build.backend.distinct_values(
                    build.db, build.coll, path,
                    filter=planned.filter or None, cap=max_keys,
                )
        if keys is None:
            bdf = build.df() if isinstance(build, MongoFrame) else build
            keys = [
                r[0]
                for r in bdf.select(build_col).distinct().limit(max_keys + 1).collect()
            ]
        if len(keys) > max_keys:
            bdf = build.df() if isinstance(build, MongoFrame) else build
            return self.df().join(
                bdf.select(F.col(build_col).alias(on)).distinct(), on, "left_semi"
            )
        keys = [k for k in keys if k is not None]
        try:
            keys.sort()  # deterministic $in rendering in scan_description
        except TypeError:
            pass
        from duckdb_mongo_spark.pushdown.predicates import C

        return self.filter(C(on).isin(keys))

    # -- planning -----------------------------------------------------------
    def _compiled(self):
        pred = None
        if self._preds:
            pred = self._preds[0] if len(self._preds) == 1 else P.And(list(self._preds))
        plan = compile_filter(pred, self.schema)
        # Pushdown profile: "remote" sources get every supported stage
        # (the reference's strategy — network-bound); "local" columnar
        # sources keep sort/agg in Spark (distributed beats a one-cursor
        # interpreter) and push only record-wise stages + unfiltered count.
        profile = getattr(self.backend, "pushdown_profile", "local")
        push_order = self._order_by_id
        push_aggs = list(self._aggs) if self._aggs else None
        if profile == "local":
            push_order = None
            count_only = (
                push_aggs is not None
                and not self._group_keys
                and len(push_aggs) == 1
                and push_aggs[0].op == "count_star"
            )
            if not (count_only and plan.match is None and self.manual_filter is None):
                push_aggs = None
        projection = list(self._projection) if self._projection is not None else None
        if projection is None and self._aggs is not None:
            # Aggregate evaluated in Spark (local profile, or planner
            # guards refuse the pushdown): prune the scan to the columns
            # the aggregation actually consumes — Catalyst cannot
            # column-prune a Python DataSource, so the engine must
            # (reference A4 projection pushdown, src/mongo_optimizer.cpp
            # parent/child collapse, applied to the agg-fallback shape).
            # plan_scan's pushed-aggregate branches ignore spec.projection,
            # so supplying it never affects a successfully pushed $group.
            need: set = set(self._group_keys or [])
            for a in self._aggs:
                if a.column:
                    need.add(a.column)
            if plan.residual is not None:
                _pred_col_names(plan.residual, need)
            # count_star-only with a residual-free filter still needs one
            # column to count rows over
            projection = sorted(need) if need else ["_id"]
        spec = ScanSpec(
            db=self.db,
            coll=self.coll,
            schema=self.schema,
            match=plan.match,
            projection=projection,
            limit=(
                self._limit
                if plan.residual is None
                and not (self._order_by_id is not None and push_order is None)
                else None
            ),
            order_by_id=push_order,
            group_keys=list(self._group_keys) if self._group_keys else None,
            aggs=push_aggs,
            manual_filter=self.manual_filter,
            manual_pipeline=self.manual_pipeline,
            schema_mode=self.schema_mode,
        )
        return spec, plan_scan(spec), plan.residual

    def scan_description(self) -> str:
        """EXPLAIN annotation (reference MongoScanToString,
        src/mongo_table_function.cpp:45-73)."""
        import json as _json

        from duckdb_mongo_spark.bsonlike import ObjectId as _Oid
        from duckdb_mongo_spark.schema.flatten import _json_default

        def _explain_default(v):
            # EXPLAIN must show a coerced ObjectId distinctly from the
            # plain 24-hex string it came from (extended-JSON $oid form);
            # the DATA renderer (render_json) keeps the flat hex so
            # document-column output is unchanged
            if isinstance(v, _Oid):
                return {"$oid": str(v)}
            return _json_default(v)

        def render_explain(v) -> str:
            return _json.dumps(v, default=_explain_default, separators=(", ", ": "))

        _, planned, residual = self._compiled()
        parts = [f"MONGO_SCAN {self.db}.{self.coll}", f"scan_method={planned.method}"]
        if planned.method == "find":
            if planned.filter:
                parts.append(f"filter={render_explain(planned.filter)}")
            if planned.projection_doc:
                parts.append(f"projection={render_explain(planned.projection_doc)}")
            if planned.limit is not None:
                parts.append(f"limit={planned.limit}")
        else:
            pipe = render_explain(planned.pipeline)
            if len(pipe) > 400:
                pipe = pipe[:400] + "..."
            parts.append(f"pipeline={pipe}")
        if residual is not None:
            parts.append(f"residual={residual!r}")
        return " ".join(parts)

    def explain(self, extended: bool = False) -> str:
        desc = self.scan_description()
        out = desc
        if extended:
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                self.df().explain(mode="formatted")
            out += "\n" + buf.getvalue()
        return out

    # -- materialization ----------------------------------------------------
    def _try_direct_df(self, payload: dict, planned) -> DataFrame | None:
        """Direct-materialization fast path: execute the compiled scan
        in-process and hand Spark the (bounded) Arrow result via
        ``createDataFrame`` — one IPC hop instead of a Python-DataSource
        plan/worker round trip (measured 0.46 s per fresh query on this
        build, BASELINE.md "The Python-DataSource floor").

        Same principle as the semi-join build side (A11) and the
        reference's own server-side pipelines (collection.aggregate,
        src/mongo_table_function.cpp:362): when the result of the pushed
        plan is small enough to materialize where the planner runs, a
        distributed scan only adds overhead. Scale contract:

        - find-shaped scans qualify only when the WHOLE collection is
          broadcast-class: row count ≤ DIRECT_SCAN_MAX_ROWS and rows ×
          output columns ≤ DIRECT_SCAN_MAX_CELLS (1/ROW_SCAN_CELLS_DIVISOR
          of it on the row path). The count is the backend's
          ``bounded_count`` against that cap: a metadata count on
          columnar backends, a probe of at most cap + 1 documents
          memoized per file version on JSONL/CSV — so a 100 TB
          collection always takes the partitioned executor scan, after
          at most one bounded probe. Columnar backends serve the scan as
          Arrow (``arrow_scan``); other LOCAL backends (JSONL, CSV) take
          the row path. Remote backends keep their per-partition server
          cursors (datasource);
        - fully-pushed single-stream pipelines ($count / $sort+$limit /
          $group) qualify with a result-row cap (DIRECT_AGG_MAX_ROWS);
          crossing the cap abandons the direct result and falls back to
          the partitioned datasource path (always-correct fallback);
        - execution reuses the datasource reader's OWN code paths
          (_try_arrow_fast_path, or _result_docs + flatten_rows +
          _to_arrow_batches) so the two paths cannot diverge
          semantically. FAILFAST row scans stay on the datasource,
          where a non-conforming document raises at action time.

        Returns None when the scan doesn't qualify (residuals are fine —
        df() applies them on top either way).
        """
        if self.direct is False or self.spark is None:
            return None
        from duckdb_mongo_spark.datasource import (
            _MongoScanReaderNoPushdown,
            _Part,
            flatten_rows,
        )
        from duckdb_mongo_spark.schema.flatten import SchemaMode

        reader = _MongoScanReaderNoPushdown(payload)
        part = _Part(None)
        mode = SchemaMode.parse(self.schema_mode)
        if planned.method == "find":
            columnar = hasattr(self.backend, "arrow_scan")
            if not columnar and (getattr(self.backend, "is_remote", False)
                                 or mode is SchemaMode.FAILFAST):
                # remote: each executor pulls its own filtered server
                # cursor; FAILFAST: a non-conforming document must raise
                # at action time (PythonException wrapping
                # SchemaEnforcementError), as it always has — the arrow
                # branch declines the non-PERMISSIVE modes the same way
                return None
            if self._aggs is not None and self.direct is not True:
                # a Spark-side aggregation follows this scan: the
                # partitioned executor scan feeds a distributed partial
                # agg, which beats materializing through the driver
                # (measured at sf0.1: direct consistently ~0.2 s slower
                # on a 150k-row groupBy input, while pure
                # filter/project/topn shapes win by 0.2-1.4 s)
                return None
            if (self._order_by_id is not None and self._limit is not None
                    and self.direct is not True
                    and getattr(self.backend, "native_spark_paths", None)
                    is not None):
                # r14: TopN on a native-capable LOCAL backend — the local
                # pushdown profile keeps sort/limit in Spark, so this
                # find-shape would materialize the WHOLE broadcast-class
                # collection through the driver to keep k rows. FileScan
                # + TakeOrderedAndProject (per-partition top-k) does the
                # same work scan-parallel without the driver hop —
                # the same reasoning as the r12 agg-shape decline below.
                return None
            if self.direct is not True:
                cells = DIRECT_SCAN_MAX_CELLS // (
                    1 if columnar else ROW_SCAN_CELLS_DIVISOR)
                cap = min(DIRECT_SCAN_MAX_ROWS,
                          cells // max(1, len(planned.output_schema.fields)))
                if cap <= 0:
                    return None
                try:
                    n = self.backend.bounded_count(self.db, self.coll, cap)
                except (KeyError, OSError, ValueError):
                    # missing or unreadable collection, undecodable
                    # document: the datasource path raises it at action
                    # time, where callers have always seen it
                    return None
                if n > cap:
                    return None
            if columnar:
                it = reader._try_arrow_fast_path(part)
                if it is None:
                    return None  # non-arrow dialect / mode — datasource path
                return self._arrow_df(list(it), planned.output_schema)
            import pyarrow as pa

            try:
                rows = flatten_rows(
                    reader._result_docs(part), planned.output_schema, mode)
                return self._rows_df(rows, planned.output_schema)
            except (KeyError, OSError, ValueError, pa.ArrowException):
                # the same reader code raises the same error on the
                # datasource path, at action time — fall back so an
                # unpinned query keeps that surface
                if self.direct is True:
                    raise
                return None
        if planned.method == "aggregate" and not planned.parallelizable:
            # size guard BEFORE the swallow-and-fallback try below: a
            # local collection past the single-stream cap must fail
            # loudly here too, not fall through to the identical
            # single-partition datasource task (which guards in
            # partitions() with the same error)
            from duckdb_mongo_spark.datasource import (
                guard_single_stream_aggregate,
            )

            guard_single_stream_aggregate(self.backend, self.db, self.coll)
            if (
                self.direct is not True
                and self.manual_pipeline is None
                and getattr(self.backend, "native_spark_paths", None) is not None
                and not (
                    len(planned.pipeline or []) == 1
                    and next(iter(planned.pipeline[0])) == "$count"
                )
            ):
                # r12: a pushed $group/$sort+$limit on a NATIVE-capable
                # local backend is better served by _try_native_df
                # (distributed partial agg / TakeOrderedAndProject) than
                # by this branch's single-stream interpreter
                # materialization; the bare $count keeps the
                # metadata-count fast path here. (The guard above still
                # fired driver-side first — frames the native path must
                # decline, e.g. manual pipelines, would otherwise defer
                # the guard to an unpatched executor re-import.)
                return None
            cap = None if self.direct is True else DIRECT_AGG_MAX_ROWS
            if cap is not None and cap <= 0:
                return None
            try:
                rows = flatten_rows(
                    reader._result_docs(part), planned.output_schema, mode, cap)
            except Exception:
                if self.direct is True:
                    raise
                return None
            if rows is None:
                return None  # result too big — partitioned path
            return self._rows_df(rows, planned.output_schema)
        return None

    def _rows_df(self, rows, schema) -> DataFrame:
        """DataFrame over flattened rows, batched exactly as the
        DataSource read batches them."""
        from duckdb_mongo_spark.datasource import _to_arrow_batches

        return self._arrow_df(list(_to_arrow_batches(rows, schema)), schema)

    def _arrow_df(self, batches, schema) -> DataFrame:
        from duckdb_mongo_spark.schema.types import to_spark_schema

        spark_schema = to_spark_schema(schema.fields)
        if not batches:
            return self.spark.createDataFrame([], schema=spark_schema)
        import pyarrow as pa

        return self.spark.createDataFrame(
            pa.Table.from_batches(batches), schema=spark_schema
        )

    @staticmethod
    def _native_cast_ok(have, want) -> bool:
        """File type → declared type compatibility for the native scan:
        identical, lossless numeric widening, or the NTZ→TZ timestamp
        re-tag (value-identical under the engine's pinned UTC session).
        Anything else declines — the arrow/interpreted paths own the
        exotic casts, and a silent Spark cast could diverge from them."""
        from pyspark.sql import types as T

        if have == want:
            return True
        if isinstance(want, T.LongType) and isinstance(
                have, (T.ByteType, T.ShortType, T.IntegerType)):
            return True
        if isinstance(want, T.DoubleType) and isinstance(have, T.FloatType):
            return True
        if isinstance(want, T.TimestampType) and isinstance(
                have, T.TimestampNTZType):
            return True
        if isinstance(want, T.DateType) and isinstance(
                have, (T.TimestampNTZType, T.TimestampType)):
            # the midnight-UTC inference rule declares DATE for
            # midnight-valued timestamp columns; Spark's cast takes the
            # UTC date part, matching the arrow path's date32 cast on
            # the values the rule admits
            return True
        if isinstance(want, T.ArrayType) and isinstance(have, T.ArrayType):
            return MongoFrame._native_cast_ok(have.elementType, want.elementType)
        return False

    def _try_native_df(self) -> DataFrame | None:
        """Native Spark scan fast path for LOCAL parquet collections
        (r12): read the collection with Spark's OWN parquet reader and
        express the frame's compiled semantics as DataFrame ops.

        The Python-DataSource scan models the remote wire protocol
        (per-partition cursors, A2/A3) — the right shape for a mongod,
        but a detour for a local columnar file: it pays a fixed
        plan/worker round trip per query (BASELINE.md "The
        Python-DataSource floor") plus per-batch Arrow IPC, and a
        pushed ``$group``/``$sort+$limit`` executes in the
        single-stream Python interpreter. Here the plan is the one
        Spark was built for: FileScan parquet (vectorized decode,
        whole-stage codegen) with Catalyst doing the filter pushdown
        and column pruning the engine planner would have hand-compiled
        (``PushedFilters``/``ReadSchema`` in ``.explain``), grouped
        aggregation as distributed partial agg (map-side combine), and
        TopN as ``TakeOrderedAndProject``. At 100 TB this is exactly
        the executor-parallel scan the datasource path approximates.

        Qualification is conservative; any mismatch returns None and
        the always-correct engine paths run instead:
        - local parquet backend only (``native_spark_paths`` probe),
          PERMISSIVE mode, no ObjectId columns, file types
          identical-or-losslessly-widenable to declared types; dotted
          paths resolve by struct-field traversal (r13) unless a
          literal dotted physical column shadows the walk;
        - ``direct=False`` (the ledger's partitioned-datasource pin)
          and explicit ``num_partitions`` keep the datasource path;
        - manual ``pipeline :=`` / ``filter :=`` keep their routes;
        - the ``__schema`` sentinel row is excluded exactly like
          ``datasource._docs_for`` (string id column required).

        EXPLAIN parity: ``scan_description()`` still renders the
        compiled engine plan (A32) — this path changes the physical
        strategy, not the logical contract, mirroring how Catalyst
        picks a physical operator for a fixed logical plan.
        """
        if self.direct is not None or self.spark is None:
            # direct=True forces in-process materialization; direct=False
            # pins the partitioned Python-DataSource scan — both are
            # explicit route pins the native path must respect
            return None
        if self.manual_pipeline is not None or self.manual_filter is not None:
            return None
        if self.num_partitions:  # explicit partition-count pin: datasource
            return None
        from duckdb_mongo_spark.schema.flatten import SchemaMode

        if SchemaMode.parse(self.schema_mode) is not SchemaMode.PERMISSIVE:
            return None
        if getattr(self.schema, "objectid_columns", None):
            return None
        paths_fn = getattr(self.backend, "native_spark_paths", None)
        if paths_fn is None:
            return None
        try:
            files = paths_fn(self.db, self.coll)
        except Exception:  # noqa: BLE001 — capability probe only
            return None
        if not files:
            return None
        if (self._limit is not None and self._order_by_id is None
                and self._aggs is None and len(files) > 1):
            # unordered find+limit on a multi-file collection: the
            # backend contract pins head to the name-ordered first file,
            # but FileScan orders splits by size — WHICH rows surface
            # would depend on the physical route (ADVICE r12); keep the
            # deterministic engine path
            return None
        from pyspark.sql import types as T

        from duckdb_mongo_spark.schema.infer import SCHEMA_DOC_ID
        from duckdb_mongo_spark.schema.types import to_spark_schema

        try:
            declared = to_spark_schema(self.schema.fields)
        except Exception:  # noqa: BLE001 — unrenderable schema: engine path
            return None
        # mergeSchema: a directory collection whose part files drifted
        # (columns present in only some files) must surface the union
        # schema like the per-file arrow reader does — without it Spark
        # infers from one footer and the other files' extra columns
        # would silently read as NULL (ADVICE r12). INCOMPATIBLE drift
        # (same column, conflicting types) makes the eager footer merge
        # raise — that is a decline to the always-correct engine path,
        # not an error, per this function's contract
        try:
            raw = _native_raw_parquet(self.spark, files)
        except Exception:  # noqa: BLE001 — qualification probe only
            return None
        raw_types = {f.name: f.dataType for f in raw.schema.fields}
        id_field = getattr(self.backend, "id_field", None)

        def _resolve_nested(path: str):
            """(Column, DataType) for a dotted path via struct-field
            traversal of the file schema — the native analog of the
            engine's ``get_path`` document walk (r13, r12 verdict #5;
            reference: src/mongo_schema_inference.cpp:685-1213 nested
            flattening). A level that is absent or not a struct yields
            (None, None): the engine flatten reads NULL there, and the
            caller mirrors that with a typed NULL literal. Catalyst's
            nested-schema pruning then cuts ReadSchema to exactly the
            traversed leaves."""
            parts = path.split(".")
            dt = raw_types.get(parts[0])
            if dt is None:
                return None, None
            col = F.col(parts[0])
            for p in parts[1:]:
                if not isinstance(dt, T.StructType) or p not in dt.names:
                    return None, None
                col = col.getField(p)
                dt = dt[p].dataType
            return col, dt

        # Which flat columns does THIS query actually read? Parent
        # document columns (a struct in the file, declared VARCHAR)
        # render as Python-formatted JSON in the engine (render_json,
        # schema/flatten.py) — not reproducible JVM-side — so they are
        # a decline only when the query NEEDS them; otherwise they are
        # simply never selected and Catalyst never reads them.
        needed: set | None = None
        if self._aggs is not None or self._projection is not None:
            if self._aggs is not None:
                needed = set(self._group_keys or [])
                needed |= {a.column for a in self._aggs if a.column}
            else:
                needed = set(self._projection)
                if self._order_by_id is not None:
                    needed.add("_id")
            for p in self._preds:
                refs: set = set()
                _pred_col_names(p, refs)
                needed |= {_col_name(r, self.schema) for r in refs}

        sel = []
        for f, sf in zip(self.schema.fields, declared.fields):
            if needed is not None and f.name not in needed:
                continue
            src = f.mongo_path
            if f.name == "_id" and id_field:
                src = id_field
            if "." in src:
                if src in raw_types:
                    # a LITERAL dotted physical column shadows the
                    # traversal — the engine's document walk and a
                    # column read disagree here; keep the engine path
                    return None
                col, have = _resolve_nested(src)
                if col is None:
                    sel.append(F.lit(None).cast(sf.dataType).alias(f.name))
                    continue
            else:
                have = raw_types.get(src)
                if have is None:
                    sel.append(F.lit(None).cast(sf.dataType).alias(f.name))
                    continue
                col = F.col(src)
            if not self._native_cast_ok(have, sf.dataType):
                return None
            if have != sf.dataType:
                col = col.cast(sf.dataType)
            sel.append(col.alias(f.name))
        df = raw
        try:
            has_sentinel = bool(self.backend._has_schema_doc(self.db, self.coll))
        except Exception:  # noqa: BLE001
            return None
        if has_sentinel:
            id_col = "_id" if "_id" in raw_types else id_field
            if not id_col or not isinstance(raw_types.get(id_col), T.StringType):
                return None
            df = df.filter((F.col(id_col) != SCHEMA_DOC_ID)
                           | F.col(id_col).isNull())
        df = df.select(*sel)
        # frame semantics as Spark ops — Catalyst pushes the filters
        # into the FileScan and prunes unread columns. Giant IN lists
        # (semi-join key sets) stay on the datasource path: marshalling
        # tens of thousands of literals through the JVM bridge costs
        # more than the scan they filter (measured ~2 s for a 16k-key
        # isin at sf1 vs ~0.9 s via the arrow-side isin), and the
        # engine scan evaluates the same $in vectorized.
        def _has_big_in(pred, cap=1024):
            if isinstance(pred, P.In):
                return len(pred.values) > cap
            kids = list(getattr(pred, "children", []) or [])
            child = getattr(pred, "child", None)
            if child is not None:
                kids.append(child)
            return any(_has_big_in(k, cap) for k in kids)

        try:
            if any(_has_big_in(p) for p in self._preds):
                return None
            for p in self._preds:
                df = df.filter(_pred_to_column(p, self.schema))
        except Exception:  # noqa: BLE001 — untranslatable pred (geo, …)
            return None
        if self._aggs is not None:
            from duckdb_mongo_spark.pushdown.planner import _agg_result_field
            from duckdb_mongo_spark.schema.types import to_spark_type

            keys = list(self._group_keys or [])
            aggcols = []
            for a in self._aggs:
                try:
                    want = to_spark_type(_agg_result_field(a, self.schema).type)
                except Exception:  # noqa: BLE001 — untypeable agg
                    return None
                if a.op == "count_star":
                    col = F.count(F.lit(1))
                elif a.op == "count":
                    col = F.count(F.col(a.column))
                elif a.op in ("sum", "min", "max", "avg"):
                    # SQL null semantics throughout (sum of an all-null
                    # group is NULL) — the engine's $group interpreter
                    # and the DuckDB ledger oracles agree on this, so
                    # the native agg must too
                    col = {"sum": F.sum, "min": F.min, "max": F.max,
                           "avg": F.avg}[a.op](F.col(a.column))
                else:
                    return None
                aggcols.append(col.cast(want).alias(a.alias))
            df = df.groupBy(*keys).agg(*aggcols) if keys else df.agg(*aggcols)
        if self._projection is not None and self._aggs is None:
            df = df.select(*[c for c in self._projection])
        if self._order_by_id is not None:
            df = df.orderBy(
                F.col("_id").asc() if self._order_by_id == 1
                else F.col("_id").desc())
        if self._limit is not None:
            df = df.limit(self._limit)
        return df

    def _try_routed_pipeline(self) -> DataFrame | None:
        """Distributed routing for manual pipelines headed by a server-side
        search stage on LOCAL backends.

        The reference ships ``$vectorSearch``/``$search`` verbatim to the
        server (server-side stages, README.md "aggregation pipeline
        pass-through"); on a local columnar backend there is no server, and
        the single-stream interpreter fallback would funnel the whole
        collection through one Python task. Instead, a stage-1
        ``$vectorSearch`` (any shape), a ``$search`` whose operator tree
        is routable + following ``$limit`` (one compiler for bare
        operators and compounds, ``_route_search_text``), a
        ``$searchMeta`` count or facet (``_route_search_meta``) or a
        ``$geoNear`` (``_route_geo_near``) compiles to a distributed
        plan. The ``$vectorSearch`` plan:

        - partitioned scan with the spec's ``filter`` pushed as ``$match``
          (the existing manual_filter pushdown, A23);
        - JVM-side score expression (``zip_with``/``aggregate`` — stays in
          whole-stage codegen, no Python in the per-row hot path);
        - distributed top-k (``orderBy().limit()`` →
          TakeOrderedAndProject: per-partition top-k, driver merge);
        - remaining stages interpreted over the ≤ ``limit`` survivors
          (bounded by contract — Atlas caps limit at 10k).

        Scores are bit-identical to the interpreter path: same element
        order, same left-to-right summation, same zero-norm and
        null-element handling (docs with null elements score NULL and are
        excluded, like the interpreter's float()-failure skip). Tie order
        between equal scores is unspecified (matches Atlas).

        Returns None when the shape doesn't qualify — the caller falls
        through to the legacy (interpreter / remote pass-through) path.
        """
        if not self.manual_pipeline or getattr(self.backend, "is_remote", False):
            return None
        if (
            self._preds
            or self._projection is not None
            or self._aggs is not None
            or self._group_keys
            or self._order_by_id is not None
            or self._limit is not None
            or self.manual_filter is not None
        ):
            return None
        head = self.manual_pipeline[0]
        if not isinstance(head, dict) or len(head) != 1:
            return None
        (op, spec), = head.items()
        self._routed_count_meta = None
        self._rt_highlight = None
        from duckdb_mongo_spark.schema.infer import resolve_schema

        if op == "$vectorSearch":
            coll_schema = resolve_schema(self.backend, self.db, self.coll)
            routed = self._route_vector_search(spec, coll_schema)
            if routed is None:
                return None
            scored, limit, meta_name, score_col = routed
            rest = list(self.manual_pipeline[1:])
            tag = "routed:vector_search"
        elif op == "$search":
            coll_schema = resolve_schema(self.backend, self.db, self.coll)
            routed = self._route_search_text(spec, coll_schema)
            if routed is None:
                return None
            scored, limit, meta_name, score_col = routed
            # the $limit consumed by the routed top-k is pipeline[1]
            rest = list(self.manual_pipeline[2:])
            tag = "routed:search_text"
        elif op == "$searchMeta":
            coll_schema = resolve_schema(self.backend, self.db, self.coll)
            meta_docs = self._route_search_meta(spec, coll_schema)
            if meta_docs is None:
                return None
            from duckdb_mongo_spark.mql.interpreter import run_pipeline

            results = run_pipeline(
                meta_docs, list(self.manual_pipeline[1:]), seed=42,
                collections=lambda c: self.backend.iter_documents(self.db, c),
            )
            return self._flatten_interpreted(results, "routed:search_meta")
        elif op == "$geoNear":
            coll_schema = resolve_schema(self.backend, self.db, self.coll)
            routed = self._route_geo_near(spec, coll_schema)
            if routed is None:
                return None
            selected = routed
            from duckdb_mongo_spark.mql.interpreter import run_pipeline

            # distances, meta, distanceField/includeLocs, units and the
            # final sort all come from re-running the ORIGINAL pipeline
            # through the interpreter over the <= limit+slack survivors
            # — bit-identical values by construction; the JVM side only
            # SELECTED the candidates (monotonic distance proxy)
            rows = selected.collect()
            docs = [self._rebuild_doc(r.asDict(recursive=True), coll_schema)
                    for r in rows]
            results = run_pipeline(
                docs, list(self.manual_pipeline), seed=42,
                collections=lambda c: self.backend.iter_documents(self.db, c),
            )
            return self._flatten_interpreted(results, "routed:geo_near")
        else:
            return None
        return self._routed_tail(
            scored, limit, meta_name, score_col, rest, coll_schema, tag)

    def _base_df(self, coll_schema, manual_filter=None) -> DataFrame:
        """The routed paths' base scan: the whole collection (or the
        ``manual_filter`` subset) through the ordinary ``df()`` path
        choice, with this frame's mode, partitioning and route pin.
        Records the chosen path in ``_routed_base_path``."""
        base = MongoFrame(
            spark=self.spark, backend=self.backend, db=self.db,
            coll=self.coll, schema=coll_schema, schema_mode=self.schema_mode,
            num_partitions=self.num_partitions, manual_filter=manual_filter,
            direct=self.direct,
        )
        bdf = base.df()
        self._routed_base_path = base.last_exec_path
        return bdf

    def _route_vector_search(self, spec, coll_schema):
        """Compile a ``$vectorSearch`` spec against the collection schema
        to a distributed scored-and-top-k'd DataFrame. Returns
        ``(scored_df, limit, meta_name, score_col)`` or None when the
        path is not a numeric vector column.

        ANN contract (Atlas semantics): when the spec carries
        ``numCandidates`` and ``exact`` is not true, the scorer consults
        the cached per-collection IVF(-PQ) index
        (``ops/vector_index.py``) and scores only the probed candidate
        cells — ``numCandidates`` sets the probe breadth, recall rises
        with it, and ``numCandidates >= corpus`` degenerates to the
        exact scan (bit-identical to ``exact: true``). Candidates are
        re-ranked with the SAME score expression as the exact path, so
        ``vectorSearchScore`` is always the true Atlas formula."""
        import math

        from duckdb_mongo_spark.mql.interpreter import parse_vector_search_spec
        from duckdb_mongo_spark.schema.types import is_list

        path, qv, limit, similarity, vfilter = parse_vector_search_spec(spec)
        fspec = next(
            (f for f in coll_schema.fields if f.mongo_path == path), None)
        if fspec is None or not is_list(fspec.type) or fspec.type[1] not in (
                "DOUBLE", "BIGINT"):
            return None  # not a numeric vector column — interpreter path
        d = len(qv)
        self._routed_ann = None
        bdf = None
        if not bool(spec.get("exact", False)) \
                and spec.get("numCandidates") is not None:
            bdf = self._try_ann_candidates(
                int(spec["numCandidates"]), qv, similarity, vfilter,
                fspec, coll_schema, d)
        if bdf is None:
            bdf = self._base_df(coll_schema, manual_filter=vfilter)
        vec = F.col(fspec.name).cast("array<double>")
        qarr = F.array(*[F.lit(float(x)) for x in qv])
        dot = F.aggregate(
            F.zip_with(vec, qarr, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        if similarity == "cosine":
            na = math.sqrt(sum(a * a for a in qv))
            nb = F.sqrt(F.aggregate(
                vec, F.lit(0.0), lambda acc, x: acc + x * x))
            if na == 0.0:
                # interpreter: zero query norm -> sim 0.0 for every valid doc
                sim = F.when(nb.isNotNull(), F.lit(0.0))
            else:
                # nb NULL (null element) propagates through the otherwise
                # branch -> score NULL -> doc excluded, like the interpreter
                sim = F.when(nb == 0.0, F.lit(0.0)).otherwise(
                    dot / (F.lit(na) * nb))
            score = (F.lit(1.0) + sim) / F.lit(2.0)
        elif similarity == "dotProduct":
            score = (F.lit(1.0) + dot) / F.lit(2.0)
        else:  # euclidean
            dist = F.sqrt(F.aggregate(
                F.zip_with(vec, qarr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda acc, x: acc + x))
            score = F.lit(1.0) / (F.lit(1.0) + dist)
        scored = (
            bdf.where(F.col(fspec.name).isNotNull()
                      & (F.size(F.col(fspec.name)) == d))
            .withColumn("__rt_score", score)
            .where(F.col("__rt_score").isNotNull())
            .orderBy(F.col("__rt_score").desc())
            .limit(limit)
        )
        return scored, limit, "vectorSearchScore", "__rt_score"

    def _try_ann_candidates(self, nc, qv, similarity, vfilter, fspec,
                            coll_schema, d):
        """Candidate DataFrame for an approximate ``$vectorSearch``
        (``numCandidates`` present, ``exact`` not true), or None when the
        exact scan is the right plan:

        - ``numCandidates >= corpus`` (metadata fast-count, or the
          index's own count): ANN degenerates to exact — bit-identical
          results, no index consulted;
        - no stable ``_id`` to round-trip candidates through the scan
          (Atlas requires ``_id`` for the same reason);
        - probing would touch every cell, or the candidate id set
          outgrows ``vector_index.FETCH_MAX``: pruning buys nothing.

        Otherwise probes the durable IVF(-PQ) sidecar
        (``ops/vector_index.py``): the probed cells' ids — after a
        PQ-ADC preselect down to ``numCandidates`` when the code column
        exists and the probe overshoots by ``vector_index.ADC_FACTOR``x —
        are pushed back into the BACKEND scan as an ``_id $in`` filter
        (row-group-pruned locally, the _id index on a real server). The
        pre-filter rides the same scan with FULL MQL semantics (any
        filter shape routes — r8; the translated-subset gate is gone),
        and when it leaves fewer than ``numCandidates`` survivors the
        probe widens adaptively (Atlas filters during index traversal,
        so its recall doesn't degrade with filter selectivity; neither
        does ours). Sets ``self._routed_ann`` with probe diagnostics
        (tests assert the pruned plan through it)."""
        import math as _math

        from duckdb_mongo_spark.ops import vector_index as VI

        try:
            n = self.backend.fast_count(self.db, self.coll)
        except Exception:
            n = None
        if n is not None and nc >= n:
            return None
        family = "l2" if similarity == "euclidean" else "cos"
        if family == "cos" and not any(float(x) != 0.0 for x in qv):
            return None  # zero query vector: cosine is a constant — exact
        idx = VI.cached_index(
            self.backend, self.db, self.coll, fspec.mongo_path, d, family)
        if idx is None:
            bdf = self._base_df(coll_schema)
            id_name = "_id" if "_id" in bdf.columns else None
            idx = VI.get_collection_vector_index(
                self.backend, self.db, self.coll, bdf, fspec.name,
                fspec.mongo_path, d, id_name, family=family)
            if idx is None:
                return None
        if nc >= idx.corpus_n:
            return None
        target = nc
        reprobes = 0
        while True:
            cells, probed = VI.probe_cells(idx, qv, target)
            if cells is None:
                return None  # probe covers the corpus — exact scan wins
            use_adc = (vfilter is None and idx.has_codes
                       and probed >= VI.ADC_FACTOR * nc)
            if use_adc:
                pkdf = VI.adc_preselect(idx, cells, qv, similarity, nc)
                id_bound = nc + idx.zero_n
            else:
                pkdf = VI.candidate_pks(idx, cells)
                id_bound = int(probed)
            if id_bound > VI.FETCH_MAX:
                return None  # id-list push would cost more than it prunes
            ids = [r[0] for r in pkdf.collect()]  # bounded: <= FETCH_MAX
            if not ids:
                return None
            mfilter = {"_id": {"$in": ids}}
            if vfilter is not None:
                mfilter = {"$and": [mfilter, vfilter]}
            cand = self._base_df(coll_schema, manual_filter=mfilter)
            if vfilter is None or probed >= idx.corpus_n or reprobes >= 3:
                break
            eff = cand.count()  # one job over the id-pruned scan
            if eff >= nc:
                break
            reprobes += 1
            sel = max(eff, 1) / max(probed, 1.0)
            target = max(int(probed * 2),
                         int(_math.ceil(nc / sel * 1.25)))
        n_real = len([c for c in cells if c >= 0])
        self._routed_ann = {
            "cells": n_real, "n_cells": len(idx.centroids),
            "est_probed": probed, "corpus_n": idx.corpus_n,
            "adc": use_adc, "reprobes": reprobes, "pushed_ids": len(ids),
        }
        self._routed_base_path = "vector_index"
        return cand

    @staticmethod
    def _score_path_col(fm, path, undefined):
        """Numeric doc-path Column for score expressions with the
        oracle's ``_path_number`` semantics: missing / non-numeric /
        boolean -> the ``undefined`` default."""
        und = F.lit(float(undefined))
        fs = fm.get(path)
        if fs is None or getattr(fs, "type", None) not in (
                "DOUBLE", "BIGINT", "INTEGER", "INT", "FLOAT",
                "SMALLINT", "TINYINT", "HUGEINT"):
            return und
        return F.coalesce(F.col(fs.name).cast("double"), und)

    def _compile_score_function(self, expr, fm):
        """Column builder (score Column -> Column) for the IEEE-exact
        subset of Atlas ``function`` scores — score/constant/path/add/
        multiply, the same fold order as the oracle's
        ``_eval_score_function`` so results stay bit-identical
        (+ and * are IEEE-deterministic given identical inputs).
        Returns None for transcendental shapes (log/log1p/gauss): JVM
        libm can differ from CPython by an ulp, so those evaluate on
        the interpreter instead of silently drifting."""
        if isinstance(expr, (int, float)) and not isinstance(expr, bool):
            c = float(expr)
            return lambda s: F.lit(c)
        if not isinstance(expr, dict) or len(expr) != 1:
            return None
        (kind, body), = expr.items()
        if kind == "score":
            return (lambda s: s) if body == "relevance" else None
        if kind == "constant":
            if isinstance(body, bool) or not isinstance(body, (int, float)):
                return None
            c = float(body)
            return lambda s: F.lit(c)
        if kind == "path":
            if isinstance(body, str):
                col = self._score_path_col(fm, body, 0.0)
            elif isinstance(body, dict) and set(body) <= \
                    {"value", "undefined"} and isinstance(
                        body.get("value"), str):
                col = self._score_path_col(
                    fm, body["value"], body.get("undefined", 0.0))
            else:
                return None
            return lambda s, _c=col: _c
        if kind in ("add", "multiply"):
            if not isinstance(body, list) or not body:
                return None
            subs = [self._compile_score_function(e, fm) for e in body]
            if any(sub is None for sub in subs):
                return None
            if kind == "add":
                # the oracle's sum() starts at 0.0
                return lambda s, _subs=subs: _fold(
                    F.lit(0.0), [f(s) for f in _subs], "+")
            return lambda s, _subs=subs: _fold(
                F.lit(1.0), [f(s) for f in _subs], "*")
        return None

    def _parse_score_mod(self, opspec, fm=None):
        """Atlas ``score`` option -> ("boost", v) / ("constant", v) /
        ("boost_col", Column) / ("func", builder) / None, or the string
        "unsupported" for shapes needing the interpreter (transcendental
        function scores — which the oracle evaluates, r8 — or malformed
        options, which it rejects loudly)."""
        mod = opspec.get("score")
        if mod is None:
            return None
        if isinstance(mod, dict) and len(mod) == 1:
            (kind, body), = mod.items()
            if kind in ("boost", "constant") and isinstance(body, dict) \
                    and set(body) == {"value"} \
                    and isinstance(body["value"], (int, float)) \
                    and not isinstance(body["value"], bool):
                return (kind, float(body["value"]))
            if kind == "boost" and fm is not None \
                    and isinstance(body, dict) \
                    and set(body) <= {"path", "undefined"} \
                    and isinstance(body.get("path"), str):
                return ("boost_col", self._score_path_col(
                    fm, body["path"], body.get("undefined", 0.0)))
            if kind == "function" and fm is not None:
                fn = self._compile_score_function(body, fm)
                if fn is not None:
                    return ("func", fn)
        return "unsupported"

    @staticmethod
    def _translate_search_sort(sort_spec, fm):
        """Compile the ``$search`` ``sort`` option into Spark column
        orderings (r9). Field keys must resolve to SCALAR schema
        columns; 1/-1 directions become asc_nulls_last/desc_nulls_last
        — flattened rows carry absent fields as null on dense AND
        sparse backends, so nulls-last IS the documented Atlas
        missing-last rule. ``{"$meta": "searchScore"}`` orders by the
        relevance score (descending, the interpreter's pin). Returns
        None for unsortable shapes — unresolvable/array paths or bad
        directions — so the caller declines to the interpreter, which
        either sorts exactly or raises the loud validation error."""
        from duckdb_mongo_spark.schema.types import is_list

        if not isinstance(sort_spec, dict) or not sort_spec:
            return None
        out = []
        for field, direction in sort_spec.items():
            if isinstance(direction, dict):
                if direction != {"$meta": "searchScore"}:
                    return None
                out.append(F.col("__rt_score").desc())
                continue
            if direction not in (1, -1) or isinstance(direction, bool):
                return None
            fs = fm.get(field)
            if fs is None or is_list(fs.type) or not isinstance(fs.type, str):
                return None
            col = F.col(fs.name)
            out.append(col.asc_nulls_last() if direction == 1
                       else col.desc_nulls_last())
        return out

    def _expand_fuzzy_text(self, spec, coll_schema, fm):
        """Rewrite every ``text`` clause carrying ``fuzzy`` into a plain
        multi-term text clause by expanding each analyzed query term
        against the collection's term dictionary (r9). After expansion,
        fuzzy text IS ordinary text — a BM25 disjunction over the
        expanded terms, each with its own document frequency — which is
        exactly the interpreter's pinned fuzzy scoring
        (``mql/search.py`` ``_Corpus.fuzzy_expand``), so the rewritten
        spec routes through the unchanged text machinery and scores
        match the oracle bit-for-bit. For a multi-path clause the
        expansion runs against the UNION of the paths' dictionaries:
        a term absent from one path contributes tf=0 there, identical
        to the oracle's per-path expansion.

        The dictionary is ONE distinct-token job over the fuzzy paths
        using the oracle's own analyzer (Arrow pass — parity by
        construction, no multibyte detector dance), bounded by
        ``SPARK_GRAFT_FUZZY_VOCAB_MAX`` (default 100k) distinct
        (path, term) rows. Over budget, malformed fuzzy shapes,
        unresolvable paths, or an empty expansion leave the spec
        unchanged — the caller's parse then declines the fuzzy extras
        and the bounded-or-loud interpreter decides. Scale stance: the
        distinct-term dictionary is what a Lucene index's FST holds;
        the bound keeps the driver collect honest and the decline
        explicit rather than letting a web-scale vocabulary melt the
        driver."""
        import copy as _copy
        import os

        from duckdb_mongo_spark.mql.search import _analyze, _within_edits
        from duckdb_mongo_spark.schema.types import is_list

        # r10: under an index definition the stubbed dry-run parse below
        # also runs routes_default, so expansion only proceeds when every
        # fuzzy path keeps the engine-contract analyzer — the dictionary
        # job then matches the index's tokenization by construction

        def walk(node, out):
            if not isinstance(node, dict):
                return
            for k, v in node.items():
                if k == "text" and isinstance(v, dict) and "fuzzy" in v:
                    out.append(v)
                elif k == "compound" and isinstance(v, dict):
                    for ck in ("must", "should", "mustNot", "filter"):
                        sub = v.get(ck)
                        for cl in ([sub] if isinstance(sub, dict)
                                   else (sub or [])):
                            walk(cl, out)

        probe: list = []
        walk({k: v for k, v in spec.items()
              if k not in ("index", "highlight", "count")}, probe)
        if not probe:
            return spec
        new_spec = _copy.deepcopy(spec)
        found: list = []
        walk({k: v for k, v in new_spec.items()
              if k not in ("index", "highlight", "count")}, found)
        plan = []
        fuzzy_fs, seen = [], set()
        for ts in found:
            if "synonyms" in ts or "matchCriteria" in ts:
                # fuzzy+synonyms is rejected loudly by the shared rewrite
                # (mql/search_index.rewrite_text_spec); expanding first
                # would silently execute what the interpreter rejects
                return spec
            fz = ts.get("fuzzy")
            if not isinstance(fz, dict) or set(fz) - {
                    "maxEdits", "prefixLength", "maxExpansions"}:
                return spec  # interpreter raises the loud error
            me, pl = fz.get("maxEdits", 2), fz.get("prefixLength", 0)
            if not isinstance(me, int) or me not in (1, 2) \
                    or not isinstance(pl, int) or pl < 0:
                return spec
            q = ts.get("query")
            qs = ([q] if isinstance(q, str)
                  else list(q) if isinstance(q, list) else None)
            if not qs or any(not isinstance(s, str) for s in qs):
                return spec
            p = ts.get("path")
            paths = ([p] if isinstance(p, str)
                     else list(p) if isinstance(p, list) else None)
            if not paths:
                return spec
            fss = []
            for pth in paths:
                fs = fm.get(pth)
                if fs is None or (fs.type != "VARCHAR" and not (
                        is_list(fs.type) and fs.type[1] == "VARCHAR")):
                    return spec
                fss.append(fs)
                if fs.name not in seen:
                    seen.add(fs.name)
                    fuzzy_fs.append(fs)
            plan.append((ts, qs, fss, me, pl))
        # dry-run the parse with fuzzy stubbed to plain text BEFORE paying
        # the term-dictionary job: if a sibling clause or score modifier
        # makes the spec unroutable anyway, the interpreter redoes all the
        # work and the vocabulary scan would be pure waste (r9 advice)
        stub = _copy.deepcopy(spec)
        stub_found: list = []
        walk({k: v for k, v in stub.items()
              if k not in ("index", "highlight", "count")}, stub_found)
        for ts in stub_found:
            ts.pop("fuzzy", None)
        if self._parse_search_clauses(stub, fm) is None:
            return spec
        ctx = getattr(self, "_rt_analyzer", None)
        if ctx is not None and any(
                ctx.pair_names(fs.mongo_path) is None for fs in fuzzy_fs):
            return spec  # uncovered fuzzy path — interpreter semantics
        # r11: under a custom index analyzer the dictionary job
        # tokenizes each path with ITS index analyzer (the vocabulary a
        # Lucene fuzzy query expands against is the indexed terms)
        tdf = self._with_oracle_tokens(
            self._base_df(coll_schema), fuzzy_fs,
            analyze=self._ctx_index_fns(ctx, fuzzy_fs))
        parts = [
            tdf.select(
                F.explode(F.col(f"__rt_toks_{fs.name}")).alias("__t"),
                F.lit(fs.name).alias("__p"))
            for fs in fuzzy_fs]
        u = parts[0]
        for x in parts[1:]:
            u = u.unionByName(x)
        vmax = int(os.environ.get("SPARK_GRAFT_FUZZY_VOCAB_MAX", "100000"))
        rows = u.distinct().limit(vmax + 1).collect()
        if len(rows) > vmax:
            return spec  # dictionary over budget: bounded-or-loud path
        vocab_by_path: dict = {}
        for r in rows:
            vocab_by_path.setdefault(r["__p"], set()).add(r["__t"])
        exp_max = int(os.environ.get(
            "SPARK_GRAFT_FUZZY_EXPANSIONS_MAX", "256"))
        for ts, qs, fss, me, pl in plan:
            vocab = sorted(set().union(
                *[vocab_by_path.get(fs.name, set()) for fs in fss]))
            if ctx is None:
                qterms = [t for s in qs for t in _analyze(s)]
                expanded = [t for qt in qterms for t in vocab
                            if _within_edits(qt, t, me, pl)]
                if not expanded:
                    return spec  # clause matches nothing — same either way
                if len(expanded) > exp_max:
                    # a very short query term within 2 edits of thousands
                    # of tokens would compile thousands of df aggregates
                    # into pass 1 — the interpreter is the better engine
                    return spec
                ts.pop("fuzzy")
                ts["query"] = expanded
                continue
            # r11 custom mode: query terms AND expansions are per path
            # (each path's search analyzer on the query, each path's
            # index-analyzer vocabulary for the expansion — the
            # interpreter's fuzzy_expand over terms_for[p]). The term
            # lists ride an internal key the clause parser consumes
            # verbatim: expanded terms are INDEX-analyzer tokens and
            # must not be re-analyzed by the search analyzer (not
            # idempotent for custom stacks). Expansion runs against the
            # clause-union vocabulary — a term absent from one path has
            # df=tf=0 there, contributing exactly 0.0, the oracle's
            # per-path result.
            expanded_by_path = []
            for fs in fss:
                sfn = ctx.search_fn(fs.mongo_path)
                qterms = [t for s in qs for t in sfn(s)]
                expanded_by_path.append(
                    [t for qt in qterms for t in vocab
                     if _within_edits(qt, t, me, pl)])
            if not any(expanded_by_path):
                return spec  # clause matches nothing — same either way
            if sum(len(e) for e in expanded_by_path) > exp_max:
                return spec
            ts.pop("fuzzy")
            ts["__expandedTermsByPath__"] = expanded_by_path
        return new_spec

    def _parse_text_clause(self, opspec, fm):
        """Validate one ``text`` clause: string query with tokens, string
        (or array-of-string) schema paths, optional boost/constant score
        modifier. Returns (fspecs, terms_by_path, score_mod) — the term
        list is PER PATH (r11: under an index definition each path's
        SEARCH analyzer tokenizes the query independently, the
        interpreter's ``terms_for[p]``; without one every entry is the
        engine-contract list) — or None when the clause needs the
        interpreter."""
        from duckdb_mongo_spark.mql.search import _analyze
        from duckdb_mongo_spark.schema.types import is_list

        if not isinstance(opspec, dict) or "query" not in opspec \
                or "path" not in opspec:
            return None
        expanded_override = None
        if "__expandedTermsByPath__" in opspec:
            # r11: _expand_fuzzy_text's custom-analyzer rewrite carries
            # per-path INDEX-analyzer term lists verbatim (re-analysis
            # by the search analyzer is not idempotent for custom
            # stacks) — internal key, never in user specs
            opspec = dict(opspec)
            expanded_override = opspec.pop("__expandedTermsByPath__")
        if set(opspec) - {"query", "path", "score"}:
            # r9: fuzzy needs the corpus term dictionary (interpreter
            # computes it; a routed expansion would be an unbounded
            # distributed-vocabulary collect) and synonyms/matchCriteria
            # are index-bound — decline, so the interpreter either
            # executes fuzzy exactly or raises the loud error. Extras
            # previously routed with the option silently dropped.
            return None
        mod = self._parse_score_mod(opspec, fm)
        if mod == "unsupported":
            return None
        q = opspec["query"]
        qstrings = [q] if isinstance(q, str) else list(q)
        if any(not isinstance(s, str) for s in qstrings):
            return None
        p = opspec["path"]
        paths = [p] if isinstance(p, str) else list(p)
        fspecs = []
        for pth in paths:
            fs = fm.get(pth)
            if fs is None or (fs.type != "VARCHAR" and not (
                    is_list(fs.type) and fs.type[1] == "VARCHAR")):
                return None  # non-string path — interpreter semantics
            fspecs.append(fs)
        # r8: no ASCII gate — query terms come from the oracle's own
        # analyzer on BOTH sides (they enter the plan as literals), and
        # multibyte corpora tokenize through _with_oracle_tokens. Under
        # analyzer routing each path's SEARCH analyzer replaces _analyze.
        ctx = getattr(self, "_rt_analyzer", None)
        if expanded_override is not None:
            if len(expanded_override) != len(fspecs):
                return None
            return fspecs, expanded_override, mod
        terms_by_path = []
        for pth in paths:
            analyze = ctx.search_fn(pth) if ctx is not None else _analyze
            if analyze is None:
                return None  # uncovered path — gate declined; defensive
            terms_by_path.append([t for s in qstrings for t in analyze(s)])
        if not any(terms_by_path):
            return None  # no analyzable terms anywhere — interpreter
        return fspecs, terms_by_path, mod

    def _search_filter_cond(self, clause, fm):
        """Translate a compound condition clause (equals/range/in/
        exists over scalar schema fields) to ``(Column, score_mod)``
        with the oracle's matching semantics (``mql/search.py``
        ``_eval_operator``): type-strict equality, numeric/string
        ranges, MISSING never matches. The mod (r8: boost/boost.path/
        constant/compilable function) applies to the clause's constant
        1.0 in scoring contexts; filter/mustNot callers ignore it, like
        the oracle. Returns None outside the subset — the caller then
        falls back to the interpreter."""
        from duckdb_mongo_spark.schema.types import is_list

        if not isinstance(clause, dict) or len(clause) != 1:
            return None
        (cop, cspec), = clause.items()
        if not isinstance(cspec, dict) or not isinstance(
                cspec.get("path"), str):
            return None
        mod = self._parse_score_mod(cspec, fm)
        if mod == "unsupported":
            return None  # interpreter semantics (it raises on bad shapes)
        fs = fm.get(cspec["path"])
        dense = getattr(self.backend, "dense_documents", False)
        if cop == "exists":
            if set(cspec) - {"path", "score"} or fs is None:
                return None
            # dense backends emit every schema field on every document
            # (present-with-null), so `exists` is True for all rows —
            # exactly what the oracle sees through iter_documents. On
            # SPARSE backends a flattened null is ambiguous between
            # "absent" and "present with explicit null": isNotNull()
            # would call the latter absent while the oracle's get_path
            # matches it, a silent divergence — decline and let the
            # interpreter decide per-document.
            return (F.lit(True), mod) if dense else None
        if fs is None or is_list(fs.type) or not isinstance(fs.type, str):
            return None
        col = F.col(fs.name)
        ctx = getattr(self, "_rt_analyzer", None)
        lower = (ctx is not None and fs.type == "VARCHAR"
                 and ctx.index.token_normalizer(
                     cspec["path"]) == "lowercase")
        if lower:
            # r11: token normalizer "lowercase" — BOTH comparison sides
            # lowercase through CPython (the oracle's semantics; JVM
            # lower() diverges off-ASCII). __rt_lc_<name> holds the
            # oracle-lowered stored value ([] when null — MISSING never
            # matches), produced in the shared Arrow pass; registering
            # the path here tells the token producers to emit it.
            self._rt_lc_fs[fs.name] = fs
            lc = F.col(f"__rt_lc_{fs.name}")
        numeric = fs.type in ("DOUBLE", "BIGINT", "INTEGER", "INT",
                              "FLOAT", "SMALLINT", "TINYINT", "HUGEINT")

        def lit_ok(v):
            if isinstance(v, bool):
                return fs.type == "BOOLEAN"
            if isinstance(v, (int, float)):
                return numeric
            if isinstance(v, str):
                return fs.type == "VARCHAR"
            return False

        if cop == "equals":
            if set(cspec) - {"path", "value", "score"}:
                return None
            v = cspec.get("value")
            if not lit_ok(v):
                return None
            if lower and isinstance(v, str):
                return (F.arrays_overlap(
                    lc, F.array(F.lit(v.lower()))), mod)
            return col == F.lit(v), mod
        if cop == "range":
            if set(cspec) - {"path", "gt", "gte", "lt", "lte", "score"}:
                return None
            bounds = {b: cspec[b] for b in ("gt", "gte", "lt", "lte")
                      if b in cspec}
            if not bounds or not all(
                    lit_ok(v) and not isinstance(v, bool)
                    for v in bounds.values()):
                return None
            if lower and all(isinstance(v, str) for v in bounds.values()):
                # Spark compares strings as UTF-8 bytes == code-point
                # order == the oracle's compare_values on str — so the
                # lowered-value comparison is divergence-free.
                # NB: the HOF lambda must be strictly UNARY — pyspark
                # reads a second (even defaulted) parameter as the
                # element-index Column.
                lowered = {b: v.lower() for b, v in bounds.items()}

                def conj(x):
                    c = None
                    for b, v in lowered.items():
                        lv = F.lit(v)
                        cc = {"gt": x > lv, "gte": x >= lv,
                              "lt": x < lv, "lte": x <= lv}[b]
                        c = cc if c is None else (c & cc)
                    return c
                return F.exists(lc, conj), mod
            cond = None
            for b, v in bounds.items():
                c = {"gt": col > F.lit(v), "gte": col >= F.lit(v),
                     "lt": col < F.lit(v), "lte": col <= F.lit(v)}[b]
                cond = c if cond is None else (cond & c)
            return cond, mod
        if cop == "in":
            if set(cspec) - {"path", "value", "score"}:
                return None
            v = cspec.get("value")
            if not isinstance(v, list) or not v \
                    or not all(lit_ok(x) for x in v):
                return None
            if lower and all(isinstance(x, str) for x in v):
                return (F.arrays_overlap(
                    lc, F.array(*[F.lit(x.lower()) for x in v])), mod)
            return col.isin(v), mod
        return None

    def _parse_geo_clause(self, cl, fm):
        """Validate a ``geoWithin``/``geoShape`` clause for routing
        (r10, r9 verdict #4). Returns the match-column payload
        ``(colspecs, spec, op, mod)`` — the kernel rides the same
        Arrow pass as phrase/wildcard, running the ORACLE'S OWN
        geometry evaluators (``mql/search._eval_geo_within`` /
        ``_eval_geo_shape``) over point values rebuilt from the
        flattened columns, so matching is parity-by-construction
        (same CPython haversine/ray-cast, same libm). Returns None
        outside the subset (malformed specs decline so the
        interpreter raises its loud validation errors; paths must
        resolve to a legacy numeric-pair column or a GeoJSON
        coordinates+type column pair)."""
        from duckdb_mongo_spark.mql.match import parse_point
        from duckdb_mongo_spark.schema.types import is_list

        (op, opspec), = cl.items()
        if not isinstance(opspec, dict):
            return None
        mod = self._parse_score_mod(opspec, fm)
        if mod == "unsupported":
            return None
        if op == "geoWithin":
            if set(opspec) - {"path", "circle", "box", "geometry", "score"}:
                return None
            shapes = [k for k in ("circle", "box", "geometry")
                      if k in opspec]
            if len(shapes) != 1:
                return None
            if shapes[0] == "circle":
                c = opspec["circle"]
                if not isinstance(c, dict) \
                        or set(c) != {"center", "radius"} \
                        or parse_point(c.get("center")) is None \
                        or isinstance(c["radius"], bool) \
                        or not isinstance(c["radius"], (int, float)):
                    return None
            elif shapes[0] == "box":
                b = opspec["box"]
                if not isinstance(b, dict) \
                        or set(b) != {"bottomLeft", "topRight"} \
                        or parse_point(b.get("bottomLeft")) is None \
                        or parse_point(b.get("topRight")) is None:
                    return None
            else:
                g = opspec["geometry"]
                if not isinstance(g, dict) \
                        or g.get("type") not in ("Polygon", "MultiPolygon"):
                    return None
        else:  # geoShape
            if set(opspec) - {"path", "relation", "geometry", "score"}:
                return None
            rel = opspec.get("relation")
            g = opspec.get("geometry")
            if rel not in ("contains", "disjoint", "intersects", "within") \
                    or not isinstance(g, dict):
                return None
            if g.get("type") == "Point":
                if parse_point(g) is None:
                    return None
            elif g.get("type") in ("Polygon", "MultiPolygon"):
                if rel == "contains":
                    return None  # stored-shape algebra: oracle raises
            else:
                return None
        p = opspec.get("path")
        paths = ([p] if isinstance(p, str)
                 else list(p) if isinstance(p, list) else None)
        if not paths or any(not isinstance(x, str) for x in paths):
            return None

        def point_list(t):
            # legacy pair, or an array of pairs (each its own point)
            return is_list(t) and (
                t[1] in ("DOUBLE", "BIGINT")
                or (is_list(t[1]) and t[1][1] in ("DOUBLE", "BIGINT")))

        colspecs = []
        for p_ in paths:
            legacy = fm.get(p_)
            gjc, gjt = fm.get(p_ + ".coordinates"), fm.get(p_ + ".type")
            if legacy is not None and point_list(legacy.type):
                colspecs.append(("legacy", p_, legacy.name))
            elif gjc is not None and is_list(gjc.type) \
                    and gjc.type[1] in ("DOUBLE", "BIGINT") \
                    and gjt is not None and gjt.type == "VARCHAR":
                colspecs.append(("gj", p_, gjc.name, gjt.name))
            else:
                return None
        spec_clean = {k: v for k, v in opspec.items() if k != "score"}
        return (colspecs, spec_clean, op, mod)

    def _parse_embedded_clause(self, espec, fm):
        """Validate an ``embeddedDocument`` clause for routing (r10,
        r9 verdict #2). Returns a parsed payload or None (interpreter:
        bounded-or-loud, and it raises the loud validation errors).

        Routable subset: ``path`` resolves to a LIST<STRUCT> schema
        field; the inner operator is ``text`` (no fuzzy — that needs
        the element vocabulary), a condition operator (equals/range/
        in/exists over element scalar fields), or a ``compound`` of
        those (nested compounds included); ``score.embedded`` with the
        four aggregate strategies and any outerScore the parent frame
        can compile. Inner text score mods are value boosts/constants
        only (an element-path boost resolves against the WRAPPED
        element — interpreter semantics, declined here)."""
        from duckdb_mongo_spark.mql.search import _analyze
        from duckdb_mongo_spark.schema.types import is_list, is_struct

        if not isinstance(espec, dict) or set(espec) - {
                "path", "operator", "score"}:
            return None
        path, inner = espec.get("path"), espec.get("operator")
        if not isinstance(path, str) or not isinstance(inner, dict) \
                or len(inner) != 1:
            return None
        fs = fm.get(path)
        if fs is None or not is_list(fs.type) or not is_struct(fs.type[1]):
            return None
        agg, outer_mod = "sum", None
        mod = espec.get("score")
        if mod is not None:
            if not (isinstance(mod, dict) and set(mod) == {"embedded"}
                    and isinstance(mod["embedded"], dict)
                    and set(mod["embedded"]) <= {"aggregate", "outerScore"}):
                return None
            agg = mod["embedded"].get("aggregate", "sum")
            if agg not in ("sum", "maximum", "minimum", "mean"):
                return None
            outer = mod["embedded"].get("outerScore")
            if outer is not None:
                outer_mod = self._parse_score_mod({"score": outer}, fm)
                if outer_mod == "unsupported":
                    return None

        def subfield(p):
            """Fully-qualified inner path -> (dotted sub, type)."""
            if not (isinstance(p, str) and p.startswith(path + ".")):
                return None
            t = fs.type[1]
            segs = p[len(path) + 1:].split(".")
            for seg in segs:
                if not is_struct(t):
                    return None
                d = dict(t[1])
                if seg not in d:
                    return None
                t = d[seg]
            return ".".join(segs), t

        ctx = getattr(self, "_rt_analyzer", None)

        def el_text(ospec):
            if not isinstance(ospec, dict) or "query" not in ospec \
                    or "path" not in ospec \
                    or set(ospec) - {"query", "path", "score"}:
                return None
            emod = self._parse_score_mod(ospec)  # value boosts only
            if emod == "unsupported":
                return None
            q = ospec["query"]
            qs = ([q] if isinstance(q, str)
                  else list(q) if isinstance(q, list) else None)
            if not qs or any(not isinstance(s, str) for s in qs):
                return None
            ps = ospec["path"]
            ps = ([ps] if isinstance(ps, str)
                  else list(ps) if isinstance(ps, list) else None)
            if not ps:
                return None
            esubs, terms_by_sub = [], []
            for p in ps:
                st = subfield(p)
                if st is None:
                    return None
                sub, t = st
                if t != "VARCHAR" and not (is_list(t) and t[1] == "VARCHAR"):
                    return None
                esubs.append((sub, t))
                # r11: each element subpath analyzes the query with ITS
                # search analyzer (full dotted path resolves through the
                # embeddedDocuments mapping) — the interpreter's
                # per-path terms_for
                an = ctx.search_fn(p) if ctx is not None else _analyze
                if an is None:
                    return None  # uncovered element path — interpreter
                terms_by_sub.append([t2 for s in qs for t2 in an(s)])
            if not any(terms_by_sub):
                return None
            return (esubs, terms_by_sub, emod)

        dense = getattr(self.backend, "dense_documents", False)

        def el_cond(cl):
            """(builder(el) -> Column, mod) with the oracle's matching
            semantics over element fields — the element twin of
            ``_search_filter_cond``."""
            (cop, cspec), = cl.items()
            if not isinstance(cspec, dict) \
                    or not isinstance(cspec.get("path"), str):
                return None
            if ctx is not None:
                # element conds compile engine-default semantics only;
                # an index deviation (uncovered value -> matches
                # nothing, lowercase normalizer) keeps the interpreter
                from duckdb_mongo_spark.mql.search_index import \
                    routes_default

                if not routes_default(ctx.index, cop, cspec):
                    return None
            cmod = self._parse_score_mod(cspec)  # value mods only
            if cmod == "unsupported":
                return None
            st = subfield(cspec["path"])
            if st is None:
                return None
            sub, t = st

            def field_of(el):
                c = el
                for seg in sub.split("."):
                    c = c.getField(seg)
                return c

            if cop == "exists":
                if set(cspec) - {"path", "score"}:
                    return None
                # dense backends: element struct fields are present-
                # with-null in the oracle's element docs, so exists is
                # True for every element; sparse backends are ambiguous
                # (see _search_filter_cond) — decline
                if not dense:
                    return None
                return (lambda el: F.lit(True)), cmod
            if is_list(t) or not isinstance(t, str):
                return None
            numeric = t in ("DOUBLE", "BIGINT", "INTEGER", "INT",
                            "FLOAT", "SMALLINT", "TINYINT", "HUGEINT")

            def lit_ok(v):
                if isinstance(v, bool):
                    return t == "BOOLEAN"
                if isinstance(v, (int, float)):
                    return numeric
                if isinstance(v, str):
                    return t == "VARCHAR"
                return False

            if cop == "equals":
                if set(cspec) - {"path", "value", "score"} \
                        or not lit_ok(cspec.get("value")):
                    return None
                v = cspec["value"]
                return (lambda el: field_of(el) == F.lit(v)), cmod
            if cop == "range":
                if set(cspec) - {"path", "gt", "gte", "lt", "lte", "score"}:
                    return None
                bounds = {b: cspec[b] for b in ("gt", "gte", "lt", "lte")
                          if b in cspec}
                if not bounds or not all(
                        lit_ok(v) and not isinstance(v, bool)
                        for v in bounds.values()):
                    return None

                def rng(el, bounds=bounds):
                    c = field_of(el)
                    cond = None
                    for b, v in bounds.items():
                        x = {"gt": c > F.lit(v), "gte": c >= F.lit(v),
                             "lt": c < F.lit(v), "lte": c <= F.lit(v)}[b]
                        cond = x if cond is None else (cond & x)
                    return cond
                return rng, cmod
            if cop == "in":
                if set(cspec) - {"path", "value", "score"}:
                    return None
                v = cspec.get("value")
                if not isinstance(v, list) or not v \
                        or not all(lit_ok(x) for x in v):
                    return None
                return (lambda el, v=v: field_of(el).isin(v)), cmod
            return None

        def walk(iop, ispec):
            """Element-level parse mirroring ``_parse_search_clauses``:
            (must, should, filters, mustnot, msm, has_must, has_filter,
            has_should) with clause kinds etext/econd/ecompound."""
            if iop == "text":
                tc = el_text(ispec)
                return None if tc is None else (
                    [("etext", tc)], [], [], [], 0, True, False, False)
            if iop in ("equals", "range", "in", "exists"):
                c = el_cond({iop: ispec})
                return None if c is None else (
                    [("econd", c)], [], [], [], 0, True, False, False)
            if iop != "compound" or not isinstance(ispec, dict):
                return None
            if set(ispec) - {"must", "should", "mustNot", "filter",
                             "minimumShouldMatch"}:
                return None

            def one(cl):
                if not (isinstance(cl, dict) and len(cl) == 1):
                    return None
                (o, s), = cl.items()
                if o == "text":
                    tc = el_text(s)
                    return None if tc is None else ("etext", tc)
                if o in ("equals", "range", "in", "exists"):
                    c = el_cond(cl)
                    return None if c is None else ("econd", c)
                if o == "compound":
                    sub = walk("compound", s)
                    return None if sub is None else ("ecompound", sub)
                return None

            def as_list(v):
                return [] if v is None else (
                    [v] if isinstance(v, dict) else list(v))

            must, should, filters, mustnot = [], [], [], []
            for cl in as_list(ispec.get("must")):
                sc = one(cl)
                if sc is None:
                    return None
                must.append(sc)
            for cl in as_list(ispec.get("should")):
                sc = one(cl)
                if sc is None:
                    return None
                should.append(sc)
            for cl in as_list(ispec.get("filter")):
                sc = one(cl)
                if sc is None:
                    return None
                filters.append(sc)
            for cl in as_list(ispec.get("mustNot")):
                sc = one(cl)
                if sc is None:
                    return None
                mustnot.append(sc)
            return (must, should, filters, mustnot,
                    int(ispec.get("minimumShouldMatch", 0)),
                    bool(ispec.get("must")), bool(ispec.get("filter")),
                    bool(should))

        (iop, ispec), = inner.items()
        tree = walk(iop, ispec)
        if tree is None:
            return None
        return {"fs": fs, "path": path, "tree": tree, "agg": agg,
                "outer": outer_mod}

    @staticmethod
    def _iter_etext_clauses(tree):
        must, should, filters, mustnot, *_ = tree
        for kind, payload in must + should + filters + list(mustnot):
            if kind == "etext":
                yield payload
            elif kind == "ecompound":
                yield from MongoFrame._iter_etext_clauses(payload)

    def _iter_embdoc_clauses(self, parsed):
        for kind, payload in self._iter_all_clauses(parsed):
            if kind == "embdoc":
                yield payload

    def _prepare_embedded_cols(self, pe, bdf):
        """Compile one parsed ``embeddedDocument`` clause to
        ``(score, match)`` PARENT-frame Columns (r10).

        Spark-first shape: pass 1 is ONE aggregate over the exploded
        element corpus (bounded driver row: element count, per-path
        token totals, per-(path, term) document frequencies — exactly
        the nested-index statistics the oracle's ``_Corpus`` computes
        over embedded docs, reference src/schema/
        mongo_schema_inference_internal.hpp:41-42 nests no further);
        pass 2 is a pure higher-order-function expression over the
        array column — per-element BM25/conditions inside
        ``F.transform``, matched scores aggregated in element order
        (``F.aggregate`` left fold == the oracle's ``sum``) — so
        scoring adds NO shuffle, NO explode and NO join to the parent
        plan. r11: multibyte element corpora and custom index analyzers
        no longer decline — per-element token columns come from ONE
        Arrow pass running the oracle's own analyzer fns
        (``_with_element_tokens``), and the HOF scorer reads them by
        element index. Returns ``(bdf, score, match)`` — ``bdf`` gains
        the element-token columns in Arrow mode — or None to decline."""
        import math as _math

        from duckdb_mongo_spark.mql.search import _B, _K1
        from duckdb_mongo_spark.schema.types import is_list

        fs, tree = pe["fs"], pe["tree"]
        etexts = list(self._iter_etext_clauses(tree))
        ctx = getattr(self, "_rt_analyzer", None)

        def el_tokens(el, sub, t):
            c = el
            for seg in sub.split("."):
                c = c.getField(seg)
            if is_list(t):
                return F.flatten(F.transform(
                    F.coalesce(c, F.array()),
                    lambda s: F.filter(
                        F.split(F.lower(F.coalesce(s, F.lit(""))),
                                "[^0-9a-z]+"),
                        lambda x: x != "")))
            return F.filter(
                F.split(F.lower(F.coalesce(c, F.lit(""))), "[^0-9a-z]+"),
                lambda x: x != "")

        # distinct text subpaths + (subpath, term) df pairs — term
        # lists are PER SUBPATH (r11: each element path's search
        # analyzer tokenizes the query)
        subs, seen = [], set()
        pairs, seen_p = [], set()
        for esubs, terms_by_sub, _m in etexts:
            for (sub, t), terms in zip(esubs, terms_by_sub):
                if sub not in seen:
                    seen.add(sub)
                    subs.append((sub, t))
                for term in dict.fromkeys(terms):
                    if (sub, term) not in seen_p:
                        seen_p.add((sub, term))
                        pairs.append((sub, t, term))
        # r11 Arrow mode: custom index analyzers always; multibyte
        # element corpora switch to it after detection below
        use_arrow = ctx is not None and bool(subs)
        seq = len(getattr(self, "_rt_eltok_cols", []))
        tok_names = {sub: f"__rt_eltoks_{seq}_{j}"
                     for j, (sub, _t) in enumerate(subs)}

        def sub_specs():
            from duckdb_mongo_spark.mql.search import _analyze

            specs = []
            for sub, _t in subs:
                fn = (ctx.index_fn(f"{fs.mongo_path}.{sub}")
                      if ctx is not None else _analyze)
                if fn is None:
                    return None  # uncovered element path — interpreter
                specs.append((tok_names[sub], sub.split("."), fn))
            return specs

        def arrow_stats(tdf2):
            el_df2 = tdf2.select(F.explode(F.arrays_zip(
                *[F.col(tok_names[sub]) for sub, _t in subs])).alias("__z"))
            aggs2 = [F.count(F.lit(1)).alias("__n")]
            for j, (sub, _t) in enumerate(subs):
                tc = F.col("__z").getField(tok_names[sub])
                aggs2.append(F.sum(F.size(tc)).alias(f"__len_{j}"))
            for j, (sub, _t, term) in enumerate(pairs):
                tc = F.col("__z").getField(tok_names[sub])
                aggs2.append(F.sum(
                    F.when(F.array_contains(tc, term), 1).otherwise(0)
                ).alias(f"__df_{j}"))
            return el_df2.agg(*aggs2).collect()[0].asDict()

        idf, avg_len = {}, {}
        if etexts:
            stats = None
            if not use_arrow:
                elems0 = F.filter(F.coalesce(F.col(fs.name), F.array()),
                                  lambda e: e.isNotNull())
                el_df = bdf.select(F.explode(elems0).alias("__el"))
                el = F.col("__el")
                aggs = [F.count(F.lit(1)).alias("__n")]
                for j, (sub, t) in enumerate(subs):
                    tc = el_tokens(el, sub, t)
                    aggs.append(F.sum(F.size(tc)).alias(f"__len_{j}"))
                    # multibyte detector over the raw element text
                    c = el
                    for seg in sub.split("."):
                        c = c.getField(seg)
                    raw = (F.coalesce(F.array_join(c, ""), F.lit(""))
                           if is_list(t) else F.coalesce(c, F.lit("")))
                    aggs.append(F.max(
                        F.when(F.octet_length(raw) != F.length(raw), 1)
                        .otherwise(0)).alias(f"__mb_{j}"))
                for j, (sub, t, term) in enumerate(pairs):
                    tc = el_tokens(el, sub, t)
                    aggs.append(F.sum(
                        F.when(F.array_contains(tc, term), 1).otherwise(0)
                    ).alias(f"__df_{j}"))
                stats = el_df.agg(*aggs).collect()[0].asDict()
                if any(stats.get(f"__mb_{j}") for j in range(len(subs))):
                    # multibyte element corpus: recompute over the
                    # oracle analyzer's token columns (r11 — was an
                    # interpreter fallback)
                    use_arrow = True
                    stats = None
            if use_arrow:
                specs = sub_specs()
                if specs is None:
                    return None
                bdf = self._with_element_tokens(bdf, fs, specs)
                self._rt_eltok_cols.extend(n for n, _s, _f in specs)
                stats = arrow_stats(bdf)
            n_el = stats["__n"] or 0
            for j, (sub, _t) in enumerate(subs):
                avg_len[sub] = ((stats.get(f"__len_{j}") or 0) / n_el
                                if n_el else 0.0)
            for j, (sub, _t, term) in enumerate(pairs):
                dfreq = stats.get(f"__df_{j}") or 0
                idf[(sub, term)] = _math.log(
                    1.0 + (n_el - dfreq + 0.5) / (dfreq + 0.5))

        def apply_emod(score, mod):
            if mod is None:
                return score
            kind, v = mod
            if kind == "boost":
                return score * F.lit(v)
            if kind == "boost_col":
                return score * v
            if kind == "func":
                fx = v(score)
                return F.when(fx > 0.0, fx).otherwise(F.lit(0.0))
            return F.lit(v)

        def etext_score(el, idx, esubs, terms_by_sub):
            # the oracle's fold order: per path, per term (dups kept)
            cs = F.lit(0.0)
            for (sub, t), terms in zip(esubs, terms_by_sub):
                if use_arrow:
                    # the token column aligns with the clause's
                    # non-null element list — read by element index
                    tc = F.element_at(
                        F.col(tok_names[sub]),
                        (idx + F.lit(1)).cast("int"))
                else:
                    tc = el_tokens(el, sub, t)
                dl = F.size(tc).cast("double")
                avg = avg_len.get(sub, 0.0)
                if avg:
                    norm = F.lit(_K1) * (F.lit(1.0 - _B)
                                         + F.lit(_B) * dl / F.lit(avg))
                else:
                    norm = F.lit(_K1 * (1.0 - _B))
                pscore = F.lit(0.0)
                for term in terms:
                    # unary lambda (a 2nd param would bind the element
                    # INDEX); `term` captured at call time per iteration
                    tf = F.size(F.filter(tc, lambda x: x == term)) \
                        .cast("double")
                    contrib = F.when(
                        tf > 0,
                        F.lit(idf[(sub, term)]) * (tf * F.lit(_K1 + 1.0))
                        / (tf + norm)).otherwise(F.lit(0.0))
                    pscore = pscore + contrib
                cs = cs + pscore
            return cs

        def build_el(tree, el, idx):
            """(score, match) per element — ``_eval_compound`` order."""
            (must, should, filters, mustnot, msm,
             has_must, has_filter, _has_should) = tree

            def hs(kind, payload):
                if kind == "etext":
                    esubs, terms_by_sub, emod = payload
                    cs = etext_score(el, idx, esubs, terms_by_sub)
                    # containment hit instead of score > 0 (see
                    # _build_compound): equivalent, and the interpreted
                    # HOF has no subexpression elimination — a score
                    # hit would evaluate the element BM25 twice
                    h = F.lit(False)
                    for (sub, t), terms in zip(esubs, terms_by_sub):
                        if not terms:
                            continue
                        if use_arrow:
                            tc = F.element_at(
                                F.col(tok_names[sub]),
                                (idx + F.lit(1)).cast("int"))
                        else:
                            tc = el_tokens(el, sub, t)
                        h = h | F.arrays_overlap(
                            tc, F.array(*[F.lit(x)
                                          for x in dict.fromkeys(terms)]))
                    return h, apply_emod(cs, emod)
                if kind == "econd":
                    cb, cmod = payload
                    return cb(el), apply_emod(F.lit(1.0), cmod)
                s, m = build_el(payload, el, idx)
                return m, s

            total, cond = F.lit(0.0), F.lit(True)
            for kind, payload in must:
                h, s = hs(kind, payload)
                cond = cond & h
                total = total + s
            if should:
                matched = F.lit(0)
                for kind, payload in should:
                    h, s = hs(kind, payload)
                    total = total + F.when(h, s).otherwise(F.lit(0.0))
                    matched = matched + F.when(h, F.lit(1)) \
                        .otherwise(F.lit(0))
                need = msm
                if not has_must and not has_filter:
                    need = max(1, need)
                if need > 0:
                    cond = cond & (matched >= need)
            for kind, payload in filters:
                h, _s = hs(kind, payload)
                cond = cond & h
            for kind, payload in mustnot:
                h, _s = hs(kind, payload)
                cond = cond & F.coalesce(~h, F.lit(True))
            return total, cond

        elems = F.filter(F.coalesce(F.col(fs.name), F.array()),
                         lambda e: e.isNotNull())

        def pair_of(el, idx):
            s, m = build_el(tree, el, idx)
            return F.struct(s.alias("s"),
                            F.coalesce(m, F.lit(False)).alias("m"))

        mscores = F.transform(
            F.filter(F.transform(elems, pair_of), lambda p: p["m"]),
            lambda p: p["s"])
        n = F.size(mscores)
        agg = pe["agg"]
        if agg == "maximum":
            base = F.array_max(mscores)
        elif agg == "minimum":
            base = F.array_min(mscores)
        else:
            base = F.aggregate(mscores, F.lit(0.0), lambda a, x: a + x)
            if agg == "mean":
                base = base / n.cast("double")
        base = apply_emod(base, pe["outer"])
        match = n > 0
        return bdf, F.when(match, base).otherwise(F.lit(0.0)), match

    def _route_geo_near(self, spec, coll_schema):
        """Distributed candidate selection for a stage-1 ``$geoNear``
        followed by ``$limit``: the JVM scan orders every valid location
        by a MONOTONIC distance proxy (planar: squared distance;
        spherical: the haversine ``a`` term — dist = 2*asin(sqrt(a)) is
        increasing in ``a``, so ordering and range bounds transfer
        exactly without evaluating asin) with the spec ``query`` pushed
        into the scan as ``$match``, and keeps the top limit+8 rows.
        min/maxDistance convert to proxy-space bounds driver-side with a
        widening 1e-9 slack: the interpreter re-applies the EXACT
        bounds on the survivors, so slack can only over-include. The
        caller re-runs the original pipeline over the survivors through
        the interpreter, so every reported distance/field is
        bit-identical to the single-stream path; the only approximation
        is WHICH doc sits exactly at the limit boundary when two proxy
        values differ by ~1 ulp between the JVM and CPython libm (tie
        order is unspecified, like mongod across index types).

        Returns the selected DataFrame, or None (interpreter fallback,
        single-stream-guarded) when: no following $limit, ``key``
        missing/not a schema array-of-numbers or GeoJSON-point field,
        or ``near``/``distanceField`` malformed (the interpreter then
        raises the same validation error the routed path would)."""
        import math

        from duckdb_mongo_spark.mql.match import EARTH_RADIUS_M, parse_point
        from duckdb_mongo_spark.schema.types import is_list

        if not isinstance(spec, dict) or not spec.get("distanceField"):
            return None
        near = parse_point(spec.get("near")) if "near" in spec else None
        if near is None:
            return None
        key = spec.get("key")
        if not isinstance(key, str):
            return None  # key inference needs the docs — interpreter
        nxt = (self.manual_pipeline[1]
               if len(self.manual_pipeline) > 1 else None)
        if not (isinstance(nxt, dict) and len(nxt) == 1
                and next(iter(nxt)) == "$limit"):
            return None
        limit = int(nxt["$limit"])
        nx, ny, near_geojson = near
        spherical = bool(spec.get("spherical", False)) or near_geojson

        fm = {f.mongo_path: f for f in coll_schema.fields}

        def num_list(fs):
            return fs is not None and is_list(fs.type) \
                and fs.type[1] in ("DOUBLE", "BIGINT")

        legacy = fm.get(key)
        gj_coords = fm.get(key + ".coordinates")
        gj_type = fm.get(key + ".type")
        if num_list(legacy):
            coords = F.col(legacy.name).cast("array<double>")
            type_ok = F.lit(True)
        elif num_list(gj_coords):
            coords = F.col(gj_coords.name).cast("array<double>")
            type_ok = ((F.col(gj_type.name) == "Point")
                       if gj_type is not None else F.lit(True))
        else:
            return None
        bdf = self._base_df(coll_schema, manual_filter=spec.get("query"))
        x = F.element_at(coords, 1)
        y = F.element_at(coords, 2)
        valid = (coords.isNotNull() & (F.size(coords) == 2)
                 & x.isNotNull() & y.isNotNull() & type_ok)
        if spherical:
            p1 = math.radians(ny)
            phi2 = F.radians(y)
            dp = phi2 - F.lit(p1)
            dl = F.radians(x - F.lit(nx))
            proxy = (F.pow(F.sin(dp / 2), 2)
                     + F.lit(math.cos(p1)) * F.cos(phi2)
                     * F.pow(F.sin(dl / 2), 2))

            def to_proxy(bound):
                rad = (float(bound) / EARTH_RADIUS_M if near_geojson
                       else float(bound))
                if rad >= math.pi:
                    return 1.0
                s = math.sin(rad / 2.0)
                return s * s
        else:
            dx = x - F.lit(nx)
            dy = y - F.lit(ny)
            proxy = dx * dx + dy * dy

            def to_proxy(bound):
                return float(bound) * float(bound)

        cand = bdf.where(valid).withColumn("__gn_proxy", proxy)
        if spec.get("minDistance") is not None:
            lo = to_proxy(spec["minDistance"])
            cand = cand.where(F.col("__gn_proxy") >= lo * (1.0 - 1e-9))
        if spec.get("maxDistance") is not None:
            hi = to_proxy(spec["maxDistance"])
            cand = cand.where(
                F.col("__gn_proxy") <= hi * (1.0 + 1e-9) + 1e-300)
        # limit+8 overfetch absorbs the ulp-wide boundary slivers; the
        # interpreter's exact re-filter + $limit trims the extras
        return (cand.orderBy(F.col("__gn_proxy").asc())
                .limit(limit + 8).drop("__gn_proxy"))

    @staticmethod
    def _tokens_of(fs):
        """The tokenizer contract's ASCII fast path as a JVM expression
        (lowercase, split on non-``[0-9a-z]`` runs) — identical to the
        oracle's ``_analyze`` on pure-ASCII text, in whole-stage
        codegen; array-of-strings fields concat their element token
        lists. Corpora containing ANY multibyte text use
        ``_with_oracle_tokens`` instead (r8): Python and JVM case
        tables may disagree off-ASCII, so the non-ASCII path runs the
        oracle's own analyzer rather than a JVM twin."""
        from duckdb_mongo_spark.schema.types import is_list

        # empty-token drop via array_remove, not a filter lambda: HOFs
        # are CodegenFallback (interpreted per element) while
        # array_remove is codegen'd; identical tokens — split never
        # yields NULL elements (the one input class where they differ)
        col = F.col(fs.name)
        if is_list(fs.type):
            return F.flatten(F.transform(
                F.coalesce(col, F.array()),
                lambda s: F.array_remove(
                    F.split(F.lower(F.coalesce(s, F.lit(""))),
                            "[^0-9a-z]+"), ""),
            ))
        return F.array_remove(
            F.split(F.lower(F.coalesce(col, F.lit(""))), "[^0-9a-z]+"), "")

    @staticmethod
    def _with_oracle_tokens(bdf, fspecs, analyze=None, extra_specs=None):
        """Token columns produced by the ORACLE'S OWN analyzer
        (``mql/search._analyze``, or the index definition's analyzer fn
        under r10 analyzer routing) via one Arrow-batched
        ``mapInPandas`` pass — distributed, and token-identical to the
        interpreter by construction (same CPython function, same case
        tables). The multibyte route for ``$search``: multilingual
        corpora pay this one Arrow pass instead of falling back to the
        single-stream interpreter.

        ``extra_specs``: additional ``(out_name, src_name, islist, fn)``
        columns produced in the SAME pass with their own analyzer fns —
        r10 autocomplete mappings tokenize independently of the text
        pair."""
        from pyspark.sql import types as T

        from duckdb_mongo_spark.schema.types import is_list

        # r11: `analyze` may be a {flattened_name: fn} mapping giving
        # each path its OWN index-analyzer fn (mixed analyzer pairs);
        # a single callable applies to every path; None entries fall
        # back to the engine-contract analyzer
        per_path = analyze if isinstance(analyze, dict) else None
        if per_path is not None:
            analyze = None
        names = [f"__rt_toks_{fs.name}" for fs in fspecs]
        specs = [(fs.name, bool(is_list(fs.type)),
                  per_path.get(fs.name) if per_path is not None else None)
                 for fs in fspecs]
        for out_name, src, islist, fn in (extra_specs or []):
            names.append(out_name)
            specs.append((src, islist, fn))
        out_schema = T.StructType(
            list(bdf.schema.fields)
            + [T.StructField(n, T.ArrayType(T.StringType()))
               for n in names])

        def kernel(batches):
            default_an = analyze
            if default_an is None:
                from duckdb_mongo_spark.mql.search import \
                    _analyze as default_an

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out = pdf.copy()
                for n, (src, islist, fn) in zip(names, specs):
                    an = fn if fn is not None else default_an
                    if islist:
                        out[n] = [
                            [t for el in (v if v is not None else [])
                             for t in an(el)]
                            for v in pdf[src]]
                    else:
                        out[n] = [an(v) for v in pdf[src]]
                yield out

        return bdf.mapInPandas(kernel, schema=out_schema)

    @staticmethod
    def _with_element_tokens(bdf, fs, sub_specs):
        """Per-ELEMENT token columns for one embeddedDocument clause
        (r11): for each text subpath, an ``array<array<string>>``
        column aligned with the clause's non-null element list, each
        entry the ORACLE'S OWN analyzer output over that element's
        subfield (``mql/search._field_tokens`` semantics: missing ->
        [], list values flatten per element). One Arrow-batched
        mapInPandas pass serves custom index analyzers AND multibyte
        element corpora — both previously interpreter-only.

        ``sub_specs``: ``(out_name, segs, fn)`` per text subpath."""
        from pyspark.sql import types as T

        out_schema = T.StructType(
            list(bdf.schema.fields)
            + [T.StructField(
                n, T.ArrayType(T.ArrayType(T.StringType())))
               for n, _segs, _fn in sub_specs])
        src = fs.name

        def kernel(batches):
            import numpy as np

            def subval(el, segs):
                v = el
                for seg in segs:
                    v = v.get(seg) if isinstance(v, dict) else None
                return v

            def toks(el, segs, fn):
                v = subval(el, segs)
                if isinstance(v, (list, np.ndarray)):
                    return [t for x in v for t in fn(x)]
                return fn(v)

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out = pdf.copy()
                for n, segs, fn in sub_specs:
                    out[n] = [
                        [toks(el, segs, fn)
                         for el in (arr if arr is not None else [])
                         if el is not None]
                        for arr in pdf[src]]
                yield out

        return bdf.mapInPandas(kernel, schema=out_schema)

    def _lc_specs(self):
        """Extra Arrow-pass column specs for every lowercase-normalized
        token path the current parse registered (r11): ``__rt_lc_<name>``
        holds the ORACLE-lowered stored value(s) — one element for a
        scalar path, the lowered elements for a list path, ``[]`` when
        null (MISSING never matches). Rides the same mapInPandas pass as
        the token columns."""
        from duckdb_mongo_spark.schema.types import is_list

        def _lower_fn(v):
            return [v.lower()] if isinstance(v, str) else []

        return [(f"__rt_lc_{fs.name}", fs.name, bool(is_list(fs.type)),
                 _lower_fn)
                for fs in getattr(self, "_rt_lc_fs", {}).values()]

    @staticmethod
    def _ctx_index_fns(ctx, fspecs):
        """Per-path index-analyzer fns for ``_with_oracle_tokens``
        (r11): ``None`` without an index ctx (contract analyzer), else
        a ``{flattened_name: fn}`` map resolved per mongo path."""
        if ctx is None:
            return None
        return {fs.name: ctx.index_fn(fs.mongo_path) for fs in fspecs}

    def _mb_key(self, fs):
        fp = getattr(self.backend, "fingerprint", None)
        ident = None
        if callable(fp):
            try:
                ident = fp(self.db, self.coll)
            except Exception:
                ident = None
        if ident is None:
            ident = id(self.backend)
        return (type(self.backend).__name__, ident, self.db, self.coll,
                fs.name)

    def _mb_lookup(self, fspecs):
        """(all_known, any_multibyte) for the query's text paths from
        the per-collection flag cache — lets repeat queries pick the
        right tokenizer without re-running detection (fingerprint-keyed,
        so a file rewrite invalidates)."""
        flags = [_MB_CACHE.get(self._mb_key(fs)) for fs in fspecs]
        return (all(f is not None for f in flags),
                any(f for f in flags if f is not None))

    def _mb_store(self, fspecs, stats):
        for fs in fspecs:
            _MB_CACHE[self._mb_key(fs)] = bool(
                stats.get(f"__nonascii_{fs.name}"))

    def _text_stats_lookup(self, fspecs, df_pairs):
        """Pass-1 corpus statistics from committed ``ops/text_index``
        sidecars instead of a live aggregate scan (r11). Returns the
        same dict shape ``run_stats`` produces (``__n`` / ``__len_*`` /
        ``__df_*``), or None when any path lacks a committed sidecar
        under its resolved analyzer key — or the handles disagree on
        the corpus size (a mid-rebuild mix of generations) — leaving
        the cold path unchanged. A hit also seeds the per-path
        multibyte flags so the token-producer choice below matches the
        tokens the statistics were built over."""
        from duckdb_mongo_spark.ops import text_index

        ctx = getattr(self, "_rt_analyzer", None)
        handles = {}
        for fs in fspecs:
            if ctx is not None:
                akey = ctx.stats_key(fs.mongo_path)
                if akey is None:
                    return None
            else:
                akey = text_index.CONTRACT_ANALYZER_KEY
            h = text_index.cached_stats(
                self.backend, self.db, self.coll, fs.mongo_path, akey)
            if h is None:
                return None
            handles[fs.name] = h
        if len({h.n_docs for h in handles.values()}) != 1:
            return None
        stats = {"__n": next(iter(handles.values())).n_docs}
        for fs in fspecs:
            stats[f"__len_{fs.name}"] = handles[fs.name].total_len
        by_path: dict = {}
        for j, (fs, t) in enumerate(df_pairs):
            by_path.setdefault(fs.name, []).append((j, t))
        for name, pairs in by_path.items():
            dfs = handles[name].term_dfs([t for _j, t in pairs])
            for j, t in pairs:
                stats[f"__df_{j}"] = dfs[t]
        for fs in fspecs:
            _MB_CACHE[self._mb_key(fs)] = bool(handles[fs.name].multibyte)
        return stats

    @staticmethod
    def _nonascii_agg(fs):
        """octet_length != length iff any multi-byte character — the
        per-path multibyte detector that rides pass-1 aggregates."""
        from duckdb_mongo_spark.schema.types import is_list

        raw = (F.coalesce(F.array_join(F.col(fs.name), ""), F.lit(""))
               if is_list(fs.type)
               else F.coalesce(F.col(fs.name), F.lit("")))
        return F.max(
            F.when(F.octet_length(raw) != F.length(raw), 1).otherwise(0)
        ).alias(f"__nonascii_{fs.name}")

    def _parse_phrase_clause(self, opspec, fm):
        """Validate one ``phrase`` clause: string query/queries with
        tokens, string (or array-of-string) schema paths, non-negative
        integer slop, no score boost. Returns
        (fspecs, phrases_by_path, slop, mod) — the analyzed phrase
        token lists are PER PATH (r11: each path's search analyzer
        tokenizes the query, the interpreter's per-path ``sa(q)``) —
        or None when the clause needs the interpreter."""
        from duckdb_mongo_spark.mql.search import _analyze
        from duckdb_mongo_spark.schema.types import is_list

        if not isinstance(opspec, dict) or "query" not in opspec \
                or "path" not in opspec:
            return None
        if set(opspec) - {"query", "path", "slop", "score"}:
            return None
        mod = self._parse_score_mod(opspec, fm)
        if mod == "unsupported":
            return None
        q = opspec["query"]
        qstrings = [q] if isinstance(q, str) else list(q)
        if not qstrings or any(not isinstance(s, str) for s in qstrings):
            return None
        slop = int(opspec.get("slop", 0))
        p = opspec["path"]
        paths = [p] if isinstance(p, str) else list(p)
        fspecs = []
        for pth in paths:
            fs = fm.get(pth)
            if fs is None or (fs.type != "VARCHAR" and not (
                    is_list(fs.type) and fs.type[1] == "VARCHAR")):
                return None
            fspecs.append(fs)
        ctx = getattr(self, "_rt_analyzer", None)
        phrases_by_path = []
        for pth in paths:
            analyze = ctx.search_fn(pth) if ctx is not None else _analyze
            if analyze is None:
                return None  # uncovered path — gate declined; defensive
            phrases_by_path.append([analyze(s) for s in qstrings])
        return fspecs, phrases_by_path, slop, mod

    def _parse_autocomplete_clause(self, opspec, fm):
        """Validate one ``autocomplete`` clause (r8): string query or
        queries, string (or array-of-string) schema paths, tokenOrder
        any/sequential, optional boost/constant score modifier. fuzzy
        declines to the interpreter (which raises loudly — the gram
        index's edit-distance expansion has no local stand-in).
        Returns (fspecs, analyzed query term lists, tokenOrder, mod) —
        the same payload shape as phrase, so the match-column pass and
        compound builder treat both uniformly."""
        from duckdb_mongo_spark.mql.search import _analyze
        from duckdb_mongo_spark.schema.types import is_list

        if not isinstance(opspec, dict) or "query" not in opspec \
                or "path" not in opspec:
            return None
        if set(opspec) - {"query", "path", "tokenOrder", "score", "fuzzy"}:
            return None  # unknown options: interpreter semantics
        fuzzy = opspec.get("fuzzy")
        if fuzzy is not None and (
                not isinstance(fuzzy, dict)
                or set(fuzzy) - {"maxEdits", "prefixLength",
                                 "maxExpansions"}
                or int(fuzzy.get("maxEdits", 2)) not in (1, 2)):
            return None  # malformed: the interpreter raises loudly
        mod = self._parse_score_mod(opspec, fm)
        if mod == "unsupported":
            return None
        token_order = opspec.get("tokenOrder", "any")
        if token_order not in ("any", "sequential"):
            return None
        q = opspec["query"]
        qstrings = [q] if isinstance(q, str) else list(q)
        if not qstrings or any(not isinstance(s, str) for s in qstrings):
            return None
        qterms = [_analyze(s) for s in qstrings]
        p = opspec["path"]
        paths = [p] if isinstance(p, str) else list(p)
        fspecs = []
        for pth in paths:
            fs = fm.get(pth)
            if fs is None or (fs.type != "VARCHAR" and not (
                    is_list(fs.type) and fs.type[1] == "VARCHAR")):
                return None
            fspecs.append(fs)
        ctx = getattr(self, "_rt_analyzer", None)
        if ctx is not None:
            # r10 index mode: per-path gram/fold/analyzer options from
            # the autocomplete mapping ride the clause payload — token
            # columns get their OWN Arrow-pass fns (independent of the
            # text analyzers) and query terms analyze per path with
            # the same fold + minGrams skip the interpreter applies
            from duckdb_mongo_spark.mql.search_index import fold_diacritics

            index = ctx.index
            cols, tok_specs, qterms_by_col = [], [], []
            for pth, fs in zip(paths, fspecs):
                ac = index.autocomplete_def(pth)  # walker pre-validated
                if ac is None:
                    return None  # unmapped path: interpreter semantics
                an, mg = ac["analyzer"], ac["minGrams"]
                fold = ac["foldDiacritics"]
                if fold:
                    def fn(v, _a=an):
                        return [fold_diacritics(t) for t in _a(v)]
                else:
                    fn = an
                qts = []
                for s in qstrings:
                    qt = an(s)
                    if fold:
                        qt = [fold_diacritics(t) for t in qt]
                    if mg and any(len(t) < mg for t in qt):
                        # the gram index holds no grams shorter than
                        # minGrams — this query never matches this path
                        continue
                    qts.append(qt)
                cols.append(f"__rt_act_{fs.name}")
                tok_specs.append((f"__rt_act_{fs.name}", fs.name,
                                  bool(is_list(fs.type)), fn))
                qterms_by_col.append(qts)
            acspec = {"cols": cols, "specs": tok_specs,
                      "qterms": qterms_by_col}
            return fspecs, qstrings, (token_order, fuzzy, acspec), mod
        return fspecs, qterms, (token_order, fuzzy), mod

    def _parse_near_clause(self, opspec, fm):
        """Validate one ``near`` clause (r8): NUMERIC origin, positive
        pivot, numeric (or array-of-numeric) schema paths, optional
        score modifier. Date origins decline to the interpreter
        (timestamp-timezone parity is not pinned JVM-side); geo origins
        raise there. Returns (fspecs, origin, pivot, mod) — the score
        is pure IEEE arithmetic (pivot/(pivot+|v-origin|)), so routed
        values are bit-identical to the oracle."""
        if not isinstance(opspec, dict) or "path" not in opspec \
                or "origin" not in opspec or "pivot" not in opspec:
            return None
        if set(opspec) - {"path", "origin", "pivot", "score"}:
            return None
        mod = self._parse_score_mod(opspec, fm)
        if mod == "unsupported":
            return None
        origin, pivot = opspec["origin"], opspec["pivot"]
        import datetime as _dt

        is_date = isinstance(origin, _dt.datetime)
        if not is_date and (isinstance(origin, bool)
                            or not isinstance(origin, (int, float))):
            return None  # geo origins: the interpreter raises
        if isinstance(pivot, bool) or not isinstance(pivot, (int, float)) \
                or not pivot > 0:
            return None  # the interpreter raises loudly
        from duckdb_mongo_spark.schema.types import is_list

        numeric = ("DOUBLE", "BIGINT", "INTEGER", "INT", "FLOAT",
                   "SMALLINT", "TINYINT", "HUGEINT")
        p = opspec["path"]
        paths = [p] if isinstance(p, str) else list(p)
        fspecs = []
        for pth in paths:
            fs = fm.get(pth)
            if fs is None:
                return None
            if is_date:
                # the session pins spark.sql.session.timeZone=UTC, so
                # unix_micros(col) equals the oracle's exact
                # integer-microsecond arithmetic; scalar TIMESTAMP only
                if fs.type != "TIMESTAMP":
                    return None
            elif not (fs.type in numeric
                      or (is_list(fs.type) and fs.type[1] in numeric)):
                return None
            fspecs.append(fs)
        if is_date:
            from duckdb_mongo_spark.mql.search import _dt_micros

            return fspecs, ("ts", _dt_micros(origin)), float(pivot), mod
        return fspecs, ("num", float(origin)), float(pivot), mod

    @staticmethod
    def _translate_query_string(opspec):
        """``queryString`` -> its translated (op, spec) via the shared
        ``parse_query_string`` — the SAME translation the oracle runs,
        so the routed tree is the oracle's tree. (None, None) declines:
        malformed specs and Lucene specials raise in the interpreter;
        score modifiers on the whole queryString would need mods on
        compound results, which the oracle reserves for operators."""
        from duckdb_mongo_spark.mql.search import parse_query_string

        if not isinstance(opspec, dict) \
                or set(opspec) - {"defaultPath", "query"} \
                or not isinstance(opspec.get("defaultPath"), str) \
                or not isinstance(opspec.get("query"), str):
            return None, None
        try:
            translated = parse_query_string(
                opspec["query"], opspec["defaultPath"])
        except ValueError:
            return None, None  # the interpreter raises the same error
        (top, tspec), = translated.items()
        return top, tspec

    @staticmethod
    def _translate_mlt(opspec):
        """``moreLikeThis`` -> its translated (op, spec) via the shared
        ``translate_more_like_this`` (same function the oracle runs).
        (None, None) declines — malformed specs raise in the
        interpreter; a score modifier on the whole clause would need
        mods on compound results, which the oracle reserves for
        operators."""
        from duckdb_mongo_spark.mql.search import translate_more_like_this

        if not isinstance(opspec, dict) or set(opspec) != {"like"}:
            return None, None
        try:
            translated = translate_more_like_this(opspec)
        except ValueError:
            return None, None  # the interpreter raises the same error
        return "compound", translated["compound"]

    def _parse_wildcard_clause(self, opspec, fm, op="wildcard"):
        """Validate one ``wildcard`` or ``regex`` clause (r8; regex r9):
        string pattern(s), string (or array-of-string) schema paths,
        optional score modifier. A regex using Lucene's automaton
        operators compiles through the DFA engine (r10). Matching is
        keyword-field semantics — the WHOLE un-analyzed value,
        case-sensitive — via the oracle's own compiled patterns in the
        match-column Arrow pass, so parity is by construction.

        Under an index definition (r10): token-"none" paths keep the
        raw-value match, ``allowAnalyzedField: true`` additionally
        matches any ANALYZED token (the clause's arg carries the token
        columns to match and the fspecs needing token production);
        without an index ``allowAnalyzedField`` declines (the
        interpreter raises — supply search_index=)."""
        from duckdb_mongo_spark.schema.types import is_list

        if not isinstance(opspec, dict) or "query" not in opspec \
                or "path" not in opspec:
            return None
        if set(opspec) - {"query", "path", "allowAnalyzedField", "score"}:
            return None
        ctx = getattr(self, "_rt_analyzer", None)
        allow = bool(opspec.get("allowAnalyzedField"))
        if allow and ctx is None:
            return None  # interpreter raises loudly without an index
        mod = self._parse_score_mod(opspec, fm)
        if mod == "unsupported":
            return None
        q = opspec["query"]
        qstrings = [q] if isinstance(q, str) else list(q)
        if not qstrings or any(not isinstance(x, str) for x in qstrings):
            return None
        if op == "regex":
            from duckdb_mongo_spark.mql.search import _compile_lucene_regexes

            try:
                _compile_lucene_regexes(qstrings)
            except ValueError:
                return None  # interpreter raises the same loud error
        p = opspec["path"]
        paths = [p] if isinstance(p, str) else list(p)
        fspecs = []
        for pth in paths:
            fs = fm.get(pth)
            if fs is None or (fs.type != "VARCHAR" and not (
                    is_list(fs.type) and fs.type[1] == "VARCHAR")):
                return None
            fspecs.append(fs)
        if ctx is not None:
            # index mode: per-path column plan mirroring the oracle's
            # _indexed_term_match (mql/search.py) — raw value for token
            # "none", the shared token column for analyzed-with-allow,
            # nothing for unindexed paths (they match nothing)
            index = ctx.index
            cols, toks_fs = [], []
            for pth, fs in zip(paths, fspecs):
                norm = index.token_normalizer(pth)
                analyzed = index.text_analyzer_names(pth) is not None
                if norm is None and analyzed and not allow:
                    return None  # interpreter raises the loud error
                if norm == "none":
                    cols.append(fs.name)
                elif norm == "lowercase":
                    # r11: the pattern (as written) matches the
                    # oracle-lowercased stored value — an Arrow-pass
                    # column, since JVM lower() diverges off-ASCII
                    self._rt_lc_fs[fs.name] = fs
                    cols.append(f"__rt_lc_{fs.name}")
                if allow and analyzed:
                    cols.append(f"__rt_toks_{fs.name}")
                    toks_fs.append(fs)
            return fspecs, qstrings, {"cols": cols,
                                      "toks_fs": toks_fs}, mod
        return fspecs, qstrings, None, mod

    @staticmethod
    def _near_score_col(payload):
        """Best (closest-value) near score across paths and array
        elements — greatest/array_max ignore nulls, mirroring the
        oracle's max over comparable values; null when nothing
        comparable exists (no match)."""
        from duckdb_mongo_spark.schema.types import is_list

        fss, (okind, origin), pivot, _mod = payload
        per_path = []
        for fs in fss:
            col = F.col(fs.name)
            if okind == "ts":
                # exact integer micros difference over 1000.0 — the
                # oracle's formula verbatim (UTC session timezone)
                dist = (F.abs(F.unix_micros(col) - F.lit(origin))
                        .cast("double") / F.lit(1000.0))
                per_path.append(F.lit(pivot) / (F.lit(pivot) + dist))
            elif is_list(fs.type):
                per_path.append(F.array_max(F.transform(
                    F.coalesce(col, F.array()),
                    lambda x: F.lit(pivot)
                    / (F.lit(pivot)
                       + F.abs(x.cast("double") - F.lit(origin))))))
            else:
                per_path.append(
                    F.lit(pivot)
                    / (F.lit(pivot)
                       + F.abs(col.cast("double") - F.lit(origin))))
        return per_path[0] if len(per_path) == 1 else F.greatest(*per_path)

    @staticmethod
    def _ac_token_specs(phrase_clauses):
        """Deduped ``(out_name, src, islist, fn)`` token-column specs of
        every index-mode autocomplete clause (r10) — produced in the
        same Arrow pass as the text token columns."""
        specs, seen = [], set()
        for kind, payload in phrase_clauses:
            if kind != "auto" or len(payload[2]) < 3:
                continue
            for ts in payload[2][2]["specs"]:
                if ts[0] not in seen:
                    seen.add(ts[0])
                    specs.append(ts)
        return specs

    def _iter_phrase_clauses(self, parsed):
        """Every match-column clause (phrase AND autocomplete — r8)
        anywhere in the parsed tree, as ``(kind, payload)`` in a
        deterministic walk order — drives the one mapInPandas pass that
        materializes their match columns."""
        (text_must, text_should, _cf, mustnot, *_rest) = parsed
        for kind, payload in text_must + text_should + list(mustnot):
            if kind in ("phrase", "auto", "wc", "rx", "geo"):
                yield kind, payload
            elif kind == "compound":
                yield from self._iter_phrase_clauses(payload)

    @staticmethod
    def _with_phrase_cols(toks_df, clauses):
        """Materialize one boolean column per phrase/autocomplete
        clause via a single Arrow-batched ``mapInPandas`` pass running
        the ORACLE'S OWN matchers (``mql/search._phrase_matches`` /
        ``_autocomplete_matches``) over the token arrays — distributed,
        match-identical by construction. Returns
        (frame, [column names])."""
        from pyspark.sql import types as T

        names = [f"__rt_ph_{i}" for i in range(len(clauses))]

        def cols_of(kind, payload):
            if kind == "geo":
                # colspecs: ("legacy", path, col) | ("gj", path, cc, tc)
                return [c for cs in payload[0] for c in cs[2:]]
            if kind in ("wc", "rx"):
                if isinstance(payload[2], dict):
                    # r10 index mode: raw cols for token paths + shared
                    # token cols for analyzed-with-allowAnalyzedField
                    return payload[2]["cols"]
                return [fs.name for fs in payload[0]]
            if kind == "auto" and len(payload[2]) > 2:
                # r10 index mode: per-path autocomplete token columns
                return payload[2][2]["cols"]
            return [f"__rt_toks_{fs.name}" for fs in payload[0]]

        specs = [
            (kind, cols_of(kind, payload), payload[1], payload[2])
            for kind, payload in clauses]
        geo_colspecs = {i: payload[0]
                        for i, (kind, payload) in enumerate(clauses)
                        if kind == "geo"}
        out_schema = T.StructType(
            list(toks_df.schema.fields)
            + [T.StructField(n, T.BooleanType()) for n in names])

        def kernel(batches):
            from duckdb_mongo_spark.mql.search import (
                _autocomplete_matches,
                _compile_lucene_regexes,
                _compile_wildcards,
                _eval_geo_shape,
                _eval_geo_within,
                _nest,
                _phrase_matches,
            )

            def _pyval(v):
                import numpy as np
                if isinstance(v, np.ndarray):
                    return v.tolist()
                if isinstance(v, np.generic):
                    return v.item()
                if isinstance(v, (list, tuple)):
                    return [_pyval(x) for x in v]
                return v

            def geo_mask(pdf, i, spec, op):
                # rebuild each path's point value from its flattened
                # columns and run the ORACLE'S OWN evaluator on the
                # re-nested mini-doc — per-path OR == the oracle's
                # multi-path loop (it returns on the first hit)
                ev = (_eval_geo_within if op == "geoWithin"
                      else _eval_geo_shape)
                mask = []
                colspecs = geo_colspecs[i]
                series = {c: pdf[c] for cs in colspecs for c in cs[2:]}
                for r in range(len(pdf)):
                    hit = False
                    for cs in colspecs:
                        if cs[0] == "legacy":
                            val = _pyval(series[cs[2]].iloc[r])
                        else:
                            coords = _pyval(series[cs[2]].iloc[r])
                            typ = series[cs[3]].iloc[r]
                            if coords is None and (
                                    typ is None or typ != typ):
                                continue  # absent field: no points
                            val = {"type": typ, "coordinates": coords}
                        if val is None:
                            continue
                        sp = dict(spec)
                        sp["path"] = cs[1]
                        if ev(sp, _nest(cs[1], val)) is not None:
                            hit = True
                            break
                    mask.append(hit)
                return mask

            wc_pats = {
                i: (_compile_wildcards(sp[2]) if sp[0] == "wc"
                    else _compile_lucene_regexes(sp[2]))
                for i, sp in enumerate(specs) if sp[0] in ("wc", "rx")}

            def match(kind, toks, queries, arg, i):
                if kind in ("wc", "rx"):
                    # raw keyword-field values: scalar string or the
                    # array's string elements, never analyzed
                    vals = (toks if isinstance(toks, str)
                            else [x for x in toks if isinstance(x, str)])
                    if isinstance(vals, str):
                        vals = [vals]
                    return any(p.fullmatch(v)
                               for v in vals for p in wc_pats[i])
                return any(_autocomplete_matches(toks, qt, arg[0], arg[1])
                           for qt in queries)

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out = pdf.copy()
                for j, (n, (kind, cols, queries, arg)) in enumerate(
                        zip(names, specs)):
                    if kind == "geo":
                        out[n] = geo_mask(pdf, j, queries, arg)
                        continue
                    if kind == "auto" and len(arg) > 2:
                        # r10 index mode: query terms are PER PATH
                        # (per-path analyzer + fold + minGrams skip),
                        # aligned positionally with the token columns
                        acq = arg[2]["qterms"]
                        mask = []
                        for row_vals in zip(*[pdf[c] for c in cols]):
                            hit = False
                            for v, qts in zip(row_vals, acq):
                                if v is None:
                                    continue
                                toks = list(v)
                                if any(_autocomplete_matches(
                                        toks, qt, arg[0], arg[1])
                                       for qt in qts):
                                    hit = True
                                    break
                            mask.append(hit)
                        out[n] = mask
                        continue
                    if not cols:
                        # index mode with every path unindexed: the
                        # clause matches nothing (Lucene absent-field
                        # semantics)
                        out[n] = [False] * len(pdf)
                        continue
                    if kind == "phrase":
                        # r11: phrase queries are analyzed PER PATH
                        # (each path's search analyzer), aligned
                        # positionally with the token columns
                        mask = []
                        for row_vals in zip(*[pdf[c] for c in cols]):
                            hit = False
                            for v, qs_p in zip(row_vals, queries):
                                if v is None:
                                    continue
                                toks = list(v)
                                if any(_phrase_matches(toks, ph, arg)
                                       for ph in qs_p):
                                    hit = True
                                    break
                            mask.append(hit)
                        out[n] = mask
                        continue
                    mask = []
                    for row_vals in zip(*[pdf[c] for c in cols]):
                        mask.append(any(
                            match(kind,
                                  v if kind in ("wc", "rx") else list(v),
                                  queries, arg, j)
                            for v in row_vals if v is not None))
                    out[n] = mask
                yield out

        return toks_df.mapInPandas(kernel, schema=out_schema), names

    def _parse_routed_highlight(self, spec):
        """Parse a $search body's ``highlight`` option for the routed
        paths (r12, VERDICT r11 #7): returns ``(paths, maxChars,
        maxNumPassages, sources)`` — the exact arguments the
        interpreter's ``_doc_highlights`` takes (mql/search.py, the
        module-pinned passage contract) — or None to DECLINE to the
        interpreter (malformed spec / non-standard-analyzer path /
        scoreDetails), where the interpreter raises the canonical loud
        error. Passage selection is per-document with no corpus state,
        so the routed plan renders it over the ≤ limit survivors in
        ``_routed_tail`` via the interpreter's OWN function — parity by
        construction."""
        from duckdb_mongo_spark.mql.search import (
            _collect_highlight_sources, _validate_highlight)

        body = dict(spec)
        body.pop("index", None)
        index_payload = body.pop("__indexDefinition__", None)
        hl = body.pop("highlight", None)
        for k in ("tracking", "concurrent", "count", "sort"):
            body.pop(k, None)
        if body.pop("scoreDetails", False) or len(body) != 1:
            return None
        (op, opspec), = body.items()
        try:
            paths, mc, mp = _validate_highlight(hl)
            index = None
            if index_payload is not None:
                from duckdb_mongo_spark.mql.search_index import SearchIndex

                index = SearchIndex.from_payload(index_payload)
                for p in paths:
                    names = index.text_analyzer_names(p)
                    if names != ("lucene.standard", "lucene.standard"):
                        return None  # interpreter raises the pinned error
            sources: dict = {}
            _collect_highlight_sources(op, opspec, sources, index)
        except ValueError:
            return None
        return paths, mc, mp, sources

    def _parse_search_clauses(self, spec, fm):
        """Shared $search/$searchMeta spec parse: a ``compound`` of
        routable clauses, or any single routable operator read as a
        one-clause ``must`` (filter clauses are equals/range/in/exists;
        must/should/mustNot take every clause ``scored_clause`` parses).
        Returns ``(text_must, text_should, cond_filters, mustnot, msm,
        has_must, has_filter, has_should, count_spec)`` or None for
        shapes that need the interpreter."""
        body = dict(spec)
        body.pop("index", None)
        index_payload = body.pop("__indexDefinition__", None)
        if "highlight" in body:
            return None  # r10: searchHighlights meta is interpreter-only
        body.pop("tracking", None)    # telemetry no-op, like the oracle
        body.pop("concurrent", None)  # parallelism hint, always on here
        count_spec = body.pop("count", None)
        if count_spec is not None and not isinstance(count_spec, dict):
            return None
        if body.pop("scoreDetails", False):
            return None  # interpreter raises the loud unsupported error
        if len(body) != 1:
            return None
        (op, opspec), = body.items()
        if not isinstance(opspec, dict):
            return None
        # r10: a search-index definition (mql/search_index) may change
        # operator semantics. The synonyms/matchCriteria REWRITE is the
        # same one the interpreter executes (parity by construction);
        # afterwards, routes_default verifies the definition leaves
        # every clause at the engine-contract default — anything else
        # declines, and the interpreter runs the index-aware semantics
        # (or raises the spec's loud error).
        from duckdb_mongo_spark.mql.search_index import (
            SearchIndex, Unroutable, rewrite_spec_tree,
            text_route_analyzers)

        index = None
        if index_payload is not None:
            try:
                index = SearchIndex.from_payload(index_payload)
            except ValueError:
                return None  # interpreter raises the loud error
        try:
            op, opspec = rewrite_spec_tree(op, opspec, index)
        except (ValueError, Unroutable):
            return None
        if index_payload is not None:
            # r10 analyzer routing (r11: per-path pairs): "default"
            # keeps the verified routed compilation unchanged; "custom"
            # routes with query terms analyzed per (clause, path) by
            # that path's search analyzer and corpus tokens from each
            # path's index-analyzer CPython fn (oracle-fn Arrow pass —
            # parity by construction, RoutedIndexCtx); anything else
            # declines to the index-aware interpreter. Stashed on self:
            # the clause parsers and token producers below consult it
            # (recursive nested-compound parses carry no payload and
            # leave it).
            from duckdb_mongo_spark.mql.search_index import RoutedIndexCtx

            mode, _ = text_route_analyzers(index, op, opspec)
            if mode == "decline":
                self._rt_analyzer = None
                return None
            self._rt_analyzer = (RoutedIndexCtx(index)
                                 if mode == "custom" else None)
        if op == "queryString":
            op, opspec = self._translate_query_string(opspec)
            if op is None:
                return None
        if op == "moreLikeThis":
            op, opspec = self._translate_mlt(opspec)
            if op is None:
                return None

        def _as_list(v):
            if v is None:
                return []
            return [v] if isinstance(v, dict) else list(v)

        text_must, text_should, cond_filters, mustnot = [], [], [], []
        msm = 0

        def scored_clause(cl):
            """must/should/mustNot clause -> ("text", (fspecs, terms))
            for BM25 scoring, ("cond", Column) for a constant-score-1.0
            operator (equals/range/in/exists — the oracle's 1.0),
            ("phrase", (fspecs, phrases, slop)) for a constant-score
            phrase (match column precomputed by one mapInPandas pass),
            ("compound", parsed-subtree) for a nested compound, or
            None."""
            if not (isinstance(cl, dict) and len(cl) == 1):
                return None
            if "text" in cl:
                tc = self._parse_text_clause(cl["text"], fm)
                return None if tc is None else ("text", tc)
            if "phrase" in cl:
                pc = self._parse_phrase_clause(cl["phrase"], fm)
                return None if pc is None else ("phrase", pc)
            if "autocomplete" in cl:
                ac = self._parse_autocomplete_clause(cl["autocomplete"], fm)
                return None if ac is None else ("auto", ac)
            if "near" in cl:
                nc = self._parse_near_clause(cl["near"], fm)
                return None if nc is None else ("near", nc)
            if "wildcard" in cl:
                wc = self._parse_wildcard_clause(cl["wildcard"], fm)
                return None if wc is None else ("wc", wc)
            if "regex" in cl:
                rx = self._parse_wildcard_clause(cl["regex"], fm, op="regex")
                return None if rx is None else ("rx", rx)
            if "queryString" in cl:
                top, tspec = self._translate_query_string(cl["queryString"])
                return None if top is None else scored_clause({top: tspec})
            if "moreLikeThis" in cl:
                top, tspec = self._translate_mlt(cl["moreLikeThis"])
                return None if top is None else scored_clause({top: tspec})
            if "compound" in cl:
                sub = self._parse_search_clauses(
                    {"compound": cl["compound"]}, fm)
                return None if sub is None else ("compound", sub)
            if "embeddedDocument" in cl:
                ec = self._parse_embedded_clause(cl["embeddedDocument"], fm)
                return None if ec is None else ("embdoc", ec)
            if "geoWithin" in cl or "geoShape" in cl:
                gc = self._parse_geo_clause(cl, fm)
                return None if gc is None else ("geo", gc)
            c = self._search_filter_cond(cl, fm)
            return None if c is None else ("cond", c)  # (Column, mod)

        if op != "compound":
            # a bare operator is a one-clause must: a must's score IS the
            # clause score, so every operator has one parse and one plan
            opspec = {"must": [{op: opspec}]}
        known = {"must", "should", "mustNot", "filter", "minimumShouldMatch"}
        if set(opspec) - known:
            return None
        msm = int(opspec.get("minimumShouldMatch", 0))
        for cl in _as_list(opspec.get("must")):
            sc = scored_clause(cl)
            if sc is None:
                return None
            text_must.append(sc)
        for cl in _as_list(opspec.get("should")):
            sc = scored_clause(cl)
            if sc is None:
                return None
            text_should.append(sc)
        for cl in _as_list(opspec.get("filter")):
            c = self._search_filter_cond(cl, fm)
            if c is None:
                return None
            cond_filters.append(c[0])  # mod parsed, never scores
        for cl in _as_list(opspec.get("mustNot")):
            sc = scored_clause(cl)
            if sc is None:
                return None
            mustnot.append(sc)
        has_must = bool(opspec.get("must"))
        has_filter = bool(opspec.get("filter"))
        has_should = bool(text_should)
        return (text_must, text_should, cond_filters, mustnot, msm,
                has_must, has_filter, has_should, count_spec)

    def _raw_prefilter(self, parsed, max_terms: int = 16,
                       dfs: dict | None = None, n_docs: int | None = None,
                       max_frac: float = 0.3):
        """Necessary-condition prefilter over the RAW string columns for
        the pass-2 scored scan (r12, cold-path cost cut): the JVM
        tokenizer is lowercase + split, so every token is a SUBSTRING of
        ``lower(raw)`` — ``lower(col).contains(term)`` is implied by
        term containment in the token array, and a conjunction of the
        match condition's required text hits can be over-approximated on
        the raw columns. Catalyst pushes the resulting filter below the
        tokenize/score projections to the scan, so non-candidate rows
        skip the regex split and the BM25 expression entirely (the exact
        containment/score conditions still run on survivors — the
        prefilter can only DROP rows the match condition would drop).

        Soundness gates (returns None otherwise):
        - JVM-tokenized pass only (callers check ``use_arrow`` is False
          and no custom analyzer): a custom/oracle analyzer may emit
          tokens that are not substrings of the raw value (stemming,
          case folding off the JVM's tables).
        - scalar string paths only — array paths would need a per-
          element exists() for no measured win.
        - anchored on clauses the match REQUIRES: every must text
          clause (AND of per-clause term ORs), else the pure-should /
          msm>=1 at-least-one rule over all-text should clauses.
        - total term count <= ``max_terms``: a fuzzy expansion's
          hundreds of contains() scans would cost more than the
          tokenize they avoid.
        - SELECTIVE enough to pay for itself: the pass-1 statistics (or
          the sidecar) carry each term's exact document frequency, so
          the candidate fraction is bounded by sum(df)/N per anchor
          clause (union bound; AND of must clauses takes the min).
          Above ``max_frac`` the filter would scan every value's bytes
          only to keep ~everything — measured +46% on a corpus where
          96% of docs contain a query term — so it is skipped. This is
          stats-driven planning, not a guess: the numbers come from the
          same aggregate the scoring pass already requires."""
        from duckdb_mongo_spark.schema.types import is_list

        (text_must, text_should, _cf, _mn, msm,
         has_must, has_filter, _hs, _cs) = parsed

        def clause_terms(payload):
            """[(field, dedup'd terms)] for one text clause, or None if
            the clause is ineligible (array path)."""
            fss, terms_by_path, _mod = payload
            pairs = []
            for fs, terms in zip(fss, terms_by_path):
                terms = [t for t in dict.fromkeys(terms) if t]
                if not terms:
                    continue
                if is_list(fs.type):
                    return None
                pairs.append((fs, terms))
            return pairs or None

        def clause_bound(pairs):
            if dfs is None:
                return 0
            return sum(dfs.get((fs.name, t), 0)
                       for fs, terms in pairs for t in terms)

        def clause_cost(pairs):
            return sum(len(terms) for _fs, terms in pairs)

        def clause_col(pairs):
            c = None
            for fs, terms in pairs:
                low = F.lower(F.coalesce(F.col(fs.name), F.lit("")))
                for t in terms:
                    tc = low.contains(t)
                    c = tc if c is None else (c | tc)
            return c

        def selective(bound):
            return not (n_docs and dfs is not None
                        and bound > max_frac * n_docs)

        if has_must:
            infos = []
            for k, p in text_must:
                if k != "text":
                    continue
                pairs = clause_terms(p)
                if pairs is not None:
                    infos.append((clause_bound(pairs), clause_cost(pairs),
                                  pairs))
            if not infos:
                return None
            # AND of necessary conditions: the TIGHTEST clause bounds
            # the candidate set — keep only clauses that earn their scan
            best = min(b for b, _c, _p in infos)
            if not selective(best):
                return None
            # most-selective clauses spend the term budget first: with
            # iteration-order spending a wide non-selective clause
            # listed first could exhaust the budget and starve a cheap
            # selective one (ADVICE r12)
            out = None
            budget = max_terms
            for b, cost, pairs in sorted(infos, key=lambda t: (t[0], t[1])):
                if not selective(b) or cost > budget:
                    continue
                budget -= cost
                c = clause_col(pairs)
                out = c if out is None else (out & c)
            return out
        # pure-should at-least-one rule (need = max(1, msm) without
        # must/filter; msm alone still forces >= 1 text hit) — only
        # sound when EVERY should clause is text (any other kind could
        # carry the hit for a row the term filter would drop)
        need = msm if has_filter else max(1, msm)
        if text_should and need >= 1 \
                and all(k == "text" for k, _p in text_should):
            # soundness needs EVERY should clause present in the OR, so
            # the budget is all-or-nothing here — no ordering to fix
            parts, total_cost, total_bound = [], 0, 0
            for _k, p in text_should:
                pairs = clause_terms(p)
                if pairs is None:
                    return None
                total_cost += clause_cost(pairs)
                total_bound += clause_bound(pairs)
                parts.append(pairs)
            if total_cost > max_terms:
                return None
            # OR of the clauses: the union bound is the SUM of bounds
            if not selective(total_bound):
                return None
            out = clause_col(parts[0])
            for pairs in parts[1:]:
                out = out | clause_col(pairs)
            return out
        return None

    @staticmethod
    def _overlap_cond(fss, terms_by_path):
        """Term CONTAINMENT over the tokenized frame — equivalent to
        BM25 > 0 (idf is always positive and norm >= k1*(1-b) > 0, so a
        text clause scores > 0 iff any query term appears in any of its
        paths). ``terms_by_path`` is parallel to ``fss`` (r11 per-path
        search analyzers); a path whose term list is empty can never
        match there. Never null (token arrays coalesce to empty)."""
        c = F.lit(False)
        for fs, terms in zip(fss, terms_by_path):
            if not terms:
                continue
            tarr = F.array(*[F.lit(t) for t in dict.fromkeys(terms)])
            c = c | F.arrays_overlap(F.col(f"__rt_toks_{fs.name}"), tarr)
        return c

    def _build_compound(self, parsed, clause_score, phrase_cols=None,
                        embdoc_cols=None):
        """Compile a parsed $search tree (``_parse_search_clauses``,
        nested compounds included) to ``(score, match)`` Columns with
        the oracle's ``_eval_compound`` semantics: must clauses all
        match and their scores sum; should clauses add their score when
        they hit and count toward minimumShouldMatch (pure-should needs
        at least one hit per LEVEL); filter/mustNot gate without
        scoring; condition clauses score the constant 1.0; a nested
        compound contributes its own (score, match) pair. ``clause_score``
        maps a text clause to its BM25 Column — pass None for the
        containment-only mode (count aggregation: matching matters,
        score values never do)."""
        (text_must, text_should, cond_filters, mustnot, msm,
         has_must, has_filter, _has_should, _cs) = parsed

        def apply_mod(score, mod):
            # boost multiplies the matched clause's score (by a value
            # or a doc-path Column), constant replaces it, func runs
            # the compiled expression (clamped at 0 like the oracle);
            # matching is decided on the UN-modified base (the oracle
            # mods only non-None scores)
            if mod is None:
                return score
            kind, v = mod
            if kind == "boost":
                return score * F.lit(v)
            if kind == "boost_col":
                return score * v
            if kind == "func":
                fx = v(score)
                return F.when(fx > 0.0, fx).otherwise(F.lit(0.0))
            return F.lit(v)

        def hit_and_score(kind, payload):
            if kind == "text":
                fss, terms, mod = payload
                if clause_score is None:
                    return self._overlap_cond(fss, terms), F.lit(0.0)
                cs = clause_score(fss, terms)
                # r11: the hit condition is term CONTAINMENT, not
                # score > 0 — equivalent by the documented BM25 > 0 ⟺
                # any-term-present identity (idf > 0, norm > 0), but a
                # filter on the aliased score column forces Catalyst to
                # substitute and re-evaluate the whole BM25 expression
                # in the Filter (HOFs get no subexpression elimination)
                # — measured 2.3x slower on the sf10 scoring pass
                return self._overlap_cond(fss, terms), apply_mod(cs, mod)
            if kind == "cond":
                ccol, cmod = payload
                return ccol, apply_mod(F.lit(1.0), cmod)
            if kind in ("phrase", "auto", "wc", "rx", "geo"):
                # match column precomputed by _with_phrase_cols; the
                # oracle scores phrase/autocomplete/wildcard/geo
                # matches 1.0 before modifiers
                return (F.col(phrase_cols[id(payload)]),
                        apply_mod(F.lit(1.0), payload[3]))
            if kind == "near":
                cs = self._near_score_col(payload)
                if clause_score is None:
                    return cs.isNotNull(), F.lit(0.0)
                return cs.isNotNull(), apply_mod(
                    F.coalesce(cs, F.lit(0.0)), payload[3])
            if kind == "embdoc":
                # score.embedded (aggregate + outerScore) is applied
                # inside the prepared columns, like the oracle's
                # _eval_clause skipping the generic score mod
                s_col, m_col = embdoc_cols[id(payload)]
                if clause_score is None:
                    return m_col, F.lit(0.0)
                return m_col, s_col
            return tuple(reversed(self._build_compound(
                payload, clause_score, phrase_cols, embdoc_cols)))

        total = F.lit(0.0)
        cond = F.lit(True)
        for kind, payload in text_must:
            h, s = hit_and_score(kind, payload)
            cond = cond & h
            total = total + s
        if text_should:
            matched = F.lit(0)
            for kind, payload in text_should:
                h, s = hit_and_score(kind, payload)
                total = total + F.when(h, s).otherwise(F.lit(0.0))
                matched = matched + F.when(h, F.lit(1)).otherwise(F.lit(0))
            need = msm
            if not has_must and not has_filter:
                need = max(1, need)  # pure-should: at least one hit
            if need > 0:
                cond = cond & (matched >= need)
        for c in cond_filters:
            cond = cond & c
        for kind, payload in mustnot:
            if kind == "text":
                cond = cond & ~self._overlap_cond(payload[0], payload[1])
            elif kind == "cond":
                cond = cond & F.coalesce(~payload[0], F.lit(True))
            elif kind in ("phrase", "auto", "wc", "rx", "geo"):
                cond = cond & ~F.col(phrase_cols[id(payload)])
            elif kind == "near":
                cond = cond & self._near_score_col(payload).isNull()
            elif kind == "embdoc":
                cond = cond & F.coalesce(
                    ~embdoc_cols[id(payload)][1], F.lit(True))
            else:  # nested compound: pass when the subtree does NOT match
                _s, sub_cond = self._build_compound(
                    payload, clause_score, phrase_cols, embdoc_cols)
                cond = cond & F.coalesce(~sub_cond, F.lit(True))
        return total, cond

    def _iter_all_clauses(self, parsed):
        """Every (kind, payload) clause anywhere in the parsed tree
        (nested compounds flattened)."""
        (text_must, text_should, _cf, mustnot, *_rest) = parsed
        for kind, payload in text_must + text_should + list(mustnot):
            if kind == "compound":
                yield from self._iter_all_clauses(payload)
            else:
                yield kind, payload

    def _constant_score(self, parsed):
        """True when every document the tree matches gets the same
        score: no should clause (a hit adds per document) and every
        must clause, nested compounds included, is a constant-score
        kind (condition, phrase, autocomplete, wildcard, regex, geo)
        without a ``boost.path`` or ``function`` modifier. filter and
        mustNot clauses never score."""
        text_must, text_should = parsed[0], parsed[1]
        if text_should:
            return False
        for kind, payload in text_must:
            if kind == "compound":
                if not self._constant_score(payload):
                    return False
                continue
            if kind == "cond":
                mod = payload[1]
            elif kind in ("phrase", "auto", "wc", "rx", "geo"):
                mod = payload[3]
            else:
                return False  # text, near, embeddedDocument
            if mod is not None and mod[0] in ("boost_col", "func"):
                return False
        return True

    def _iter_text_clauses(self, parsed):
        """Every text clause anywhere in the parsed tree (must/should/
        mustNot, nested compounds included) — drives token columns,
        corpus statistics, and the multibyte detector."""
        (text_must, text_should, _cf, mustnot, *_rest) = parsed
        for kind, payload in text_must + text_should + list(mustnot):
            if kind == "text":
                yield payload
            elif kind == "compound":
                yield from self._iter_text_clauses(payload)

    def _token_fspecs(self, parsed):
        """Field specs of every path whose ``__rt_toks_<name>`` column
        the parsed tree reads, deduplicated in walk order: text clause
        paths, then phrase/autocomplete paths. Wildcard/regex/geo match
        raw values and add none, EXCEPT index-mode allowAnalyzedField
        wildcard/regex, which match the analyzed token columns too
        (r10); index-mode autocomplete brings its own per-path
        columns."""
        fspecs, seen = [], set()
        groups = [fss for fss, _t, _m in self._iter_text_clauses(parsed)]
        for kind, (fss, _q, arg, _m) in self._iter_phrase_clauses(parsed):
            if kind in ("wc", "rx") and isinstance(arg, dict):
                groups.append(arg["toks_fs"])
            elif kind == "phrase" or (kind == "auto" and len(arg) <= 2):
                groups.append(fss)
        for fss in groups:
            for fs in fss:
                if fs.name not in seen:
                    seen.add(fs.name)
                    fspecs.append(fs)
        return fspecs

    def _route_search_meta(self, spec, coll_schema):
        """Distributed ``$searchMeta``: one aggregate job counts the
        corpus-wide matches of a routable text/compound shape (term
        containment stands in for BM25 > 0) and returns the stage's
        single output document ``{"count": {"total": N}}`` for the
        remaining stages to interpret. Multibyte corpora route too
        (r8): the multibyte detector rides the first job, and a flagged
        corpus recounts over oracle-analyzer tokens instead of falling
        back. Returns None for unroutable shapes (the guarded
        interpreter path then runs)."""
        fm = {f.mongo_path: f for f in coll_schema.fields}
        body = dict(spec)
        body.pop("index", None)
        idx_payload = body.pop("__indexDefinition__", None)
        if set(body) == {"facet"}:
            facet = body["facet"]
            if idx_payload is not None:
                # r10 (r11: custom analyzers route too): facet bucket
                # collection is index-independent (the pinned
                # facet_meta contract reads stored values); the INNER
                # operator routes under the same analyzer gate as
                # $search — default keeps the verified compilation,
                # custom stashes the per-path ctx the facet matcher's
                # clause parsers consult, anything else declines to the
                # index-aware interpreter
                from duckdb_mongo_spark.mql.search_index import (
                    RoutedIndexCtx, SearchIndex, Unroutable,
                    rewrite_spec_tree, text_route_analyzers)
                inner = facet.get("operator") if isinstance(facet, dict) \
                    else None
                try:
                    index = SearchIndex.from_payload(idx_payload)
                except ValueError:
                    return None  # interpreter raises the loud error
                self._rt_analyzer = None
                if isinstance(inner, dict) and len(inner) == 1:
                    try:
                        (iop, ispec), = inner.items()
                        iop, ispec = rewrite_spec_tree(iop, ispec, index)
                        mode, _ = text_route_analyzers(index, iop, ispec)
                        if mode == "decline":
                            return None
                        self._rt_analyzer = (RoutedIndexCtx(index)
                                             if mode == "custom" else None)
                        facet = {**facet, "operator": {iop: ispec}}
                    except (ValueError, Unroutable):
                        return None
            return self._route_facet_meta(facet, coll_schema, fm)
        self._rt_lc_fs = {}
        spec = self._expand_fuzzy_text(spec, coll_schema, fm)
        parsed = self._parse_search_clauses(spec, fm)
        if parsed is None:
            return None
        if any(k == "embdoc" for k, _p in self._iter_all_clauses(parsed)):
            return None  # meta counts with embedded clauses: interpreter
        all_text = list(self._iter_text_clauses(parsed))
        phrase_clauses = list(self._iter_phrase_clauses(parsed))
        if not all_text and not phrase_clauses:
            return None  # condition-only: nothing to tokenize — interpreter
        fspecs = self._token_fspecs(parsed)
        bdf = self._base_df(coll_schema)
        custom_an = getattr(self, "_rt_analyzer", None)
        ac_specs = self._ac_token_specs(phrase_clauses)
        lc_specs = self._lc_specs()
        mb_known, mb_any = self._mb_lookup(fspecs)

        def matched_total(arrow, detect):
            tdf = (self._with_oracle_tokens(
                       bdf, fspecs,
                       analyze=self._ctx_index_fns(custom_an, fspecs),
                       extra_specs=ac_specs + lc_specs)
                   if arrow
                   else bdf.select(
                       *bdf.columns,
                       *[self._tokens_of(fs).alias(f"__rt_toks_{fs.name}")
                         for fs in fspecs]))
            pmap = {}
            if phrase_clauses:
                tdf, _ph = self._with_phrase_cols(tdf, phrase_clauses)
                pmap = {id(p): n for (_k, p), n in zip(phrase_clauses, _ph)}
            _score, match_cond = self._build_compound(parsed, None, pmap)
            aggs = [F.sum(F.when(match_cond, 1).otherwise(0))
                    .alias("__matched")]
            if detect:
                aggs += [self._nonascii_agg(fs) for fs in fspecs]
            return tdf.agg(*aggs).collect()[0].asDict()

        use_arrow = (mb_any or custom_an is not None
                     or bool(ac_specs) or bool(lc_specs))
        stats = matched_total(use_arrow, detect=not use_arrow and not mb_known)
        if not use_arrow and not mb_known:
            self._mb_store(fspecs, stats)
            if any(stats.get(f"__nonascii_{fs.name}") for fs in fspecs):
                # multibyte corpus: recount over oracle-analyzer tokens
                stats = matched_total(True, detect=False)
        return [{"count": {"total": int(stats["__matched"] or 0)}}]

    def _route_facet_meta(self, facet_spec, coll_schema, fm):
        """Distributed ``$searchMeta {facet}`` (r8): ALL facets compute
        in ONE explode + ONE groupBy shuffle — each matching row emits
        (facet, bucket-key) entries (string values / array elements
        verbatim; numeric values bucketed by a boundary when-chain;
        a per-doc sentinel carries the match count), the grouped counts
        are windowed to each facet's bucket cap, and the driver
        assembles the oracle-shaped result document
        (``mql/search.facet_meta`` pins the semantics). Returns the
        one-doc list for the remaining stages to interpret, or None for
        shapes that keep the guarded interpreter (unroutable operator,
        date facets — timezone parity not pinned — or paths outside the
        resolved schema)."""
        from pyspark.sql import Window

        from duckdb_mongo_spark.schema.types import is_list

        if not isinstance(facet_spec, dict) \
                or not isinstance(facet_spec.get("facets"), dict) \
                or not facet_spec["facets"]:
            return None  # malformed: the interpreter raises loudly

        numeric_types = ("DOUBLE", "BIGINT", "INTEGER", "INT", "FLOAT",
                         "SMALLINT", "TINYINT", "HUGEINT")
        plans = []  # (name, kind, fs, spec-extras)
        caps = []
        for name, fs_spec in facet_spec["facets"].items():
            if not isinstance(fs_spec, dict):
                return None
            ftype = fs_spec.get("type")
            path = fs_spec.get("path")
            fs = fm.get(path) if isinstance(path, str) else None
            if fs is None:
                return None  # unknown path: interpreter decides
            if ftype == "string":
                if not (fs.type == "VARCHAR" or (
                        is_list(fs.type) and fs.type[1] == "VARCHAR")):
                    return None
                nb = int(fs_spec.get("numBuckets", 10))
                plans.append((name, "string", fs, nb))
                caps.append(nb)
            elif ftype in ("number", "date"):
                import datetime as _dt

                bounds = fs_spec.get("boundaries")
                ok_b = (lambda b: isinstance(b, _dt.datetime)) \
                    if ftype == "date" else \
                    (lambda b: not isinstance(b, bool)
                     and isinstance(b, (int, float)))
                if not isinstance(bounds, list) or len(bounds) < 2 \
                        or any(not ok_b(b) for b in bounds) \
                        or any(not bounds[i] < bounds[i + 1]
                               for i in range(len(bounds) - 1)):
                    return None  # bad boundaries: interpreter raises
                if ftype == "date":
                    # UTC session timezone: unix_micros(col) equals the
                    # oracle's exact integer-microsecond arithmetic;
                    # scalar TIMESTAMP columns only
                    if fs.type != "TIMESTAMP":
                        return None
                else:
                    scalar_num = fs.type in numeric_types
                    list_num = (is_list(fs.type)
                                and fs.type[1] in numeric_types)
                    if not (scalar_num or list_num):
                        return None
                plans.append((name, ftype, fs,
                              (bounds, "default" in fs_spec)))
                caps.append(len(bounds))
            else:
                return None  # unknown facet type: interpreter raises
        op = facet_spec.get("operator")
        parsed = None
        self._rt_lc_fs = {}  # per-parse registry; never stale state
        if op is not None:
            if not (isinstance(op, dict) and len(op) == 1):
                return None
            parsed = self._parse_search_clauses(dict(op), fm)
            if parsed is None:
                return None

        bdf = self._base_df(coll_schema)

        def facet_entries():
            """One array<struct<f,k>> per facet; string keys verbatim,
            numeric keys = bucket index ("__d" = default/out-of-range,
            dropped later unless the facet names a default)."""
            arrays = []

            def _entry_of(nm):
                # NB: pyspark reads a second lambda parameter as the
                # element INDEX — close over the name via a factory,
                # never a default arg
                return lambda x: F.struct(
                    F.lit(nm).alias("f"), x.alias("k"))

            for name, kind, fs, extra in plans:
                col = F.col(fs.name)
                if kind == "string":
                    if is_list(fs.type):
                        # null ELEMENTS never count (the oracle's
                        # isinstance(x, str) guard)
                        arrays.append(F.filter(
                            F.transform(F.coalesce(col, F.array()),
                                        _entry_of(name)),
                            lambda e: e["k"].isNotNull()))
                    else:
                        arrays.append(F.when(col.isNull(), F.array())
                                      .otherwise(F.array(F.struct(
                                          F.lit(name).alias("f"),
                                          col.alias("k")))))
                    continue
                bounds, _has_dflt = extra
                if kind == "date":
                    from duckdb_mongo_spark.mql.search import _dt_micros

                    bvals = [_dt_micros(b) for b in bounds]
                else:
                    bvals = bounds

                def bucket_key(x, _b=bvals, _date=(kind == "date")):
                    if _date:
                        x = F.unix_micros(x)
                    k = F.when(x.isNull(), F.lit(None))
                    k = k.when(x < F.lit(_b[0]), F.lit("__d"))
                    for i in range(1, len(_b)):
                        k = k.when(x < F.lit(_b[i]), F.lit(str(i - 1)))
                    return k.otherwise(F.lit("__d"))

                def _num_entry_of(nm, bk):
                    return lambda x: F.struct(
                        F.lit(nm).alias("f"), bk(x).alias("k"))

                if is_list(fs.type):
                    arrays.append(F.filter(
                        F.transform(F.coalesce(col, F.array()),
                                    _num_entry_of(name, bucket_key)),
                        lambda e: e["k"].isNotNull()))
                else:
                    arrays.append(
                        F.when(bucket_key(col).isNull(), F.array())
                        .otherwise(F.array(F.struct(
                            F.lit(name).alias("f"),
                            bucket_key(col).alias("k")))))
            # per-doc sentinel: the matched total (count.lowerBound)
            arrays.append(F.array(F.struct(
                F.lit("__doc").alias("f"), F.lit("").alias("k"))))
            return F.concat(*arrays)

        custom_an = getattr(self, "_rt_analyzer", None)

        def run_counts(arrow):
            tdf = bdf
            match_cond = F.lit(True)
            if parsed is not None:
                fspecs = self._token_fspecs(parsed)
                phrase_clauses = list(self._iter_phrase_clauses(parsed))
                ac_specs = self._ac_token_specs(phrase_clauses)
                lc_specs = self._lc_specs()
                if fspecs or ac_specs or lc_specs:
                    tdf = (self._with_oracle_tokens(
                               bdf, fspecs,
                               analyze=self._ctx_index_fns(
                                   custom_an, fspecs),
                               extra_specs=ac_specs + lc_specs)
                           if arrow
                           else bdf.select(
                               *bdf.columns,
                               *[self._tokens_of(fs)
                                 .alias(f"__rt_toks_{fs.name}")
                                 for fs in fspecs]))
                pmap = {}
                if phrase_clauses:
                    tdf, _ph = self._with_phrase_cols(tdf, phrase_clauses)
                    pmap = {id(p): n
                            for (_k, p), n in zip(phrase_clauses, _ph)}
                _s, match_cond = self._build_compound(parsed, None, pmap)
                if not arrow and fspecs:
                    mb_known, mb_any = self._mb_lookup(fspecs)
                    if mb_any:
                        return None  # caller re-runs with arrow tokens
                    if not mb_known:
                        stats = bdf.agg(*[self._nonascii_agg(fs)
                                          for fs in fspecs]) \
                            .collect()[0].asDict()
                        self._mb_store(fspecs, stats)
                        if any(stats.get(f"__nonascii_{fs.name}")
                               for fs in fspecs):
                            return None
            cap = max(caps) + 1
            w = Window.partitionBy("f").orderBy(
                F.col("count").desc(), F.col("k").asc())
            rows = (tdf.where(match_cond)
                    .select(F.explode(facet_entries()).alias("e"))
                    .select(F.col("e.f").alias("f"), F.col("e.k").alias("k"))
                    .groupBy("f", "k").agg(F.count(F.lit(1)).alias("count"))
                    .withColumn("__rn", F.row_number().over(w))
                    .where((F.col("__rn") <= cap) | (F.col("k") == "__d"))
                    .collect())
            return rows

        force_arrow = custom_an is not None or bool(self._lc_specs())
        rows = run_counts(force_arrow)
        if rows is None:
            rows = run_counts(True)  # multibyte corpus: oracle tokens
        by_facet: dict = {}
        total = 0
        for r in rows:
            if r["f"] == "__doc":
                total = int(r["count"])
            else:
                by_facet.setdefault(r["f"], {})[r["k"]] = int(r["count"])
        out_facets = {}
        for name, kind, _fs, extra in plans:
            counts = by_facet.get(name, {})
            if kind == "string":
                top = sorted(counts.items(),
                             key=lambda t: (-t[1], t[0]))[:extra]
                out_facets[name] = {"buckets": [
                    {"_id": k, "count": n} for k, n in top]}
            else:
                bounds, has_dflt = extra
                buckets = [{"_id": bounds[i],
                            "count": counts.get(str(i), 0)}
                           for i in range(len(bounds) - 1)]
                if has_dflt:
                    buckets.append(
                        {"_id": facet_spec["facets"][name]["default"],
                         "count": counts.get("__d", 0)})
                out_facets[name] = {"buckets": buckets}
        return [{"count": {"lowerBound": total}, "facet": out_facets}]

    def _route_search_text(self, spec, coll_schema):
        """Distributed stage-1 ``$search`` followed by ``$limit``, for
        every operator tree ``_parse_search_clauses`` accepts: a bare
        operator is a one-clause ``must``, so text, phrase,
        autocomplete, near, wildcard, regex, geo, embeddedDocument and
        equals/range/in/exists compile through this one plan, alone or
        inside ``compound`` (must/should scores sum, Lucene-style;
        filter/mustNot gate; ``minimumShouldMatch`` and the pure-should
        at-least-one rule compile to a matched-clause counter).

        Pass 1 is one aggregate job, run only when the tree has a text
        clause or a ``count``: the corpus statistics (N, per-path total
        token length, per-(path, term) doc frequency — all bounded by
        the query's term count; a committed text-stats sidecar replaces
        it) and the containment-based matched total for the $meta count
        slot. idf values are computed driver-side in Python (same
        ``math.log`` as the interpreter oracle, ``mql/search.py``) and
        enter the plan as literals, so the JVM side only performs
        IEEE-deterministic +*/ in the interpreter's exact association
        order — scores match the single-stream oracle bit-for-bit
        (multibyte corpora tokenize through the oracle's own analyzer —
        r8). Pass 2 is the scored scan with a distributed top-k; when
        every match scores the same (``_constant_score``) and there is
        no ``sort``, it is a plain limit, ties being unspecified.

        Returns None (interpreter fallback) without a following
        ``$limit``, for clauses outside the routed subset, and for a
        ``count`` pass 1 cannot carry (a tree without shared token
        columns, or with embedded or per-path gram clauses)."""
        import math

        from duckdb_mongo_spark.mql.search import _B, _K1

        fm = {f.mongo_path: f for f in coll_schema.fields}
        # the routed form needs a following $limit to bound the collect
        # (checked before the fuzzy rewrite so an unroutable pipeline
        # never pays the term-dictionary job)
        nxt = (self.manual_pipeline[1]
               if len(self.manual_pipeline) > 1 else None)
        if not (isinstance(nxt, dict) and len(nxt) == 1
                and next(iter(nxt)) == "$limit"):
            return None
        limit = int(nxt["$limit"])
        if isinstance(spec, dict) and "highlight" in spec:
            # r12: highlight routes — sources parsed from the ORIGINAL
            # spec (pre fuzzy expansion, like the interpreter), passages
            # rendered per survivor in _routed_tail; decline hands the
            # interpreter its canonical loud error on bad specs
            hlp = self._parse_routed_highlight(spec)
            if hlp is None:
                return None
            self._rt_highlight = hlp
            spec = {k: v for k, v in spec.items() if k != "highlight"}
        sort_cols = None
        if isinstance(spec, dict) and "sort" in spec:
            sort_cols = self._translate_search_sort(spec["sort"], fm)
            if sort_cols is None:
                return None  # unsortable shape — interpreter (exact/loud)
            spec = {k: v for k, v in spec.items() if k != "sort"}
        self._rt_lc_fs = {}
        spec = self._expand_fuzzy_text(spec, coll_schema, fm)
        parsed = self._parse_search_clauses(spec, fm)
        if parsed is None:
            return None
        count_spec = parsed[-1]
        if not any(parsed[:4]):
            return None  # no clause at all: the interpreter decides
        # union of every token path anywhere in the tree (scoring,
        # mustNot and nested compounds — token parity matters for
        # containment too); idf stats are computed for the text paths (a
        # mustNot text clause's pairs are unused but harmless)
        all_text = list(self._iter_text_clauses(parsed))
        phrase_clauses = list(self._iter_phrase_clauses(parsed))
        embdoc_clauses = list(self._iter_embdoc_clauses(parsed))
        has_near = any(
            k in ("near", "wc", "rx")
            for k, _p in self._iter_all_clauses(parsed))
        fspecs = self._token_fspecs(parsed)
        ac_specs = self._ac_token_specs(phrase_clauses)
        if count_spec is not None and (
                not fspecs or embdoc_clauses or ac_specs):
            # the matched total rides pass 1 over the shared token
            # columns: a tree without any, or with embedded or per-path
            # gram clauses, counts on the interpreter
            return None
        # pass 1 (one aggregate job) exists for BM25 statistics and the
        # count total; without a text clause or a count it is skipped
        need_stats = bool(all_text) or count_spec is not None
        # (path, term) pairs that need document frequencies — per-path
        # term lists (r11): each path's search analyzer decides which
        # terms need a df on that path
        df_pairs = []
        seen_pairs = set()
        for fss, terms_by_path, _mod in all_text:
            for fs, terms in zip(fss, terms_by_path):
                for t in dict.fromkeys(terms):
                    if (fs.name, t) not in seen_pairs:
                        seen_pairs.add((fs.name, t))
                        df_pairs.append((fs, t))
        bdf = self._base_df(coll_schema)
        embdoc_cols = {}
        if embdoc_clauses:
            self._rt_eltok_cols = []
            for pe in embdoc_clauses:
                prep = self._prepare_embedded_cols(pe, bdf)
                if prep is None:
                    return None  # uncovered element path — interpreter
                bdf, s_col, m_col = prep
                embdoc_cols[id(pe)] = (s_col, m_col)
        custom_an = getattr(self, "_rt_analyzer", None)
        # r11: a committed statistics sidecar (ops/text_index — the
        # local stand-in for the server-side Lucene index state the
        # reference's $search passthrough relies on) replaces the
        # pass-1 corpus aggregate entirely: N / total length from
        # meta.json, per-(path, term) document frequency from a
        # term-range-pruned parquet read. Fingerprint-keyed, so a
        # rewritten collection misses and the live pass runs unchanged.
        # count specs keep the live pass — the matched total is a
        # corpus scan by definition.
        sidecar_stats = None
        if all_text and count_spec is None:
            sidecar_stats = self._text_stats_lookup(fspecs, df_pairs)
        mb_known, mb_any = self._mb_lookup(fspecs)
        # r10 analyzer routing: a custom index analyzer ALWAYS tokenizes
        # through its own CPython fn in the Arrow pass (parity by
        # construction; no JVM twin, no multibyte detection dance);
        # index-mode autocomplete clauses bring their own per-path
        # token-column specs, produced in the same pass
        lc_specs = self._lc_specs()
        use_arrow = (bool(fspecs) and (mb_any or custom_an is not None)) \
            or bool(ac_specs) or bool(lc_specs)

        def build_frames(arrow):
            """(toks_df, stats_df, phrase col names, id->col map) for
            either token producer — JVM expression (pure-ASCII fast
            path) or the oracle analyzer's Arrow pass (multibyte /
            custom index analyzer)."""
            if arrow:
                tdf = self._with_oracle_tokens(
                    bdf, fspecs,
                    analyze=self._ctx_index_fns(custom_an, fspecs),
                    extra_specs=ac_specs + lc_specs)
            else:
                tdf = bdf.select(
                    *bdf.columns,
                    *[self._tokens_of(fs).alias(f"__rt_toks_{fs.name}")
                      for fs in fspecs],
                )
            sdf = tdf
            pnames = []
            pmap = {}
            if phrase_clauses:
                tdf, pnames = self._with_phrase_cols(tdf, phrase_clauses)
                pmap = {id(p): n for (_k, p), n in zip(phrase_clauses, pnames)}
                if count_spec is not None:
                    # the count condition may reference phrase columns,
                    # so pass 1 must run through the phrase kernel too
                    sdf = tdf
            return tdf, sdf, pnames, pmap

        def run_stats(sdf, pmap, detect):
            """Pass 1: corpus statistics (one aggregate row, bounded by
            the query's path x term count) when ``need_stats``; a
            multibyte detector per path rides along on the first
            JVM-tokenized look at a collection (detect=True), and runs
            alone for a tree without text or count — a flagged path
            means JVM tokens can diverge from the CPython oracle, so the
            caller swaps to the oracle analyzer and recomputes. No
            aggregate at all runs no job."""
            aggs = ([self._nonascii_agg(fs) for fs in fspecs]
                    if detect else [])
            if need_stats:
                aggs.append(F.count(F.lit(1)).alias("__n"))
                for fs in fspecs:
                    aggs.append(F.sum(F.size(F.col(f"__rt_toks_{fs.name}")))
                                .alias(f"__len_{fs.name}"))
                for j, (fs, t) in enumerate(df_pairs):
                    tc = F.col(f"__rt_toks_{fs.name}")
                    aggs.append(F.sum(
                        F.when(F.array_contains(tc, t), 1).otherwise(0)
                    ).alias(f"__df_{j}"))
            if count_spec is not None:
                # $search count: the corpus-wide matched total rides the
                # same pass-1 job (containment stands in for score > 0)
                _s, match_cond = self._build_compound(
                    parsed, None, pmap, embdoc_cols)
                aggs.append(F.sum(
                    F.when(match_cond, 1).otherwise(0)).alias("__matched"))
            return sdf.agg(*aggs).collect()[0].asDict() if aggs else {}

        toks_df, stats_df, ph_names, phrase_col_map = build_frames(use_arrow)
        if sidecar_stats is not None:
            stats = sidecar_stats
        else:
            detect = not use_arrow and not mb_known
            stats = run_stats(stats_df, phrase_col_map, detect)
            if detect:
                self._mb_store(fspecs, stats)
                if any(stats.get(f"__nonascii_{fs.name}") for fs in fspecs):
                    # multibyte corpus: swap to the oracle analyzer and
                    # recompute the statistics over correct tokens
                    use_arrow = True
                    toks_df, stats_df, ph_names, phrase_col_map = \
                        build_frames(True)
                    stats = run_stats(stats_df, phrase_col_map, False)
        # N = 1 stands in when no statistics are read (no text clause)
        n_docs = (stats["__n"] or 0) if need_stats else 1
        if n_docs == 0:
            return None
        if count_spec is not None:
            total = int(stats.get("__matched") or 0)
            self._routed_count_meta = {
                "searchScoreDetails": None,
                "count": ({"lowerBound": total}
                          if count_spec.get("type") == "lowerBound"
                          else {"total": total}),
            }
        # driver-side idf (CPython math.log == the interpreter's)
        idf = {}
        avg_len = {}
        for fs in fspecs:
            avg_len[fs.name] = (stats.get(f"__len_{fs.name}") or 0) / n_docs
        for j, (fs, t) in enumerate(df_pairs):
            dfreq = stats.get(f"__df_{j}") or 0
            idf[(fs.name, t)] = math.log(
                1.0 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))

        # pass 2: per-clause BM25 in the interpreter's exact op order:
        # clause = sum over paths of (sum over terms of
        #   idf * (tf * (k1+1)) / (tf + k1*(1 - b + b*dl/avg)))
        def clause_score(fss, terms_by_path):
            cs = F.lit(0.0)
            for fs, terms in zip(fss, terms_by_path):
                tc = F.col(f"__rt_toks_{fs.name}")
                dl = F.size(tc).cast("double")
                avg = avg_len[fs.name]
                if avg:
                    norm = F.lit(_K1) * (F.lit(1.0 - _B)
                                         + F.lit(_B) * dl / F.lit(avg))
                else:
                    norm = F.lit(_K1 * (1.0 - _B))
                pscore = F.lit(0.0)
                for t in terms:  # term ORDER (with dups) as interpreter
                    # NB: the lambda must be unary (pyspark reads a
                    # second parameter as the element-index); `t` is
                    # captured at F.filter call time, in this iteration
                    tf = F.size(F.filter(tc, lambda x: x == t)) \
                        .cast("double")
                    contrib = F.when(
                        tf > 0,
                        F.lit(idf[(fs.name, t)]) * (tf * F.lit(_K1 + 1.0))
                        / (tf + norm),
                    ).otherwise(F.lit(0.0))
                    pscore = pscore + contrib
                cs = cs + pscore
            return cs

        # compound total/condition in the oracle's evaluation order
        # (must sums, then matched-should sums; _eval_compound) — the
        # recursive builder handles nested compounds identically
        total, cond = self._build_compound(
            parsed, clause_score, phrase_col_map, embdoc_cols)
        # r12: raw-substring prefilter for the scored scan — sound only
        # for the JVM tokenizer (token ⊆ lower(raw) by construction)
        # and kept to the pure text/cond shape (phrase/near/embedded
        # token columns ride a mapInPandas pass a filter cannot cross)
        self._rt_prefiltered = False
        if not use_arrow and custom_an is None and fspecs \
                and not phrase_clauses and not embdoc_clauses \
                and not has_near:
            dfs_by_pair = {
                (fs.name, t): int(stats.get(f"__df_{j}") or 0)
                for j, (fs, t) in enumerate(df_pairs)}
            prefilt = self._raw_prefilter(
                parsed, dfs=dfs_by_pair, n_docs=n_docs)
            if prefilt is not None:
                toks_df = toks_df.where(prefilt)
                self._rt_prefiltered = True
        scored = toks_df.withColumn("__rt_score", total).where(cond)
        if sort_cols or not self._constant_score(parsed):
            # the sort option (r9) replaces relevance order: translated
            # field orderings first (nulls last = the missing-last Atlas
            # rule; dense AND sparse backends flatten absent to null),
            # then score desc as the tie-break — the interpreter's
            # pinned fallback (beyond that, ties are unspecified on both
            # paths). Without a sort, a tree whose matches all score the
            # same needs no ordering: every pick of ``limit`` matches
            # is a valid top-k
            scored = scored.orderBy(
                *(sort_cols or []), F.col("__rt_score").desc())
        scored = scored.limit(limit).drop(
            *[f"__rt_toks_{fs.name}" for fs in fspecs], *ph_names,
            *[s[0] for s in lc_specs], *getattr(self, "_rt_eltok_cols", []))
        return scored, limit, "searchScore", "__rt_score"

    def _rebuild_doc(self, rd: dict, coll_schema) -> dict:
        """Rebuild one document from a flattened row the way this
        backend's iter_documents would have emitted it: dense backends
        (parquet/csv) carry every schema field on every row, None when
        unset, so nulls round-trip faithfully; sparse backends (jsonl)
        genuinely omit fields, and writing a flattened null back would
        make $exists/$ifNull/$type in the interpreted tail see a
        present-with-null field the interpreter fallback would not —
        strip them. (On sparse backends an EXPLICIT null re-enters as
        absent — the flattened row cannot distinguish the two — and
        fields outside the sample-inferred schema are not
        reconstructable here; both documented residuals.)"""
        from duckdb_mongo_spark.mql.interpreter import _set_path

        doc: dict = {}
        dense = getattr(self.backend, "dense_documents", False)
        for f in coll_schema.fields:
            v = rd.get(f.name)
            if dense or v is not None:
                _set_path(doc, f.mongo_path, v)
        return doc

    def _flatten_interpreted(self, results, tag) -> DataFrame:
        """Flatten interpreter output docs to the frame's pipeline-output
        schema (shared by every routed path's tail)."""
        from duckdb_mongo_spark.datasource import flatten_rows
        from duckdb_mongo_spark.schema.flatten import SchemaMode

        rows = flatten_rows(results, self.schema, SchemaMode.parse(self.schema_mode))
        self.last_exec_path = tag
        return self._rows_df(rows, self.schema)

    def _routed_tail(self, scored, limit, meta_name, score_col, rest,
                     coll_schema, tag):
        """Shared tail of the routed paths: collect the bounded top-k,
        rebuild documents with the score in the hidden $meta slot, run
        the remaining stages through the interpreter (<= limit docs),
        flatten to the frame's pipeline-output schema."""
        from duckdb_mongo_spark.mql.expr import META_KEY
        from duckdb_mongo_spark.mql.interpreter import run_pipeline

        rows = scored.collect()  # bounded: <= limit
        hl = getattr(self, "_rt_highlight", None)
        if hl is not None:
            from duckdb_mongo_spark.mql.search import _doc_highlights
        docs = []
        for r in rows:
            rd = r.asDict(recursive=True)
            s = rd.pop(score_col)
            doc = self._rebuild_doc(rd, coll_schema)
            meta = {meta_name: s}
            if hl is not None:
                # r12: per-document passage rendering via the
                # interpreter's own _doc_highlights over the rebuilt doc
                # (<= limit rows; no corpus state) — parity by function
                meta["searchHighlights"] = _doc_highlights(doc, *hl)
            if getattr(self, "_routed_count_meta", None):
                meta.update(self._routed_count_meta)
            doc[META_KEY] = meta
            docs.append(doc)
        results = run_pipeline(
            docs, rest, seed=42,
            collections=lambda c: self.backend.iter_documents(self.db, c),
        )
        return self._flatten_interpreted(results, tag)

    def df(self) -> DataFrame:
        routed = self._try_routed_pipeline()
        if routed is not None:
            return routed
        spec, planned, residual = self._compiled()
        payload = {
            "backend": self.backend,
            "db": self.db,
            "coll": self.coll,
            "planned": planned,
            "mode": self.schema_mode,
            "num_partitions": self.num_partitions
            or self.spark.sparkContext.defaultParallelism,
            # sessions that hard-disable the conf get a pushFilters-free
            # reader (engine-side pushdown is already compiled into
            # ``planned``); see datasource.MongoDataSource.reader()
            "push_filters": ensure_python_filter_pushdown(self.spark),
        }
        df = self._try_direct_df(payload, planned)
        if df is not None:
            self.last_exec_path = "direct"
        else:
            native = self._try_native_df()
            if native is not None:
                self.last_exec_path = "native"
                return native
            self.last_exec_path = "datasource"
            register_data_source(self.spark)
            df = (
                self.spark.read.format(FORMAT_NAME)
                .option("payload", encode_payload(payload))
                .load()
            )
        if residual is not None:
            df = df.filter(_pred_to_column(residual, planned.output_schema))
        if self._aggs is not None and planned.method == "find":
            # pushdown was guarded off — run the aggregate in Spark (the
            # always-correct fallback, SURVEY §4.1)
            keys = list(self._group_keys or [])
            aggcols = []
            for a in self._aggs:
                fn = {
                    "count_star": lambda c: F.count(F.lit(1)),
                    "count": F.count, "sum": F.sum, "min": F.min,
                    "max": F.max, "avg": F.avg,
                }[a.op]
                aggcols.append(fn(a.column if a.column else F.lit(1)).alias(a.alias))
            df = df.groupBy(*keys).agg(*aggcols) if keys else df.agg(*aggcols)
        if self._projection is not None and planned.method != "aggregate":
            df = df.select(*[c for c in self._projection])
        elif self._projection is not None and planned.method == "aggregate" and self._aggs is None:
            df = df.select(*[c for c in self._projection])
        if self._order_by_id is not None:
            df = df.orderBy(
                F.col("_id").asc() if self._order_by_id == 1 else F.col("_id").desc()
            )
        if self._limit is not None:
            df = df.limit(self._limit)
        return df

    def to_df(self) -> DataFrame:
        return self.df()

    def collect(self):
        return self.df().collect()


class MongoGroupBy:
    def __init__(self, frame: MongoFrame, keys: list[str]):
        self.frame = frame
        self.keys = keys

    def agg(self, *specs) -> MongoFrame:
        """specs: (op, column, alias) tuples; op in
        count_star/count/sum/min/max/avg."""
        aggs = tuple(AggSpec(op, col, alias) for op, col, alias in specs)
        return replace(self.frame, _group_keys=tuple(self.keys) or None, _aggs=aggs)
