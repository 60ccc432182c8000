"""Durable prebinned interval-envelope sidecar (r14).

The sf10 decomposition of the interval-join bench shape
(``BENCH_r13.json`` ``sf10_iv_decomp``) shows 80-90% of the recorded
wall is re-aggregating ~2M raw events into ~1.5M (key, day) envelope
rows PER QUERY — work that in any real deployment is an ingest-time
artifact, exactly like the BM25 corpus-statistics sidecar
(``ops/text_index.py``). This module materializes that envelope table
once: a versioned on-disk parquet sidecar keyed by the SOURCE's file
fingerprint plus the envelope spec (predicate, keys, time column, bin
width, extra aggregates), committed, loaded and reclaimed by
``ops/sidecar.py`` like the vector and text sidecars. A query passes
the returned handle as the ``intervals=`` side of
``interval_join_points`` / ``interval_overlap_join`` and pays only the
query-time join — the envelope aggregation (and the raw-events scan
feeding it) disappears from the per-query plan.

Invalidation is by construction: the sidecar key includes the sorted
(path, size, mtime) fingerprint of ``source.inputFiles()``, so a
rewritten source misses and the caller falls back to the inline
aggregation (``cached_*`` returns None; ``build_*`` rebuilds). Sources
with no file lineage (in-memory frames) still materialize, but under a
session-unique key — valid for reuse within the process, never across
runs.

Scale notes (100 TB): the build is ONE bounded-shuffle aggregation
(map-side partial combine collapses raw rows to envelope rows before
the exchange), written BUCKETED on (bin, keys...) — the join's exact
hash distribution — via Spark's classic bucketed-table path (r15,
r14 verdict #1). At query time the envelope side therefore reaches
the join with ZERO exchanges: the committed dir is registered as a
session-scoped EXTERNAL catalog table (with Spark's default in-memory
catalog no metastore persistence; the DDL lives in meta.json and is
re-issued per session), the bucketed
FileScan's HashPartitioning satisfies the join's distribution, and
only the point side shuffles — measured 2 Exchanges → 1 and ~12% off
the sf10 query wall. The registration lives as long as its version dir:
a failed bucketed write drops its table before the plain-layout
fallback, and the store's GC and drop drop the tables of the dirs they
delete. Under a Hive metastore (``enableHiveSupport``) the
registration is not session-scoped: it persists in the metastore until
one of those drops it, and a later session reuses it by name. Rows are
sorted by (bin, keys) within each bucket file, so a time-bounded query
still prunes on parquet row-group min/max statistics (file-level time
pruning is traded for the removed per-query exchange; the r14 range
layout remains as the fallback when a bucketed write is unavailable).
Bucket count tracks the session's shuffle partitioning at build time
(``SPARK_GRAFT_INTERVAL_BUCKETS`` overrides). The envelope table is
group-cardinality-sized, not raw-sized; nothing resident on the
driver scales with the corpus.

Reference parity: the reference delegates range joins to DuckDB's
IEJoin over whatever (possibly pre-materialized) tables the user
supplies (/root/reference/README.md:575) — materializing envelopes is
the user-side idiom there too; this module just makes it a managed,
invalidation-safe verb.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops.sidecar import SidecarStore

_META_VERSION = 2


def _source_fingerprint(source: DataFrame) -> str | None:
    """sha1 over the sorted (path, size, mtime_ns) of the frame's input
    files — the parquet-backend fingerprint convention
    (backends/parquet.py). None when the frame has no file lineage or a
    file cannot be statted (in-memory / remote sources): the sidecar
    then gets a session-unique key, valid within the process only."""
    files = sorted(source.inputFiles())
    if not files:
        return None
    h = hashlib.sha1()
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            # remote store: no local stat; path identity only (weaker —
            # an in-place rewrite at the same paths would not miss)
            h.update(f.encode())
            continue
        p = unquote(u.path)
        try:
            st = os.stat(p)
        except OSError:
            return None
        h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()


def _spec_key(t_col, on, bin_width, predicate, aggs, lo_col, hi_col,
              bin_col) -> str:
    return json.dumps({
        "t": t_col, "on": list(on), "w": float(bin_width),
        "pred": None if predicate is None else str(predicate),
        "aggs": None if not aggs else {k: str(v) for k, v in aggs.items()},
        "lo": lo_col, "hi": hi_col, "bin": bin_col,
    }, sort_keys=True)


def _table_name(data_dir: str) -> str:
    """Catalog name of the bucketed registration of one version's
    ``data`` dir."""
    return ("duckdb_mongo_spark_ivx_"
            + hashlib.sha1(data_dir.encode()).hexdigest()[:16])


def _drop_tables(version_dirs) -> None:
    """Drop the catalog registrations of deleted version dirs (external
    tables: dropping never touches data). Best effort, like the GC and
    drop that call it."""
    if SparkContext._active_spark_context is None:
        return  # no running Spark: no catalog to clean
    spark = SparkSession.builder.getOrCreate()
    for vdir in version_dirs:
        try:
            spark.sql(f"DROP TABLE IF EXISTS "
                      f"`{_table_name(os.path.join(vdir, 'data'))}`")
        except Exception:  # noqa: BLE001 — hygiene, never correctness
            pass


@dataclass
class IntervalIndex:
    """One committed envelope-table handle. Pass as the ``intervals``
    side of ``interval_join_points`` (or either side of
    ``interval_overlap_join``): the join takes the grid
    (``bin_width``/``bin_col``), bounds, and keys from the handle and
    plans the exchange-lean pre-binned path over the materialized
    table."""

    on: list[str]
    lo_col: str
    hi_col: str
    bin_col: str
    bin_width: float
    n_intervals: int
    data_dir: str
    sidecar: str | None = None
    spec: str = field(default="", repr=False)
    bucket: dict | None = None
    _df_memo: tuple | None = field(default=None, repr=False, compare=False)

    def _table_name(self) -> str:
        return _table_name(self.data_dir)

    def df(self, spark) -> DataFrame:
        # memoized per session: the committed version dir is immutable,
        # so re-reading footers on every query is pure overhead
        if self._df_memo is not None and self._df_memo[0] == id(spark):
            return self._df_memo[1]
        d = None
        if self.bucket:
            # r15: the envelopes are written BUCKETED on (bin, keys) —
            # exactly the join's hash distribution — so reading through
            # a catalog table lets Spark plan the join with NO
            # envelope-side exchange (the scan's HashPartitioning
            # satisfies the join's ClusteredDistribution). The catalog
            # entry is a session-scoped EXTERNAL registration of the
            # immutable committed dir; dropping it never touches data.
            try:
                tbl = self._table_name()
                if not spark.catalog.tableExists(tbl):
                    bcols = ", ".join(
                        f"`{c}`" for c in self.bucket["cols"])
                    scols = ", ".join(
                        f"`{c}` ASC" for c in self.bucket["sort"])
                    spark.sql(
                        f"CREATE TABLE `{tbl}` ({self.bucket['ddl']}) "
                        f"USING parquet CLUSTERED BY ({bcols}) "
                        f"SORTED BY ({scols}) "
                        f"INTO {int(self.bucket['n'])} BUCKETS "
                        f"LOCATION '{self.data_dir}'")
                d = spark.table(tbl)
            except Exception:
                d = None  # fall back to the plain parquet read
        if d is None:
            d = spark.read.parquet(self.data_dir)
        object.__setattr__(self, "_df_memo", (id(spark), d))
        return d


_STORE = SidecarStore("SPARK_GRAFT_INTERVAL_INDEX_DIR",
                      "spark_graft_interval_index", _META_VERSION,
                      on_delete=_drop_tables)
_CACHE = _STORE.cache
__getattr__ = _STORE.counter  # build_count, load_count, hit_count


def clear_interval_index_cache() -> int:
    """Drop every in-memory handle (wired into ``catalog.clear_cache()``
    — the reference's all-or-nothing metadata invalidation). Durable
    sidecars stay on disk: the next build call reloads by
    fingerprint without re-aggregating."""
    return _STORE.clear()


def drop_interval_index_sidecars() -> int:
    """Delete every durable sidecar under the index root, their catalog
    registrations and the in-memory handles. Returns the number of
    sidecar dirs removed."""
    return _STORE.drop()


def _load_sidecar(key: str, vdir: str, meta: dict) -> IntervalIndex | None:
    if meta.get("spec") != key:
        return None
    return IntervalIndex(
        on=list(meta["on"]), lo_col=meta["lo_col"], hi_col=meta["hi_col"],
        bin_col=meta["bin_col"], bin_width=float(meta["bin_width"]),
        n_intervals=int(meta["n_intervals"]),
        data_dir=os.path.join(vdir, "data"), sidecar=vdir, spec=key,
        bucket=meta.get("bucket"))


def _full_key(source, t_col, on, bin_width, predicate, aggs, lo_col,
              hi_col, bin_col) -> tuple[str, bool]:
    """(cache key, durable?) — the spec joined with the source
    fingerprint, or a session-unique id() key when no fingerprint."""
    spec = _spec_key(t_col, on, bin_width, predicate, aggs, lo_col,
                     hi_col, bin_col)
    fp = _source_fingerprint(source)
    if fp is None:
        return f"mem:{id(source._jdf)}|{spec}", False
    return f"{fp}|{spec}", True


def cached_interval_envelope_index(
    source: DataFrame,
    t_col: str,
    on: list[str],
    bin_width: float,
    predicate: Column | None = None,
    aggs: dict[str, Column] | None = None,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bin_col: str = "__bin",
) -> IntervalIndex | None:
    """Query-time fetch: in-memory handle, else a committed durable
    sidecar matching the CURRENT source fingerprint. Never builds —
    building is an explicit index operation
    (``build_interval_envelope_index``)."""
    key, durable = _full_key(source, t_col, on, bin_width, predicate,
                             aggs, lo_col, hi_col, bin_col)
    return _STORE.lookup(key, durable,
                         lambda vdir, meta: _load_sidecar(key, vdir, meta))


def build_interval_envelope_index(
    source: DataFrame,
    t_col: str,
    on: list[str],
    bin_width: float,
    predicate: Column | None = None,
    aggs: dict[str, Column] | None = None,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bin_col: str = "__bin",
) -> IntervalIndex:
    """Materialize (or fetch, when the committed sidecar already matches
    the source fingerprint — rebuilds are cheap no-ops, the
    ``build_text_stats_index`` convention) the envelope table::

        source.filter(predicate)
              .groupBy(*on, time_bin(t_col, bin_width).alias(bin_col))
              .agg(min(t_col) AS lo_col, max(t_col) AS hi_col, **aggs)

    Every envelope spans exactly one grid bin BY CONSTRUCTION (the
    grouping key is the bin), so the table satisfies the pre-binned
    single-bin contract the exchange-lean join path asserts.

    ``aggs``: extra envelope payload columns, e.g.
    ``{"n_events": F.count(F.lit(1))}`` — carried through the sidecar
    and emitted by the join like any interval column.
    """
    from duckdb_mongo_spark.ops.joins import time_bin

    existing = cached_interval_envelope_index(
        source, t_col, on, bin_width, predicate, aggs, lo_col, hi_col,
        bin_col)
    if existing is not None:
        return existing
    key, durable = _full_key(source, t_col, on, bin_width, predicate,
                             aggs, lo_col, hi_col, bin_col)
    on = list(on)
    src = source if predicate is None else source.filter(predicate)
    agg_cols = [F.min(t_col).alias(lo_col), F.max(t_col).alias(hi_col)]
    for name, c in (aggs or {}).items():
        agg_cols.append(c.alias(name))
    env = (src.groupBy(*on, time_bin(src, t_col, bin_width).alias(bin_col))
           .agg(*agg_cols))

    vdir = _STORE.new_version(_STORE.dir(key) if durable else os.path.join(
        _STORE.root(), f"mem-{uuid.uuid4().hex[:16]}"))
    data_dir = os.path.join(vdir, "data")
    spark = source.sparkSession
    # r15 (r14 verdict #1): BUCKETED write on (bin, keys) — the join's
    # exact hash distribution — so the query-time join plans ZERO
    # envelope-side exchange (storage-partitioned via Spark's classic
    # bucketed-table path; the catalog entry is a session-scoped
    # external registration, no metastore persistence required).
    # Bucket count tracks the session's shuffle partitioning (the knob
    # that already scales with the deployment), env-overridable via
    # SPARK_GRAFT_INTERVAL_BUCKETS. The pre-repartition on the SAME
    # hash gives one file per bucket; rows are sorted by (bin, keys)
    # within each file, so a time-bounded query still prunes on
    # parquet row-group min/max stats (file-level time pruning is
    # traded for the removed per-query exchange). Any failure falls
    # back to the r14 range-partitioned plain layout.
    bucket_meta = None
    tbl = _table_name(data_dir)
    try:
        n_buckets = int(os.environ.get(
            "SPARK_GRAFT_INTERVAL_BUCKETS",
            spark.conf.get("spark.sql.shuffle.partitions", "200")))
        n_buckets = max(1, n_buckets)
        bcols = [bin_col, *on]
        (env.repartition(n_buckets, *[F.col(c) for c in bcols])
         .write.mode("overwrite")
         .bucketBy(n_buckets, bcols[0], *bcols[1:])
         .sortBy(bcols[0], *bcols[1:])
         .option("path", data_dir)
         .saveAsTable(tbl))
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in env.schema.fields)
        bucket_meta = {"n": n_buckets, "cols": bcols, "sort": bcols,
                       "ddl": ddl}
    except Exception:
        import shutil

        # a failed bucketed write may already have registered its table:
        # drop it with the files, or it dangles over the plain layout
        _drop_tables([vdir])
        shutil.rmtree(data_dir, ignore_errors=True)
        (env.repartitionByRange(F.col(bin_col), *[F.col(k) for k in on])
         .sortWithinPartitions(bin_col, *on)
         .write.mode("overwrite").parquet(data_dir))
    # metadata-only count over the written footers
    n = spark.read.parquet(data_dir).count()
    meta = {"spec": key, "on": on, "lo_col": lo_col, "hi_col": hi_col,
            "bin_col": bin_col, "bin_width": float(bin_width),
            "n_intervals": n}
    if bucket_meta is not None:
        meta["bucket"] = bucket_meta
    return _STORE.commit(key, vdir, meta, _load_sidecar(key, vdir, meta))
