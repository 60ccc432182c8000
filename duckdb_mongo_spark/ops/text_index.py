"""Durable BM25 corpus-statistics sidecar for routed ``$search`` text
scoring (r11).

In the reference, ``$search`` ships to the server verbatim and Lucene's
inverted index already HOLDS the corpus statistics every BM25 score
needs — document count, per-field total token length, per-term document
frequency (reference README.md pipeline passthrough; the index lives
server-side). Locally the routed text path recomputed those statistics
per query with a full engine-scan aggregate pass
(``frame._route_search_text`` pass 1) — correct, but a per-query
federation tax that SCALE.md's r10 decomposition measured at ~40% of the
sf10 ``search_text_topk`` wall time. This module is the local stand-in
for that server-side index state: a versioned on-disk sidecar per
(collection fingerprint, path, analyzer), committed, loaded and
reclaimed by ``ops/sidecar.py`` like the vector and interval sidecars,
so a query reads N/total_len from a tiny ``meta.json`` and the per-term
document frequencies from a term-range-sorted parquet term dictionary
with predicate pushdown — no corpus pass at all.

Invalidation is by construction: the sidecar key includes the backend's
collection fingerprint (file paths + sizes + mtimes for parquet), so a
rewritten corpus misses and the query falls back to the live statistics
pass (cold path unchanged). Backends without a durable fingerprint (the
wire fake, in-memory backends) keep the whole term dictionary in the
process cache instead of on disk — bounded by ``_MEM_TERMS_CAP``.

Scale notes (100 TB): the build is one tokenizer pass feeding one
``groupBy(term)`` for the dictionary (vocabulary-sized output, written
``repartitionByRange(term)`` + sorted-within-partitions so every file
covers a term range); the summary row rides that job as observed
metrics. Query-time lookup reads only the row groups whose [min, max]
term range covers a query term (pyarrow dataset filter against parquet
row-group statistics) — a handful of KB per query regardless of corpus
size. No resident driver memory scales with the corpus.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import functions as F

from duckdb_mongo_spark.ops.sidecar import SidecarStore, backend_key

# the engine-contract tokenizer (mql/search._analyze) IS lucene.standard
CONTRACT_ANALYZER_KEY = "lucene.standard"

_META_VERSION = 1

# a non-durable (no-fingerprint) backend keeps its term dictionary in
# process memory; beyond this vocabulary size we refuse rather than
# silently hold an unbounded dict on the driver
_MEM_TERMS_CAP = 1_000_000

_STORE = SidecarStore("SPARK_GRAFT_TEXT_STATS_DIR", "spark_graft_text_stats",
                      _META_VERSION)
_CACHE = _STORE.cache
__getattr__ = _STORE.counter  # build_count, load_count, hit_count


@dataclass
class TextStatsIndex:
    """One committed (collection, path, analyzer) statistics handle."""

    n_docs: int
    total_len: int
    multibyte: bool
    analyzer_key: str
    mongo_path: str
    terms_dir: str | None = None   # durable: term-dictionary parquet dir
    mem_dfs: dict | None = None    # non-durable: full in-memory dict
    sidecar: str | None = None

    def term_dfs(self, terms) -> dict:
        """Document frequency for each requested term (absent -> 0).
        Durable handles read only the parquet row groups whose term
        range covers a query term; the per-query read is bounded by the
        query's term count, never the vocabulary."""
        terms = list(dict.fromkeys(terms))
        out = {t: 0 for t in terms}
        if not terms:
            return out
        if self.mem_dfs is not None:
            for t in terms:
                out[t] = int(self.mem_dfs.get(t, 0))
            return out
        import pyarrow.dataset as ds

        dset = ds.dataset(self.terms_dir, format="parquet")
        tbl = dset.to_table(filter=ds.field("term").isin(terms))
        for t, d in zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()):
            out[t] = int(d)
        return out


def clear_text_stats_cache() -> int:
    """Drop every in-memory handle (wired into ``catalog.clear_cache()``
    — the reference's all-or-nothing metadata invalidation,
    src/mongo_clear_cache.cpp). Durable sidecars stay on disk: the next
    query reloads by fingerprint without rebuilding."""
    return _STORE.clear()


def drop_text_stats_sidecars() -> int:
    """Delete every durable sidecar under the stats root (and the
    in-memory handles). Returns the number of sidecar dirs removed."""
    return _STORE.drop()


def _load_sidecar(vdir: str, meta: dict) -> TextStatsIndex:
    return TextStatsIndex(
        n_docs=int(meta["n_docs"]), total_len=int(meta["total_len"]),
        multibyte=bool(meta["multibyte"]),
        analyzer_key=meta["analyzer_key"], mongo_path=meta["mongo_path"],
        terms_dir=os.path.join(vdir, "terms"), sidecar=vdir)


def cached_stats(backend, db, coll, mongo_path,
                 analyzer_key) -> TextStatsIndex | None:
    """Query-time fetch: in-memory handle, else a committed durable
    sidecar for the CURRENT collection fingerprint. Never builds —
    building is an explicit index operation (``build_text_stats_index``),
    so the cold query path is unchanged."""
    key, durable = backend_key(backend, db, coll, mongo_path, analyzer_key)
    return _STORE.lookup(key, durable, _load_sidecar)


def _tokens_df(bdf, fs, analyze_fn):
    """``(raw column, __toks array<string>)`` via one Arrow-batched
    mapInPandas pass with the oracle's own analyzer fn — the statistics
    are then token-identical to both execution paths by construction
    (the JVM fast path equals the oracle on pure-ASCII text, and the
    recorded ``multibyte`` flag routes multibyte corpora to the Arrow
    pass at query time)."""
    from pyspark.sql import types as T

    from duckdb_mongo_spark.schema.types import is_list

    src = bdf.select(fs.name)  # column pruning: the scan reads one path
    islist = bool(is_list(fs.type))
    out_schema = T.StructType(
        list(src.schema.fields)
        + [T.StructField("__toks", T.ArrayType(T.StringType()))])

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf.copy()
            if islist:
                out["__toks"] = [
                    [t for el in (v if v is not None else [])
                     for t in analyze_fn(el)]
                    for v in pdf[fs.name]]
            else:
                out["__toks"] = [analyze_fn(v) for v in pdf[fs.name]]
            yield out

    return src.mapInPandas(kernel, schema=out_schema)


def _nonascii_flag(fs):
    from duckdb_mongo_spark.schema.types import is_list

    raw = (F.coalesce(F.array_join(F.col(fs.name), ""), F.lit(""))
           if is_list(fs.type) else F.coalesce(F.col(fs.name), F.lit("")))
    return F.max(
        F.when(F.octet_length(raw) != F.length(raw), 1).otherwise(0))


def build_path_stats(backend, db, coll, bdf, fs, analyze_fn,
                     analyzer_key) -> TextStatsIndex:
    """Build (or rebuild) the statistics sidecar for one collection
    path under one analyzer. ``bdf`` must be the UNFILTERED base scan —
    N and the frequencies describe the whole corpus, exactly what the
    live pass aggregates."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    key, durable = backend_key(backend, db, coll, fs.mongo_path, analyzer_key)
    # the summary (N, total length, multibyte flag) is observed inside
    # the term-dictionary job, so the tokenizer runs once per build
    stats = [F.count(F.lit(1)).alias("n"),
             F.sum(F.size("__toks")).alias("total"),
             _nonascii_flag(fs).alias("mb")]
    obs = Observation()
    tdf = _tokens_df(bdf, fs, analyze_fn).observe(obs, *stats)
    terms = (
        tdf.select(F.explode(F.array_distinct("__toks")).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )

    def summary():
        try:
            row = obs.get
        except Py4JJavaError:
            # no metrics: a zero-row input folds the plan to an empty
            # relation and Spark drops the observation with it
            row = _tokens_df(bdf, fs, analyze_fn).agg(*stats).collect()[0].asDict()
        return (int(row["n"] or 0), int(row["total"] or 0), bool(row["mb"]))

    if not durable:
        rows = terms.limit(_MEM_TERMS_CAP + 1).collect()
        if len(rows) > _MEM_TERMS_CAP:
            raise ValueError(
                f"text stats for {coll}.{fs.mongo_path}: vocabulary "
                f"exceeds {_MEM_TERMS_CAP} terms and the backend has no "
                "durable fingerprint for an on-disk sidecar")
        n_docs, total_len, multibyte = summary()
        return _STORE.put(key, TextStatsIndex(
            n_docs=n_docs, total_len=total_len, multibyte=multibyte,
            analyzer_key=analyzer_key, mongo_path=fs.mongo_path,
            mem_dfs={r["term"]: int(r["df"]) for r in rows}))

    vdir = _STORE.new_version(_STORE.dir(key))
    # one file per ~250k docs of corpus (vocabulary grows sublinearly);
    # range-partitioned + sorted so every file/row-group covers one term
    # range and query-time isin() pushdown prunes to a handful of pages.
    # The doc count here is only a layout hint: the backend's metadata
    # count, else AQE sizes the range partitions.
    n_hint = backend.fast_count(db, coll)
    nparts = () if n_hint is None else (max(1, min(256, n_hint // 250_000 + 1)),)
    (terms.repartitionByRange(*nparts, "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite").parquet(os.path.join(vdir, "terms")))
    n_docs, total_len, multibyte = summary()
    meta = {"n_docs": n_docs, "total_len": total_len,
            "multibyte": multibyte, "analyzer_key": analyzer_key,
            "mongo_path": fs.mongo_path}
    return _STORE.commit(key, vdir, meta, _load_sidecar(vdir, meta))


def build_text_stats_index(spark, backend, db: str, coll: str,
                           paths: list[str] | None = None,
                           search_index: dict | None = None,
                           columns: dict | None = None) -> dict:
    """The user-facing "create search index" verb: build statistics
    sidecars for the given collection paths (default: every string /
    list-of-string field). With ``search_index=`` (the same Atlas
    index-definition JSON ``mongo_scan`` accepts) each path's sidecar
    is keyed and tokenized by that path's INDEX analyzer, matching what
    the routed query path will consult; without it, the engine-contract
    analyzer (``lucene.standard``). Returns ``{mongo_path:
    TextStatsIndex}``. Rebuilds are cheap no-ops when the committed
    sidecar already matches the collection fingerprint."""
    from duckdb_mongo_spark.frame import MongoFrame
    from duckdb_mongo_spark.mql.search import _analyze
    from duckdb_mongo_spark.schema.infer import resolve_schema
    from duckdb_mongo_spark.schema.types import is_list

    schema = resolve_schema(backend, db, coll, columns=columns)
    fm = {f.mongo_path: f for f in schema.fields}
    if paths is None:
        paths = [f.mongo_path for f in schema.fields
                 if f.type == "VARCHAR"
                 or (is_list(f.type) and f.type[1] == "VARCHAR")]
    index = None
    if search_index is not None:
        from duckdb_mongo_spark.mql.search_index import SearchIndex

        if isinstance(search_index, SearchIndex):
            index = search_index
        else:
            # synonym mappings are query-side rewrites with no bearing
            # on corpus tokenization — strip them so the build API does
            # not demand a synonym-collection resolver
            index = SearchIndex({k: v for k, v in search_index.items()
                                 if k != "synonyms"})
    bdf = None
    out = {}
    for path in paths:
        fs = fm.get(path)
        if fs is None or (fs.type != "VARCHAR" and not (
                is_list(fs.type) and fs.type[1] == "VARCHAR")):
            raise ValueError(
                f"build_text_stats_index: {path!r} is not a string path "
                f"of {db}.{coll}")
        if index is not None:
            names = index.text_analyzer_names(path)
            if names is None:
                raise ValueError(
                    f"build_text_stats_index: {path!r} has no string "
                    "coverage under the supplied search index definition")
            an_name = names[0]
            analyze_fn = index._analyzer_fn(an_name)
            akey = index.analyzer_key(an_name)
        else:
            analyze_fn, akey = _analyze, CONTRACT_ANALYZER_KEY
        existing = cached_stats(backend, db, coll, path, akey)
        if existing is not None:
            out[path] = existing
            continue
        if bdf is None:
            bdf = MongoFrame(spark=spark, backend=backend, db=db,
                             coll=coll, schema=schema).df()
        out[path] = build_path_stats(
            backend, db, coll, bdf, fs, analyze_fn, akey)
    return out
