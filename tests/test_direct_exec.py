"""Direct-materialization fast path (MongoFrame._try_direct_df).

The direct path executes the compiled scan in-process and hands Spark the
Arrow result via createDataFrame — one IPC hop instead of the
Python-DataSource plan/worker round trip (BASELINE.md "The
Python-DataSource floor", ~0.46 s per fresh query). These tests pin the
contract: byte-identical results and schemas vs the datasource path
(modulo float summation order, which Spark itself does not fix across
partitionings), caps that route large scans back to the partitioned
path, and sentinel/empty edge parity. Reference behavior being matched:
fully-pushed pipelines execute at the source and the engine materializes
the (small) result rows (src/mongo_table_function.cpp:362).
"""

from __future__ import annotations

from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import duckdb_mongo_spark.frame as frame_mod
from duckdb_mongo_spark.backends import MemoryBackend, ParquetBackend
from duckdb_mongo_spark.frame import MongoFrame
from duckdb_mongo_spark.pushdown import C
from duckdb_mongo_spark.schema.infer import resolve_schema


def _mf(spark, be, coll, **kw):
    sch = resolve_schema(be, "main", coll)
    return MongoFrame(spark=spark, backend=be, db="main", coll=coll,
                      schema=sch, **kw)


def _both(f):
    """Build both execution paths for the same frame; return (direct_df,
    datasource_df) and assert the paths actually diverged as built."""
    fd = replace(f, direct=None)
    fs = replace(f, direct=False)
    d, s = fd.df(), fs.df()
    return fd, fs, d, s


@pytest.fixture(scope="module")
def pq_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("direct_pq")
    table = pa.table({
        "k": pa.array(range(500), pa.int64()),
        "grp": pa.array([f"g{i % 3}" for i in range(500)]),
        "v": pa.array([float(i) / 7 for i in range(500)], pa.float64()),
    })
    pq.write_table(table, root / "c.parquet", row_group_size=64)
    return str(root)


@pytest.fixture(scope="module")
def sentinel_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("direct_sentinel")
    table = pa.table({
        "_id": pa.array(["__schema"] + [f"id{i}" for i in range(50)]),
        "v": pa.array([None] + list(range(50)), pa.int64()),
    })
    pq.write_table(table, root / "c.parquet")
    return str(root)


class TestFindPath:
    def test_filter_projection_equivalence(self, spark, pq_root):
        be = ParquetBackend(pq_root, id_field="k")
        f = _mf(spark, be, "c").filter(C("v") > 30.0).select("k", "v")
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "direct"
        assert fs.last_exec_path == "datasource"
        assert d.schema == s.schema
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))

    def test_in_and_null_filters(self, spark, pq_root):
        be = ParquetBackend(pq_root, id_field="k")
        f = (_mf(spark, be, "c")
             .filter(C("grp").isin("g0", "g2") & C("v").is_not_null())
             .select("k", "grp"))
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "direct"
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))

    def test_empty_match(self, spark, pq_root):
        be = ParquetBackend(pq_root, id_field="k")
        f = _mf(spark, be, "c").filter(C("v") > 1e9).select("k")
        fd, _, d, s = _both(f)
        assert fd.last_exec_path == "direct"
        assert d.collect() == [] and s.collect() == []
        assert d.schema == s.schema

    def test_sentinel_excluded(self, spark, sentinel_root):
        be = ParquetBackend(sentinel_root)
        # explicit columns param (tier 1) — the sentinel doc here marks
        # presence only; typed parquet can't hold type-name strings
        sch = resolve_schema(be, "main", "c",
                             columns={"_id": "VARCHAR", "v": "BIGINT"})
        f = MongoFrame(spark=spark, backend=be, db="main", coll="c",
                       schema=sch).select("_id", "v")
        fd, _, d, s = _both(f)
        assert fd.last_exec_path == "direct"
        ids = {r["_id"] for r in d.collect()}
        assert "__schema" not in ids and len(ids) == 50
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))

    def test_scan_cap_routes_to_native(self, spark, pq_root, monkeypatch):
        # r12: past the broadcast-class cap the partitioned path for a
        # LOCAL parquet collection is Spark's own FileScan (native),
        # not the wire-protocol datasource
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 10)
        be = ParquetBackend(pq_root, id_field="k")
        f = _mf(spark, be, "c").select("k")
        out = f.df()
        assert f.last_exec_path == "native"
        assert out.count() == 500

    def test_disabled_cap_routes_to_native(self, spark, pq_root, monkeypatch):
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 0)
        be = ParquetBackend(pq_root, id_field="k")
        f = _mf(spark, be, "c").select("k")
        f.df()
        assert f.last_exec_path == "native"

    def test_forced_direct_ignores_cap(self, spark, pq_root, monkeypatch):
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 10)
        be = ParquetBackend(pq_root, id_field="k")
        f = replace(_mf(spark, be, "c").select("k"), direct=True)
        out = f.df()
        assert f.last_exec_path == "direct"
        assert out.count() == 500

    def test_direct_false_honored(self, spark, pq_root):
        be = ParquetBackend(pq_root, id_field="k")
        f = replace(_mf(spark, be, "c").select("k"), direct=False)
        f.df()
        assert f.last_exec_path == "datasource"

    def test_spark_side_agg_takes_native_scan(self, spark, pq_root):
        # r12: a grouped aggregate on a local parquet collection runs as
        # Spark's distributed partial agg over the NATIVE FileScan (the
        # datasource twin stays value-identical)
        be = ParquetBackend(pq_root, id_field="k")
        f = (_mf(spark, be, "c")
             .group_by("grp").agg(("sum", "v", "sv"), ("count_star", None, "n")))
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "native"
        assert fs.last_exec_path == "datasource"
        norm = lambda rows: sorted((g, round(sv, 6), n) for g, sv, n in rows)
        assert norm(map(tuple, d.collect())) == norm(map(tuple, s.collect()))

    def test_native_sum_of_all_null_group_matches_engine(self, spark, tmp_path):
        # the engine's $group uses SQL null semantics (all-null group
        # sums to NULL; DuckDB-oracle-proven) — native must agree
        root = tmp_path / "nulls"
        root.mkdir()
        pq.write_table(
            pa.table({"k": pa.array([1, 2, 3], pa.int64()),
                      "g": pa.array(["a", "a", "b"]),
                      "v": pa.array([None, None, 5.0], pa.float64())}),
            root / "c.parquet")
        be = ParquetBackend(str(root), id_field="k")
        f = (_mf(spark, be, "c")
             .group_by("g").agg(("sum", "v", "sv"), ("avg", "v", "av")))
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "native"
        dd = {r["g"]: (r["sv"], r["av"]) for r in d.collect()}
        ss = {r["g"]: (r["sv"], r["av"]) for r in s.collect()}
        assert dd == ss
        assert dd["a"] == (None, None)  # SQL nulls: sum NULL, avg NULL

    def test_non_arrow_dialect_takes_native(self, spark, pq_root):
        # $expr (substring comparison) is outside the ARROW filter
        # dialect, but the native path translates the full residual
        # pred algebra to Columns — values match the interpreted path
        be = ParquetBackend(pq_root, id_field="k")
        f = (_mf(spark, be, "c")
             .filter(C("grp").substring(1, 2) == "g1")
             .select("k", "grp"))
        fd, _, d, s = _both(f)
        assert fd.last_exec_path == "native"
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))


@pytest.fixture(scope="module")
def nested_root(tmp_path_factory):
    """users/products-shaped collection: nested documents are the
    reference's bread-and-butter schema (mongo_schema_inference.cpp:
    685-1213 — every fixture collection carries them)."""
    root = tmp_path_factory.mktemp("native_nested")
    users = pa.table({
        "_id": pa.array([f"id{i}" for i in range(400)]),
        "name": pa.array([f"u{i % 7}" for i in range(400)]),
        "address": pa.array([
            {"city": f"c{i % 3}", "zip": 10000 + i,
             "geo": {"lat": float(i) / 9, "lon": -float(i) / 11},
             "unused_blob": "x" * 5}
            for i in range(400)
        ]),
        "age": pa.array([i % 53 for i in range(400)], pa.int64()),
    })
    pq.write_table(users, root / "users.parquet", row_group_size=64)
    return str(root)


class TestNativeNestedPaths:
    """r13 (r12 verdict #5): dotted paths take the native FileScan via
    struct-field traversal — path-equivalence vs the datasource route,
    nested ReadSchema pruning, and NULL parity for absent levels."""

    def test_dotted_paths_take_native_and_match_datasource(
            self, spark, nested_root, monkeypatch):
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 10)
        be = ParquetBackend(nested_root)
        f = (_mf(spark, be, "users")
             .filter(C("age") > 10)
             .select("_id", "address_city", "address_geo_lat", "age"))
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "native"
        assert fs.last_exec_path == "datasource"
        assert d.schema == s.schema
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))

    def test_dotted_filter_and_agg_native(self, spark, nested_root, monkeypatch):
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 10)
        be = ParquetBackend(nested_root)
        f = (_mf(spark, be, "users")
             .filter(C("address_city") == "c1")
             .group_by("name").agg(("count_star", None, "n"),
                                   ("max", "address_zip", "mz")))
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "native"
        norm = lambda rows: sorted(map(tuple, rows))  # noqa: E731
        assert norm(d.collect()) == norm(s.collect())

    def test_nested_read_schema_pruned(self, spark, nested_root, monkeypatch):
        # Catalyst nested-schema pruning must cut ReadSchema to the
        # traversed leaves — the unprojected sibling leaf stays out of
        # the scan
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 10)
        be = ParquetBackend(nested_root)
        f = _mf(spark, be, "users").select("_id", "address_city")
        out = f.df()
        assert f.last_exec_path == "native"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" in plan
        assert "city" in plan
        assert "unused_blob" not in plan, plan[:2500]

    def test_missing_nested_level_reads_null(self, spark, nested_root,
                                             monkeypatch):
        # a declared path absent from the file (or through a non-struct
        # level) reads as typed NULL — engine-flatten parity on both
        # routes
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 10)
        be = ParquetBackend(nested_root)
        sch = resolve_schema(be, "main", "users", columns={
            "_id": "VARCHAR",
            "city": {"type": "VARCHAR", "path": "address.city"},
            "ghost": {"type": "BIGINT", "path": "address.nope.deep"},
            "through_leaf": {"type": "VARCHAR", "path": "age.sub"},
        })
        f = MongoFrame(spark=spark, backend=be, db="main", coll="users",
                       schema=sch).select("_id", "city", "ghost",
                                          "through_leaf")
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "native"
        rows = d.collect()
        assert len(rows) == 400
        assert all(r["ghost"] is None and r["through_leaf"] is None
                   for r in rows)
        assert sorted(map(tuple, rows)) == sorted(map(tuple, s.collect()))

    def test_parent_doc_json_column_declines_native(self, spark, nested_root,
                                                    monkeypatch):
        # selecting the PARENT document column needs the engine's
        # Python-formatted JSON rendering (render_json) — native
        # declines; a query not touching it still routes native
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 10)
        be = ParquetBackend(nested_root)
        f = _mf(spark, be, "users").select("_id", "address")
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "datasource"
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))

    def test_literal_dotted_column_declines_native(self, spark, tmp_path,
                                                   monkeypatch):
        # a LITERAL "a.b" physical column shadows the struct walk — the
        # native route declines, the engine path answers
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 0)
        root = tmp_path / "litdot"
        root.mkdir()
        pq.write_table(
            pa.table({"_id": pa.array(["a", "b"]),
                      "a.b": pa.array([1, 2], pa.int64())}),
            root / "c.parquet")
        be = ParquetBackend(str(root))
        sch = resolve_schema(be, "main", "c", columns={
            "_id": "VARCHAR",
            "ab": {"type": "BIGINT", "path": "a.b"},
        })
        f = MongoFrame(spark=spark, backend=be, db="main", coll="c",
                       schema=sch).select("_id", "ab")
        f.df()
        assert f.last_exec_path == "datasource"


class TestAggregatePath:
    def test_count_rows(self, spark, pq_root):
        be = ParquetBackend(pq_root, id_field="k")
        f = _mf(spark, be, "c").count_rows()
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "direct"
        assert d.collect() == s.collect() == [
            next(iter(s.collect()))
        ]
        assert d.collect()[0][0] == 500
        assert d.schema == s.schema

    def test_count_rows_empty_match(self, spark, pq_root):
        be = ParquetBackend(pq_root, id_field="k")
        f = _mf(spark, be, "c").filter(C("v") > 1e9).count_rows()
        fd, _, d, s = _both(f)
        assert [r[0] for r in d.collect()] == [r[0] for r in s.collect()]

    def test_remote_group_pushdown(self, spark):
        be = MemoryBackend()
        be.create_collection("db", "t")
        be.insert_many("db", "t", [
            {"_id": i, "g": f"g{i % 4}", "x": i * 10} for i in range(200)
        ])
        sch = resolve_schema(be, "db", "t")
        f = (MongoFrame(spark=spark, backend=be, db="db", coll="t", schema=sch)
             .group_by("g").agg(("sum", "x", "sx"), ("count_star", None, "n")))
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "direct"
        assert fs.last_exec_path == "datasource"
        assert d.schema == s.schema
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))

    def test_remote_topn_pushdown(self, spark):
        be = MemoryBackend()
        be.create_collection("db", "t")
        be.insert_many("db", "t", [{"_id": i, "x": i} for i in range(100)])
        sch = resolve_schema(be, "db", "t")
        f = (MongoFrame(spark=spark, backend=be, db="db", coll="t", schema=sch)
             .order_by_id(descending=True).limit(7).select("_id", "x"))
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "direct"
        assert d.schema == s.schema
        assert list(map(tuple, d.collect())) == list(map(tuple, s.collect()))

    def test_agg_cap_falls_back(self, spark, monkeypatch):
        monkeypatch.setattr(frame_mod, "DIRECT_AGG_MAX_ROWS", 2)
        be = MemoryBackend()
        be.create_collection("db", "t")
        be.insert_many("db", "t", [{"_id": i, "g": f"g{i}"} for i in range(10)])
        sch = resolve_schema(be, "db", "t")
        f = (MongoFrame(spark=spark, backend=be, db="db", coll="t", schema=sch)
             .group_by("g").agg(("count_star", None, "n")))
        out = f.df()
        assert f.last_exec_path == "datasource"
        assert out.count() == 10


class TestNestedStructParquet:
    """Nested-document parquet (FIXTURES.md users.address shape) must be
    served by the interpreted flatten path on every route: the arrow fast
    path can neither flatten dotted paths nor JSON-render a struct parent
    column. Regression: it used to crash (ArrowNotImplementedError inside
    the task) on the parent cast, and would have emitted silent NULLs for
    dotted children."""

    @pytest.fixture(scope="class")
    def struct_root(self, tmp_path_factory):
        root = tmp_path_factory.mktemp("direct_struct")
        table = pa.table({
            "_id": pa.array(["a", "b"]),
            "address": pa.array(
                [{"street": "S1", "city": "C1"},
                 {"street": "S2", "city": "C2"}],
                type=pa.struct([("street", pa.string()),
                                ("city", pa.string())])),
            "v": pa.array([1, 2], pa.int64()),
        })
        pq.write_table(table, root / "c.parquet")
        return str(root)

    def test_arrow_scan_refuses_struct_to_varchar(self, struct_root):
        be = ParquetBackend(struct_root)
        out_fields = [("address", pa.string(), "address")]
        assert be.arrow_scan("main", "c", None, None, out_fields) is None

    def test_flattened_values_on_both_paths(self, spark, struct_root):
        be = ParquetBackend(struct_root)
        f = _mf(spark, be, "c")
        fd, fs, d, s = _both(f)
        # direct find path must defer: the arrow dialect cannot flatten
        assert fd.last_exec_path == "datasource"
        rows = {r["_id"]: r for r in s.collect()}
        assert rows["a"]["address_street"] == "S1"
        assert rows["a"]["address_city"] == "C1"
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))


class TestResidualOnTop:
    def test_residual_applies_after_direct_scan(self, spark, pq_root):
        # residual-bearing predicates still evaluate in Spark on top of
        # the direct scan, exactly as on the datasource path
        be = ParquetBackend(pq_root, id_field="k")
        f = (_mf(spark, be, "c")
             .filter((C("v") > 10.0) & (C("grp").substring(2, 1) == "1"))
             .select("k", "grp", "v"))
        fd, _, d, s = _both(f)
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, s.collect()))


class TestNativeReadMemo:
    """r14: the native path's eager mergeSchema footer merge is memoized
    per (session, file set, stat fingerprint) — pure plan metadata, so a
    hit must serve the identical reader frame, a file rewrite must miss
    (fresh merge, fresh data), and clear_cache() must drop it."""

    def _grouped(self, spark, be):
        # pushed $group on a native-capable local backend routes to
        # _try_native_df (direct declines, r12)
        return (_mf(spark, be, "c")
                .group_by("grp").agg(("sum", "v", "sv"),
                                     ("count_star", None, "n")))

    def test_hit_rewrite_miss_and_clear(self, spark, tmp_path):
        import time

        root = tmp_path / "memo_pq"
        root.mkdir()
        table = pa.table({
            "k": pa.array(range(100), pa.int64()),
            "grp": pa.array([f"g{i % 2}" for i in range(100)]),
            "v": pa.array([float(i) for i in range(100)], pa.float64()),
        })
        pq.write_table(table, root / "c.parquet")
        frame_mod.clear_native_read_memo()

        be = ParquetBackend(str(root), id_field="k")
        f1 = self._grouped(spark, be)
        r1 = {r["grp"]: r["n"] for r in f1.df().collect()}
        assert f1.last_exec_path == "native"
        assert r1 == {"g0": 50, "g1": 50}
        assert len(frame_mod._NATIVE_RAW_MEMO) == 1
        key, raw1 = next(iter(frame_mod._NATIVE_RAW_MEMO.items()))

        # second build: memo hit — same reader frame object, same result
        f2 = self._grouped(spark, be)
        r2 = {r["grp"]: r["n"] for r in f2.df().collect()}
        assert r2 == r1
        assert len(frame_mod._NATIVE_RAW_MEMO) == 1
        assert frame_mod._NATIVE_RAW_MEMO[key] is raw1

        # rewrite the file (different rows AND size): stat fingerprint
        # changes -> miss -> the fresh merge sees the new data
        time.sleep(0.01)
        table2 = pa.table({
            "k": pa.array(range(40), pa.int64()),
            "grp": pa.array(["g0"] * 40),
            "v": pa.array([1.0] * 40, pa.float64()),
        })
        pq.write_table(table2, root / "c.parquet")
        be2 = ParquetBackend(str(root), id_field="k")
        f3 = self._grouped(spark, be2)
        r3 = {r["grp"]: r["n"] for r in f3.df().collect()}
        assert f3.last_exec_path == "native"
        assert r3 == {"g0": 40}
        assert len(frame_mod._NATIVE_RAW_MEMO) == 2

        # A29: clear_cache() drops the memo
        from duckdb_mongo_spark.catalog import clear_cache

        clear_cache()
        assert len(frame_mod._NATIVE_RAW_MEMO) == 0


class TestTopNRoute:
    def test_local_topn_routes_to_native(self, spark, pq_root):
        # r14: TopN on a native-capable local backend takes FileScan +
        # TakeOrderedAndProject instead of a whole-collection driver
        # materialization; values identical to the datasource path
        be = ParquetBackend(pq_root, id_field="k")
        f = (_mf(spark, be, "c")
             .order_by_id(descending=True).limit(7).select("_id", "v"))
        fd, fs, d, s = _both(f)
        assert fd.last_exec_path == "native"
        assert fs.last_exec_path == "datasource"
        assert d.schema == s.schema
        assert list(map(tuple, d.collect())) == list(map(tuple, s.collect()))

    def test_forced_direct_topn_still_direct(self, spark, pq_root):
        be = ParquetBackend(pq_root, id_field="k")
        f = replace(
            _mf(spark, be, "c").order_by_id(descending=True).limit(7)
            .select("_id", "v"),
            direct=True)
        out = f.df()
        assert f.last_exec_path == "direct"
        assert out.count() == 7


def _jsonl_docs():
    """Nested, sparse, extended-JSON documents: ObjectId ids, dates,
    decimals, nulls and absent fields."""
    docs = []
    for i in range(60):
        d = {
            "_id": {"$oid": f"{i:024x}"},
            "status": ["a", "b", "c", None][i % 4],
            "price": float(i) * 1.5,
            "when": {"$date": f"2024-01-{1 + i % 28:02d}T0{i % 10}:30:00Z"},
            "amount": {"$numberDecimal": f"{i}"},
        }
        if i % 5:
            d["address"] = {"city": f"c{i % 3}", "geo": {"lat": i / 7}}
        if i % 7 == 0:
            del d["status"]
        docs.append(d)
    return docs


@pytest.fixture(scope="module")
def jsonl_root(tmp_path_factory):
    import json

    root = tmp_path_factory.mktemp("direct_jsonl")
    (root / "main").mkdir()
    with open(root / "main" / "orders.jsonl", "w") as f:
        for d in _jsonl_docs():
            f.write(json.dumps(d) + "\n")
    with open(root / "main" / "declared.jsonl", "w") as f:
        f.write(json.dumps({"_id": "__schema", "v": "BIGINT",
                            "name": "VARCHAR"}) + "\n")
        for i in range(30):
            v = "oops" if i == 7 else i
            f.write(json.dumps({"_id": f"id{i:02d}", "v": v,
                                "name": f"n{i % 4}"}) + "\n")
    (root / "main" / "empty.jsonl").write_text("")
    return str(root)


@pytest.fixture(scope="module")
def csv_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("direct_csv")
    (root / "main").mkdir()
    lines = ["k,name,score,flag,day"]
    for i in range(40):
        name = "" if i % 6 == 0 else f"n{i % 5}"
        lines.append(f"{i},{name},{i * 0.25},{'true' if i % 2 else 'false'},"
                     f"2024-02-{1 + i % 28:02d}")
    (root / "main" / "dim.csv").write_text("\n".join(lines) + "\n")
    return str(root)


def _assert_parity(f, ordered=False):
    fd, fs, d, s = _both(f)
    assert fd.last_exec_path == "direct"
    assert fs.last_exec_path == "datasource"
    assert d.schema == s.schema
    dr, sr = list(map(tuple, d.collect())), list(map(tuple, s.collect()))
    if not ordered:
        dr, sr = sorted(dr, key=repr), sorted(sr, key=repr)
    assert dr == sr
    return dr


class TestRowPathParity:
    """Local JSONL/CSV collections (no ``arrow_scan``) take the direct
    row path: the reader's own ``_result_docs`` + flatten + Arrow
    batching on the driver, identical rows and schema to the forced
    DataSource scan."""

    def test_jsonl_filter_projection(self, spark, jsonl_root):
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = (_mf(spark, be, "orders").filter(C("price") > 30.0)
             .select("_id", "price", "status"))
        assert len(_assert_parity(f)) == 39

    def test_jsonl_in_and_null_filters(self, spark, jsonl_root):
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = (_mf(spark, be, "orders").filter(C("status").isin("a", "c"))
             .select("_id", "status"))
        assert {r[1] for r in _assert_parity(f)} == {"a", "c"}
        f = _mf(spark, be, "orders").filter(C("status").is_null()).select("_id")
        assert len(_assert_parity(f)) > 0

    def test_jsonl_dotted_paths(self, spark, jsonl_root):
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = (_mf(spark, be, "orders").filter(C("address_city") == "c1")
             .select("_id", "address_city", "address_geo_lat"))
        rows = _assert_parity(f)
        assert rows and all(r[1] == "c1" and r[2] is not None for r in rows)
        # absent parent documents read as NULL on both paths
        f = _mf(spark, be, "orders").select("_id", "address_geo_lat")
        assert sum(r[1] is None for r in _assert_parity(f)) == 12

    def test_jsonl_extended_json_values(self, spark, jsonl_root):
        import datetime as dt
        from decimal import Decimal

        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = _mf(spark, be, "orders").select("_id", "when", "amount")
        rows = _assert_parity(f)
        by_id = {r[0]: r for r in rows}
        first = by_id[f"{0:024x}"]
        assert first[1] == dt.datetime(2024, 1, 1, 0, 30)
        assert Decimal(str(by_id[f"{12:024x}"][2])) == Decimal(12)

    def test_jsonl_schema_sentinel(self, spark, jsonl_root):
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = _mf(spark, be, "declared").select("_id", "v", "name")
        assert f.schema.source == "__schema"
        rows = _assert_parity(f)
        ids = {r[0] for r in rows}
        assert "__schema" not in ids and len(ids) == 30

    def test_jsonl_empty_collection(self, spark, jsonl_root):
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        sch = resolve_schema(be, "main", "empty",
                             columns={"_id": "VARCHAR", "v": "BIGINT"})
        f = MongoFrame(spark=spark, backend=be, db="main", coll="empty",
                       schema=sch)
        assert _assert_parity(f) == []

    def test_jsonl_unordered_limit_same_head(self, spark, jsonl_root):
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = (_mf(spark, be, "orders").filter(C("price") > 10.0).limit(5)
             .select("_id", "price"))
        rows = _assert_parity(f, ordered=True)
        assert [r[1] for r in rows] == [10.5, 12.0, 13.5, 15.0, 16.5]

    def test_jsonl_row_cap_routes_to_datasource(self, spark, jsonl_root,
                                                monkeypatch):
        from duckdb_mongo_spark.backends import JsonlBackend

        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 59)
        be = JsonlBackend(jsonl_root)
        f = _mf(spark, be, "orders").select("_id")
        assert f.df().count() == 60
        assert f.last_exec_path == "datasource"
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_ROWS", 60)
        f = _mf(spark, be, "orders").select("_id")
        f.df()
        assert f.last_exec_path == "direct"

    def test_jsonl_cells_cap_routes_to_datasource(self, spark, jsonl_root,
                                                  monkeypatch):
        from duckdb_mongo_spark.backends import JsonlBackend

        # the row path gets 1/ROW_SCAN_CELLS_DIVISOR of the cell budget
        be = JsonlBackend(jsonl_root)
        share = frame_mod.ROW_SCAN_CELLS_DIVISOR
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_CELLS", 60 * 2 * share - 1)
        f = _mf(spark, be, "orders").select("_id", "price")
        f.df()
        assert f.last_exec_path == "datasource"
        monkeypatch.setattr(frame_mod, "DIRECT_SCAN_MAX_CELLS", 60 * 2 * share)
        f = _mf(spark, be, "orders").select("_id", "price")
        f.df()
        assert f.last_exec_path == "direct"

    def test_jsonl_direct_false_honored(self, spark, jsonl_root):
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = replace(_mf(spark, be, "orders").select("_id"), direct=False)
        f.df()
        assert f.last_exec_path == "datasource"

    def test_jsonl_spark_side_agg_declines(self, spark, jsonl_root):
        # same decline as the arrow branch: a Spark-side groupBy feeds
        # on the partitioned scan
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = _mf(spark, be, "orders").group_by("status").agg(
            ("count_star", None, "n"))
        f.df()
        assert f.last_exec_path == "datasource"

    def test_dropmalformed_parity(self, spark, jsonl_root):
        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        f = replace(_mf(spark, be, "declared").select("_id", "v"),
                    schema_mode="DROPMALFORMED")
        rows = _assert_parity(f)
        assert len(rows) == 29 and "id07" not in {r[0] for r in rows}

    def test_failfast_keeps_action_time_error(self, spark, jsonl_root):
        from pyspark.errors import PythonException

        from duckdb_mongo_spark.backends import JsonlBackend

        be = JsonlBackend(jsonl_root)
        for direct in (None, True):
            f = replace(_mf(spark, be, "declared").select("_id", "v"),
                        schema_mode="FAILFAST", direct=direct)
            df = f.df()  # no error at build time
            assert f.last_exec_path == "datasource"
            with pytest.raises(PythonException,
                               match=r"SchemaEnforcementError.*'id07'"):
                df.collect()

    def test_csv_filter_projection_and_nulls(self, spark, csv_root):
        from duckdb_mongo_spark.backends import CsvBackend

        be = CsvBackend(csv_root)
        f = (_mf(spark, be, "dim").filter(C("score") > 2.0)
             .select("k", "name", "score", "flag", "day"))
        assert len(_assert_parity(f)) == 31
        f = _mf(spark, be, "dim").filter(C("name").is_null()).select("k")
        assert sorted(r[0] for r in _assert_parity(f)) == list(range(0, 40, 6))
        f = (_mf(spark, be, "dim").filter(C("name").isin("n1", "n3"))
             .select("k", "name"))
        assert {r[1] for r in _assert_parity(f)} == {"n1", "n3"}

    def test_csv_unordered_limit_same_head(self, spark, csv_root):
        from duckdb_mongo_spark.backends import CsvBackend

        be = CsvBackend(csv_root)
        f = _mf(spark, be, "dim").limit(4).select("k")
        assert _assert_parity(f, ordered=True) == [(0,), (1,), (2,), (3,)]
