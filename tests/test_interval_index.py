"""Durable interval-envelope sidecar (ops/interval_index, r14).

The sidecar materializes the (keys, bin) envelope aggregation that the
sf10 decomposition showed dominating the interval-join wall
(BENCH_r13 sf10_iv_decomp) — an ingest-time artifact, the BM25-sidecar
pattern. These tests pin: bit-identical results vs the inline prebinned
path AND the DuckDB range-join oracle, fingerprint-checked no-op
rebuilds, invalidation on source rewrite, the handle-accepting
``intervals=`` fast path on both join shapes, and the
``catalog.clear_cache()`` wiring.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops import interval_index as ii
from duckdb_mongo_spark.ops.interval_index import (
    build_interval_envelope_index,
    cached_interval_envelope_index,
)
from duckdb_mongo_spark.ops.joins import (
    interval_join_points,
    interval_overlap_join,
    time_bin,
)

DAY = 86400.0


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    import __spark_entry__ as entry

    return entry._load_table(spark, sf_dir, "events")


@pytest.fixture(scope="module")
def points(events):
    return events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")


def _inline_envelopes(events):
    err = events.filter(F.col("event_type") == "error").select("user_id", "ts")
    return (err.groupBy("user_id", time_bin(err, "ts", DAY).alias("__bin"))
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")))


@pytest.fixture()
def idx(events):
    return build_interval_envelope_index(
        events, "ts", ["user_id"], DAY,
        predicate=F.col("event_type") == "error")


class TestBuildAndCache:
    def test_build_is_durable_and_fingerprint_nooped(self, events):
        b0 = ii.build_count
        i1 = build_interval_envelope_index(
            events, "ts", ["user_id"], DAY,
            predicate=F.col("event_type") == "error")
        assert ii.build_count == b0 + 1
        assert i1.sidecar is not None and os.path.isdir(i1.data_dir)
        assert i1.n_intervals > 0
        # second build: fingerprint hit, NO re-aggregation
        i2 = build_interval_envelope_index(
            events, "ts", ["user_id"], DAY,
            predicate=F.col("event_type") == "error")
        assert ii.build_count == b0 + 1
        assert i2.data_dir == i1.data_dir

    def test_cached_never_builds(self, events):
        spec = dict(predicate=F.col("event_type") == "click",
                    lo_col="clo", hi_col="chi")
        assert cached_interval_envelope_index(
            events, "ts", ["user_id"], DAY, **spec) is None
        built = build_interval_envelope_index(
            events, "ts", ["user_id"], DAY, **spec)
        got = cached_interval_envelope_index(
            events, "ts", ["user_id"], DAY, **spec)
        assert got is not None and got.data_dir == built.data_dir

    def test_durable_reload_after_cache_clear(self, events, idx):
        ii.clear_interval_index_cache()
        l0 = ii.load_count
        got = cached_interval_envelope_index(
            events, "ts", ["user_id"], DAY,
            predicate=F.col("event_type") == "error")
        assert got is not None and ii.load_count == l0 + 1
        assert got.data_dir == idx.data_dir

    def test_source_rewrite_invalidates(self, spark, events, tmp_path):
        src = str(tmp_path / "ev.parquet")
        events.limit(200).write.parquet(src)
        df = spark.read.parquet(src)
        i1 = build_interval_envelope_index(df, "ts", ["user_id"], DAY)
        assert cached_interval_envelope_index(
            spark.read.parquet(src), "ts", ["user_id"], DAY) is not None
        # rewrite the source: fingerprint (sizes/mtimes) must miss
        shutil.rmtree(src)
        events.limit(100).write.parquet(src)
        df2 = spark.read.parquet(src)
        assert cached_interval_envelope_index(
            df2, "ts", ["user_id"], DAY) is None
        i2 = build_interval_envelope_index(df2, "ts", ["user_id"], DAY)
        assert i2.data_dir != i1.data_dir

    def test_spec_is_part_of_the_key(self, events):
        i_err = build_interval_envelope_index(
            events, "ts", ["user_id"], DAY,
            predicate=F.col("event_type") == "error")
        i_week = build_interval_envelope_index(
            events, "ts", ["user_id"], 7 * DAY,
            predicate=F.col("event_type") == "error")
        assert i_week.data_dir != i_err.data_dir
        assert i_week.bin_width == 7 * DAY

    def test_in_memory_source_builds_session_local(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0), (1, 20.0), (2, 5.0)], "k int, t double")
        idx = build_interval_envelope_index(df, "t", ["k"], 50.0)
        assert idx.n_intervals == 2
        rows = {r.k: (r.lo, r.hi) for r in idx.df(spark).collect()}
        assert rows == {1: (10.0, 20.0), 2: (5.0, 5.0)}

    def test_catalog_clear_cache_drops_handles(self, events, idx):
        from duckdb_mongo_spark.catalog import clear_cache

        assert cached_interval_envelope_index(
            events, "ts", ["user_id"], DAY,
            predicate=F.col("event_type") == "error") is not None
        clear_cache()
        assert len(ii._CACHE) == 0

    def test_extra_aggs_payload(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0, 2.0), (1, 20.0, 5.0)], "k int, t double, v double")
        idx = build_interval_envelope_index(
            df, "t", ["k"], 50.0, aggs={"n": F.count(F.lit(1)),
                                        "vmax": F.max("v")})
        row = idx.df(spark).collect()[0]
        assert (row.n, row.vmax) == (2, 5.0)


class TestJoinFastPath:
    def test_points_join_parity_inline_vs_sidecar(self, points, events,
                                                  idx, con=None):
        inline = interval_join_points(
            points, "ts", _inline_envelopes(events), "lo", "hi",
            on=["user_id"], bin_width=DAY, iv_bin_col="__bin")
        side = interval_join_points(points, "ts", idx)
        assert inline.columns == side.columns
        key = lambda r: (r.event_id, str(r.lo))  # noqa: E731
        a = sorted(map(key, inline.collect()))
        b = sorted(map(key, side.collect()))
        assert a and a == b

    def test_points_join_matches_duckdb_oracle(self, points, idx, sf_dir):
        from _oracle import compare, duckdb_con

        out = interval_join_points(points, "ts", idx).select(
            "event_id", "user_id", "ts", "lo", "hi").orderBy(
            "event_id", "lo")
        con = duckdb_con(sf_dir)
        res = compare(out, con, """
            SELECT p.event_id, p.user_id, p.ts, i.lo, i.hi
            FROM (SELECT event_id, user_id, ts FROM events
                  WHERE event_type = 'click') p
            JOIN (SELECT user_id, MIN(ts) AS lo, MAX(ts) AS hi
                  FROM events WHERE event_type = 'error'
                  GROUP BY user_id, date_trunc('day', ts)) i
              ON p.user_id = i.user_id AND p.ts >= i.lo AND p.ts <= i.hi
            ORDER BY p.event_id, i.lo
        """)
        assert res["value_match"], res
        assert res["rows_spark"] > 0

    def test_sidecar_grid_is_authoritative_and_validated(self, points, idx):
        # omitted args come from the handle; wrong explicit args raise
        with pytest.raises(ValueError, match="sidecar"):
            interval_join_points(points, "ts", idx, "wrong_lo", "hi")
        with pytest.raises(ValueError, match="sidecar"):
            interval_join_points(points, "ts", idx, on=["event_id"])
        with pytest.raises(ValueError, match="sidecar"):
            interval_join_points(points, "ts", idx, bin_width=7200.0)

    def test_plan_has_no_envelope_aggregation(self, points, idx):
        # the deployment-shape win: the per-query plan reads the
        # committed envelope parquet — NO HashAggregate on the interval
        # side, no raw-events second scan
        side = interval_join_points(points, "ts", idx)
        plan = side._jdf.queryExecution().executedPlan().toString()
        assert "HashAggregate" not in plan, plan[:2500]
        scans = plan.count("FileScan parquet")
        assert scans == 2, f"{scans} parquet scans\n{plan[:2500]}"

    def test_overlap_join_accepts_handles_both_sides(self, spark, events):
        week = 7 * DAY
        sl = F.col("user_id") % 7 == 0
        li = build_interval_envelope_index(
            events, "ts", ["user_id"], week,
            predicate=(F.col("event_type") == "click") & sl)
        ri = build_interval_envelope_index(
            events, "ts", ["user_id"], week,
            predicate=(F.col("event_type") == "error") & sl)

        def env(df, t):
            d = events.filter((F.col("event_type") == t) & sl).select(
                "user_id", "ts")
            return (d.groupBy("user_id",
                              time_bin(d, "ts", week).alias("__bin"))
                    .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")))

        inline = interval_overlap_join(
            env(events, "click"), "lo", "hi", env(events, "error"),
            "lo", "hi", on=["user_id"], bin_width=week,
            l_bin_col="__bin", r_bin_col="__bin")
        side = interval_overlap_join(li, None, None, ri)
        assert inline.columns == side.columns
        key = lambda r: (r.user_id, str(r.lo), str(r.lo_r))  # noqa: E731
        a = sorted(map(key, inline.collect()))
        b = sorted(map(key, side.collect()))
        assert a and a == b

    def test_overlap_rejects_mismatched_sidecar_grids(self, events):
        li = build_interval_envelope_index(
            events, "ts", ["user_id"], DAY,
            predicate=F.col("event_type") == "click")
        ri = build_interval_envelope_index(
            events, "ts", ["user_id"], 7 * DAY,
            predicate=F.col("event_type") == "error")
        with pytest.raises(ValueError, match="sidecar"):
            interval_overlap_join(li, None, None, ri)

    def test_big_sidecar_blocks_broadcast_misestimate(self, spark,
                                                      points, idx):
        # r14: Spark's compile-time broadcast estimate for a parquet
        # scan is the COMPRESSED file size — a narrow envelope table
        # slips under the static threshold while hashing to far more
        # JVM bytes (the broadcast plan measured ~25% slower at 1.5M
        # rows). The handle's exact row count gates it: when the
        # estimated true size exceeds the threshold the resolved frame
        # carries a shuffle_hash hint; when it fits, no hint.
        from duckdb_mongo_spark.ops.joins import _resolve_iv

        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "100")  # below est = n_intervals x width
            df, *_ = _resolve_iv(points, idx, None, None, None, None, None)
            assert "shuffle_hash" in \
                df._jdf.queryExecution().analyzed().toString()
            spark.conf.set(key, str(1 << 30))
            df2, *_ = _resolve_iv(points, idx, None, None, None, None,
                                  None)
            assert "shuffle_hash" not in \
                df2._jdf.queryExecution().analyzed().toString()
        finally:
            spark.conf.set(key, old)

    def test_bucketed_sidecar_elides_envelope_exchange(self, spark,
                                                       points, idx):
        # r15 (r14 verdict #1): the envelopes are written BUCKETED on
        # (bin, keys) and read through a session-scoped catalog table,
        # so the shuffled-hash join plans NO envelope-side exchange —
        # only the point side shuffles (2 Exchanges → 1, measured ~12%
        # off the sf10 wall). Forcing the SHJ route (threshold below
        # the envelope estimate) must leave exactly one hash exchange,
        # with the bucketed scan engaged.
        import re

        assert idx.bucket and idx.bucket["n"] >= 1
        assert idx.bucket["cols"] == [idx.bin_col, *idx.on]
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        try:
            spark.conf.set(key, "100")
            out = interval_join_points(points, "ts", idx)
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(key, old)
        n = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n == 1, f"{n} hash exchanges\n{plan[:2500]}"
        assert "ShuffledHashJoin" in plan, plan[:2500]
        assert "Bucketed: true" in plan, plan[:2500]
        # and the registered table survives in-session re-reads
        assert spark.catalog.tableExists(idx._table_name())

    def test_time_range_pruning_reads_subset(self, spark, idx):
        # the files are range-partitioned and sorted on the bin — a
        # bin-bounded predicate must be pushable to the scan
        env = idx.df(spark).filter(F.col(idx.bin_col) <= 19725)
        plan = env._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "LessThanOrEqual" in plan, \
            plan[:1500]


class TestCatalogHygiene:
    """The bucketed layout registers a catalog table per version dir; no
    path may leave one behind once its dir is gone or unused."""

    @staticmethod
    def _ivx_tables(spark) -> set:
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("duckdb_mongo_spark_ivx_")}

    @staticmethod
    def _source(spark, events, tmp_path):
        src = str(tmp_path / "ev.parquet")
        events.limit(300).write.parquet(src)
        return spark.read.parquet(src)

    def test_failed_bucketed_write_drops_its_table(self, spark, events,
                                                   tmp_path, monkeypatch):
        from pyspark.sql.readwriter import DataFrameWriter

        src = self._source(spark, events, tmp_path)
        real = DataFrameWriter.saveAsTable

        def fail_after_register(self, *args, **kwargs):
            real(self, *args, **kwargs)  # table registered, files written
            raise RuntimeError("injected bucketed-write failure")

        monkeypatch.setattr(DataFrameWriter, "saveAsTable", fail_after_register)
        before = self._ivx_tables(spark)
        idx = build_interval_envelope_index(src, "ts", ["user_id"], DAY)
        monkeypatch.undo()
        assert idx.bucket is None  # the plain-layout fallback served it
        assert self._ivx_tables(spark) == before
        assert not spark.catalog.tableExists(idx._table_name())
        sdir = os.path.dirname(idx.sidecar)
        assert sorted(os.listdir(sdir)) == ["CURRENT", os.path.basename(idx.sidecar)]
        assert sorted(os.listdir(idx.sidecar)) == ["data", "meta.json"]
        got = sorted(map(tuple, idx.df(spark).collect()))
        # same rows as a bucketed build of the same spec
        ii.clear_interval_index_cache()
        shutil.rmtree(sdir)
        ok = build_interval_envelope_index(src, "ts", ["user_id"], DAY)
        assert ok.bucket is not None
        assert got == sorted(map(tuple, ok.df(spark).collect()))

    def test_gc_drops_tables_of_deleted_versions(self, spark, events,
                                                 tmp_path):
        src = self._source(spark, events, tmp_path)
        old = build_interval_envelope_index(src, "ts", ["user_id"], DAY)
        assert old.bucket is not None
        assert spark.catalog.tableExists(old._table_name())
        # an unreadable pointer forces a rebuild of the same key; the
        # commit's GC then deletes the old version dir
        ii.clear_interval_index_cache()
        os.remove(os.path.join(os.path.dirname(old.sidecar), "CURRENT"))
        new = build_interval_envelope_index(src, "ts", ["user_id"], DAY)
        assert new.sidecar != old.sidecar
        assert not os.path.exists(old.sidecar)
        assert not spark.catalog.tableExists(old._table_name())
        assert spark.catalog.tableExists(new._table_name())

    def test_drop_sidecars_drops_their_tables(self, spark, events, tmp_path,
                                              monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_INTERVAL_INDEX_DIR",
                           str(tmp_path / "ivx"))
        src = self._source(spark, events, tmp_path)
        before = self._ivx_tables(spark)
        idx = build_interval_envelope_index(src, "ts", ["user_id"], DAY)
        assert idx.bucket is not None
        idx.df(spark)
        assert spark.catalog.tableExists(idx._table_name())
        assert ii.drop_interval_index_sidecars() == 1
        assert not os.path.exists(idx.sidecar)
        assert not spark.catalog.tableExists(idx._table_name())
        assert self._ivx_tables(spark) == before
