"""As-of and interval join operators vs DuckDB oracles.

DuckDB (embedded by the reference) ships ASOF JOIN natively, so it is
the value oracle for asof_join; interval joins check against plain
inequality-join SQL. Plan-shape tests pin the scale contract: the
binned interval joins must never plan a nested-loop/cartesian join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops.joins import (
    asof_join,
    interval_join_points,
    interval_overlap_join,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    import __spark_entry__ as entry

    return entry._load_table(spark, sf_dir, "events")


@pytest.fixture(scope="module")
def clicks(events):
    return events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")


@pytest.fixture(scope="module")
def errors(events):
    return events.filter(F.col("event_type") == "error").select("user_id", "ts", "value")


@pytest.fixture(scope="module")
def con(sf_dir):
    from _oracle import duckdb_con

    c = duckdb_con(sf_dir)
    c.execute("CREATE VIEW l AS SELECT event_id, user_id, ts FROM events WHERE event_type='click'")
    c.execute("CREATE VIEW r AS SELECT user_id, ts, value FROM events WHERE event_type='error'")
    return c


def _check(df, con, sql):
    from _oracle import compare

    res = compare(df, con, sql)
    assert res["value_match"], res
    assert res["rows_spark"] > 0  # vacuous pass guard


class TestAsofJoin:
    def test_backward_matches_duckdb_asof(self, clicks, errors, con):
        out = asof_join(clicks, errors, on="ts", by=["user_id"])
        _check(out, con, """
            SELECT l.event_id, l.user_id, l.ts, r.ts AS ts_right, r.value AS value
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        """)

    def test_forward_matches_duckdb_asof(self, clicks, errors, con):
        out = asof_join(clicks, errors, on="ts", by=["user_id"], direction="forward")
        _check(out, con, """
            SELECT l.event_id, l.user_id, l.ts, r.ts AS ts_right, r.value AS value
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
        """)

    def test_backward_tolerance(self, clicks, errors, con):
        out = asof_join(clicks, errors, on="ts", by=["user_id"], tolerance=7200.0)
        _check(out, con, """
            SELECT l.event_id, l.user_id, l.ts,
                   CASE WHEN epoch(l.ts) - epoch(r.ts) <= 7200 THEN r.ts END AS ts_right,
                   CASE WHEN epoch(l.ts) - epoch(r.ts) <= 7200 THEN r.value END AS value
            FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        """)

    def test_nearest_matches_correlated_oracle(self, clicks, errors, con):
        out = asof_join(clicks, errors, on="ts", by=["user_id"], direction="nearest")
        # nearest has no native DuckDB form; correlated top-1 by distance,
        # backward preferred on exact-distance ties
        _check(out, con, """
            SELECT l.event_id, l.user_id, l.ts,
                   (SELECT r.ts FROM r WHERE r.user_id = l.user_id
                    ORDER BY abs(epoch(r.ts) - epoch(l.ts)), (r.ts <= l.ts) DESC LIMIT 1) AS ts_right,
                   (SELECT r.value FROM r WHERE r.user_id = l.user_id
                    ORDER BY abs(epoch(r.ts) - epoch(l.ts)), (r.ts <= l.ts) DESC LIMIT 1) AS value
            FROM l
        """)

    def test_unmatched_left_rows_kept_with_nulls(self, spark):
        left = spark.createDataFrame([(1, 10.0), (1, 1.0), (2, 5.0)], "k int, t double")
        right = spark.createDataFrame([(1, 5.0, "x")], "k int, t double, v string")
        rows = {
            (r.k, r.t): (r.t_right, r.v)
            for r in asof_join(left, right, on="t", by=["k"], suffix="_right").collect()
        }
        assert rows[(1, 10.0)] == (5.0, "x")
        assert rows[(1, 1.0)] == (None, None)   # before any right row
        assert rows[(2, 5.0)] == (None, None)   # key absent from right
        assert len(rows) == 3

    def test_equal_time_matches_both_directions(self, spark):
        left = spark.createDataFrame([(1, 5.0)], "k int, t double")
        right = spark.createDataFrame([(1, 5.0, "same")], "k int, t double, v string")
        for direction in ("backward", "forward", "nearest"):
            row = asof_join(left, right, on="t", by=["k"], direction=direction).collect()[0]
            assert row.v == "same", direction

    def test_no_by_keys_global_asof(self, spark):
        left = spark.createDataFrame([(i, float(i)) for i in range(5)], "id int, t double")
        right = spark.createDataFrame([(2.5, "a"), (4.0, "b")], "t double, v string")
        got = {r.id: r.v for r in asof_join(left, right, on="t").collect()}
        assert got == {0: None, 1: None, 2: None, 3: "a", 4: "b"}

    def test_ntz_timestamp_accepted(self, spark):
        # NTZ columns must flow through the numeric-ordering path
        left = spark.sql(
            "SELECT 1 AS k, TIMESTAMP_NTZ'2024-01-01 10:00:00' AS t"
        )
        right = spark.sql(
            "SELECT 1 AS k, TIMESTAMP_NTZ'2024-01-01 09:00:00' AS t, 'm' AS v"
        )
        row = asof_join(left, right, on="t", by=["k"], tolerance=7200.0).collect()[0]
        assert row.v == "m"

    def test_rejects_bad_args(self, spark):
        df = spark.createDataFrame([(1, 1.0)], "k int, t double")
        with pytest.raises(ValueError):
            asof_join(df, df, on="t", direction="sideways")
        with pytest.raises(ValueError):
            asof_join(df, df, on="t", by=["missing"])
        with pytest.raises(ValueError):
            asof_join(df, df, on="t", by=["t"])
        with pytest.raises(ValueError, match="left"):
            # by key present on right only must fail at the API, not as
            # an unresolved-column error inside the window expression
            asof_join(df.drop("k"), df, on="t", by=["k"])

    def test_null_times_never_match(self, spark):
        # SQL/DuckDB ASOF: NULL never matches — null-t left rows keep
        # NULL payload, null-t right rows are invisible to everyone
        left = spark.createDataFrame([(1, None), (1, 5.0)], "k int, t double")
        right = spark.createDataFrame(
            [(1, 3.0, "early"), (1, None, "nullts")], "k int, t double, v string"
        )
        for direction in ("backward", "forward", "nearest"):
            rows = {r.t: r.v for r in asof_join(
                left, right, on="t", by=["k"], direction=direction).collect()}
            assert rows[None] is None, direction
            assert rows[5.0] == ("early" if direction != "forward" else None), direction


class TestAsofTieBreakAndStrategies:
    """r13: tie_break (pre-aggregation folded into the sort) must equal
    the pre-aggregated DuckDB oracle; edge cases of the window plan (the
    only asof plan since the packed-history broadcast form was
    deleted)."""

    def test_tie_break_equals_preagg_oracle(self, clicks, errors, con):
        # tie_break="value" over RAW errors == ASOF over the
        # groupBy(user_id, ts).max(value) pre-aggregation
        out = asof_join(clicks, errors.withColumnRenamed("value", "err_value"),
                        on="ts", by=["user_id"], tie_break="err_value")
        _check(out, con, """
            SELECT l.event_id, l.user_id, l.ts, r.ts AS ts_right,
                   r.err_value AS err_value
            FROM l ASOF LEFT JOIN (
                SELECT user_id, ts, MAX(value) AS err_value
                FROM r GROUP BY user_id, ts) r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """)

    def test_tie_break_picks_greatest_all_directions(self, spark):
        left = spark.createDataFrame([(1, 5.0), (1, 2.0)], "k int, t double")
        right = spark.createDataFrame(
            [(1, 3.0, 1.0), (1, 3.0, 9.0), (1, 3.0, 4.0),
             (1, 3.0, None)], "k int, t double, v double")
        for direction in ("backward", "forward", "nearest"):
            rows = {r.t: r.v for r in asof_join(
                left, right, on="t", by=["k"], direction=direction,
                tie_break="v").collect()}
            assert rows[5.0] == (9.0 if direction != "forward" else None), \
                direction
            assert rows[2.0] == (9.0 if direction != "backward" else None), \
                direction

    def test_no_by_and_empty_right(self, spark):
        left = spark.createDataFrame([(i, float(i)) for i in range(5)], "id int, t double")
        right = spark.createDataFrame([(2.5, "a"), (4.0, "b")], "t double, v string")
        got = {r.id: r.v for r in asof_join(left, right, on="t").collect()}
        assert got == {0: None, 1: None, 2: None, 3: "a", 4: "b"}
        # empty right: all left rows kept, NULL payload (left-outer)
        empty = right.filter(F.lit(False))
        rows = asof_join(left, empty, on="t").collect()
        assert len(rows) == 5 and all(r.v is None for r in rows)

    def test_null_by_keys_group_together(self, spark):
        # window partitionBy groups NULL keys: a null-key left row sees
        # the null-key right history (unlike SQL ``ON l.k = r.k``)
        left = spark.createDataFrame(
            [(None, 5.0), (1, 5.0)], "k int, t double")
        right = spark.createDataFrame(
            [(None, 3.0, "nullkey"), (1, 4.0, "one")],
            "k int, t double, v string")
        rows = {r.k: r.v for r in asof_join(
            left, right, on="t", by=["k"]).collect()}
        assert rows == {None: "nullkey", 1: "one"}

    def test_nan_times_match_nothing(self, spark):
        # r14: float NaN times are normalized like NULL — NaN right rows
        # attach to nobody, NaN left rows keep NULL payload
        nan = float("nan")
        left = spark.createDataFrame(
            [(1, nan), (1, 5.0), (1, 100.0)], "k int, t double")
        right = spark.createDataFrame(
            [(1, 3.0, "early"), (1, nan, "nants")],
            "k int, t double, v string")
        for direction in ("backward", "forward", "nearest"):
            rows = {str(r.t): r.v for r in asof_join(
                left, right, on="t", by=["k"],
                direction=direction).collect()}
            assert rows["nan"] is None, direction
            # 100.0 sits beyond every REAL right time: a forward
            # probe must not fall through to the NaN right row
            assert rows["100.0"] == (
                "early" if direction != "forward" else None
            ), direction
            assert rows["5.0"] == (
                "early" if direction != "forward" else None
            ), direction

    def test_rejects_bad_strategy_args(self, spark):
        df = spark.createDataFrame([(1, 1.0, 2.0)], "k int, t double, v double")
        # the window plan is the only plan: there is no strategy to pick
        with pytest.raises(TypeError, match="strategy"):
            asof_join(df, df, on="t", strategy="broadcast")
        with pytest.raises(ValueError, match="tie_break"):
            asof_join(df, df, on="t", tie_break="missing")
        with pytest.raises(ValueError, match="tie_break"):
            asof_join(df, df, on="t", by=["k"], tie_break="k")
        with pytest.raises(ValueError, match="salt"):
            asof_join(df, df, on="t", by=["k"], salt=1)


class TestAsofSelfJoin:
    """r13: asof_self_join — both sides as predicate slices of ONE
    frame (single scan). Must equal the two-input asof_join exactly."""

    def test_matches_two_input_and_oracle(self, events, clicks, errors, con):
        from duckdb_mongo_spark.ops.joins import asof_self_join

        out = asof_self_join(
            events, F.col("event_type") == "click",
            F.col("event_type") == "error", on="ts",
            left_cols=["event_id"], right_cols=["value"],
            by=["user_id"], tie_break="value",
        ).select("event_id", "user_id", "ts", "ts_right", "value")
        two = asof_join(clicks, errors, on="ts", by=["user_id"],
                        tie_break="value")
        key = lambda r: (r.event_id, str(r.ts_right), str(r.value))  # noqa: E731
        assert sorted(map(key, out.collect())) == sorted(map(key, two.collect()))
        _check(out, con, """
            SELECT l.event_id, l.user_id, l.ts, r.ts AS ts_right, r.value
            FROM l ASOF LEFT JOIN (
                SELECT user_id, ts, MAX(value) AS value
                FROM r GROUP BY user_id, ts) r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """)

    def test_single_scan_plan(self, events):
        from duckdb_mongo_spark.ops.joins import asof_self_join

        out = asof_self_join(
            events, F.col("event_type") == "click",
            F.col("event_type") == "error", on="ts",
            left_cols=["event_id"], right_cols=["value"], by=["user_id"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re
        scans = len(re.findall(r"Scan parquet|FileScan", plan))
        assert scans == 1, f"{scans} scans\n{plan[:2000]}"

    def test_disjointness_asserted(self, spark):
        from duckdb_mongo_spark.ops.joins import asof_self_join

        df = spark.createDataFrame(
            [(1, 1.0, "both")], "k int, t double, tag string")
        with pytest.raises(Exception, match="overlapping=True"):
            asof_self_join(df, F.col("tag") == "both", F.col("tag") == "both",
                           on="t", left_cols=["tag"], right_cols=["tag"],
                           by=["k"]).collect()

    def test_null_predicate_is_no_match_not_assert_failure(self, spark):
        # a predicate evaluating to SQL NULL means "row doesn't match
        # that side" — the disjointness guard must not fire on
        # (NULL & TRUE) three-valued logic (r13 review fix)
        from duckdb_mongo_spark.ops.joins import asof_self_join

        df = spark.createDataFrame(
            [(1, 5.0, None, "r"), (1, 9.0, 7.0, "q")],
            "k int, t double, a double, b string")
        out = asof_self_join(
            df, F.col("a") > 0, F.col("b") == "r",
            on="t", left_cols=["a"], right_cols=["b"], by=["k"]).collect()
        # the a=NULL b="r" row is right-side only (left pred NULL, right
        # TRUE — must not raise); the a=7.0 row probes and matches it
        assert len(out) == 1 and out[0].t == 9.0 and out[0].b == "r"

    def test_nan_times_match_nothing(self, spark):
        # r14: NaN parity with asof_join's normalization (ADVICE r13)
        from duckdb_mongo_spark.ops.joins import asof_self_join

        nan = float("nan")
        src = spark.createDataFrame(
            [("p", 1, nan, 0.0), ("p", 1, 5.0, 0.0),
             ("c", 1, 3.0, 7.0), ("c", 1, nan, 9.0)],
            "side string, k int, t double, v double")
        out = asof_self_join(
            src, F.col("side") == "p", F.col("side") == "c",
            on="t", left_cols=["k"], right_cols=["v"], by=["k"])
        rows = {str(r.t): r.v for r in out.collect()}
        assert rows["nan"] is None
        assert rows["5.0"] == 7.0

    def test_overlapping_rows_act_as_both_sides(self, spark):
        from duckdb_mongo_spark.ops.joins import asof_self_join

        # row at t=5 matches both preds: as a probe it should match
        # ITSELF (backward, equal time allowed)
        df = spark.createDataFrame(
            [(1, 5.0, "lr", 9.0), (1, 3.0, "r", 1.0)],
            "k int, t double, tag string, v double")
        out = asof_self_join(
            df, F.col("tag").contains("l"), F.col("tag").contains("r"),
            on="t", left_cols=["tag"], right_cols=["v"], by=["k"],
            overlapping=True)
        rows = {r.t: (r.t_right, r.v) for r in out.collect()}
        assert rows == {5.0: (5.0, 9.0)}

    def test_directions_and_tolerance_match_two_input(self, events, clicks, errors):
        from duckdb_mongo_spark.ops.joins import asof_self_join

        for direction in ("forward", "nearest"):
            for tol in (None, 7200.0):
                out = asof_self_join(
                    events, F.col("event_type") == "click",
                    F.col("event_type") == "error", on="ts",
                    left_cols=["event_id"], right_cols=["value"],
                    by=["user_id"], direction=direction, tolerance=tol)
                two = asof_join(clicks, errors, on="ts", by=["user_id"],
                                direction=direction, tolerance=tol)
                key = lambda r: (r.event_id, str(r.ts_right))  # noqa: E731
                assert sorted(map(key, out.collect())) \
                    == sorted(map(key, two.collect())), (direction, tol)

    def test_rejects_bad_args(self, spark):
        from duckdb_mongo_spark.ops.joins import asof_self_join

        df = spark.createDataFrame([(1, 1.0, "x")], "k int, t double, tag string")
        with pytest.raises(ValueError, match="absent"):
            asof_self_join(df, F.lit(True), F.lit(False), on="t",
                           left_cols=["nope"], right_cols=["tag"])
        with pytest.raises(ValueError, match="'on'"):
            asof_self_join(df, F.lit(True), F.lit(False), on="t",
                           left_cols=["tag"], right_cols=["tag"], by=["t"])


class TestIntervalJoins:
    def test_points_in_intervals_matches_sql(self, clicks, errors, con, spark):
        iv = errors.select(
            "user_id",
            F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"),
            "value",
        )
        out = interval_join_points(clicks, "ts", iv, "lo", "hi", on=["user_id"], bin_width=3600.0)
        _check(out, con, """
            SELECT l.event_id, l.user_id, l.ts,
                   iv.user_id AS user_id_iv, iv.lo, iv.hi, iv.value
            FROM l JOIN (SELECT user_id, ts AS lo, ts + INTERVAL 2 HOUR AS hi, value FROM r) iv
              ON l.user_id = iv.user_id AND l.ts >= iv.lo AND l.ts <= iv.hi
        """)

    def test_overlap_join_matches_sql(self, clicks, errors, con):
        lv = clicks.select(
            "event_id", "user_id",
            F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"),
        )
        rv = errors.select(
            "user_id",
            F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"),
            "value",
        )
        out = interval_overlap_join(lv, "lo", "hi", rv, "lo", "hi", on=["user_id"], bin_width=3600.0)
        _check(out, con, """
            SELECT l.event_id, l.user_id, l.lo, l.hi,
                   rv.user_id AS user_id_r, rv.lo AS lo_r, rv.hi AS hi_r, rv.value
            FROM (SELECT event_id, user_id, ts AS lo, ts + INTERVAL 30 MINUTE AS hi FROM l) l
            JOIN (SELECT user_id, ts AS lo, ts + INTERVAL 2 HOUR AS hi, value FROM r) rv
              ON l.user_id = rv.user_id AND l.lo <= rv.hi AND rv.lo <= l.hi
        """)

    def test_auto_bin_width_matches_fixed(self, clicks, errors, spark):
        # bin_width=None (opt-in): p95-length-derived width — results
        # must be width-invariant vs an explicit grid
        iv = errors.select(
            "user_id",
            F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"),
            "value",
        )
        fixed = interval_join_points(
            clicks, "ts", iv, "lo", "hi", on=["user_id"], bin_width=3600.0)
        auto = interval_join_points(
            clicks, "ts", iv, "lo", "hi", on=["user_id"], bin_width=None)
        key = lambda r: (r["event_id"], r["lo"])  # noqa: E731
        assert sorted(auto.collect(), key=key) == \
            sorted(fixed.collect(), key=key)
        # overlap join: auto width measured from BOTH sides
        lv = clicks.select(
            "event_id", "user_id", F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"))
        f2 = interval_overlap_join(
            lv, "lo", "hi", iv, "lo", "hi", on=["user_id"], bin_width=3600.0)
        a2 = interval_overlap_join(
            lv, "lo", "hi", iv, "lo", "hi", on=["user_id"], bin_width=None)
        k2 = lambda r: (r["event_id"], r["lo_r"] if "lo_r" in r else r["lo"])  # noqa: E731
        assert sorted(a2.collect(), key=k2) == sorted(f2.collect(), key=k2)

    def test_auto_bin_width_empty_intervals(self, spark):
        left = spark.createDataFrame([(1, 5.0)], "id int, t double")
        iv = spark.createDataFrame([], "lo double, hi double")
        out = interval_join_points(left, "t", iv, "lo", "hi",
                                   bin_width=None)
        assert out.collect() == []

    def test_multi_bin_overlap_emitted_once(self, spark):
        # intervals sharing MANY bins (width 10) must still pair up once
        left = spark.createDataFrame([(1, 0.0, 95.0)], "id int, lo double, hi double")
        right = spark.createDataFrame([(7, 5.0, 100.0)], "rid int, lo double, hi double")
        rows = interval_overlap_join(left, "lo", "hi", right, "lo", "hi", bin_width=10.0).collect()
        assert len(rows) == 1
        assert rows[0].rid == 7

    def test_ntz_timestamps_in_interval_join(self, spark):
        pts = spark.sql(
            "SELECT 1 AS id, TIMESTAMP_NTZ'2024-01-01 10:30:00' AS t"
        )
        iv = spark.sql(
            "SELECT 9 AS iid, TIMESTAMP_NTZ'2024-01-01 10:00:00' AS lo,"
            " TIMESTAMP_NTZ'2024-01-01 11:00:00' AS hi"
        )
        rows = interval_join_points(pts, "t", iv, "lo", "hi", bin_width=3600.0).collect()
        assert len(rows) == 1 and rows[0].iid == 9

    def test_point_on_boundary_included(self, spark):
        pts = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 20.5)], "id int, t double")
        iv = spark.createDataFrame([(9, 10.0, 20.0)], "iid int, lo double, hi double")
        got = sorted(r.id for r in interval_join_points(pts, "t", iv, "lo", "hi", bin_width=7.0).collect())
        assert got == [1, 2]  # closed interval: both endpoints in, 20.5 out

    def test_reversed_interval_matches_nothing(self, spark):
        # corrupt lo>hi rows: closed-interval semantics say no match —
        # and Spark's sequence() must not fabricate a DESCENDING bin
        # array (its default step is -1 when start > stop)
        pts = spark.createDataFrame([(1, 5.0)], "id int, t double")
        iv = spark.createDataFrame(
            [(9, 50000.0, 0.0), (8, 0.0, 10.0)], "iid int, lo double, hi double"
        )
        rows = interval_join_points(
            pts, "t", iv, "lo", "hi", bin_width=1.0, max_bins_per_interval=100
        ).collect()
        assert [r.iid for r in rows] == [8]
        lv = spark.createDataFrame([(1, 3.0, 7.0)], "lid int, lo double, hi double")
        got = interval_overlap_join(
            lv, "lo", "hi", iv.toDF("rid", "lo", "hi"), "lo", "hi",
            bin_width=1.0, max_bins_per_interval=100,
        ).collect()
        assert [r.rid for r in got] == [8]

    def test_explosion_guard_fails_loudly(self, spark):
        pts = spark.createDataFrame([(1, 5.0)], "id int, t double")
        iv = spark.createDataFrame([(9, 0.0, 1e6)], "iid int, lo double, hi double")
        with pytest.raises(Exception, match="max_bins_per_interval"):
            interval_join_points(pts, "t", iv, "lo", "hi", bin_width=1.0).collect()
        # raising the knob (or widening bins) lets the same join run
        assert interval_join_points(
            pts, "t", iv, "lo", "hi", bin_width=1.0, max_bins_per_interval=2_000_000
        ).count() == 1

    def test_salted_asof_identical_results(self, clicks, errors):
        base = sorted(
            (r.event_id, r.ts_right, r.value)
            for r in asof_join(clicks, errors, on="ts", by=["user_id"]).collect()
        )
        for direction in ("backward", "nearest"):
            want = sorted(
                (r.event_id, r.ts_right, r.value)
                for r in asof_join(clicks, errors, on="ts", by=["user_id"],
                                   direction=direction).collect()
            )
            salted = sorted(
                (r.event_id, r.ts_right, r.value)
                for r in asof_join(clicks, errors, on="ts", by=["user_id"],
                                   direction=direction, salt=4).collect()
            )
            assert salted == want
        assert base  # non-vacuous

    def test_salted_asof_accepts_map_columns(self, spark):
        # hash()/xxhash64 reject MapType; the md5 string-cast salt must not
        left = spark.createDataFrame(
            [(1, 5.0, {"a": 1}), (1, 1.0, {"b": 2})],
            "k int, t double, props map<string,int>",
        )
        right = spark.createDataFrame([(1, 3.0, "x")], "k int, t double, v string")
        rows = {r.t: r.v for r in asof_join(left, right, on="t", by=["k"], salt=3).collect()}
        assert rows == {5.0: "x", 1.0: None}

    def test_asof_single_shuffle(self, spark):
        l = spark.range(1000).selectExpr("id % 10 AS k", "CAST(id AS double) AS t", "id AS lv")
        r = spark.range(100).selectExpr("id % 10 AS k", "CAST(id * 7 AS double) AS t", "id AS rv")
        import re

        for direction in ("backward", "nearest"):
            plan = (
                asof_join(l, r, on="t", by=["k"], direction=direction)
                ._jdf.queryExecution().executedPlan().toString()
            )
            n = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
            # the 1-shuffle contract: one hash exchange on the by-keys;
            # nearest's second window pass re-sorts WITHOUT re-shuffling
            assert n == 1, f"{direction}: {n} exchanges\n{plan[:1500]}"

    def test_no_nested_loop_in_plans(self, clicks, errors):
        iv = errors.select(
            "user_id", F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"), "value",
        )
        plans = [
            interval_join_points(clicks, "ts", iv, "lo", "hi", on=["user_id"])._jdf.queryExecution().executedPlan().toString(),
            interval_overlap_join(
                clicks.select("user_id", F.col("ts").alias("lo"), (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi")),
                "lo", "hi", iv, "lo", "hi", on=["user_id"],
            )._jdf.queryExecution().executedPlan().toString(),
            asof_join(clicks, errors, on="ts", by=["user_id"])._jdf.queryExecution().executedPlan().toString(),
        ]
        for p in plans:
            assert "BroadcastNestedLoopJoin" not in p, p[:2000]
            assert "CartesianProduct" not in p, p[:2000]

    def test_prebinned_matches_explode_path(self, clicks, errors, con):
        # r12: iv_bin_col fast path — grouping on the bin grid itself
        # and declaring the bin column must give the SAME rows as the
        # generic explode path over equivalent intervals, and match SQL
        from duckdb_mongo_spark.ops.joins import time_bin

        base_iv = (
            errors.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
            .select("user_id", "lo", "hi")
        )
        generic = interval_join_points(
            clicks, "ts", base_iv, "lo", "hi", on=["user_id"], bin_width=86400.0)
        pre_iv = (
            errors.groupBy("user_id", time_bin(errors, "ts", 86400.0).alias("__bin"))
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        )
        pre = interval_join_points(
            clicks, "ts", pre_iv, "lo", "hi", on=["user_id"],
            bin_width=86400.0, iv_bin_col="__bin")
        assert generic.columns == pre.columns  # bin col dropped (r13)
        key = lambda r: (r["event_id"], str(r["lo"]))  # noqa: E731
        g = sorted((r["event_id"], str(r["lo"]), str(r["hi"]))
                   for r in generic.collect())
        p = sorted((r["event_id"], str(r["lo"]), str(r["hi"]))
                   for r in pre.collect())
        assert g == p and g  # same rows, non-vacuous
        _check(pre.select("event_id", "user_id", "ts", "lo", "hi"), con, """
            SELECT p.event_id, p.user_id, p.ts, i.lo, i.hi
            FROM l p
            JOIN (SELECT user_id, MIN(ts) AS lo, MAX(ts) AS hi
                  FROM r GROUP BY user_id, date_trunc('day', ts)) i
              ON p.user_id = i.user_id AND p.ts >= i.lo AND p.ts <= i.hi
        """)

    def test_prebinned_cuts_interval_side_exchange(self, clicks, errors, spark):
        # the point of iv_bin_col: the groupBy's hash partitioning on
        # (user_id, bin) satisfies the join distribution, so the plan
        # carries exactly TWO hash exchanges (aggregation + point side);
        # the generic explode path pays a third re-shuffling the
        # exploded interval rows on the derived bin key. Broadcast is
        # disabled for the assertion — on toy data AQE broadcasts the
        # tiny interval side and no distribution requirement material-
        # izes (also the right plan; tested in the broadcast-hint test).
        import re

        from duckdb_mongo_spark.ops.joins import time_bin

        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            pre_iv = (
                errors.groupBy("user_id", time_bin(errors, "ts", 86400.0).alias("__bin"))
                .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
            )
            pre = interval_join_points(
                clicks, "ts", pre_iv, "lo", "hi", on=["user_id"],
                bin_width=86400.0, iv_bin_col="__bin")
            plan = pre._jdf.queryExecution().executedPlan().toString()
            n = len(re.findall(r"Exchange hashpartitioning", plan))
            assert n == 2, f"{n} exchanges\n{plan[:2500]}"
            assert "BroadcastNestedLoopJoin" not in plan
            base_iv = (
                errors.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
                .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
                .select("user_id", "lo", "hi")
            )
            generic = interval_join_points(
                clicks, "ts", base_iv, "lo", "hi", on=["user_id"], bin_width=86400.0)
            gplan = generic._jdf.queryExecution().executedPlan().toString()
            gn = len(re.findall(r"Exchange hashpartitioning", gplan))
            assert gn == 3, f"{gn} exchanges\n{gplan[:2500]}"
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

    def test_prebinned_contract_violation_fails_loudly(self, spark):
        # a declared bin that the interval does not fit must raise, not
        # silently lose cross-bin matches
        pts = spark.createDataFrame([(1, 15.0)], "id int, t double")
        iv = spark.createDataFrame(
            [(0, 5.0, 25.0)], "b long, lo double, hi double")  # spans bins 0..2
        with pytest.raises(Exception, match="iv_bin_col|spans bins"):
            interval_join_points(
                pts, "t", iv, "lo", "hi", bin_width=10.0, iv_bin_col="b"
            ).collect()
        # null bounds: dropped silently (explode-path parity), no raise
        iv2 = spark.createDataFrame(
            [(1, 12.0, 18.0), (0, None, 8.0)], "b long, lo double, hi double")
        out = interval_join_points(
            pts, "t", iv2, "lo", "hi", bin_width=10.0, iv_bin_col="b"
        )
        # r13: the declared bin column is dropped from the output —
        # prebinned and explode paths share one schema (ADVICE r12)
        assert "b" not in out.columns
        rows = out.collect()
        assert len(rows) == 1 and rows[0].lo == 12.0

    def test_null_bin_nonnull_bounds_fails_loudly(self, spark):
        # r14 (ADVICE r13 guard-bypass): Catalyst infers IsNotNull on
        # the equi-join bin key and pushes it below the guard
        # projection — without the pinned pre-join filter a NULL-bin
        # row with non-null bounds would be silently DROPPED (row loss)
        # instead of failing the contract loudly
        pts = spark.createDataFrame([(1, 7, 15.0)], "id int, u int, t double")
        iv = spark.createDataFrame(
            [(7, 1, 12.0, 18.0), (7, None, 2.0, 8.0)],
            "u int, b long, lo double, hi double")
        with pytest.raises(Exception, match="NULL on a row with non-null"):
            interval_join_points(
                pts, "t", iv, "lo", "hi", on=["u"], bin_width=10.0,
                iv_bin_col="b").collect()
        lv = spark.createDataFrame(
            [(7, 1, 12.0, 18.0), (7, None, 2.0, 8.0)],
            "u int, b long, lo double, hi double")
        rv = spark.createDataFrame(
            [(7, 1, 13.0, 14.0)], "u int, b long, lo double, hi double")
        with pytest.raises(Exception, match="NULL on a row with non-null"):
            interval_overlap_join(
                lv, "lo", "hi", rv, "lo", "hi", on=["u"], bin_width=10.0,
                l_bin_col="b", r_bin_col="b").collect()
        # null BOUNDS keep their explode-path silent-drop parity
        ok = interval_join_points(
            pts, "t",
            spark.createDataFrame(
                [(7, 1, 12.0, 18.0), (7, None, None, 8.0)],
                "u int, b long, lo double, hi double"),
            "lo", "hi", on=["u"], bin_width=10.0, iv_bin_col="b").collect()
        assert len(ok) == 1 and ok[0].lo == 12.0

    def test_overlap_prebinned_matches_explode_path(self, clicks, errors, spark):
        # r12: l_bin_col/r_bin_col — both sides grouped on the bin grid
        # give the same pairs as the generic explode path
        from duckdb_mongo_spark.ops.joins import time_bin

        def day_iv(df):
            return (df.groupBy("user_id",
                               time_bin(df, "ts", 86400.0).alias("__bin"))
                    .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")))

        lv, rv = day_iv(clicks), day_iv(errors)
        generic = interval_overlap_join(
            lv.drop("__bin"), "lo", "hi", rv.drop("__bin"), "lo", "hi",
            on=["user_id"], bin_width=86400.0)
        both = interval_overlap_join(
            lv, "lo", "hi", rv, "lo", "hi", on=["user_id"],
            bin_width=86400.0, l_bin_col="__bin", r_bin_col="__bin")
        one = interval_overlap_join(
            lv.drop("__bin"), "lo", "hi", rv, "lo", "hi", on=["user_id"],
            bin_width=86400.0, r_bin_col="__bin")
        assert generic.columns == both.columns == one.columns  # r13
        key = lambda r: (r["user_id"], str(r["lo"]), str(r["lo_r"]))  # noqa: E731
        g = sorted(map(key, generic.collect()))
        assert g and g == sorted(map(key, both.collect()))
        assert g == sorted(map(key, one.collect()))
        # plan: both-prebinned carries only the two aggs' exchanges
        # (fresh build under the conf — an executed plan is AQE-final)
        import re
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            both2 = interval_overlap_join(
                lv, "lo", "hi", rv, "lo", "hi", on=["user_id"],
                bin_width=86400.0, l_bin_col="__bin", r_bin_col="__bin")
            plan = both2._jdf.queryExecution().executedPlan().toString()
            n = len(re.findall(r"Exchange hashpartitioning", plan))
            assert n == 2, f"{n} exchanges\n{plan[:2500]}"
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)

    def test_overlap_prebinned_contract_violation_raises(self, spark):
        lv = spark.createDataFrame([(0, 5.0, 25.0)], "b long, lo double, hi double")
        rv = spark.createDataFrame([(0, 1.0, 9.0)], "b long, lo double, hi double")
        with pytest.raises(Exception, match="spans bins|bin col"):
            interval_overlap_join(lv, "lo", "hi", rv, "lo", "hi",
                                  bin_width=10.0, l_bin_col="b",
                                  r_bin_col="b").collect()

    def test_prebinned_rejects_bad_args(self, spark):
        pts = spark.createDataFrame([(1, 5.0)], "id int, t double")
        iv = spark.createDataFrame([(0, 1.0, 2.0)], "b long, lo double, hi double")
        with pytest.raises(ValueError, match="absent"):
            interval_join_points(pts, "t", iv, "lo", "hi",
                                 bin_width=10.0, iv_bin_col="nope")
        with pytest.raises(ValueError, match="explicit bin_width"):
            interval_join_points(pts, "t", iv, "lo", "hi",
                                 bin_width=None, iv_bin_col="b")

    def test_interval_broadcast_hint(self, clicks, errors):
        # r11: the broadcast opt-in keeps results identical and turns
        # the plan into a map-side BroadcastHashJoin (no point-side
        # shuffle) — the dimension-sized-interval plan
        iv = errors.select(
            "user_id", F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"), "value",
        )
        base = interval_join_points(
            clicks, "ts", iv, "lo", "hi", on=["user_id"])
        hinted = interval_join_points(
            clicks, "ts", iv, "lo", "hi", on=["user_id"], broadcast=True)
        plan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
        key = lambda r: (r["event_id"], str(r["lo"]))  # noqa: E731
        assert sorted(map(key, hinted.collect())) \
            == sorted(map(key, base.collect()))

    def test_overlap_broadcast_hint(self, clicks, errors):
        lv = clicks.select(
            "user_id", F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi"))
        rv = errors.select(
            "user_id", F.col("ts").alias("lo"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("hi"), "value")
        base = interval_overlap_join(
            lv, "lo", "hi", rv, "lo", "hi", on=["user_id"])
        hinted = interval_overlap_join(
            lv, "lo", "hi", rv, "lo", "hi", on=["user_id"], broadcast=True)
        plan = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan[:2000]
        key = lambda r: tuple(str(v) for v in r)  # noqa: E731
        assert sorted(map(key, hinted.collect())) \
            == sorted(map(key, base.collect()))


class TestSaltedJoin:
    def _skewed(self, spark):
        from pyspark.sql import functions as F

        return spark.range(0, 20000).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.concat(F.lit("k"), (F.col("id") % 50).cast("string")))
            .alias("k"),
            F.col("id").alias("v"),
        )

    def test_inner_matches_plain_join(self, spark):
        from duckdb_mongo_spark.ops.joins import salted_join

        big = self._skewed(spark)
        # non-hot keys are k9/k19/k29/k39/k49 (last digit 9); k9 -> 400 rows
        small = spark.createDataFrame([("hot", 1), ("k9", 2), ("nope", 9)], ["k", "w"])
        plain = big.join(small, "k", "inner").orderBy("v", "w").collect()
        salted = salted_join(big, small, "k", n_salts=8).orderBy("v", "w").collect()
        assert plain == salted and len(plain) == 18000 + 400

    def test_left_matches_plain_join(self, spark):
        from duckdb_mongo_spark.ops.joins import salted_join

        big = self._skewed(spark)
        small = spark.createDataFrame([("hot", 1)], ["k", "w"])
        plain = big.join(small, "k", "left").orderBy("v", "w").collect()
        salted = salted_join(big, small, "k", n_salts=8, how="left").orderBy("v", "w").collect()
        assert plain == salted and len(plain) == 20000

    def test_rejects_outer_and_ambiguous_columns(self, spark):
        from duckdb_mongo_spark.ops.joins import salted_join

        big = self._skewed(spark)
        small = spark.createDataFrame([("hot", 1)], ["k", "v"])  # v collides
        with pytest.raises(ValueError, match="inner.*left|left.*inner"):
            salted_join(big, small.withColumnRenamed("v", "w"), "k", how="full")
        with pytest.raises(ValueError, match="ambiguous"):
            salted_join(big, small, "k")
