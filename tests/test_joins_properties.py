"""Property-based checks for asof/interval joins vs brute-force oracles.

Hypothesis drives small adversarial datasets (duplicate times, equal
endpoints, empty sides, bin-straddling intervals) through the Spark
operators and compares with an O(n²) in-Python reference. Example
counts are small because each example runs a real Spark job; the
adversarial value comes from the generator's edge-case bias (shrunken
integer domains force collisions).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_mongo_spark.ops.joins import (
    asof_join,
    interval_join_points,
    interval_overlap_join,
)

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from duckdb_mongo_spark.session import get_spark

        # the conftest session's settings: getOrCreate applies SQL confs
        # to the shared session, so another value here would change the
        # plans of every test that runs after this module
        _spark = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    return _spark


# tiny domains on purpose: key/time collisions are the interesting cases
keys = st.integers(min_value=0, max_value=2)
times = st.integers(min_value=0, max_value=20)

left_rows = st.lists(st.tuples(keys, times), min_size=0, max_size=8)
right_rows = st.lists(st.tuples(keys, times), min_size=0, max_size=8, unique=True)


def _brute_asof(left, right, direction, tolerance):
    out = []
    for k, t in left:
        if direction == "backward":
            cands = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
            best = max(cands) if cands else None
            dist = t - best[0] if best else None
        elif direction == "forward":
            cands = [(rt, rv) for rk, rt, rv in right if rk == k and rt >= t]
            best = min(cands) if cands else None
            dist = best[0] - t if best else None
        else:  # nearest, backward wins ties
            cands = [(abs(rt - t), rt > t, rt, rv) for rk, rt, rv in right if rk == k]
            pick = min(cands) if cands else None
            best = (pick[2], pick[3]) if pick else None
            dist = pick[0] if pick else None
        if best is not None and tolerance is not None and dist > tolerance:
            best = None
        out.append((k, t, best[1] if best else None))
    return sorted(out)


@settings(max_examples=12, deadline=None)
@given(left=left_rows, right=right_rows,
       direction=st.sampled_from(["backward", "forward", "nearest"]),
       tolerance=st.sampled_from([None, 0.0, 3.0]))
def test_asof_matches_bruteforce(left, right, direction, tolerance):
    spark = _get_spark()
    # unique right (k,t) per operator contract; value encodes identity
    r3 = [(k, t, k * 1000 + t) for k, t in right]
    ldf = spark.createDataFrame(left or [(99, 99)], "k int, t int")
    rdf = spark.createDataFrame(r3 or [(99, 99, 0)], "k int, t int, v int")
    if not left:
        ldf = ldf.filter("k < 0")
    if not r3:
        rdf = rdf.filter("k < 0")
    got = sorted(
        (r.k, r.t, r.v)
        for r in asof_join(ldf, rdf, on="t", by=["k"], direction=direction,
                           tolerance=tolerance).collect()
    )
    assert got == _brute_asof(left, r3, direction, tolerance)


def _brute_asof_tb(left, right, direction):
    """Brute asof with tie_break=max(v): among right rows tied on the
    matched time, the greatest v is attached."""
    out = []
    for k, t in left:
        if direction == "backward":
            c = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
            best = max(c) if c else None          # max rt, then max v
        elif direction == "forward":
            c = [(-rt, rv) for rk, rt, rv in right if rk == k and rt >= t]
            best = max(c) if c else None          # min rt, then max v
            best = (-best[0], best[1]) if best else None
        else:  # nearest: min distance, backward wins, then max v
            c = [((abs(rt - t), rt > t, rt), rv)
                 for rk, rt, rv in right if rk == k]
            if c:
                mk = min(key for key, _v in c)
                best = (mk[2], max(v for key, v in c if key == mk))
            else:
                best = None
        out.append((k, t, best[1] if best else None))
    return sorted(out)


# NON-unique (k, t) on purpose: tie_break exists exactly for tied times
right_rows_dup = st.lists(
    st.tuples(keys, times, st.integers(min_value=0, max_value=3)),
    min_size=0, max_size=8)


@settings(max_examples=12, deadline=None)
@given(left=left_rows, right=right_rows_dup,
       direction=st.sampled_from(["backward", "forward", "nearest"]))
def test_asof_tie_break_matches_bruteforce(left, right, direction):
    spark = _get_spark()
    ldf = spark.createDataFrame(left or [(99, 99)], "k int, t int")
    rdf = spark.createDataFrame(right or [(99, 99, 0)], "k int, t int, v int")
    if not left:
        ldf = ldf.filter("k < 0")
    if not right:
        rdf = rdf.filter("k < 0")
    got = sorted(
        (r.k, r.t, r.v)
        for r in asof_join(ldf, rdf, on="t", by=["k"], direction=direction,
                           tie_break="v").collect()
    )
    assert got == _brute_asof_tb(left, right, direction)


# rows (k, t, tag, v): tag ∈ l/r/b/n decides side membership —
# 'b' rows exercise the overlapping=True both-sides emission
self_rows = st.lists(
    st.tuples(keys, times, st.sampled_from(["l", "r", "b", "n"]),
              st.integers(min_value=0, max_value=3)),
    min_size=0, max_size=10)


@settings(max_examples=12, deadline=None)
@given(rows=self_rows,
       direction=st.sampled_from(["backward", "forward", "nearest"]))
def test_asof_self_join_matches_two_input(rows, direction):
    """asof_self_join(source, lp, rp, overlapping=True) must equal
    asof_join(source.filter(lp), source.filter(rp)) exactly — the
    documented contract, including rows on BOTH sides."""
    from pyspark.sql import functions as F

    from duckdb_mongo_spark.ops.joins import asof_self_join

    spark = _get_spark()
    df = spark.createDataFrame(rows or [(0, 0, "n", 0)],
                               "k int, t int, tag string, v int")
    if not rows:
        df = df.filter("k < 0")
    lp = F.col("tag").isin("l", "b")
    rp = F.col("tag").isin("r", "b")
    got = sorted(
        (r.k, r.t, r.t_right, r.v_r)
        for r in asof_self_join(
            df, lp, rp, on="t", left_cols=["v"], right_cols=["v"],
            by=["k"], direction=direction, tie_break="v",
            overlapping=True,
        ).withColumnRenamed("v_right", "v_r").collect())
    left = df.filter(lp).select("k", "t", "v")
    right = df.filter(rp).select("k", "t", "v")
    want = sorted(
        (r.k, r.t, r.t_right, r.v_r)
        for r in asof_join(left, right, on="t", by=["k"],
                           direction=direction, tie_break="v")
        .withColumnRenamed("v_right", "v_r").collect())
    assert got == want


iv_rows = st.lists(
    st.tuples(keys, times, st.integers(min_value=0, max_value=15)),
    min_size=0, max_size=6,
)


@settings(max_examples=12, deadline=None)
@given(
    prows=st.lists(st.tuples(keys, times), min_size=0, max_size=8),
    rrows=iv_rows,
    width=st.sampled_from([1.0, 3.0, 7.0, 50.0]),
)
def test_point_join_matches_bruteforce(prows, rrows, width):
    spark = _get_spark()
    p3 = [(i, k, t) for i, (k, t) in enumerate(prows)]
    r3 = [(i, k, lo, lo + d) for i, (k, lo, d) in enumerate(rrows)]
    pdf = spark.createDataFrame(p3 or [(0, 0, 0)], "pid int, k int, t int")
    rdf = spark.createDataFrame(r3 or [(0, 0, 0, 0)], "iid int, k int, lo int, hi int")
    if not p3:
        pdf = pdf.filter("pid < 0")
    if not r3:
        rdf = rdf.filter("iid < 0")
    got = sorted(
        (r.pid, r.iid)
        for r in interval_join_points(
            pdf, "t", rdf, "lo", "hi", on=["k"], bin_width=width
        ).collect()
    )
    want = sorted(
        (pid, iid)
        for pid, pk, t in p3
        for iid, rk, lo, hi in r3
        if pk == rk and lo <= t <= hi
    )
    assert got == want


@settings(max_examples=12, deadline=None)
@given(lrows=iv_rows, rrows=iv_rows, width=st.sampled_from([1.0, 3.0, 7.0, 50.0]))
def test_overlap_join_matches_bruteforce(lrows, rrows, width):
    spark = _get_spark()
    l3 = [(i, k, lo, lo + d) for i, (k, lo, d) in enumerate(lrows)]
    r3 = [(i, k, lo, lo + d) for i, (k, lo, d) in enumerate(rrows)]
    ldf = spark.createDataFrame(l3 or [(0, 0, 0, 0)], "lid int, k int, lo int, hi int")
    rdf = spark.createDataFrame(r3 or [(0, 0, 0, 0)], "rid int, k int, lo int, hi int")
    if not l3:
        ldf = ldf.filter("lid < 0")
    if not r3:
        rdf = rdf.filter("rid < 0")
    got = sorted(
        (r.lid, r.rid)
        for r in interval_overlap_join(
            ldf, "lo", "hi", rdf, "lo", "hi", on=["k"], bin_width=width
        ).collect()
    )
    want = sorted(
        (lid, rid)
        for lid, lk, llo, lhi in l3
        for rid, rk, rlo, rhi in r3
        if lk == rk and llo <= rhi and rlo <= lhi
    )
    assert got == want
