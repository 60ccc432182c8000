"""As-of and range (interval) joins — custom operators Spark lacks.

The reference embeds DuckDB, whose SQL surface includes ``ASOF JOIN``
and fast inequality joins (IEJoin), both reachable from the reference's
SQL layer today — so an engine claiming drop-in parity needs them. Spark
has neither: an inequality-only join falls back to
``BroadcastNestedLoopJoin`` / ``CartesianProduct``, quadratic and
broadcast-bound, unusable at 100 TB. Both operators here are pure
compositions of built-in DataFrame ops — no UDFs, no collect():

- ``asof_join``: union+window formulation. Tag each side, union, sort
  within each equi-key group by (time, side) and carry the latest right
  payload forward with ``last(payload, ignorenulls=True)``. ONE hash
  shuffle on the equi-keys (same cost as a plain join of the inputs);
  per-row state is a single struct, independent of match distance. This
  is the standard scale-out asof algorithm (Flink's event-time temporal
  join is the streaming analog). ``nearest`` runs two window passes
  (backward + forward) over the SAME shuffle — the second pass re-sorts
  but does not re-shuffle. This is the only plan: a packed-history
  broadcast form measured slower at sf10 and on the interactive shape
  and was deleted (SCALE.md).
- ``interval_join_points`` / ``interval_overlap_join``: bin-bucketed
  range join. Intervals explode to the fixed-width bins they cover,
  points own exactly one bin, and the join becomes an EQUI-join on
  (keys, bin) + residual predicate — hash-partitioned, AQE-skew-
  splittable, never a nested loop. Overlapping pairs sharing several
  bins are emitted once via the canonical-bin rule (match only in the
  first shared bin) — a filter, not a distinct.

Bin width trades explode factor (rows × bins covered) against residual
selectivity; choose ~ the median interval length. Timestamps bin/order
through a double epoch cast, so widths/tolerances are in SECONDS for
timestamp columns and in native units for numerics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

_TIME, _SIDE, _MATCH, _TB = "__asof_t", "__asof_l", "__asof_m", "__asof_tb"


def _num(df: DataFrame, col: str, c: Column | None = None) -> Column:
    """Epoch-double of ``df[col]`` (or the given alias-qualified Column).

    TIMESTAMP_NTZ has no direct numeric cast in Spark — route it through
    TIMESTAMP first (value-identical under a UTC session timezone, the
    engine default)."""
    c = df[col] if c is None else c
    if df.schema[col].dataType.typeName() == "timestamp_ntz":
        c = c.cast("timestamp")
    return c.cast("double")


def _is_float(df: DataFrame, col: str) -> bool:
    return df.schema[col].dataType.typeName() in ("float", "double")


def _approx_row_bytes(dt) -> int:
    """Schema-based per-row byte estimate (UnsafeRow-ish): fixed-width
    types at their width, variable-width at Spark's own defaultSize
    conventions (string 20, binary 100). Used only to gate the
    interval sidecar's broadcast (``_resolve_iv``) — an estimate, not an
    accountant."""
    t = dt.typeName()
    if t in ("long", "double", "timestamp", "timestamp_ntz", "date"):
        return 8
    if t in ("integer", "float"):
        return 4
    if t in ("short",):
        return 2
    if t in ("byte", "boolean"):
        return 1
    if t == "decimal":
        return 16
    if t == "string":
        return 20
    if t == "binary":
        return 100
    if t == "struct":
        return 8 + sum(_approx_row_bytes(f.dataType) for f in dt.fields)
    if t == "array":
        return 8 + 16 * _approx_row_bytes(dt.elementType)
    if t == "map":
        return 8 + 16 * (_approx_row_bytes(dt.keyType)
                         + _approx_row_bytes(dt.valueType))
    return 16


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
    suffix: str = "_right",
    salt: int | None = None,
    tie_break: str | None = None,
) -> DataFrame:
    """Attach to each left row the single right row nearest in ``on``
    under ``direction``, matching equal ``by`` keys (left-outer: rows
    with no match keep NULL right columns).

    - ``backward``: greatest ``right.on <= left.on`` — DuckDB's
      ``ASOF JOIN .. ON l.k = r.k AND l.t >= r.t`` (its default).
    - ``forward``: least ``right.on >= left.on``.
    - ``nearest``: closer of the two; backward wins exact-distance ties.

    ``tolerance`` voids matches farther than the bound (seconds for
    timestamps). Right columns colliding with left names get ``suffix``.
    NULL ``by`` keys GROUP TOGETHER (a null-key left row matches
    null-key right history — the window partitionBy convention); note
    SQL/DuckDB ``ON l.k = r.k`` equality would instead drop them —
    pre-filter if you want that.
    Among right rows tied on (by, on) exactly one is attached (window
    order among ties is arbitrary) — pre-aggregate the right side when
    the pick matters, or pass ``tie_break``; DuckDB's ASOF is likewise
    unspecified there.

    ``tie_break``: name of a right column; among right rows tied on
    (by, on) the row with the GREATEST ``tie_break`` value is attached
    (NULL loses to any value). This replaces the common
    ``right.groupBy(by, on).agg(max_by(payload, tie_break))``
    pre-aggregation with one extra sort key in the SAME window pass —
    one whole exchange plus a groups≈rows hash aggregation removed from
    the plan. (A capability DuckDB's ASOF lacks; it would pay the
    pre-aggregation.)

    NULL (and float NaN) ``on`` times match nothing:
    null/NaN-time right rows attach to no left row, null/NaN-time left
    rows keep NULL right columns.

    Plan: shuffle (left ∪ right) once on ``by``, then window sort —
    no nested loop, no broadcast requirement; a skewed ``by`` key is one
    window partition, the same bound as any windowed query. Without
    ``by`` the window is global (single partition): correct, but meant
    for small/keyless inputs only.

    ``salt``: LEFT-side skew escape hatch. With ``salt=S`` each left row
    lands in one of S sub-partitions per key while every right row is
    replicated to all S — each sub-window still sees the key's full
    right history, so results are bit-identical (property-tested), but a
    hot key's billions of left rows sort as S windows on S cores instead
    of one. Cost: right side × S. Use when left skew dominates and the
    per-key right side is modest (events-to-quotes shape).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    by = list(by or [])
    for side, df_ in (("right", right), ("left", left)):
        missing = [k for k in by if k not in df_.columns]
        if missing:
            raise ValueError(f"by keys {missing} absent from {side}")
    if on in by:
        raise ValueError("'on' cannot also be a 'by' key")
    if tie_break is not None:
        if tie_break not in right.columns:
            raise ValueError(f"tie_break {tie_break!r} absent from right")
        if tie_break in by:
            raise ValueError("tie_break cannot be a 'by' key")
    if salt is not None:
        if salt < 2:
            raise ValueError("salt must be >= 2")
        sc = "__asof_salt"
        # md5 over string-cast columns: honors the ops determinism
        # contract (md5 everywhere) and accepts ALL column types incl.
        # maps, which hash()/xxhash64 reject. Salt ASSIGNMENT does not
        # affect results (each sub-window sees the key's full right
        # history) — but it must be deterministic for shuffle retries.
        # Limitation: full-row duplicates share a sub-partition.
        row_str = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in left.columns])
        l2 = left.withColumn(
            sc,
            F.pmod(
                F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("bigint"),
                F.lit(salt),
            ).cast("int"),
        )
        r2 = right.withColumn(sc, F.explode(F.array(*[F.lit(i) for i in range(salt)])))
        out = asof_join(
            l2, r2, on=on, by=[*by, sc], direction=direction,
            tolerance=tolerance, suffix=suffix, tie_break=tie_break,
        )
        return out.drop(sc)

    rcols = [c for c in right.columns if c not in by]  # payload incl. `on`
    payload_t = StructType([StructField(c, right.schema[c].dataType) for c in rcols])
    out_names = {c: (c + suffix if c in left.columns else c) for c in rcols}

    r_ntz = right.schema[on].dataType.typeName() == "timestamp_ntz"

    # SQL/DuckDB ASOF semantics: a NULL time matches nothing — drop
    # null-time right rows (they could otherwise pair up through window
    # null ordering) and null out matches for null-time left rows below.
    # A float NaN time is normalized the same way: Spark's ordering
    # places NaN greatest, so without this a NaN right row would be a
    # forward match for left rows past the last real time; under the
    # normalization a NaN time matches nothing, property-tested.
    right = right.filter(F.col(on).isNotNull())
    if _is_float(right, on):
        right = right.filter(~F.isnan(F.col(on)))

    tb_cols_l, tb_cols_r = [], []
    if tie_break is not None:
        tb_t = right.schema[tie_break].dataType
        tb_cols_l = [F.lit(None).cast(tb_t).alias(_TB)]
        tb_cols_r = [F.col(tie_break).alias(_TB)]
    l_tag = left.select(
        *[F.col(c) for c in left.columns],
        _num(left, on).alias(_TIME),
        F.lit(1).alias(_SIDE),
        F.lit(None).cast(payload_t).alias("__asof_p"),
        *tb_cols_l,
    )
    r_tag = right.select(
        *[
            (F.col(c) if c in by else F.lit(None).cast(left.schema[c].dataType)).alias(c)
            for c in left.columns
        ],
        _num(right, on).alias(_TIME),
        F.lit(0).alias(_SIDE),
        F.struct(*[F.col(c).alias(c) for c in rcols]).alias("__asof_p"),
        *tb_cols_r,
    )
    unioned = l_tag.unionByName(r_tag)
    matched = _asof_pick(unioned, by, direction, tolerance,
                         on, r_ntz, tie_break is not None)
    # a NULL (or NaN — _TIME is a double) left time matches nothing
    t_ok = F.col(_TIME).isNotNull() & ~F.isnan(F.col(_TIME))
    picked = (
        unioned.withColumn(_MATCH, F.when(t_ok, matched))
        .filter(F.col(_SIDE) == 1)
    )
    return picked.select(
        *[F.col(c) for c in left.columns],
        *[F.col(_MATCH)[c].alias(out_names[c]) for c in rcols],
    )


def _asof_pick(unioned: DataFrame, by: list[str], direction: str,
               tolerance: float | None, on: str, r_ntz: bool,
               has_tb: bool) -> Column:
    """Matched-payload Column over a tagged asof union (columns
    ``_TIME``/``_SIDE``/``__asof_p`` and, when ``has_tb``, ``_TB``) —
    shared by ``asof_join`` and ``asof_self_join``."""
    # A right row AT the left row's time satisfies both <= and >=, so
    # rights (side=0) sort before lefts at equal times in BOTH orders.
    # tie_break rides the sort ASCENDING (nulls first): among tied
    # right rows the greatest tie key sorts last, so the running
    # last() picks it — in both time orders.
    part = by if by else [F.lit(0)]
    order_tail = [F.col(_TB).asc()] if has_tb else []
    frame = (Window.unboundedPreceding, Window.currentRow)
    w_back = Window.partitionBy(*part).orderBy(
        F.col(_TIME).asc(), F.col(_SIDE).asc(), *order_tail).rowsBetween(*frame)
    w_fwd = Window.partitionBy(*part).orderBy(
        F.col(_TIME).desc(), F.col(_SIDE).asc(), *order_tail).rowsBetween(*frame)

    def _payload_t(payload: Column) -> Column:
        rt = payload[on]
        if r_ntz:
            rt = rt.cast("timestamp")
        return rt.cast("double")

    def _within(payload: Column, backward: bool) -> Column:
        if tolerance is None:
            return payload
        rt = _payload_t(payload)
        dist = (F.col(_TIME) - rt) if backward else (rt - F.col(_TIME))
        return F.when(dist <= F.lit(float(tolerance)), payload)

    if direction == "backward":
        return _within(F.last("__asof_p", ignorenulls=True).over(w_back), True)
    if direction == "forward":
        return _within(F.last("__asof_p", ignorenulls=True).over(w_fwd), False)
    # nearest: both passes share the one shuffle on `by`
    b = _within(F.last("__asof_p", ignorenulls=True).over(w_back), True)
    f = _within(F.last("__asof_p", ignorenulls=True).over(w_fwd), False)
    d_b = F.col(_TIME) - _payload_t(b)
    d_f = _payload_t(f) - F.col(_TIME)
    return (
        F.when(b.isNull(), f)
        .when(f.isNull(), b)
        .otherwise(F.when(d_f < d_b, f).otherwise(b))
    )


def asof_self_join(
    source: DataFrame,
    left_when: Column,
    right_when: Column,
    on: str,
    left_cols: list[str],
    right_cols: list[str],
    by: list[str] | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
    suffix: str = "_right",
    tie_break: str | None = None,
    overlapping: bool = False,
) -> DataFrame:
    """``asof_join`` for the case where BOTH sides are predicate slices
    of ONE frame — the events-stream shape (clicks-to-errors,
    trades-to-quotes arriving in the same feed).

    Semantics are exactly::

        asof_join(source.filter(left_when).select(*left_cols, ...),
                  source.filter(right_when).select(*right_cols, ...),
                  on=on, by=by, ...)

    but the plan reads the source ONCE: rows are tagged with their side
    in a single projection, then the standard union+window pass runs.
    ``asof_join`` over two filters of the same table plans TWO full
    scans (Spark does not merge scans across a union); at 100 TB
    halving the fact-table I/O is the dominant term, and the shuffle,
    sort, and window are identical to the two-input form
    (parity-tested; at sf10 this shape measured ~1.0 s vs ~1.4-1.5 s
    for the two-input plan).

    Predicates are asserted DISJOINT per row (loud per-row failure, the
    bin-guard convention) — with ``overlapping=True`` a row matching
    both predicates instead acts as both a probe and a match candidate
    (emitted once per side via an explode, which measured ~+0.5 s at
    sf10, hence opt-in).

    ``left_cols``: output columns for probe rows (must cover ``by``;
    ``on`` is implicit). ``right_cols``: payload columns attached from
    the matched row (``on`` included automatically, like
    ``asof_join``'s right side). ``tie_break`` may name any source
    column; see ``asof_join``.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction!r}")
    by = list(by or [])
    for c in [*left_cols, *right_cols, on, *by,
              *([tie_break] if tie_break else [])]:
        if c not in source.columns:
            raise ValueError(f"column {c!r} absent from source")
    if on in by:
        raise ValueError("'on' cannot also be a 'by' key")
    if tie_break in by:
        raise ValueError("tie_break cannot be a 'by' key")
    l_out = list(dict.fromkeys([*by, *left_cols, on]))
    rcols = list(dict.fromkeys([*right_cols, on]))
    rcols = [c for c in rcols if c not in by]
    out_names = {c: (c + suffix if c in l_out else c) for c in rcols}
    r_ntz = source.schema[on].dataType.typeName() == "timestamp_ntz"

    # NULL (and float NaN) times: right rows match nothing (excluded
    # from the payload side), left rows keep NULL payload (nulled
    # below) — asof_join parity
    right_eff = right_when & F.col(on).isNotNull()
    if _is_float(source, on):
        right_eff = right_eff & ~F.isnan(F.col(on))
    if overlapping:
        sides = F.array_compact(F.array(
            F.when(left_when, F.lit(1)), F.when(right_eff, F.lit(0))))
        base = (source.filter(left_when | right_when)
                .select(*[F.col(c) for c in source.columns],
                        F.explode(sides).alias(_SIDE)))
    else:
        # null-safe: a predicate evaluating to SQL NULL is "no match"
        # (filter semantics) — without the coalesces, TRUE & NULL = NULL
        # and assert_true treats NULL as failure, so a row matching only
        # ONE predicate (the other unknown) would throw spuriously
        guard = F.assert_true(
            ~(F.coalesce(left_when, F.lit(False))
              & F.coalesce(right_eff, F.lit(False))),
            F.lit("left_when and right_when both match a row — pass "
                  "overlapping=True to emit such rows on both sides"),
        )
        side = F.coalesce(guard.cast("int"),
                          F.when(left_when, F.lit(1)).otherwise(F.lit(0)))
        base = (source.filter(left_when | right_eff)
                .select(*[F.col(c) for c in source.columns],
                        side.alias(_SIDE)))
    tb_cols = []
    if tie_break is not None:
        tb_t = source.schema[tie_break].dataType
        tb_cols = [F.when(F.col(_SIDE) == 0, F.col(tie_break))
                   .cast(tb_t).alias(_TB)]
    tagged = base.select(
        *[F.col(c) for c in l_out],
        _num(source, on, F.col(on)).alias(_TIME),
        F.col(_SIDE),
        F.when(F.col(_SIDE) == 0,
               F.struct(*[F.col(c).alias(c) for c in rcols])
               ).alias("__asof_p"),
        *tb_cols,
    )
    matched = _asof_pick(tagged, by, direction, tolerance,
                         on, r_ntz, tie_break is not None)
    # a NULL (or NaN — _TIME is a double) probe time matches nothing
    t_ok = F.col(_TIME).isNotNull() & ~F.isnan(F.col(_TIME))
    picked = (
        tagged.withColumn(_MATCH, F.when(t_ok, matched))
        .filter(F.col(_SIDE) == 1)
    )
    return picked.select(
        *[F.col(c) for c in l_out],
        *[F.col(_MATCH)[c].alias(out_names[c]) for c in rcols],
    )


def _bin(df: DataFrame, col: str, width: float, c: Column | None = None) -> Column:
    return F.floor(_num(df, col, c) / F.lit(float(width))).cast("long")


def time_bin(df: DataFrame, t_col: str, width: float) -> Column:
    """Bin index (BIGINT) of ``df[t_col]`` on the ``width``-second grid —
    the same grid ``interval_join_points`` buckets on.

    Purpose: build intervals PRE-BINNED. An interval table produced by
    ``df.withColumn("__bin", time_bin(df, "ts", w)).groupBy(*keys,
    "__bin").agg(min/max)`` can be handed to ``interval_join_points``
    via ``iv_bin_col="__bin"`` — the aggregation's hash partitioning
    (keys, bin) is then EXACTLY the join's required distribution, so
    Catalyst reuses the aggregation exchange and the interval side
    reaches the join with zero additional shuffles (vs two for the
    generic explode path: one for the groupBy, one re-shuffle of the
    exploded rows on the bin key)."""
    return _bin(df, t_col, float(width))


def _bin_seq(lo: Column, hi: Column, max_bins: int | None) -> Column:
    """``sequence(lo, hi)`` with two safety rails.

    - Reversed interval (lo > hi — corrupt or empty input row): an empty
      bin array, so explode drops the row. Matches the closed-interval
      residual, which such a row can never satisfy — and avoids Spark's
      ``sequence`` default of DESCENDING with step -1, which would
      silently fabricate |lo-hi| bins per corrupt row.
    - Explosion guard: a bin_width far below the interval length
      multiplies rows by length/width — at 10k+ bins per interval the
      "equi-join" degrades into a disguised cross product. Fail loudly
      with the knob to turn rather than OOMing three stages later."""
    empty = F.array().cast("array<bigint>")
    if max_bins is None:
        return F.when(hi >= lo, F.sequence(lo, hi)).otherwise(empty)
    guard = F.assert_true(
        hi - lo < F.lit(int(max_bins)),
        F.concat(
            F.lit("interval spans "), (hi - lo + 1).cast("string"),
            F.lit(f" bins (max_bins_per_interval={max_bins}); raise bin_width "
                  "or max_bins_per_interval"),
        ),
    )
    # assert_true returns NULL on success; coalesce keeps the sequence
    return F.when(
        hi >= lo, F.coalesce(guard.cast("array<bigint>"), F.sequence(lo, hi))
    ).otherwise(empty)


def _auto_bin_width(pairs) -> float:
    """Bin width from the data instead of a fixed constant: the p95
    interval length across the given ``(df, lo_col, hi_col)`` sides
    (one small agg job per side). A width ~the typical length means
    each interval explodes to <= ~2 bins while a bin still holds few
    unrelated intervals — the two failure modes of a FIXED width are
    exactly the scale killers (width << length: the explode multiplies
    rows by length/width, e.g. day-long intervals over an hour grid
    shuffle 24x the interval side; width >> length: every point drags
    in a bin full of false candidates for the residual filter to
    discard). p95 rather than max so one outlier interval cannot
    degrade every bin; the longer tail still joins correctly through
    multi-bin explosion (capped by max_bins_per_interval)."""
    best = 0.0
    for df, lo_col, hi_col in pairs:
        length = _num(df, hi_col) - _num(df, lo_col)
        row = df.select(
            F.percentile_approx(length, F.lit(0.95)).alias("p95"),
            F.max(length).alias("mx"),
        ).first()
        w = row["p95"] if row is not None else None
        if not w or w <= 0:
            w = row["mx"] if row is not None else None
        best = max(best, float(w) if w and w > 0 else 0.0)
    return best if best > 0 else 3600.0


def _conf_bytes(spark, key: str, default: int) -> int:
    """A byte-valued Spark conf ('10485760', '64MB', '-1') as int."""
    try:
        v = str(spark.conf.get(key)).strip().lower()
    except Exception:
        return default
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if v.endswith(suf):
            v, mult = v[: -len(suf)], m
            break
    try:
        return int(v) * mult
    except ValueError:
        return default


def _resolve_iv(other: DataFrame, intervals, lo_col, hi_col, on,
                bin_width, bin_col):
    """Resolve an interval-side argument that may be an
    ``IntervalIndex`` sidecar handle into (df, lo, hi, on, width, bin,
    handle-or-None). Explicit arguments must agree with the handle or
    be left at their defaults — the committed sidecar's grid is
    authoritative.

    A resolved sidecar frame whose TRUE size (committed row count x
    schema row width) exceeds the session's runtime broadcast policy
    gets a ``shuffle_hash`` hint: Spark's compile-time broadcast
    estimate for a parquet scan is the COMPRESSED file size, and a
    narrow envelope table compresses well under the 10 MB static
    threshold while hashing to hundreds of MB of JVM rows — the
    broadcast plan this repo measured ~25% slower than the shuffled
    hash join at 1.5M envelope rows. The sidecar's meta carries the
    exact row count, so this is the same byte-based gate Spark's own
    AQE applies, using better statistics than the scan estimate."""
    from duckdb_mongo_spark.ops.interval_index import IntervalIndex

    if not isinstance(intervals, IntervalIndex):
        return intervals, lo_col, hi_col, on, bin_width, bin_col, None
    idx = intervals
    if lo_col is not None and lo_col != idx.lo_col:
        raise ValueError(f"lo_col {lo_col!r} != sidecar {idx.lo_col!r}")
    if hi_col is not None and hi_col != idx.hi_col:
        raise ValueError(f"hi_col {hi_col!r} != sidecar {idx.hi_col!r}")
    if on is not None and list(on) != list(idx.on):
        raise ValueError(f"on {list(on)!r} != sidecar {idx.on!r}")
    if bin_col is not None and bin_col != idx.bin_col:
        raise ValueError(f"bin col {bin_col!r} != sidecar {idx.bin_col!r}")
    if bin_width is not None and bin_width not in (3600.0, idx.bin_width):
        # 3600.0 is the signature default — treat it as "unspecified"
        raise ValueError(
            f"bin_width {bin_width!r} != sidecar {idx.bin_width!r}")
    from pyspark.sql import SparkSession

    spark = (getattr(other, "sparkSession", None)
             or SparkSession.getActiveSession())
    df = idx.df(spark)
    est = idx.n_intervals * sum(
        _approx_row_bytes(f.dataType) for f in df.schema.fields)
    limit = _conf_bytes(spark, "spark.sql.autoBroadcastJoinThreshold",
                        10 << 20)
    if est > limit > 0:
        df = df.hint("shuffle_hash")
    return (df, idx.lo_col, idx.hi_col,
            list(idx.on), idx.bin_width, idx.bin_col, idx)


def _loud_null_bin_filter(df_, bc: str, lo: str, hi: str) -> DataFrame:
    """Pre-join filter making a NULL declared bin with NON-null bounds
    fail LOUDLY (contract breach: ``time_bin`` is null iff its input
    is, so a correctly built bin column is never null on a bounded
    interval). The grid-equality assert rides a deterministic
    projection, but Catalyst infers ``IsNotNull`` on the equi-join bin
    key and pushes it below any deterministic projection or filter —
    and into the scan itself for translatable conjuncts — so such a row
    would be silently DROPPED before that assert ever evaluates
    (ADVICE r13). The always-true NONDETERMINISTIC conjunct pins this
    filter: Catalyst neither combines other filters into a
    nondeterministic one (CombineFilters requires a deterministic
    child), pushes predicates through it, nor translates it into a
    scan, so the assert evaluates on every scanned interval row BEFORE
    any inferred null filter. (``rand() < -1`` would read nicer but
    Spark 4 constant-folds impossible rand comparisons, and once the
    condition is deterministic the inferred IsNotNull lands in the
    SAME FilterExec, whose codegen hoists null checks to the front —
    exactly the bypass again; ``monotonically_increasing_id() >= 0``
    has no such folding rule.) A FilterExec passes its child's output
    partitioning through unchanged, so the ``iv_bin_col``
    exchange-reuse contract is unaffected (plan-pinned in
    test_joins.py)."""
    ok = F.col(lo).isNull() | F.col(hi).isNull() | F.col(bc).isNotNull()
    loud = F.assert_true(ok, F.lit(
        f"bin col {bc!r} is NULL on a row with non-null bounds — the "
        "pre-binned contract requires every bounded interval to declare "
        "its bin; build it with time_bin on the same grid")).isNull()
    return df_.filter(loud & (F.monotonically_increasing_id() >= F.lit(0)))


def interval_join_points(
    points: DataFrame,
    t_col: str,
    intervals,
    lo_col: str | None = None,
    hi_col: str | None = None,
    on: list[str] | None = None,
    bin_width: float | None = 3600.0,
    iv_suffix: str = "_iv",
    max_bins_per_interval: int | None = 10_000,
    broadcast: bool = False,
    iv_bin_col: str | None = None,
) -> DataFrame:
    """Inner-join each point row to every interval row with
    ``lo <= t <= hi`` (and equal ``on`` keys), as an equi-join.

    Intervals explode to bins ``floor(lo/w)..floor(hi/w)``; a point owns
    exactly one bin, so no dedup is needed. Interval columns that
    collide with point column names get ``iv_suffix``. For left-outer
    semantics compose with an anti-join on the point's key — emitting
    NULL-padded rows here would need a unique point id this operator
    should not invent.

    Results are width-invariant (the residual filter is exact); only the
    explode factor and candidate selectivity change, so pass a
    ``bin_width`` near the TYPICAL interval length when you know it
    (e.g. 86400.0 for day-bounded windows — a width far below the
    length multiplies the interval side by length/width). For unknown
    distributions, ``bin_width=None`` measures the p95 length
    (``_auto_bin_width``) — note this evaluates the interval lineage
    one extra time, so prefer an explicit width when the intervals
    derive from an expensive aggregation.

    Plan shape: Exchange(keys+bin) → join + residual Filter, never
    BroadcastNestedLoopJoin (regression-tested in test_joins.py).

    ``broadcast=True`` hints the (exploded) interval side as the
    broadcast build: the point side then joins map-side with NO shuffle
    at all — the classic small-dimension plan. Opt in only when the
    interval count is bounded by a dimension (users x days, device
    catalog windows), never when intervals scale with the fact table:
    the hint bypasses AQE's size check, and an oversized build side
    fails on the driver instead of degrading. Default off — AQE still
    promotes the join to broadcast on its own when runtime stats allow.

    ``iv_bin_col``: exchange-elision fast path for PRE-BINNED intervals.
    Name a BIGINT column of ``intervals`` that already holds the
    interval's (single) bin index on the ``bin_width`` grid — built with
    ``time_bin`` and carried through the grouping, e.g.
    ``groupBy(*on, time_bin(df, "ts", w).alias("__bin"))`` — and the
    join keys become (on..., that attribute) verbatim: the upstream
    aggregation's hash partitioning satisfies the join's distribution,
    so Catalyst adds NO interval-side exchange (the generic path pays
    two: the groupBy's, then a re-shuffle of the exploded rows on the
    derived bin key). Contract — every interval fits its declared bin
    (``floor(lo/w) == floor(hi/w) == iv_bin_col``) — is asserted per
    row; intervals that span bins must use the explode path. Requires
    an explicit ``bin_width``. The declared bin column is dropped from
    the output (plumbing, not payload), so both paths produce the same
    schema for otherwise-equivalent inputs.

    ``intervals`` may also be an ``ops.interval_index.IntervalIndex``
    handle (the durable materialized-envelope sidecar, r14): the join
    reads the committed envelope parquet and takes ``lo_col`` /
    ``hi_col`` / ``on`` / ``bin_width`` / ``iv_bin_col`` from the
    handle — the sidecar's grid is authoritative (explicit arguments
    must match it or be omitted). The per-query plan then contains no
    envelope aggregation and no raw-source scan on the interval side.
    """
    intervals, lo_col, hi_col, on, bin_width, iv_bin_col, _idx = \
        _resolve_iv(points, intervals, lo_col, hi_col, on, bin_width,
                    iv_bin_col)
    if lo_col is None or hi_col is None:
        raise ValueError("lo_col and hi_col are required when intervals"
                         " is a DataFrame")
    on = list(on or [])
    if iv_bin_col is not None:
        if bin_width is None:
            raise ValueError("iv_bin_col requires an explicit bin_width")
        if iv_bin_col not in intervals.columns:
            raise ValueError(f"iv_bin_col {iv_bin_col!r} absent from intervals")
    w = (_auto_bin_width([(intervals, lo_col, hi_col)])
         if bin_width is None else float(bin_width))
    pt = points.withColumn("__pt_bin", _bin(points, t_col, w))
    # prefix-rename the interval side: both inputs frequently derive
    # from the same source frame (self-join), and attribute-based
    # conditions on shared lineage trip Spark's ambiguity check
    if iv_bin_col is not None:
        # Pre-binned: pure attribute aliases keep the projection
        # alias-aware, so the upstream partitioning maps through. The
        # single-bin contract rides the lo column (assert_true is NULL
        # on success; fusing it into a JOIN-KEY column would make the
        # key a derived expression and forfeit the exchange reuse this
        # path exists for).
        # null bounds: the explode path drops such rows (empty bin
        # sequence) and the residual predicate here does the same — the
        # guard must not fire on them, only on a WRONG bin declaration.
        # A NULL bin with NON-null bounds is also a contract breach
        # (time_bin is null iff its input is); Catalyst's inferred
        # IsNotNull on the equi-join bin key would silently drop such a
        # row below this projection, so that case is asserted by the
        # pinned _loud_null_bin_filter below instead (r14, ADVICE r13).
        intervals = _loud_null_bin_filter(intervals, iv_bin_col,
                                          lo_col, hi_col)
        guard = F.assert_true(
            F.col(lo_col).isNull() | F.col(hi_col).isNull()
            | (F.col(iv_bin_col).isNotNull()
               & (F.col(iv_bin_col) == _bin(intervals, lo_col, w))
               & (F.col(iv_bin_col) == _bin(intervals, hi_col, w))),
            F.lit(
                f"iv_bin_col {iv_bin_col!r} must equal floor(lo/bin_width)"
                " and floor(hi/bin_width) for every row — an interval"
                " spans bins (use the default explode path) or the bin"
                " column was built on a different grid"
            ),
        )
        lo_t = intervals.schema[lo_col].dataType
        iv = intervals.select([
            F.coalesce(guard.cast(lo_t), F.col(c)).alias(f"__iv_{c}")
            if c == lo_col else F.col(c).alias(f"__iv_{c}")
            for c in intervals.columns
        ])
        bin_key = F.col(f"__iv_{iv_bin_col}")
    else:
        iv = intervals.select([F.col(c).alias(f"__iv_{c}") for c in intervals.columns])
        iv = iv.withColumn(
            "__iv_bin",
            F.explode(_bin_seq(
                _bin(intervals, lo_col, w, F.col(f"__iv_{lo_col}")),
                _bin(intervals, hi_col, w, F.col(f"__iv_{hi_col}")),
                max_bins_per_interval,
            )),
        )
        bin_key = F.col("__iv_bin")
    cond = [F.col("__pt_bin") == bin_key]
    cond += [F.col(k) == F.col(f"__iv_{k}") for k in on]
    t_n = _num(points, t_col, F.col(t_col))
    cond.append(t_n >= _num(intervals, lo_col, F.col(f"__iv_{lo_col}")))
    cond.append(t_n <= _num(intervals, hi_col, F.col(f"__iv_{hi_col}")))
    dup = set(points.columns)
    joined = pt.join(F.broadcast(iv) if broadcast else iv, cond, "inner")
    # the declared bin column is plumbing, not payload — drop it so the
    # prebinned and explode paths produce the SAME output schema
    out_iv = [c for c in intervals.columns if c != iv_bin_col]
    return joined.select(
        *[F.col(c) for c in points.columns],
        *[F.col(f"__iv_{c}").alias(c + iv_suffix if c in dup else c) for c in out_iv],
    )


def interval_overlap_join(
    left,
    l_lo: str | None,
    l_hi: str | None,
    right,
    r_lo: str | None = None,
    r_hi: str | None = None,
    on: list[str] | None = None,
    bin_width: float | None = 3600.0,
    r_suffix: str = "_r",
    max_bins_per_interval: int | None = 10_000,
    broadcast: bool = False,
    l_bin_col: str | None = None,
    r_bin_col: str | None = None,
) -> DataFrame:
    """All (left, right) pairs whose closed intervals overlap —
    ``l_lo <= r_hi AND r_lo <= l_hi`` (+ equal ``on`` keys) — emitted
    exactly once.

    Both sides explode to covered bins and equi-join on (keys, bin). A
    pair overlapping across several shared bins would match once per
    bin, so the canonical-bin rule keeps only the FIRST bin both cover
    (``bin == max(floor(l_lo/w), floor(r_lo/w))``) — a pure filter, no
    distinct/extra shuffle for dedup.

    Results are width-invariant; pass a ``bin_width`` near the typical
    interval length when known, or ``bin_width=None`` to measure it from
    BOTH sides (p95, see ``_auto_bin_width`` — one extra evaluation of
    each side's lineage). ``broadcast=True`` hints the RIGHT side as the
    broadcast build (see ``interval_join_points`` for when that is
    safe).

    ``l_bin_col`` / ``r_bin_col``: the PRE-BINNED fast path per side
    (see ``interval_join_points.iv_bin_col`` / ``time_bin``) — a BIGINT
    column already holding the side's single bin index skips that
    side's explode and makes the join key the attribute itself, so an
    upstream groupBy on (keys, bin) feeds the join with no extra
    exchange. Single-bin contract asserted per row; a single-bin side
    needs no canonical-bin dedup (a pair can share at most one bin),
    and the rule stays correct when only one side declares it. Declared
    bin columns are dropped from the output (plumbing, not payload), so
    every path combination produces the same schema.

    Either side may be an ``ops.interval_index.IntervalIndex`` handle
    (the materialized-envelope sidecar); its grid supplies that side's
    bounds/keys/bin, and when both sides are handles their grids must
    agree.
    """
    # resolve sidecar handles sequentially: the first handle's grid/keys
    # become the arguments the second is validated against, so two
    # handles with disagreeing grids raise rather than mis-join
    sess = left if hasattr(left, "sparkSession") else right
    left, l_lo, l_hi, on, bin_width, l_bin_col, _li = _resolve_iv(
        sess, left, l_lo, l_hi, on, bin_width, l_bin_col)
    right, r_lo, r_hi, on, bin_width, r_bin_col, _ri = _resolve_iv(
        left, right, r_lo, r_hi, on, bin_width, r_bin_col)
    if l_lo is None or l_hi is None or r_lo is None or r_hi is None:
        raise ValueError("lo/hi columns are required for DataFrame sides")
    on = list(on or [])
    for bc, df_, nm in ((l_bin_col, left, "left"), (r_bin_col, right, "right")):
        if bc is not None:
            if bin_width is None:
                raise ValueError(f"{nm} bin col requires an explicit bin_width")
            if bc not in df_.columns:
                raise ValueError(f"bin col {bc!r} absent from {nm}")
    w = (_auto_bin_width([(left, l_lo, l_hi), (right, r_lo, r_hi)])
         if bin_width is None else float(bin_width))

    def _single_bin_guard(df_, bc, lo, hi):
        # non-null bin asserted alongside the grid check; the
        # IsNotNull-pushdown bypass of THIS projection-riding assert is
        # covered by _loud_null_bin_filter applied below (r14)
        return F.assert_true(
            F.col(lo).isNull() | F.col(hi).isNull()
            | (F.col(bc).isNotNull()
               & (F.col(bc) == _bin(df_, lo, w))
               & (F.col(bc) == _bin(df_, hi, w))),
            F.lit(
                f"bin col {bc!r} must equal floor(lo/bin_width) and"
                " floor(hi/bin_width) for every row — an interval spans"
                " bins (use the default explode path) or the bin column"
                " was built on a different grid"
            ),
        )

    if l_bin_col is not None:
        left = _loud_null_bin_filter(left, l_bin_col, l_lo, l_hi)
        guard = _single_bin_guard(left, l_bin_col, l_lo, l_hi)
        lo_t = left.schema[l_lo].dataType
        lv = left.select([
            F.coalesce(guard.cast(lo_t), F.col(c)).alias(c)
            if c == l_lo else F.col(c)
            for c in left.columns
        ])
        l_bin_key = F.col(l_bin_col)
    else:
        lv = left.withColumn(
            "__l_bin",
            F.explode(_bin_seq(_bin(left, l_lo, w), _bin(left, l_hi, w),
                               max_bins_per_interval)),
        )
        l_bin_key = F.col("__l_bin")
    # prefix-rename the right side — see interval_join_points
    if r_bin_col is not None:
        right = _loud_null_bin_filter(right, r_bin_col, r_lo, r_hi)
        guard = _single_bin_guard(right, r_bin_col, r_lo, r_hi)
        lo_t = right.schema[r_lo].dataType
        rv = right.select([
            F.coalesce(guard.cast(lo_t), F.col(c)).alias(f"__r_{c}")
            if c == r_lo else F.col(c).alias(f"__r_{c}")
            for c in right.columns
        ])
        r_bin_key = F.col(f"__r_{r_bin_col}")
    else:
        rv = right.select([F.col(c).alias(f"__r_{c}") for c in right.columns])
        rv = rv.withColumn(
            "__r_bin",
            F.explode(_bin_seq(
                _bin(right, r_lo, w, F.col(f"__r_{r_lo}")),
                _bin(right, r_hi, w, F.col(f"__r_{r_hi}")),
                max_bins_per_interval,
            )),
        )
        r_bin_key = F.col("__r_bin")
    cond = [l_bin_key == r_bin_key]
    cond += [F.col(k) == F.col(f"__r_{k}") for k in on]
    cond.append(_num(left, l_lo, F.col(l_lo)) <= _num(right, r_hi, F.col(f"__r_{r_hi}")))
    cond.append(_num(right, r_lo, F.col(f"__r_{r_lo}")) <= _num(left, l_hi, F.col(l_hi)))
    # canonical-bin dedup: a prebinned side's lo-bin IS its bin key by
    # contract (and referencing the original lo attribute would reach
    # through the guard projection Spark has already shadowed)
    l_lo_bin = l_bin_key if l_bin_col is not None else _bin(left, l_lo, w)
    r_lo_bin = (r_bin_key if r_bin_col is not None
                else _bin(right, r_lo, w, F.col(f"__r_{r_lo}")))
    cond.append(l_bin_key == F.greatest(l_lo_bin, r_lo_bin))
    # declared bin columns are plumbing, not payload — drop them so all
    # prebinned/explode path combinations share one output schema
    out_l = [c for c in left.columns if c != l_bin_col]
    out_r = [c for c in right.columns if c != r_bin_col]
    dup = set(out_l)
    joined = lv.join(F.broadcast(rv) if broadcast else rv, cond, "inner")
    return joined.select(
        *[F.col(c) for c in out_l],
        *[F.col(f"__r_{c}").alias(c + r_suffix if c in dup else c) for c in out_r],
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the big (probe) side, replicate the
    small (build) side once per salt, join on (key, salt).

    The manual fallback for the case AQE's skew-join split cannot fix: a
    single join KEY so hot that one reducer gets the whole key even
    after partition splitting (AQE splits oversized partitions, but all
    rows of one key in the build side must still meet each split —
    replication here makes that explicit and bounded). Result equals
    ``big.join(small, on, how)`` exactly for ``inner`` and ``left``:
    every big row carries ONE salt, and exactly one replica of each
    small row matches it — no duplicate or lost matches.

    Scale notes: shuffle of the big side is unchanged (one row each, now
    spread over n_salts reducers per key); the small side is shuffled
    n_salts times — keep it the genuinely small side. ``right``/``outer``
    joins are rejected: unmatched SMALL rows would surface once per
    replica.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports how='inner' or 'left' only")
    overlap = (set(big.columns) & set(small.columns)) - {on}
    if overlap:
        raise ValueError(f"ambiguous non-key columns on both sides: {sorted(overlap)}")
    from duckdb_mongo_spark.ops.partitioning import salt_keys

    b = salt_keys(big, on, n_salts)
    s = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = b.join(s, [on, "__salt"], how)
    return out.drop("__salt")
