"""Partitioning utilities for the 100 TB posture (NEW vs reference —
the reference's single-cursor scan has no partitioning story at all,
SURVEY §4.2).

- ``write_bucketed`` / ``co_located_join``: persist both sides bucketed
  and sorted by the join key so repeated big-big joins run WITHOUT a
  shuffle (SortMergeJoin over pre-bucketed scans — the standard warehouse
  layout for fact-fact joins that AQE cannot remove the exchange from).
- ``salted_group_count`` / ``salt_keys``: two-phase aggregation for
  skewed keys — explode each hot key into ``n_salts`` sub-keys, partial
  aggregate, then merge. AQE's skew-join splitting handles joins; this
  is the groupBy-side equivalent it does not cover.
- ``zorder_value`` / ``zorder_layout``: multi-column data-skipping file
  layout (Morton / Z-order curve). Sorting files by ONE column makes
  parquet min/max stats selective on that column only; interleaving the
  bits of several columns' bucket ids and range-partitioning on the
  resulting Z-value gives every file a compact hyper-rectangle in ALL
  the interleaved dimensions, so predicate-driven file pruning works on
  any of them. This is the standard lakehouse layout trick for 100 TB
  tables queried on more than one key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than the session's default parallelism.

    Byte-based file splitting sizes scan partitions for SCAN cost, but
    the token/shingle/vector operators multiply work per input byte by
    ~100-500x (a 6 MB documents file explodes to 2.6M shingle rows), so
    a byte-sized split starves the cluster: measured at sf1, every
    documents stage ran 2 tasks on 32 cores and the dedup suite was
    ~6x slower than its compute cost. The repartition shuffles only the
    RAW input (small by premise when partitions are few); on a 100 TB
    corpus the input already carries >> defaultParallelism partitions
    and this is a no-op — exactly when the shuffle would be expensive.

    The partition count is read from the physical plan and runs nothing
    (``planned_partitions``): ``df.rdd.getNumPartitions()`` would execute
    every upstream shuffle stage of an adaptive plan, and the real action
    would then run them all again.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        current = planned_partitions(df)
    except Exception:  # noqa: BLE001 — sizing probe only, never fail the op
        return df
    if current < target:
        return df.repartition(target)
    return df


def planned_partitions(df: DataFrame) -> int:
    """Number of partitions ``df`` is planned to produce, read without
    launching a Spark job.

    A plan without exchanges builds its RDD lazily, so its count is the
    RDD's. An adaptive plan (any plan with an exchange) would run its
    shuffle stages to build its RDD; its count is read from the stage
    plan instead: the nearest partitioning above the leaves, counting
    each shuffle at its planned partition number. AQE may later coalesce
    a small shuffle below that number (with its default parallelism-first
    sizing, only when the shuffled data is under ~1 MB per core); the
    count then reads high and ``ensure_min_parallelism`` skips a
    repartition of that small input rather than run it twice.
    """
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan":
        return qe.toRdd().getNumPartitions()
    return _stage_plan_partitions(plan.executedPlan())


def _stage_plan_partitions(plan) -> int:
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    kids = plan.children()
    # a broadcast side contributes no partitions to its parent's output
    probe = [kids.apply(i) for i in range(kids.size())
             if "Broadcast" not in kids.apply(i).nodeName()]
    if not probe:
        # leaf scan: its splits are planned, building its RDD runs nothing
        return plan.execute().getNumPartitions()
    counts = [_stage_plan_partitions(k) for k in probe]
    return sum(counts) if plan.nodeName() == "Union" else max(counts)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    n_buckets: int = 64,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) managed table.

    Both sides of a repeated join written with the SAME keys and bucket
    count join shuffle-free: each task reads matching bucket files.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)


def co_located_join(
    spark, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two tables previously written with ``write_bucketed`` on the
    same keys/bucket count. The physical plan contains no Exchange on
    either side (verify with ``df.explain``)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def salt_keys(df: DataFrame, key: str, n_salts: int = 16, salt_col: str = "__salt") -> DataFrame:
    """Add a deterministic salt derived from the row (md5 of all columns)
    so hot keys spread over ``n_salts`` reducers. Deterministic → stable
    results and retry-safe tasks (no rand() in the shuffle key)."""
    h = F.conv(F.substring(F.md5(F.concat_ws("\x1f", *df.columns)), 1, 6), 16, 10)
    return df.withColumn(salt_col, (h % n_salts).cast("int"))


def _zorder_bucket(col, lo: float, hi: float, bits: int):
    """Map a numeric column into an integer bucket id in
    ``[0, 2**bits - 1]`` given the column's [lo, hi] range.

    NULLs and values below ``lo`` map to bucket 0, values at/above
    ``hi`` to the top bucket — out-of-range data degrades pruning for
    the affected rows only, never correctness (the Z-value orders
    files; it is dropped before write and carries no query semantics).
    """
    n = 1 << bits
    span = hi - lo
    if span <= 0:
        return F.lit(0).cast("long")
    b = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(float(span)) * n)
    return F.coalesce(
        F.least(F.lit(n - 1), F.greatest(F.lit(0), b)), F.lit(0)
    ).cast("long")


def zorder_value(cols_with_bounds, bits: int = 8):
    """Morton-interleaved Z-value over ``[(col, lo, hi), ...]``.

    Each column is bucketed into ``2**bits`` cells over its [lo, hi]
    range, then bucket-id bits are interleaved round-robin (bit ``i`` of
    dimension ``d`` lands at position ``i * ndims + d``), producing one
    BIGINT whose ordering walks the Z-curve. Pure shift/and/or
    arithmetic — whole-stage codegen, no UDFs. ``bits * ndims`` must fit
    in 63 bits (8 bits × up to 7 dims is the practical envelope; file
    pruning gains nothing from finer cells than the file count).
    """
    dims = [(F.col(c) if isinstance(c, str) else c, lo, hi) for c, lo, hi in cols_with_bounds]
    ndims = len(dims)
    if ndims == 0:
        raise ValueError("zorder_value needs at least one column")
    if bits * ndims > 63:
        raise ValueError(f"bits*ndims = {bits * ndims} exceeds the 63-bit BIGINT envelope")
    z = F.lit(0).cast("long")
    for d, (col, lo, hi) in enumerate(dims):
        b = _zorder_bucket(col, lo, hi, bits)
        for i in range(bits):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ndims + d))
    return z


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    bits: int = 8,
    z_col: str = "__z",
) -> DataFrame:
    """Rewrite ``df`` into ``n_files`` range-partitions ordered along the
    Z-curve of ``cols`` — write the result with ``df.write.parquet`` (or
    ``sinks.write_collection``) and each output file carries tight
    min/max parquet stats on EVERY Z-ordered column, so scans filtering
    on any of them prune files.

    Column ranges come from one bounded min/max aggregation over the
    input (a layout rewrite is a batch maintenance job — one extra scan
    is the accepted cost; Delta/Iceberg ``OPTIMIZE ZORDER BY`` does the
    same). ``repartitionByRange`` samples to pick boundaries and AQE may
    coalesce the tiny tail; ``sortWithinPartitions`` makes row groups
    within a file Z-contiguous too, which tightens per-row-group stats.
    """
    from pyspark.sql import types as T

    numeric = {}
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                           T.FloatType, T.DoubleType, T.DecimalType,
                           T.TimestampType)):
            numeric[c] = F.col(c).cast("double")
        elif isinstance(dt, T.TimestampNTZType):
            # TIMESTAMP_NTZ has no direct cast to double (Spark raises
            # DATATYPE_MISMATCH); go through epoch micros instead. Only
            # the ORDERING matters for Z-bucketing, so the session-TZ
            # interpretation applied by the NTZ→LTZ step is harmless.
            numeric[c] = F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        elif isinstance(dt, T.DateType):
            numeric[c] = F.unix_date(F.col(c)).cast("double")
        else:
            # a silent cast-to-null would bucket every row to 0 and
            # quietly destroy the clustering — fail loudly instead
            raise TypeError(
                f"zorder_layout column {c!r} has non-orderable-numeric type "
                f"{dt.simpleString()}; Z-order needs numeric/timestamp/date "
                "columns (hash or encode others to a numeric surrogate first)"
            )
    bounds = df.agg(
        *[f for c in cols
          for f in (F.min(numeric[c]).alias(f"lo_{c}"), F.max(numeric[c]).alias(f"hi_{c}"))]
    ).first()
    spec = []
    for c in cols:
        lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
        if lo is None:  # all-NULL column: every row buckets to 0
            lo, hi = 0.0, 0.0
        spec.append((numeric[c], float(lo), float(hi)))
    with_z = df.withColumn(z_col, zorder_value(spec, bits=bits))
    return (
        with_z.repartitionByRange(n_files, F.col(z_col))
        .sortWithinPartitions(z_col)
        .drop(z_col)
    )


def salted_group_count(
    df: DataFrame, key: str, n_salts: int = 16
) -> DataFrame:
    """COUNT(*) per key via two-phase salted aggregation: partial count
    per (key, salt), then merge per key. Same result as a direct
    groupBy; the first shuffle spreads a hot key over ``n_salts``
    partitions instead of one."""
    salted = salt_keys(df, key, n_salts)
    partial = salted.groupBy(key, "__salt").agg(F.count(F.lit(1)).alias("__pc"))
    return partial.groupBy(key).agg(F.sum("__pc").cast("long").alias("n"))
