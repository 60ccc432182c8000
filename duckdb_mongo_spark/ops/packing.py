"""Sequence packing: assign documents to fixed-token-budget training
sequences (context windows) with minimal padding waste.

LLM pretraining concatenates documents into fixed-length sequences;
packing quality directly converts to training FLOPs (a 70%-full batch
wastes 30% of compute on padding). This operator distributes the classic
best-fit-decreasing bin packing:

- documents are md5-bucketed (engine-independent, deterministic) into
  ``num_buckets`` independent groups — ONE hash exchange on the bucket,
  then ONE Python call per partition (`mapInPandas`) sorts its rows by
  (bucket, tokens desc, id) once and packs each bucket in isolation,
  embarrassingly parallel (a call per partition, not per bucket: 256
  buckets cost ≤ #partitions Python calls, not 256);
- within a bucket: best-fit via binary search over bin remaining
  capacities, in (tokens desc, id) order — O(n log n + n·insert), the
  standard FFD/BFD quality bound (≤ 11/9·OPT + 6/9 bins per group);
- packing NEVER crosses buckets, so results are reproducible under any
  cluster size/partitioning — same contract as ``ops.sampling``.

Documents longer than the budget get a dedicated oversized sequence
(``oversized=true``); chunk them upstream if truncation is wanted —
silently splitting a document is a policy decision this operator
refuses to make.

Scale: the shuffle moves only (id, token_count) pairs — join the
assignment back to payloads afterwards, keeping the packed-bytes path
shuffle-free for the heavy columns.
"""

from __future__ import annotations

from bisect import bisect_left, insort

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_mongo_spark.ops.sampling import hash_bucket


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    num_buckets: int = 256,
    salt: str = "",
) -> DataFrame:
    """Assign each row to a packed sequence under a token budget.

    Returns ``id_col`` + ``tokens_col`` + ``bucket`` + ``seq_id``
    (globally unique BIGINT: bucket * 2^32 + local index) + ``seq_pos``
    (the row's insertion order within its sequence) + ``oversized``.
    Deterministic for fixed (budget, num_buckets, salt).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    if num_buckets <= 0:
        raise ValueError("num_buckets must be positive")

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(tokens_col, T.LongType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("seq_id", T.LongType()),
            T.StructField("seq_pos", T.LongType()),
            T.StructField("oversized", T.BooleanType()),
        ]
    )

    def pack(batches):
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        # one sort per partition: bucket, then BFD order (big items
        # first; id tiebreak pins the order)
        pdf = pd.concat(parts, ignore_index=True).sort_values(
            ["__pack_bucket", tokens_col, id_col],
            ascending=[True, False, True],
            kind="mergesort",
        ).reset_index(drop=True)
        buckets = pdf["__pack_bucket"].to_numpy(dtype=np.int64)
        tokens = pdf[tokens_col].to_numpy(dtype=np.int64)
        seq_ids = np.empty(len(pdf), dtype=np.int64)
        seq_pos = np.empty(len(pdf), dtype=np.int64)
        starts = np.flatnonzero(np.r_[True, buckets[1:] != buckets[:-1]])
        for lo, hi in zip(starts, np.r_[starts[1:], len(pdf)]):
            _best_fit_decreasing(tokens[lo:hi].tolist(), budget,
                                 seq_ids[lo:hi], seq_pos[lo:hi])
        yield pd.DataFrame(
            {
                id_col: pdf[id_col],
                tokens_col: tokens,
                "bucket": buckets,
                "seq_id": (buckets << 32) + seq_ids,
                "seq_pos": seq_pos,
                "oversized": tokens > budget,
            }
        )

    slim = df.select(
        id_col,
        F.col(tokens_col).cast("long").alias(tokens_col),
        hash_bucket(F.col(id_col).cast("string"), salt, num_buckets).alias("__pack_bucket"),
    )
    return slim.repartition("__pack_bucket").mapInPandas(pack, schema=out_schema)


def _best_fit_decreasing(tokens: list, budget: int, seq_ids, seq_pos) -> None:
    """Best-fit over one bucket's token counts, already in BFD order
    (tokens desc, id): fills the bucket-local sequence index and the
    position inside it. An item over ``budget`` gets a sequence of its
    own."""
    # bins kept sorted by remaining capacity: (remaining, bin_id)
    open_bins: list[tuple[int, int]] = []
    fill: list[int] = []  # items placed so far, per bin
    for i, tok in enumerate(tokens):
        if tok > budget:
            seq_ids[i] = len(fill)
            seq_pos[i] = 0
            fill.append(1)
            continue
        j = bisect_left(open_bins, (tok, -1))
        if j < len(open_bins):
            rem, bin_id = open_bins.pop(j)  # tightest sufficient bin
            rem -= tok
        else:
            bin_id = len(fill)
            fill.append(0)
            rem = budget - tok
        seq_ids[i] = bin_id
        seq_pos[i] = fill[bin_id]
        fill[bin_id] += 1
        if rem > 0:
            insort(open_bins, (rem, bin_id))


def packing_stats(packed: DataFrame, tokens_col: str, budget: int) -> DataFrame:
    """One row per bucket: sequences used, fill ratio over non-oversized
    sequences, the LB = ceil(tokens/budget) lower bound, and the
    BFD guarantee check column ``within_bound`` (seqs <= 11/9*LB + 1)."""
    per_seq = packed.groupBy("bucket", "seq_id", "oversized").agg(
        F.sum(tokens_col).alias("seq_tokens")
    )
    return (
        per_seq.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum(F.when(~F.col("oversized"), 1).otherwise(0)).alias("n_packed_seqs"),
            F.sum("seq_tokens").alias("total_tokens"),
            F.sum(F.when(~F.col("oversized"), F.col("seq_tokens")).otherwise(0)).alias(
                "packed_tokens"
            ),
        )
        .withColumn(
            "fill_ratio",
            F.when(
                F.col("n_packed_seqs") > 0,
                F.col("packed_tokens") / (F.col("n_packed_seqs") * F.lit(budget)),
            ),
        )
        .withColumn("lb_seqs", F.ceil(F.col("packed_tokens") / F.lit(budget)))
        .withColumn(
            "within_bound",
            F.col("n_packed_seqs") <= F.ceil(F.col("lb_seqs") * 11 / 9) + 1,
        )
    )


def pack_sequences_contiguous(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    num_shards: int = 256,
    salt: str = "",
) -> DataFrame:
    """GPT-style concat-and-split packing: within each md5 shard,
    documents concatenate in ``id_col`` order into one token stream cut
    every ``budget`` tokens — zero padding waste except the final
    partial sequence per shard, and a document MAY span consecutive
    sequences (the standard pretraining tradeoff BFD refuses:
    ``pack_sequences`` never splits but pads; this form never pads but
    splits). Returns ``id_col`` + ``tokens`` + ``shard`` + ``seq_id``
    (= shard * 2^32 + floor(offset / budget), the same global-id
    convention as ``pack_sequences``) + ``seq_off`` (the document's
    start position inside its first sequence) + ``end_seq`` (the last
    sequence it touches; == seq_id when it fits).

    Pure window arithmetic — ONE shuffle on the shard key, exclusive
    prefix-sum per shard, no Python in the plan — and every output
    value is reproduced by the DuckDB oracle ``pack_contiguous_sql``
    (md5 sharding and the offset recurrence are engine-independent
    facts). Deterministic under any partitioning for fixed
    (budget, num_shards, salt)."""
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    if num_shards <= 0:
        raise ValueError("num_shards must be positive")
    slim = df.select(
        id_col,
        F.col(tokens_col).cast("long").alias("tokens"),
        hash_bucket(F.col(id_col).cast("string"), salt, num_shards)
        .alias("shard"),
    )
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    off = F.coalesce(F.sum("tokens").over(w), F.lit(0).cast("long"))
    b = F.lit(budget).cast("long")
    base = F.col("shard").cast("long") * F.lit(1 << 32).cast("long")
    start = F.floor(off / b).cast("long")
    # tokens == 0 spans nothing: end pins to start (floor((off-1)/b)
    # could point at the previous sequence)
    end = F.greatest(
        start, F.floor((off + F.col("tokens") - 1) / b).cast("long"))
    return slim.select(
        id_col,
        "tokens",
        "shard",
        (base + start).alias("seq_id"),
        (off % b).alias("seq_off"),
        (base + end).alias("end_seq"),
    )


def pack_contiguous_sql(
    source_sql: str,
    id_col: str,
    tokens_col: str,
    budget: int,
    num_shards: int = 256,
    salt: str = "",
) -> str:
    """DuckDB oracle reproducing :func:`pack_sequences_contiguous`
    exactly: same md5 shard (15 hex chars = 60 bits, exact in BIGINT on
    both engines — the ``ops.sampling.hash_bucket`` contract), same
    exclusive prefix sum, same integer offset arithmetic."""
    key = f"CAST({id_col} AS VARCHAR)"
    if salt:
        key = f"'{salt}:' || {key}"
    return f"""
    WITH s AS (
        SELECT {id_col}, CAST({tokens_col} AS BIGINT) AS tokens,
               CAST(CAST('0x' || substring(md5({key}), 1, 15) AS BIGINT)
                    % {num_shards} AS BIGINT) AS shard
        FROM ({source_sql})),
    o AS (
        SELECT *, COALESCE(SUM(tokens) OVER (
                   PARTITION BY shard ORDER BY {id_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS off
        FROM s)
    SELECT {id_col}, tokens, shard,
           CAST(shard * 4294967296 + off // {budget} AS BIGINT) AS seq_id,
           CAST(off % {budget} AS BIGINT) AS seq_off,
           CAST(shard * 4294967296
               + greatest(off // {budget},
                          (off + tokens - 1) // {budget}) AS BIGINT) AS end_seq
    FROM o
    """
