"""Sequence packing (ops/packing.py): invariants, determinism, BFD
quality bound, and exact parity with a straight-line local reference
implementation of the same algorithm.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from duckdb_mongo_spark.ops.packing import pack_sequences, packing_stats

BUDGET = 100


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(42)
    rows = [(f"d{i:04d}", rng.choice([5, 12, 30, 48, 55, 70, 95, 130])) for i in range(400)]
    return spark.createDataFrame(rows, "doc_id string, n_tokens long")


@pytest.fixture(scope="module")
def packed(docs):
    return pack_sequences(docs, "doc_id", "n_tokens", BUDGET, num_buckets=8).cache()


class TestInvariants:
    def test_every_doc_exactly_once(self, docs, packed):
        assert packed.count() == docs.count()
        assert packed.select("doc_id").distinct().count() == docs.count()

    def test_budget_respected(self, packed):
        over = (
            packed.filter(~F.col("oversized"))
            .groupBy("seq_id").agg(F.sum("n_tokens").alias("t"))
            .filter(F.col("t") > BUDGET)
        )
        assert over.count() == 0

    def test_oversized_isolated_and_flagged(self, packed):
        # every >budget doc sits alone in its own flagged sequence
        big = packed.filter(F.col("n_tokens") > BUDGET)
        assert big.count() > 0
        assert big.filter(~F.col("oversized")).count() == 0
        per_seq = packed.groupBy("seq_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("oversized").alias("has_over")
        )
        assert per_seq.filter(F.col("has_over") & (F.col("n") > 1)).count() == 0

    def test_seq_pos_is_dense_order(self, packed):
        rows = packed.filter(~F.col("oversized")).groupBy("seq_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("seq_pos").alias("mx"),
            F.min("seq_pos").alias("mn"),
        ).collect()
        for r in rows:
            assert r["mn"] == 0 and r["mx"] == r["n"] - 1

    def test_seq_id_embeds_bucket(self, packed):
        bad = packed.filter(F.shiftright("seq_id", 32) != F.col("bucket"))
        assert bad.count() == 0


class TestQualityAndDeterminism:
    def test_bfd_bound(self, packed):
        stats = packing_stats(packed, "n_tokens", BUDGET)
        assert stats.filter(~F.col("within_bound")).count() == 0
        # sanity: decent fill on this distribution
        avg_fill = stats.agg(F.avg("fill_ratio")).first()[0]
        assert avg_fill > 0.8

    def test_deterministic_across_partitionings(self, docs, packed):
        again = pack_sequences(
            docs.repartition(13), "doc_id", "n_tokens", BUDGET, num_buckets=8
        )
        a = {tuple(r) for r in packed.collect()}
        b = {tuple(r) for r in again.collect()}
        assert a == b

    def test_salt_changes_buckets(self, docs):
        a = pack_sequences(docs, "doc_id", "n_tokens", BUDGET, num_buckets=8, salt="x")
        base = {r["doc_id"]: r["bucket"] for r in a.collect()}
        b = pack_sequences(docs, "doc_id", "n_tokens", BUDGET, num_buckets=8)
        other = {r["doc_id"]: r["bucket"] for r in b.collect()}
        assert base != other

    def test_matches_local_reference(self, docs, packed):
        """Exact parity with a straight-line single-process BFD over the
        same bucket assignment (the distributed op must equal the
        obvious local algorithm, not merely satisfy invariants)."""
        from bisect import bisect_left, insort

        rows = docs.collect()
        buckets = {
            r["doc_id"]: r["b"]
            for r in docs.select(
                "doc_id",
                __import__("duckdb_mongo_spark.ops.sampling", fromlist=["hash_bucket"])
                .hash_bucket(F.col("doc_id"), "", 8).alias("b"),
            ).collect()
        }
        expect = {}
        for bucket in sorted(set(buckets.values())):
            items = sorted(
                [(r["doc_id"], r["n_tokens"]) for r in rows if buckets[r["doc_id"]] == bucket],
                key=lambda x: (-x[1], x[0]),
            )
            open_bins, n_bins = [], 0
            for doc_id, tok in items:
                if tok > BUDGET:
                    expect[doc_id] = (bucket << 32) + n_bins
                    n_bins += 1
                    continue
                i = bisect_left(open_bins, (tok, -1))
                if i < len(open_bins):
                    rem, bin_id = open_bins.pop(i)
                    rem -= tok
                else:
                    bin_id, rem = n_bins, BUDGET - tok
                    n_bins += 1
                expect[doc_id] = (bucket << 32) + bin_id
                if rem > 0:
                    insort(open_bins, (rem, bin_id))
        got = {r["doc_id"]: r["seq_id"] for r in packed.collect()}
        assert got == expect


def _per_bucket_oracle(df, id_col, tokens_col, budget, num_buckets, salt=""):
    """The former ``pack_sequences`` form, kept here as an oracle: one
    ``groupBy(bucket).applyInPandas`` call per md5 bucket, each sorting
    its group and running best-fit-decreasing."""
    from bisect import bisect_left, insort

    import pandas as pd
    from pyspark.sql import types as T

    from duckdb_mongo_spark.ops.sampling import hash_bucket

    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField(tokens_col, T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("seq_id", T.LongType()),
        T.StructField("seq_pos", T.LongType()),
        T.StructField("oversized", T.BooleanType()),
    ])

    def pack(pdf):
        bucket = int(pdf["__pack_bucket"].iloc[0])
        pdf = pdf.sort_values(
            [tokens_col, id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        open_bins, n_bins, fill = [], 0, {}
        seq_ids, seq_pos, oversized = [], [], []
        for tok in pdf[tokens_col].astype("int64"):
            tok = int(tok)
            if tok > budget:
                seq_ids.append(n_bins)
                seq_pos.append(0)
                oversized.append(True)
                n_bins += 1
                continue
            i = bisect_left(open_bins, (tok, -1))
            if i < len(open_bins):
                rem, bin_id = open_bins.pop(i)
                rem -= tok
            else:
                bin_id, rem = n_bins, budget - tok
                n_bins += 1
            pos = fill.get(bin_id, 0)
            fill[bin_id] = pos + 1
            seq_ids.append(bin_id)
            seq_pos.append(pos)
            oversized.append(False)
            if rem > 0:
                insort(open_bins, (rem, bin_id))
        return pd.DataFrame({
            id_col: pdf[id_col],
            tokens_col: pdf[tokens_col].astype("int64"),
            "bucket": bucket,
            "seq_id": (bucket << 32) + pd.Series(seq_ids, dtype="int64"),
            "seq_pos": pd.Series(seq_pos, dtype="int64"),
            "oversized": oversized,
        })

    slim = df.select(
        id_col,
        F.col(tokens_col).cast("long").alias(tokens_col),
        hash_bucket(F.col(id_col).cast("string"), salt, num_buckets).alias("__pack_bucket"),
    )
    return slim.groupBy("__pack_bucket").applyInPandas(pack, schema=out_schema)


class TestPerBucketOracle:
    """One Python call per partition must give the rows the per-bucket
    ``applyInPandas`` form gave: same sequence ids, positions, buckets
    and oversized flags."""

    @pytest.fixture(scope="class")
    def tricky(self, spark):
        rng = random.Random(7)
        # ties on every token count, zero-token rows and oversized rows
        sizes = [0, 1, 25, 50, 50, 64, 99, 100, 101, 250]
        rows = [(f"t{i:04d}", rng.choice(sizes)) for i in range(600)]
        # 16 hash partitions over 3 keys: most input partitions are empty
        df = spark.createDataFrame(rows, "doc_id string, n_tokens long").repartition(
            16, F.col("n_tokens") % 3)
        parts = df.rdd.glom().map(len).collect()
        assert len(parts) == 16 and 0 in parts and sum(parts) == 600
        return df

    @pytest.mark.parametrize("num_buckets", [1, 7, 256])
    def test_rows_match_per_bucket_form(self, tricky, num_buckets):
        got = pack_sequences(tricky, "doc_id", "n_tokens", BUDGET, num_buckets=num_buckets)
        want = _per_bucket_oracle(tricky, "doc_id", "n_tokens", BUDGET, num_buckets)
        assert got.schema == want.schema
        rows = sorted(tuple(r) for r in got.collect())
        assert rows == sorted(tuple(r) for r in want.collect())
        assert len(rows) == 600 and any(r[5] for r in rows)
        stats = packing_stats(got, "n_tokens", BUDGET)
        assert stats.filter(~F.col("within_bound")).count() == 0

    def test_integer_ids_match_per_bucket_form(self, spark):
        rows = [(i, (i * 37) % 160) for i in range(300)]
        df = spark.createDataFrame(rows, "chunk_id long, n long")
        got = pack_sequences(df, "chunk_id", "n", BUDGET, num_buckets=5, salt="s")
        want = _per_bucket_oracle(df, "chunk_id", "n", BUDGET, 5, salt="s")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


class TestHypothesis:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=1, max_value=150), min_size=0, max_size=60),
        budget=st.integers(min_value=1, max_value=120),
    )
    def test_invariants_random(self, docs, sizes, budget):
        spark = docs.sparkSession
        rows = [(f"h{i:03d}", s) for i, s in enumerate(sizes)]
        if not rows:
            return
        df = spark.createDataFrame(rows, "doc_id string, n_tokens long")
        out = pack_sequences(df, "doc_id", "n_tokens", budget, num_buckets=3).collect()
        assert len(out) == len(rows)
        assert len({r["doc_id"] for r in out}) == len(rows)
        per_seq: dict = {}
        for r in out:
            per_seq.setdefault(r["seq_id"], []).append(r)
        for members in per_seq.values():
            if any(m["oversized"] for m in members):
                assert len(members) == 1
                assert members[0]["n_tokens"] > budget
            else:
                assert sum(m["n_tokens"] for m in members) <= budget


class TestValidation:
    def test_bad_budget(self, docs):
        with pytest.raises(ValueError):
            pack_sequences(docs, "doc_id", "n_tokens", 0)

    def test_bad_buckets(self, docs):
        with pytest.raises(ValueError):
            pack_sequences(docs, "doc_id", "n_tokens", 10, num_buckets=0)


class TestContiguousPacking:
    """r8: GPT-style concat-and-split packing — window arithmetic only,
    value-identical to the DuckDB oracle (the ledger's seq_packing
    entry runs the same pair at driver scale)."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, n_tokens long")

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from duckdb_mongo_spark.ops.packing import (
            pack_contiguous_sql,
            pack_sequences_contiguous,
        )

        random.seed(5)
        rows = [(f"d{i:04d}", random.randint(0, 900)) for i in range(400)]
        df = self._df(spark, rows)
        got = sorted(
            tuple(r) for r in pack_sequences_contiguous(
                df, "doc_id", "n_tokens", budget=256, num_shards=8
            ).collect())
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t AS SELECT * FROM (VALUES "
            + ",".join(f"('{i}', {n})" for i, n in rows)
            + ") v(doc_id, n_tokens)")
        exp = sorted(tuple(r) for r in con.execute(
            pack_contiguous_sql("SELECT doc_id, n_tokens FROM t",
                                "doc_id", "n_tokens", budget=256,
                                num_shards=8)).fetchall())
        assert got == exp

    def test_contiguity_invariants(self, spark):
        from duckdb_mongo_spark.ops.packing import pack_sequences_contiguous

        random.seed(7)
        rows = [(f"d{i:04d}", random.randint(0, 300)) for i in range(300)]
        out = pack_sequences_contiguous(
            self._df(spark, rows), "doc_id", "n_tokens",
            budget=128, num_shards=4).collect()
        assert len(out) == len(rows)
        by_shard: dict = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r)
        for shard, members in by_shard.items():
            members.sort(key=lambda r: r["doc_id"])
            off = 0
            for m in members:
                # the offset recurrence: docs tile the shard stream
                assert m["seq_id"] == (shard << 32) + off // 128
                assert m["seq_off"] == off % 128
                want_end = max(off // 128, (off + m["tokens"] - 1) // 128)
                assert m["end_seq"] == (shard << 32) + want_end
                off += m["tokens"]

    def test_deterministic_under_repartition(self, spark):
        from duckdb_mongo_spark.ops.packing import pack_sequences_contiguous

        rows = [(f"d{i:03d}", (i * 37) % 200) for i in range(200)]
        a = sorted(tuple(r) for r in pack_sequences_contiguous(
            self._df(spark, rows), "doc_id", "n_tokens", 64,
            num_shards=5).collect())
        b = sorted(tuple(r) for r in pack_sequences_contiguous(
            self._df(spark, rows).repartition(13), "doc_id", "n_tokens",
            64, num_shards=5).collect())
        assert a == b

    def test_validation(self, spark):
        from duckdb_mongo_spark.ops.packing import pack_sequences_contiguous

        df = self._df(spark, [("a", 1)])
        with pytest.raises(ValueError):
            pack_sequences_contiguous(df, "doc_id", "n_tokens", 0)
        with pytest.raises(ValueError):
            pack_sequences_contiguous(df, "doc_id", "n_tokens", 8,
                                      num_shards=0)
