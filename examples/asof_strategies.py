"""As-of join forms end to end — the two-input window plan with
tie_break and the single-scan self-join form.

Runs on the driver testdata (events table, sf0.001 by default) with no
server and prints, for each shape: the row-identical result digest and
the physical-plan signature that proves its scale story —

- window:    one hash exchange on the ``by`` keys, a Window, no join
- self-join: exactly ONE FileScan for both sides (a union of two
             filters of the same table would plan two)

Usage: python examples/asof_strategies.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb_mongo_spark as dms  # noqa: E402
from duckdb_mongo_spark.ops.joins import asof_join, asof_self_join


def plan_sig(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
    return (f"scans={len(re.findall(r'Scan parquet|FileScan', plan))} "
            f"exchanges={n_ex} window={'Window' in plan} "
            f"bhj={'BroadcastHashJoin' in plan}")


def digest(df):
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.unix_micros("ts_right")).alias("avg_match_us"),
        F.avg("err_value").alias("avg_value"),
    ).collect()[0]
    # avg rounded to whole ms: different physical plans sum floats in
    # different orders (a Spark-wide caveat, not a plan difference)
    return (row["n"], round((row["avg_match_us"] or 0) / 1000),
            round(row["avg_value"] or 0, 6))


def main(sf_dir: str) -> None:
    spark = dms.get_spark()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for f_ in ev.schema.fields:
        if f_.dataType.typeName() == "timestamp_ntz":
            ev = ev.withColumn(f_.name, F.col(f_.name).cast("timestamp"))
    ev = ev.withColumn("err_value", F.col("value"))

    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "err_value")

    shapes = {
        "window + tie_break": asof_join(
            clicks, errors, on="ts", by=["user_id"], tie_break="err_value"),
        "self-join (single scan)": asof_self_join(
            ev, F.col("event_type") == "click", F.col("event_type") == "error",
            on="ts", left_cols=["event_id"], right_cols=["err_value"],
            by=["user_id"], tie_break="err_value"),
    }
    digests = set()
    for name, df in shapes.items():
        d = digest(df)
        digests.add(d)
        print(f"{name:32s} digest={d}  [{plan_sig(df)}]")
    assert len(digests) == 1, f"forms disagree: {digests}"
    print("\nBoth forms value-identical; each plan matches its scale "
          "contract above.")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
