"""Physical-plan audit for every headline query.

Captures the plan facts that matter at 100 TB — join strategies,
exchange (shuffle) count, scan pushdown (PushedFilters), Python-UDF
presence — as one markdown table per run. (Codegen coverage is not
counted: un-executed AdaptiveSparkPlan strings carry no codegen
markers, so the number would read 0 under AQE regardless.) Commit the output (PLANS.md) so plan regressions show
up as diffs: a dimension join flipping from BroadcastHashJoin to
SortMergeJoin, a filter falling off the scan, or a stray
BroadcastNestedLoopJoin is visible at review time instead of as a
mystery slowdown three rounds later.

Usage: python tools/plan_audit.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PATTERNS = {
    "BHJ": r"BroadcastHashJoin",
    "SMJ": r"SortMergeJoin",
    "SHJ": r"ShuffledHashJoin",
    "BNLJ": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "exchanges": r"Exchange (?:hash|range|SinglePartition)",
    "pythonUDF": r"BatchEvalPython|ArrowEvalPython",
    # one column for both Arrow-batched Python stages: MapInPandas and
    # MapInArrow (r9 — the GEMM cosine kernel is mapInArrow and was
    # reading as 0 Python stages, under-reporting the plan)
    "mapInPandas": r"MapInPandas|MapInArrow",
}


# intentionally nested-loop plans
ALLOWED_NESTED = {
    # merged A18+A19 entry: the $count path yields ONE row, cross-joined
    # onto the grouped result — a 1-row broadcast, not a real nested loop
    "mongo_count_pushdown",
}


def audit_plan(plan: str) -> dict[str, int]:
    return {name: len(re.findall(pat, plan)) for name, pat in PATTERNS.items()}


def pushdown_evidence(plan: str) -> str:
    # tolerate truncated metadata ("PushedFilters: [IsNotNull(x), ..." with
    # no closing bracket) — anything non-empty after the bracket counts
    pushed = re.findall(r"PushedFilters: \[([^\]\n]*)", plan)
    non_empty = [p for p in pushed if p.strip()]
    if non_empty:
        return f"{len(non_empty)} scan(s) with pushed filters"
    if re.search(r"BatchScan duckdb_mongo", plan):
        # Python DataSource scans carry pushdown in the scan payload,
        # not in the plan string — asserted per-query by test_planner.py
        # plan regexes and visible via MongoFrame.scan_description()
        return "engine BatchScan (pushdown in scan_description)"
    if re.search(r"LocalTableScan|LocalRelation", plan):
        # direct Arrow materialization (frame._try_direct_df): the pushed
        # scan executed in-process, the plan holds only its bounded result
        return "direct materialization (pushdown in scan_description)"
    if re.search(r"FileScan parquet", plan):
        # r12 native scan (frame._try_native_df) with no filter to push
        # (e.g. whole-collection grouped agg) — column pruning is still
        # visible in the scan's ReadSchema
        return "native FileScan (ReadSchema pruned)"
    return "—"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    import __spark_entry__ as entry
    from duckdb_mongo_spark.session import get_spark

    spark = get_spark("plan_audit")
    # scan metadata (PushedFilters lists) truncates at 100 chars by
    # default, which eats the closing bracket and reads as "no pushdown"
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    qs = entry.queries()
    only = os.environ.get("PLAN_AUDIT_ONLY")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        qs = {n: qs[n] for n in names if n in qs}
    print(f"# Physical-plan audit ({sf_dir}, Spark {spark.version})\n")
    print("Counts of plan operators per query. Red flags: any BNLJ/cartesian; "
          "SMJ where a side is dimension-sized; exchanges beyond the aggregation's need.\n")
    cols = list(PATTERNS) + ["pushdown"]
    print("| query | " + " | ".join(cols) + " |")
    print("|" + "---|" * (len(cols) + 1))
    flagged = []
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            # execute first: under AQE the pre-execution plan is the
            # INITIAL plan — runtime join conversions (the 64 MB AQE
            # broadcast threshold this session relies on) only appear
            # in the final plan, which is what a regression diff needs
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            # executed AdaptiveSparkPlan prints "== Final Plan ==" AND
            # "== Initial Plan ==" — count only the final section, else
            # every operator double-counts
            plan = plan.split("== Initial Plan ==")[0]
            counts = audit_plan(plan)
            row = [str(counts[c]) for c in PATTERNS]
            row.append(pushdown_evidence(plan))
            if (counts["BNLJ"] or counts["cartesian"]) and name not in ALLOWED_NESTED:
                flagged.append(name)
        except Exception as exc:  # noqa: BLE001 — audit must cover the rest
            msg = " ".join(str(exc).split())[:80].replace("|", "/")
            row = ["-"] * len(PATTERNS) + [f"ERROR: {msg}"]
        print(f"| {name} | " + " | ".join(row) + " |")
    print()
    print(f"**Nested-loop/cartesian flags (excluding the documented 1-row count cross join):** {flagged or 'none'}")


if __name__ == "__main__":
    main()
