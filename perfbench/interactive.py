"""interactive_query: a seeded stream of short analyst queries.

Each round runs every (shape, collection) pair of ``OPS`` once, in a
seeded order, with literals drawn from the seed. The collections sit on
both sides of the direct-path row limit, plus one JSONL collection that
only the Python DataSource can scan, so the fixed per-query floor
(construct, path choice, pushdown compile, planning, job launch)
dominates.
"""

from __future__ import annotations

import numpy as np

import gen
import harness
import oracles

DAY = 86400.0
USER_SPAN = 60  # users per join query
ROUNDS = 3      # least rounds a run measures

OPS = [
    ("filter_projection", "orders_jsonl"),
    ("grouped_agg", "orders_big"),
    ("count", "orders_big"),
    ("topn_id", "orders_big"),
    ("semi_join_in", "orders_small"),
    ("or_filter", "orders_big"),
    ("substring_expr", "orders_small"),
    ("facet_bucket", "orders_jsonl"),
    ("asof_join", "events"),
    ("interval_join", "events"),
]
PARQUET = ["orders_small", "orders_big", "customer", "events"]
SIZES = {"orders_small": gen.ORDERS_SMALL_ROWS, "orders_big": gen.ORDERS_BIG_ROWS,
         "orders_jsonl": gen.ORDERS_JSONL_ROWS, "events": gen.EVENT_ROWS}
SUBSTRINGS = {"1-URGENT": "URGE", "2-HIGH": "HIGH", "3-MEDIUM": "MEDI",
              "4-NOT SPECIFIED": "NOT ", "5-LOW": "LOW"}


def draw(rng, shape: str) -> dict:
    """Seeded literals of one query."""
    if shape == "filter_projection":
        return {"price": round(float(rng.uniform(458_000, 462_000)), 2),
                "statuses": sorted(rng.choice(gen.STATUSES, size=2, replace=False).tolist())}
    if shape == "grouped_agg":
        return {"key": str(rng.choice(["o_orderstatus", "o_orderpriority"])),
                "min_price": round(float(rng.uniform(0, 50_000)), 2)}
    if shape == "count":
        return {"status": str(rng.choice(gen.STATUSES))}
    if shape == "topn_id":
        return {"desc": bool(rng.integers(0, 2)), "n": int(rng.integers(5, 21))}
    if shape == "semi_join_in":
        return {"bal": round(float(rng.uniform(9_880, 9_920)), 2)}
    if shape == "or_filter":
        return {"price": round(float(rng.uniform(492_000, 493_000)), 2),
                "cust": int(rng.integers(1, gen.CUSTOMER_ROWS + 1))}
    if shape == "substring_expr":
        return {"token": str(rng.choice(list(SUBSTRINGS.values()))),
                "price": round(float(rng.uniform(305_000, 315_000)), 2)}
    if shape == "facet_bucket":
        cuts = np.sort(rng.choice(np.arange(50_000, 500_000, 10_000), size=3, replace=False))
        return {"cust_max": int(rng.integers(2_000, 3_001)),
                "bounds": [0] + [int(c) for c in cuts] + [600_000]}
    if shape in ("asof_join", "interval_join"):
        return {"user0": int(rng.integers(1, gen.EVENT_USERS - USER_SPAN))}
    raise KeyError(shape)


class Interactive:
    def __init__(self, run: harness.Run, inp):
        self.run, self.inp = run, inp
        self.rng = np.random.default_rng([run.seed, 1])
        self.cat = self.jcat = None
        self.checked: dict = {}   # (shape, coll) -> (params, rows) of first window run

    # -- set-up ----------------------------------------------------------------
    def setup(self) -> None:
        import duckdb_mongo_spark as dms
        from pyspark.sql import functions as F

        from duckdb_mongo_spark.ops.interval_index import build_interval_envelope_index

        spark = self.run.spark
        self.cat = dms.attach("parquet:" + self.inp.parquet_root, alias="pq", spark=spark)
        self.jcat = dms.attach("jsonl:" + self.inp.jsonl_root, alias="jl", spark=spark)
        for coll in PARQUET:
            self.cat.schema_for(coll)
        self.jcat.schema_for("orders_jsonl")
        build_interval_envelope_index(
            self.cat.table("events").df(), "ts", ["user_id"], DAY,
            predicate=F.col("event_type") == "error",
            aggs={"n_errors": F.count(F.lit(1))})

    # -- queries ---------------------------------------------------------------
    def _frame(self, coll):
        return (self.jcat if coll == "orders_jsonl" else self.cat).table(coll)

    def _collect(self, df):
        rec = self.run.rec
        with rec.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with rec.span("spark.action"):
            rows = [tuple(r) for r in df.collect()]
        return rows, len(rows)

    def _run_frame(self, mf, post=None):
        mf.scan_description()
        df = mf.df()
        return self._collect(post(df) if post else df)

    def query(self, shape: str, coll: str, p: dict):
        from pyspark.sql import functions as F

        from duckdb_mongo_spark.pushdown import C

        if shape == "filter_projection":
            mf = self._frame(coll).filter(
                (C("o_totalprice") > p["price"]) & C("o_orderstatus").isin(*p["statuses"])
            ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
            return self._run_frame(mf)
        if shape == "grouped_agg":
            mf = self._frame(coll).filter(C("o_totalprice") >= p["min_price"]).group_by(
                p["key"]).agg(("count_star", None, "n"), ("min", "o_totalprice", "mn"),
                              ("max", "o_totalprice", "mx"), ("avg", "o_totalprice", "av"))
            return self._run_frame(mf)
        if shape == "count":
            return self._run_frame(
                self._frame(coll).filter(C("o_orderstatus") == p["status"]).count_rows())
        if shape == "topn_id":
            mf = self._frame(coll).order_by_id(descending=p["desc"]).limit(p["n"]).select(
                "_id", "o_totalprice")
            return self._run_frame(mf)
        if shape == "semi_join_in":
            rich = self._frame("customer").filter(C("c_acctbal") > p["bal"]).select("c_custkey")
            out = self._frame(coll).semi_join_in(rich, on="o_custkey", build_col="c_custkey")
            if hasattr(out, "scan_description"):
                out = out.select("o_orderstatus")
                out.scan_description()
                out = out.df()
            return self._collect(out.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n")))
        if shape == "or_filter":
            mf = self._frame(coll).filter(
                ((C("o_totalprice") > p["price"]) | (C("o_custkey") == p["cust"]))
                & C("o_orderpriority").is_not_null()
            ).select("o_orderkey", "o_orderstatus", "o_totalprice")
            return self._run_frame(mf)
        if shape == "substring_expr":
            mf = self._frame(coll).filter(
                (C("o_orderpriority").substring(3, 4) == p["token"])
                & (C("o_totalprice") > p["price"])
            ).select("o_orderkey", "o_orderpriority")
            return self._run_frame(mf)
        if shape == "facet_bucket":
            return self._facet(coll, p)
        if shape == "asof_join":
            return self._asof(p)
        if shape == "interval_join":
            return self._interval(p)
        raise KeyError(shape)

    def _facet(self, coll, p):
        from duckdb_mongo_spark.scan import mongo_scan

        row = lambda name: {"$map": {"input": f"${name}", "as": "d", "in": {
            "facet": name, "key": {"$toString": "$$d._id"}, "n": "$$d.count"}}}
        pipeline = [
            {"$match": {"o_custkey": {"$lte": p["cust_max"]}}},
            {"$facet": {
                "by_status": [{"$sortByCount": "$o_orderstatus"}],
                "price_buckets": [{"$bucket": {"groupBy": "$o_totalprice",
                                               "boundaries": p["bounds"],
                                               "default": "other"}}],
            }},
            {"$project": {"_id": 0, "rows": {"$concatArrays": [
                row("by_status"), row("price_buckets")]}}},
            {"$unwind": "$rows"},
            {"$replaceRoot": {"newRoot": "$rows"}},
        ]
        mf = mongo_scan(self.run.spark, self.jcat.backend, "main", coll, pipeline=pipeline,
                        columns={"facet": "VARCHAR", "key": "VARCHAR", "n": "BIGINT"})
        return self._run_frame(mf, lambda df: df.select("facet", "key", "n"))

    def _events(self, p, click_only=False):
        from duckdb_mongo_spark.pushdown import C

        pred = (C("user_id") >= p["user0"]) & (C("user_id") < p["user0"] + USER_SPAN)
        if click_only:
            pred = pred & (C("event_type") == "click")
        mf = self.cat.table("events").filter(pred)
        mf.scan_description()
        return mf

    def _asof(self, p):
        from pyspark.sql import functions as F

        from duckdb_mongo_spark.ops.joins import asof_join

        ev = self._events(p).df()
        clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        errors = ev.filter(F.col("event_type") == "error").select(
            "user_id", "ts", F.col("value").alias("err_value"))
        out = asof_join(clicks, errors, on="ts", by=["user_id"], tie_break="err_value")
        return self._collect(out.select("event_id", "user_id", "ts", "ts_right", "err_value"))

    def _interval(self, p):
        from pyspark.sql import functions as F

        from duckdb_mongo_spark.ops.interval_index import cached_interval_envelope_index
        from duckdb_mongo_spark.ops.joins import interval_join_points

        full = self.cat.table("events").df()
        idx = cached_interval_envelope_index(
            full, "ts", ["user_id"], DAY, predicate=F.col("event_type") == "error",
            aggs={"n_errors": F.count(F.lit(1))})
        if idx is None:
            raise RuntimeError("interval envelope sidecar missing after set-up")
        points = self._events(p, click_only=True).select("event_id", "user_id", "ts").df()
        out = interval_join_points(points, "ts", idx)
        return self._collect(out.select("event_id", "user_id", "ts", "lo", "hi", "n_errors"))

    # -- loop ------------------------------------------------------------------
    def in_docs(self, shape, coll) -> int:
        n = SIZES[coll]
        return n + gen.CUSTOMER_ROWS if shape == "semi_join_in" else n

    def warmup(self) -> list:
        """One run of every query kind before the window; their latencies
        are the cold (first-of-kind) samples."""
        cold = []
        for shape, coll in OPS:
            p = draw(self.rng, shape)
            _, dt = self.run.op(f"{shape}/{coll}", lambda: self.query(shape, coll, p),
                                traced=False, sample=None)
            if dt is not None:
                cold.append(dt)
        return cold

    def unit(self, i: int, traced: bool) -> dict:
        lat = {}
        for j in self.rng.permutation(len(OPS)):
            shape, coll = OPS[j]
            p = draw(self.rng, shape)
            rows, dt = self.run.op(f"{shape}/{coll}", lambda: self.query(shape, coll, p),
                                   traced=traced, in_docs=self.in_docs(shape, coll))
            if dt is None:
                continue
            lat[f"{shape}/{coll}"] = dt
            self.checked.setdefault((shape, coll), (p, rows))
        return lat

    # -- correctness -----------------------------------------------------------
    def oracle_sql(self, shape: str, coll: str, p: dict) -> str:
        v = coll
        if shape == "filter_projection":
            st = ", ".join(f"'{s}'" for s in p["statuses"])
            return (f"SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM {v} "
                    f"WHERE o_totalprice > {p['price']} AND o_orderstatus IN ({st})")
        if shape == "grouped_agg":
            k = p["key"]
            return (f"SELECT {k}, COUNT(*), MIN(o_totalprice), MAX(o_totalprice), "
                    f"AVG(o_totalprice) FROM {v} WHERE o_totalprice >= {p['min_price']} "
                    f"GROUP BY {k}")
        if shape == "count":
            return f"SELECT COUNT(*) FROM {v} WHERE o_orderstatus = '{p['status']}'"
        if shape == "topn_id":
            d = "DESC" if p["desc"] else "ASC"
            return f"SELECT _id, o_totalprice FROM {v} ORDER BY _id {d} LIMIT {p['n']}"
        if shape == "semi_join_in":
            return (f"SELECT o_orderstatus, COUNT(*) FROM {v} WHERE o_custkey IN "
                    f"(SELECT c_custkey FROM customer WHERE c_acctbal > {p['bal']}) "
                    f"GROUP BY o_orderstatus")
        if shape == "or_filter":
            return (f"SELECT o_orderkey, o_orderstatus, o_totalprice FROM {v} "
                    f"WHERE (o_totalprice > {p['price']} OR o_custkey = {p['cust']}) "
                    f"AND o_orderpriority IS NOT NULL")
        if shape == "substring_expr":
            return (f"SELECT o_orderkey, o_orderpriority FROM {v} "
                    f"WHERE substring(o_orderpriority, 3, 4) = '{p['token']}' "
                    f"AND o_totalprice > {p['price']}")
        if shape == "facet_bucket":
            b = p["bounds"]
            cases = " ".join(f"WHEN o_totalprice >= {lo} AND o_totalprice < {hi} THEN '{lo}'"
                             for lo, hi in zip(b, b[1:]))
            return (f"SELECT 'by_status', o_orderstatus, COUNT(*) FROM {v} "
                    f"WHERE o_custkey <= {p['cust_max']} GROUP BY o_orderstatus "
                    f"UNION ALL SELECT 'price_buckets', CASE {cases} ELSE 'other' END, "
                    f"COUNT(*) FROM {v} WHERE o_custkey <= {p['cust_max']} GROUP BY 2")
        users = f"user_id >= {p['user0']} AND user_id < {p['user0'] + USER_SPAN}"
        if shape == "asof_join":
            return (f"SELECT l.event_id, l.user_id, l.ts, r.ts, r.err_value FROM "
                    f"(SELECT event_id, user_id, ts FROM events WHERE event_type = 'click' "
                    f"AND {users}) l ASOF LEFT JOIN (SELECT user_id, ts, MAX(value) AS err_value "
                    f"FROM events WHERE event_type = 'error' AND {users} GROUP BY user_id, ts) r "
                    f"ON l.user_id = r.user_id AND l.ts >= r.ts")
        if shape == "interval_join":
            return (f"SELECT p.event_id, p.user_id, p.ts, i.lo, i.hi, i.n FROM "
                    f"(SELECT event_id, user_id, ts FROM events WHERE event_type = 'click' "
                    f"AND {users}) p JOIN (SELECT user_id, MIN(ts) AS lo, MAX(ts) AS hi, "
                    f"COUNT(*) AS n FROM events WHERE event_type = 'error' "
                    f"GROUP BY user_id, CAST(FLOOR(epoch(ts) / {DAY}) AS BIGINT)) i "
                    f"ON p.user_id = i.user_id AND p.ts >= i.lo AND p.ts <= i.hi")
        raise KeyError(shape)

    def check_all(self) -> None:
        tables = {c: ("parquet", c) for c in PARQUET}
        tables["orders_jsonl"] = ("jsonl", "orders_jsonl")
        con = oracles.connect(self.inp.parquet_root, self.inp.jsonl_root, tables)
        try:
            for shape, coll in OPS:
                if (shape, coll) not in self.checked:
                    self.run.fail(f"check {shape}/{coll}: never completed in the window")
                    continue
                p, rows = self.checked[(shape, coll)]
                sql = self.oracle_sql(shape, coll, p)
                self.run.check(f"{shape}/{coll}", lambda: oracles.same_rows(
                    rows, con.execute(sql).fetchall()))
        finally:
            con.close()


def main(run: harness.Run, inp) -> dict:
    w = Interactive(run, inp)
    run.counter_sources = harness.sidecar_counters()
    with run.phase("setup"):
        run.timed_setup(w.setup)
    with run.phase("warmup"):
        cold = w.warmup()
    with run.phase("window"):
        run.window(w.unit, min_units=ROUNDS)
    if run.trace:
        metrics = run.layer_metrics()
    else:
        lat = run.samples["op"]
        docs_per_round = sum(w.in_docs(s, c) for (s, c) in OPS)
        # the only bytes this workload has the engine write: the
        # interval-envelope sidecar over events
        metrics = harness.e2e_common(
            run, lat, cold, docs_per_s=(docs_per_round * len(lat) / len(OPS) / sum(lat), len(lat)),
            stored_ratio=run.sidecar_bytes("interval_index") / inp.json_bytes["events"])
    with run.phase("check"):
        w.check_all()
    return metrics

