"""Run harness shared by the workloads.

One run: isolate the environment inside the run directory, generate the
inputs, start the session, set up once, warm up, run the closed-loop
window (one client: each operation waits for the
previous reply), check results, and print one JSON line.

With tracing on, every other unit of work (a round of queries, a
curation batch) runs instrumented; per-layer metrics come from the
instrumented units, and the tracing overhead is the latency of the
instrumented units against the plain ones.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

import stats
import spans as tr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_run")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SIDECAR_VARS = [("SPARK_GRAFT_TEXT_STATS_DIR", "text_stats"),
                ("SPARK_GRAFT_INDEX_DIR", "vector_index"),
                ("SPARK_GRAFT_INTERVAL_INDEX_DIR", "interval_index")]
CURATION_STAGES = ["ops.text.analysis", "ops.dedup.exact", "ops.dedup.lsh",
                   "ops.similarity.pq", "ops.sampling.split", "ops.chunking.chunk",
                   "ops.packing.pack", "ops.sharding.write"]
# spans that run under their own Spark job group, so jobs are counted
# per layer call
JOB_GROUP_SPANS = set(CURATION_STAGES) | {"spark.action"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def path_kind(tag) -> str:
    if tag in ("direct", "native", "datasource"):
        return tag
    if isinstance(tag, str) and tag.startswith("routed"):
        return "routed"
    return "other"


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.run_dir = os.path.join(RUNS_DIR, f"{workload}-{seed}-{os.getpid()}")
        self.rec = tr.SpanRecorder()
        self.probe = None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict = defaultdict(list)
        self.n_ops = 0
        self.traced_ops: set = set()
        self.unit_lat: dict = defaultdict(lambda: {True: [], False: []})
        self.acc: dict = defaultdict(float)     # per-layer accumulators (traced ops)
        self.setup: dict = {}
        self.state: dict = {}                   # last-seen layer state (traced ops)
        self.counter_sources: dict = {}
        self._group_of: dict = {}
        self._undo = []

    @contextlib.contextmanager
    def phase(self, name: str):
        """Report a phase's wall time on standard error."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            print(f"# phase {name}: {time.perf_counter() - t0:.2f} s", file=sys.stderr)

    # -- environment and session ---------------------------------------------
    def isolate(self) -> None:
        if os.path.exists(self.run_dir):
            shutil.rmtree(self.run_dir)
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.makedirs(OUT_DIR, exist_ok=True)
        for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
            del os.environ[k]
        pp = os.environ.get("PYTHONPATH")
        os.environ.update({
            "TMPDIR": tmp, "TZ": "UTC",
            # every JVM of the run, the launcher included: temp files in
            # the run directory, no hsperfdata file in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "spark-local"),
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_DRIVER_MEMORY": "2g",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        })
        time.tzset()
        import tempfile

        tempfile.tempdir = None
        # sidecar roots of this run only: no run reuses another's sidecars
        for var, sub in SIDECAR_VARS:
            os.environ[var] = os.path.join(self.run_dir, "sidecars", sub)

    def sidecar_bytes(self, sub: str) -> int:
        var = dict((s, v) for v, s in SIDECAR_VARS)[sub]
        p = os.environ[var]
        return dir_bytes(p) if os.path.isdir(p) else 0

    def start_session(self):
        t0 = time.perf_counter()
        import duckdb_mongo_spark as dms

        self.spark = dms.get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.run_dir}",
        })
        self.setup["session.start_s"] = time.perf_counter() - t0
        if self.trace:
            import sparkstats

            self.probe = sparkstats.SparkProbe(self.spark)
            self._undo = tr.instrument(self.rec)
            self._special_wrappers()
            self.rec.on_enter = self._span_enter
            self.rec.on_exit = self._span_exit
        return self.spark

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        kb = vm_hwm_kb("self")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            kb += vm_hwm_kb(proc.pid)
        return kb / 1024.0

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tr.uninstrument(self._undo)
        self._undo = []
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — a hung JVM is killed, never leaked
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)
        except OSError:
            pass

    # -- tracing hooks -------------------------------------------------------
    def _special_wrappers(self) -> None:
        """Counters read off a layer's return value: the execution path a
        frame took and whether its pushdown left a residual filter."""
        from duckdb_mongo_spark.frame import MongoFrame

        rec = self.rec
        df_traced = MongoFrame.df
        desc_traced = MongoFrame.scan_description

        def df(frame):
            out = df_traced(frame)
            if rec.active():
                rec.counters["frame.path." + path_kind(frame.last_exec_path)] += 1
            return out

        def scan_description(frame):
            out = desc_traced(frame)
            if rec.active():
                rec.counters["pushdown.described"] += 1
                rec.counters["pushdown.residual"] += "residual=" in out
            return out

        self._undo.append((MongoFrame, "df", df_traced))
        self._undo.append((MongoFrame, "scan_description", desc_traced))
        MongoFrame.df = df
        MongoFrame.scan_description = scan_description

    def _span_enter(self, name, idx) -> None:
        if name in JOB_GROUP_SPANS:
            tag = f"pb-s{idx}"
            self._group_of[idx] = tag
            self.probe.push_group(tag)

    def _span_exit(self, name, idx) -> None:
        if idx in self._group_of:
            self.probe.pop_group()

    def _counters_now(self) -> dict:
        return {k: float(f()) for k, f in self.counter_sources.items()}

    # -- operations ----------------------------------------------------------
    def op(self, kind: str, fn, traced: bool, in_docs: int = 0, sample: str | None = "op"):
        """Run one operation of the closed loop. ``fn`` returns
        ``(result, output_rows)``. Returns ``(result, seconds)``, or
        ``(None, None)`` when the operation raised (counted failed)."""
        op_id = self.n_ops
        self.n_ops += 1
        self.attempted += 1
        before = None
        if traced:
            self.traced_ops.add(op_id)
            before = self._counters_now()
            self.rec.op = op_id
            self.rec.enabled = True
            self.probe.push_group(f"pb-op{op_id}")
            idx = self.rec.open("op")
        t0 = time.perf_counter()
        result, out_rows, err = None, 0, None
        try:
            result, out_rows = fn()
        except Exception:  # noqa: BLE001 — the loop keeps running; the op counts failed
            err = traceback.format_exc()
        dt = time.perf_counter() - t0
        if traced:
            self.rec.close(idx)
            self.rec.enabled = False
            self.probe.pop_group()
            self._harvest(op_id, before, out_rows, in_docs)
        if err is not None:
            self.fail(f"{kind}: raised\n{err}")
            return None, None
        print(f"# op {op_id} {kind} {dt * 1000:.1f} ms", file=sys.stderr)
        if sample:
            self.samples[sample].append(dt)
        return result, dt

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)
        print(f"# FAILED {msg}", file=sys.stderr)

    def check(self, name: str, ok_fn) -> None:
        """An untimed correctness check; a wrong or raising check counts
        as one failed operation and does not stop the run."""
        try:
            ok = ok_fn()
        except Exception:  # noqa: BLE001
            self.fail(f"check {name}: raised\n{traceback.format_exc()}")
            return
        if not ok:
            self.fail(f"check {name}: wrong result")

    def _harvest(self, op_id, before, out_rows, in_docs) -> None:
        probe, acc = self.probe, self.acc
        probe.drain()
        after = self._counters_now()
        for k, v in after.items():
            acc[k] += v - before[k]
        groups = probe.take_op_groups()
        job_ids = set()
        for tag in groups:
            ids = probe.jobs(tag)
            job_ids.update(ids)
            if tag.startswith("pb-s"):
                name = self.rec.spans[int(tag[4:])][0]
                acc[name + ".jobs"] += len(ids)
        jobs, stages, tasks = probe.job_counts(job_ids)
        acc["spark.jobs"] += jobs
        acc["spark.stages"] += stages
        acc["spark.tasks"] += tasks
        for k, v in probe.harvest_sql().items():
            acc["spark." + k] += v
        acc["out_rows"] += out_rows
        acc["in_docs"] += in_docs

    # -- loop ----------------------------------------------------------------
    def window(self, unit, min_units: int = 1) -> int:
        """Closed loop: run units of work until ``seconds`` have passed
        and at least ``min_units`` ran (the unit in progress completes).
        ``unit(i, traced)`` returns the unit's latency samples keyed by op
        kind. Traced runs alternate traced and plain units and run at
        least one of each."""
        t0 = time.perf_counter()
        i = 0
        while True:
            traced = self.trace and i % 2 == 0
            for kind, dt in unit(i, traced).items():
                self.unit_lat[kind][traced].append(dt)
            i += 1
            if (time.perf_counter() - t0 >= self.seconds and i >= min_units
                    and (not self.trace or i >= 2)):
                return i

    def timed_setup(self, setup) -> None:
        """Run the workload's ``setup()`` once, timed. With tracing on,
        its spans are recorded under op id ``setup``."""
        if self.trace:
            self.rec.op = "setup"
            self.rec.enabled = True
        t0 = time.perf_counter()
        setup()
        self.setup["setup_s"] = time.perf_counter() - t0
        self.rec.enabled = False

    def setup_s(self) -> float:
        return self.setup["session.start_s"] + self.setup["setup_s"]

    # -- per-layer metrics ---------------------------------------------------
    def overhead_share(self) -> float:
        traced = plain = 0.0
        for kind, d in self.unit_lat.items():
            if d[True] and d[False]:
                traced += sum(d[True]) / len(d[True])
                plain += sum(d[False]) / len(d[False])
        return traced / plain - 1.0 if plain else 0.0

    def layer_metrics(self) -> dict:
        rec, acc = self.rec, self.acc
        ops = self.traced_ops
        n = max(1, len(ops))
        tot = rec.layer_totals(ops)
        cnt = rec.counts(ops)
        setup_ops = {"setup"}
        stot = rec.layer_totals(setup_ops)
        scnt = rec.counts(setup_ops)
        ms = lambda name: tot.get(name, 0.0) * 1000.0 / n
        per = lambda key: acc.get(key, 0.0) / n
        c = rec.counters
        wall = sum(s[2] - s[1] for s in rec.spans if s[0] == "op" and s[4] in ops)
        layer_self = sum(t for s, t in zip(rec.spans, rec.self_times())
                         if s[4] in ops and s[0] != "op")
        described = c.get("pushdown.described", 0.0)
        m = {
            "memory.peak_rss_mb": (self.peak_rss_mb(), "MB"),
            "session.start_s": (self.setup["session.start_s"], "s"),
            "catalog.attach_ms": (stot.get("catalog.attach", 0.0) * 1000, "ms"),
            "setup.schema_resolve_ms": (stot.get("schema.resolve", 0.0) * 1000, "ms"),
            "setup.schema_resolve_calls": (scnt.get("schema.resolve", 0), "count"),
            "setup.sidecar_build_ms": (sum(stot.get(k, 0.0) for k in (
                "ops.text_index.build", "ops.interval_index"))
                * 1000, "ms"),
            "schema.resolve_ms": (ms("schema.resolve"), "ms"),
            "schema.resolve_calls": (cnt.get("schema.resolve", 0) / n, "count"),
            "catalog.table_ms": (ms("catalog.table"), "ms"),
            "pushdown.compile_ms": (ms("pushdown.compile"), "ms"),
            "pushdown.residual_share": (
                c.get("pushdown.residual", 0.0) / described if described else 0.0, "share"),
            "frame.build_ms": (ms("frame.build"), "ms"),
            "scan.mongo_scan_ms": (ms("scan.mongo_scan"), "ms"),
            "backends.calls": (cnt.get("backends", 0) / n, "count"),
            "backends.ms": (ms("backends"), "ms"),
            "mql.pipeline_ms": (ms("mql.pipeline"), "ms"),
            "mql.pipeline_docs_in": (c.get("mql.pipeline_docs_in", 0.0) / n, "count"),
            "ops.joins.asof_ms": (ms("ops.joins.asof"), "ms"),
            "ops.joins.interval_ms": (ms("ops.joins.interval"), "ms"),
            "ops.interval_index.ms": (ms("ops.interval_index"), "ms"),
            "ops.text_index.build_ms": (ms("ops.text_index.build"), "ms"),
            "ops.text_index.bytes": (self.sidecar_bytes("text_stats"), "bytes"),
            "ops.vector_index.ms": (ms("ops.vector_index"), "ms"),
            "ops.vector_index.bytes": (self.sidecar_bytes("vector_index"), "bytes"),
        }
        for path in ("direct", "native", "datasource", "routed", "other"):
            m[f"frame.path.{path}"] = (c.get(f"frame.path.{path}", 0.0) / n, "count")
        for key in ("ops.interval_index.builds", "ops.interval_index.loads",
                    "ops.interval_index.hits", "ops.text_index.builds",
                    "ops.text_index.loads", "ops.text_index.hits",
                    "ops.vector_index.builds", "ops.vector_index.loads"):
            m[key] = (per(key), "count")
        for stage in CURATION_STAGES:
            m[stage + "_ms"] = (ms(stage), "ms")
            m[stage + "_jobs"] = (per(stage + ".jobs"), "count")
        out_rows, in_docs = acc.get("out_rows", 0.0), acc.get("in_docs", 0.0)
        scan_rows = acc.get("spark.scan_rows", 0.0)
        m.update({
            "spark.plan_ms": (ms("spark.plan"), "ms"),
            "spark.action_ms": (ms("spark.action"), "ms"),
            "spark.jobs": (per("spark.jobs"), "count"),
            "spark.stages": (per("spark.stages"), "count"),
            "spark.tasks": (per("spark.tasks"), "count"),
            "spark.scan_ms": (per("spark.scan_ms"), "ms"),
            "spark.scan_rows_per_output_row": (
                scan_rows / out_rows if out_rows else 0.0, "rows/row"),
            "spark.scan_rows_per_input_doc": (scan_rows / in_docs if in_docs else 0.0, "rows/doc"),
            "spark.shuffle_write_bytes": (per("spark.shuffle_write_bytes"), "bytes"),
            "spark.python_ms": (per("spark.python_ms"), "ms"),
            "sinks.write_ms": (ms("sinks.write"), "ms"),
            "sinks.bytes_written": (per("sinks.bytes_written"), "bytes"),
            "sinks.files": (self.state.get("sinks.files", 0), "count"),
            "sinks.compact_ms": (ms("sinks.compact"), "ms"),
            "sinks.compact_bytes_rewritten": (per("sinks.compact_bytes_rewritten"), "bytes"),
            "trace.ops": (len(ops), "count"),
            "trace.wall_ms": (wall * 1000 / n, "ms"),
            "trace.layer_share": (layer_self / wall if wall else 0.0, "share"),
            "trace.overhead_share": (self.overhead_share(), "share"),
        })
        return m

    # -- output --------------------------------------------------------------
    def finish(self, metrics: dict) -> dict:
        """Print human-readable metric lines, then the JSON result line.
        ``metrics``: name -> (value, unit[, samples])."""
        print(f"# workload={self.workload} seed={self.seed} trace={int(self.trace)} "
              f"local[{nproc()}] failed {self.failed} of {self.attempted} attempted")
        out = {}
        for name, v in metrics.items():
            value, unit = v[0], v[1]
            n = f" (n={v[2]})" if len(v) > 2 else ""
            print(f"# {name} = {value:.6g} {unit}{n}")
            out[name] = {"value": float(value), "unit": unit}
        if self.trace:
            self.rec.dump(os.path.join(
                OUT_DIR, f"spans-{self.workload}-{self.seed}.jsonl"))
        result = {"correct": self.failed == 0, "attempted": self.attempted,
                  "failed": self.failed, "metrics": out}
        print(json.dumps(result))
        return result


def sidecar_counters() -> dict:
    """The sidecar layers' module counters (builds, loads, hits), read
    before and after every traced operation."""
    from duckdb_mongo_spark.ops import interval_index, text_index, vector_index

    attrs = {"builds": "build_count", "loads": "load_count", "hits": "hit_count"}
    out = {}
    for name, mod, kinds in (("interval_index", interval_index, ("builds", "loads", "hits")),
                             ("text_index", text_index, ("builds", "loads", "hits")),
                             ("vector_index", vector_index, ("builds", "loads"))):
        for kind in kinds:
            out[f"ops.{name}.{kind}"] = lambda m=mod, a=attrs[kind]: getattr(m, a)
    return out


def e2e_common(run: Run, op_samples: list, fresh: list, docs_per_s: tuple,
               stored_ratio: float) -> dict:
    """The end-to-end metrics every workload reports. ``op_gmean_ms`` is
    the geometric mean of the operation latencies: a unit of work runs
    every operation kind equally often, so every kind weighs the same, as
    in TPC-H's power metric. A percentile of samples of kinds this unlike
    falls on the edge between two kinds, the extreme sample of each.
    ``fresh_op_ms`` is a mean: its samples are of different kinds.
    ``docs_per_s`` is ``(value, sample count)``."""
    if not op_samples or not fresh:
        raise RuntimeError("no latency samples were recorded")
    return {
        "setup_s": (run.setup_s(), "s", 1),
        "op_gmean_ms": (stats.gmean(op_samples) * 1000, "ms", len(op_samples)),
        "fresh_op_ms": (sum(fresh) / len(fresh) * 1000, "ms", len(fresh)),
        "docs_per_s": (docs_per_s[0], "docs/s", docs_per_s[1]),
        "stored_bytes_per_user_byte": (stored_ratio, "ratio"),
    }
