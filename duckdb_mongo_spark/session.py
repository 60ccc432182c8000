"""SparkSession factory tuned for the engine.

Local testing runs on local[N]; the configs are chosen to survive a
100 TB cluster deployment unchanged (AQE on, skew-join handling,
Arrow-batched Python transfers, UTC session timezone for oracle parity).
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession

_registered_sessions: set[int] = set()


def get_spark(app_name: str = "duckdb_mongo_spark", extra_conf: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4's DataFrame-debugging wrapper makes EVERY Column/
        # DataFrame API call pay ~4 py4j round trips (a conf.get, a
        # PySparkCurrentOrigin set/clear pair around the real call) plus
        # a Python stack walk, purely to enrich error messages with the
        # user call site. Measured on the bench suite: query CONSTRUCTION
        # drops 1.02 s -> 0.67 s with it off (expression-heavy builders
        # like text analysis make ~1900 wrapped calls per build). Errors
        # still carry the full Python traceback — only the JVM-side
        # origin annotation is lost. Scale-neutral: this is driver-side
        # per-API-call overhead, identical on a laptop and a cluster.
        # CAVEAT (ADVICE r14): PySpark caches is_debugging_enabled()
        # PROCESS-WIDE on the first wrapped Column/DataFrame call
        # against whatever session is then active — the saving only
        # applies when a get_spark() session makes that first call, and
        # once cached false it disables origin capture for every other
        # session in the process. Perf/observability only, never
        # correctness.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Broadcast policy: keep the COMPILE-TIME threshold at Spark's
        # conservative 10 MB — the static estimate for a column-pruned
        # parquet scan is (file_size x pruned_fraction), which at sf1+
        # undercounts a fact table badly enough to broadcast millions of
        # rows (measured: q5 at sf1 broadcast 6M-row lineitem and ran
        # 6.2 s). The aggressive 64 MB decision moves to AQE's RUNTIME
        # threshold, which sees exact post-shuffle sizes, so small dims
        # still get broadcast joins while facts never do — the only
        # policy that survives a 100 TB scale-up.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split sizing: Spark splits files by BYTES, and the default
        # 128 MB/4 MB (maxPartitionBytes/openCostInBytes) is tuned for
        # clusters scanning TB — locally it hands a 130 MB sf1 fact table
        # to 2 of 32 cores (measured: q1 0.95 s -> 0.64 s at 8 MB). 8 MB
        # splits keep local cores busy on MB-scale files while remaining
        # a no-op on a real cluster's many-file datasets; raise via
        # SPARK_GRAFT_MAX_PARTITION_BYTES when deploying (128m+).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        .config("spark.sql.files.openCostInBytes", "262144")
        # Python-worker floor: every Python task (Arrow/pandas kernel,
        # UDF, DataSource read) starts with importlib.invalidate_caches(),
        # which on CPython <= 3.12 makes each cached zipimporter re-read
        # its archive's central directory: 12 importers on pyspark.zip,
        # 2 on the spark-core jar and 2 on py4j, 26,672 zip entries per
        # task (~110 ms per call in an interpreter holding the worker's
        # imports). The engine's daemon re-reads an archive only when
        # its size or mtime changed. Measured with tools/pyworker_floor.py
        # (4 vCPUs, CPython 3.11, Spark 4.1): a one-task Python job with
        # no data takes 271 ms median under pyspark.daemon, 97 ms under
        # the engine's daemon. It forks the same pyspark workers, so
        # DataSource and UDTF workers are unchanged; extra_conf and
        # SPARK_GRAFT_EXTRA_CONF can set "pyspark.daemon" back.
        .config("spark.python.daemon.module", _python_daemon_module())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # env passthrough LAST so a no-code-edit experiment wins over
    # call-site extra_conf (its entire purpose)
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, sep, v = (s.strip() for s in pair.partition("="))
        if k and sep and v:
            builder = builder.config(k, v)
        else:
            import warnings

            warnings.warn(f"SPARK_GRAFT_EXTRA_CONF: ignoring malformed pair {pair!r}")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    register_data_source(spark)
    return spark


def _python_daemon_module() -> str:
    """The engine's worker daemon when a worker can import this package,
    else the stock one. Local workers run ``python -m <module>`` in the
    driver's working directory with the driver's ``PYTHONPATH``, not its
    ``sys.path``: a package found only through a ``sys.path`` insert
    would fail every Python task."""
    root = os.path.realpath(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    dirs = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
            *site.getsitepackages(), site.getusersitepackages()]
    if any(d and os.path.realpath(d) == root for d in dirs):
        return "duckdb_mongo_spark._pydaemon"
    return "pyspark.daemon"


def ensure_python_filter_pushdown(spark: SparkSession) -> bool:
    """Best-effort enable Catalyst→Python-DataSource filter pushdown on the
    *active* session (which may not be one of ours — e.g. a harness-built
    session without session.py's configs), returning the effective value.

    Spark refuses to instantiate a reader that overrides ``pushFilters``
    while ``spark.sql.python.filterPushdown.enabled`` is false, so callers
    pass the returned flag into the scan payload and the datasource picks
    a pushFilters-free reader class when it is False."""
    conf_key = "spark.sql.python.filterPushdown.enabled"
    try:
        explicit = spark.conf.get(conf_key, None)
    except Exception:
        return False
    if explicit is not None:
        # the user (or harness) set this conf deliberately — an explicit
        # disable may be a workaround for a Spark pushdown bug and must
        # apply session-wide; respect it and let the datasource route to
        # the pushFilters-free reader instead of silently overriding
        return str(explicit).lower() == "true"
    try:
        spark.conf.set(conf_key, "true")  # unset → opt in (Spark default
        # is false; sessions built by get_spark set it at build time)
    except Exception:
        pass
    try:
        return str(spark.conf.get(conf_key, "false")).lower() == "true"
    except Exception:
        return False


def register_data_source(spark: SparkSession) -> None:
    """Register the engine's Python DataSource (idempotent per session)."""
    key = id(spark)
    if key in _registered_sessions:
        return
    from duckdb_mongo_spark.datasource import MongoDataSource

    spark.dataSource.register(MongoDataSource)
    _registered_sessions.add(key)
