"""SparkSession factory with scale-appropriate defaults.

Settings chosen for the engine's execution profile (heavy Arrow UDF
stages + a handful of wide shuffles; see SURVEY.md §4):

- AQE on (runtime coalesce + skew-join split) — the backstop for the
  hot-key skew the reference works around with its prediction cache
  (reference: src/streamlit/app/models/model_handler.py:111-121).
- Arrow on for every pandas-UDF boundary.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- shuffle.partitions sized to cores for local runs; on a real cluster
  AQE coalesces from a deliberately high initial number.
- Python workers fork from `pydaemon`, pyspark's daemon with a lazy
  `zipimporter.invalidate_caches`: under CPython < 3.13 every task's
  `importlib.invalidate_caches()` otherwise re-reads the directories of
  pyspark.zip, py4j and the spark-core jar (~0.2 s of CPU per task on
  4 vCPUs). CPython 3.13+ already defers that re-read; there the module
  only starts pyspark's daemon.
  The package's parent directory goes on the workers' PYTHONPATH, so
  the daemon and the pickled UDFs import from any driver cwd.
- Generated code is compiled once per session: the codegen cache holds
  1000 classes, not Spark's 100, which the KG job alone outgrows. With
  100, every warm 300-doc `kg_build` pass recompiled 86 classes and
  every warm `query_mix` pass 37-41 (4 vCPUs); with 1000, 0 and 0-4
  (the 0-4 are the two plans Spark picks between for the
  `kg_sparql_update` distinct counts, each compiled once).
- Cores default to SPARK_GRAFT_CPUS, else the cores this process may
  run on.
"""

from __future__ import annotations

import os
import warnings
import weakref

from pyspark.sql import SparkSession

# the directory that holds this package: the workers import from it
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_local_dir() -> str:
    """Prefer tmpfs for shuffle/spill: this host's disk serializes
    concurrent shuffle writers (measured: the same 16-thread join+write
    ran 5x faster with spark.local.dir on /dev/shm). Overridable via
    SPARK_LOCAL_DIRS; real clusters use instance-local NVMe."""
    override = os.environ.get("SPARK_LOCAL_DIRS")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        d = "/dev/shm/spark-local"
        try:
            os.makedirs(d, exist_ok=True)
            return d
        except OSError:
            pass
    return "/tmp"


def _driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else half the host's physical memory,
    capped at 48g. A heap near the host's size grows without GC
    pressure, and the ContextCleaner, which frees unreferenced
    checkpoint and shuffle blocks, runs only after a JVM GC."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 48 << 30) >> 20}m"


def _default_cpus() -> int:
    """SPARK_GRAFT_CPUS, else the cores this process may run on."""
    override = os.environ.get("SPARK_GRAFT_CPUS")
    if override:
        return int(override)
    return len(os.sched_getaffinity(0))


DEFAULT_CPUS = _default_cpus()


def get_spark(
    app_name: str = "gliner_tbb_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # split even modest parquet files across tasks: a 200 MB
        # single-file input must not become a 1-2 task scan when the
        # first stage is an expensive per-row UDF
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # generated classes are cached by their source, and Spark's
        # default of 100 entries is below the engine's working set.
        # Distinct classes compiled in one session (CodegenMetrics
        # compile counter, 4 vCPUs): perfbench kg_build 113, query_mix
        # 146, the 16 bench.py leaves at sf0.1 232. A static conf: it
        # sizes the cache once, for the first session of a JVM
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", _default_local_dir())
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config(
            "spark.python.daemon.module",
            "gliner_transbronchialbiopsy_spark.pydaemon",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark, cpus)
    return spark


# the worker pool belongs to the SparkContext, so sessions sharing one
# context warm it once; weak references let a stopped context go
_WARMED: weakref.WeakSet = weakref.WeakSet()


def _warm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Pre-fork the Python worker pool (one per core) and pay the
    pandas/pyarrow/numpy import once, at session creation, instead of
    inside the first Python-stage query. spark.python.worker.reuse
    (default on) keeps the warmed workers alive for every later
    mapInPandas/pandas_udf stage. Measured at sf1.0/local[32]: the
    first Python-stage query after an otherwise-warm session ran 7.6s
    cold vs 5.5s with a warmed pool — ~2s of interpreter forking and
    imports that belongs to session setup, not to whichever operator
    happens to run first. It is also the first job to start the worker
    daemon (`pydaemon`). A failure does not fail session creation but is
    reported as a warning, so a daemon that cannot start shows here and
    not first at some later Python stage. Skippable via
    SPARK_GRAFT_NO_WORKER_WARMUP=1 (e.g. pure-JVM batch jobs that never
    cross the Python boundary)."""
    if os.environ.get("SPARK_GRAFT_NO_WORKER_WARMUP"):
        return
    sc = spark.sparkContext
    if sc in _WARMED:
        return
    _WARMED.add(sc)

    def _touch(batches):
        import numpy  # noqa: F401 — imported for side effect (cache)

        yield from batches

    try:
        (
            spark.range(cpus)
            .repartition(cpus)
            .mapInPandas(_touch, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception as e:
        # best effort: a worker-spawn hiccup here must not fail session
        # creation (the real stage retries its own), but it is reported
        warnings.warn(f"Python worker warm-up failed: {e!r}", stacklevel=2)
