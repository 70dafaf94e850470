"""SparkSession builder with scale-appropriate defaults.

The reference hand-rolls a master/worker scheduler with 2 s heartbeat
polling and 64 KB splits (reference mpMaster/master.go:64-75,191-223);
on Spark all of that is the built-in DAGScheduler. What we *do* own is
configuration posture: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), sensible shuffle parallelism, and
Arrow for the Pandas-UDF tier.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults are sized for the local[CPUS] test harness; on a real
# cluster these come from spark-submit conf and AQE re-plans at
# runtime anyway (shuffle.partitions is only the pre-AQE ceiling).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# The directory holding this package: Python workers import the engine
# (its daemon module and every UDF) from here, whatever their cwd.
ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """The driver heap for a local session: two thirds of the machine's
    memory (``MemTotal`` in ``meminfo``), at most 16g, so the JVM's
    off-heap share and the Python workers still fit beside it. 16g
    where the file is missing or has no ``MemTotal`` line."""
    try:
        with open(meminfo) as fh:
            kib = next(
                int(line.split()[1]) for line in fh if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return "16g"
    return f"{min(16 * 1024, kib * 2 // 3 // 1024)}m"


def get_spark(
    app_name: str = "mapreducego-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Scale posture (100 TB): every knob here is either adaptive (AQE)
    or a per-job override; nothing hardcodes local-mode assumptions
    into query code.

    Python workers fork from ``mapreducego_spark.pyworker``, found
    through ``spark.executorEnv.PYTHONPATH`` (``ENGINE_ROOT``), not from
    ``pyspark.daemon``. PySpark calls ``importlib.invalidate_caches()``
    before every task; on CPython 3.10-3.12 that re-reads the central
    directory of every zip on the worker's path, once per importer
    (https://github.com/python/cpython/blob/v3.11.7/Lib/zipimport.py#L329;
    3.13 defers the re-read to the next lookup,
    https://github.com/python/cpython/blob/v3.13.0/Lib/zipimport.py#L276),
    0.1-0.2 CPU-s a task. The daemon's zip importers skip it. That is
    safe: the archives on a worker's path never change while it lives,
    Spark refuses to re-add a file of the same name with new content,
    and a zip shipped later with ``addPyFile`` gets a new importer on
    its new path.
    """
    cpus = DEFAULT_CPUS
    # In local mode the driver JVM hosts every executor thread, so the
    # default 1g heap is the box's real memory ceiling — sf1-scale
    # runs (12M-edge pagerank checkpoints, 6M-row shuffles) OOM-kill
    # the JVM at 1g. Driver memory only takes effect before the JVM
    # launches, hence the env var (a builder conf would silently
    # no-op): size it from the machine unless the caller already chose
    # (SPARK_GRAFT_DRIVER_MEM, or PYSPARK_SUBMIT_ARGS outright). On a
    # cluster spark-submit owns this knob.
    if not _active_session_exists():
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory()
        os.environ.setdefault(
            "PYSPARK_SUBMIT_ARGS", f"--driver-memory {mem} pyspark-shell"
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture events.parquet has shipped as TIMESTAMP(NANOS) in
        # some generations and TIMESTAMP(MICROS) in others. NANOS is
        # rejected by the reader without this conf; for MICROS it is a
        # no-op. catalog.load_table sniffs the resulting dtype and
        # normalizes both encodings to TimestampType micros (also
        # setting this conf for driver-owned sessions); the streaming
        # tier normalizes at stage time (streaming/pipelines.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Wide aggregates (simhash's 65 sum buffers, minhash's 16
        # mins) must stay inside whole-stage codegen; the default
        # 100-field limit silently drops them to interpreted row
        # processing (measured ~25% slower on simhash at sf0.1).
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.ui.enabled", "false")
        # Python workers fork from the engine's daemon, whose zip
        # importers skip the per-task archive re-read (see docstring).
        .config("spark.python.daemon.module", "mapreducego_spark.pyworker")
        .config("spark.executorEnv.PYTHONPATH", ENGINE_ROOT)
        # Warehouse for bucketed saveAsTable demos/tests; a cluster
        # deploy points this at its metastore-backed location.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/mapreducego_spark_warehouse"
            ),
        )
    )
    if master or not _active_session_exists():
        builder = builder.master(master or f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _active_session_exists() -> bool:
    return SparkSession.getActiveSession() is not None
