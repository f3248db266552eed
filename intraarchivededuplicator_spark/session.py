"""SparkSession factory with the engine's standard knobs.

Local testing uses local[N]; at cluster scale the same conf applies (static
planning, explicit broadcasts, Arrow batching). Nothing here is
sandbox-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType

# the directory that holds the package, for the Python workers' import path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app: str = "iad-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """AQE is OFF for this engine. Measured on the flagship pairs plan (~40
    exchanges, many independent query stages): AQE's per-stage driver
    re-planning serialized the stage graph and cost 4x wall (128s vs 33s
    warm at 160k docs, local[32]). The engine handles skew explicitly
    (banded salting, hot-key caps, rarest-anchor selection), which is what
    AQE's skew-join would otherwise cover; static planning is faster AND
    deterministic.

    Generated-code cache: Spark keeps the Janino-compiled class of each
    whole-stage-codegen plan shape in a JVM-wide cache of
    spark.sql.codegen.cache.maxEntries classes (default 100). One
    dedup_pipeline pass needs ~215 distinct classes and the six keep-list
    queries ~120 more (~335 for a session running both), so at the default
    every warm pass evicted its own classes and recompiled all ~215 of
    them, and the JIT then recompiled the fresh classes too. The cache is
    sized to 1000 entries, ~3x the measured surface: a warm pass compiles
    0 classes. The conf is static (Spark reads it once per JVM), so it is
    set here, before getOrCreate; extra_conf still overrides it.

    Python workers: the package root goes on the workers' PYTHONPATH
    (spark.executorEnv.PYTHONPATH), so a driver that imports the package
    only through sys.path, from any working directory, can still run the
    engine's pandas UDFs.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # shuffle/spill dir: prefer RAM-backed tmpfs in the sandbox — the VM's
    # block device serializes shuffle IO and flattens core-count scaling
    # (measured speedup 1.01x from 8->32 cores with /tmp shuffle files). On a
    # real cluster the analog is local NVMe per executor.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        # guard: RAM-backed shuffle only when tmpfs has real headroom
        # (>= 32 GiB free), so a host smaller than the sandbox keeps
        # disk-backed spill instead of racing the heap for the same RAM.
        # SPARK_GRAFT_TMPFS=0/1 overrides the heuristic either way.
        want = os.environ.get("SPARK_GRAFT_TMPFS")
        if want is None:
            st = os.statvfs("/dev/shm")
            want = "1" if st.f_bavail * st.f_frsize >= 32 << 30 else "0"
        if want == "1":
            local_dir = "/dev/shm/spark-local"
            os.makedirs(local_dir, exist_ok=True)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: driver memory IS the whole JVM heap (all executor
        # threads, cache, broadcasts); size for the 128 GiB sandbox. On a
        # real cluster the executors have their own spark.executor.memory.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Implicit broadcasts OFF: with AQE disabled the static planner
        # trusts pre-execution size ESTIMATES, and a narrow projection of a
        # cached table estimates tiny while its exploded/banded expansion
        # materializes huge — observed: an 8.5 GiB broadcast build (driver
        # single-threaded, the 640k-doc scaling killer) planned from a 20 MB
        # estimate. Every join that SHOULD broadcast (dimension tables, hot
        # band keys, anchor sets, probe sets) carries an explicit
        # F.broadcast hint, which still works with the threshold at -1.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        # a broadcast side may sit atop an expensive subtree (containment's
        # anchor table aggregates the full exploded shingle set); the default
        # 300s kills legitimate low-parallelism runs
        .config("spark.sql.broadcastTimeout", "3600")
        # generated-class cache sized above the measured plan surface
        # (flagship pass ~215 classes + keep-list queries ~120; see docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty frame of the DDL `schema` that stays in the driver.

    PySpark turns an empty local frame (`createDataFrame([], schema)`) into a
    Python RDD, and each action on it starts Python workers (1.0-1.5 CPU-s
    per collect on 4 cores). One all-null row limited to none plans as an
    empty LocalTableScan instead."""
    n = len(DataType.fromDDL(schema).fields)
    return spark.createDataFrame([(None,) * n], schema).limit(0)
