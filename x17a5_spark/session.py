"""SparkSession factory tuned for the engine.

Local mode is a correctness harness; the config is written for a real
cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for the pandas-UDF kernels, UTC session timezone so
results compare bit-for-bit against the DuckDB oracle, and shuffle
partitions sized by ``SPARK_GRAFT_CPUS`` rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "x17a5_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a 1000-executor cluster the same config applies unchanged except
    ``master`` and memory sizing, which deployment owns; AQE coalescing
    makes the shuffle-partition setting a ceiling, not a fixed fanout.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers fork from the engine's daemon (worker_daemon.py),
        # which pays their import and zip-cache set-up once. The daemon
        # starts before any task ships the package, so the engine's root
        # goes on the workers' PYTHONPATH; local[N] runs them on this host.
        .config("spark.python.daemon.module", "x17a5_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    )
    # A long-lived driver running the full registry compiles thousands
    # of whole-stage-codegen classes, and the JVM's default reserved
    # code cache (240 MB) fills after ~70 queries: the JIT shuts off
    # ("CodeCache is full") and every later query runs interpreted
    # (measured on the full sf0.1 suite: 68.4 -> 54.5 s with 1g).
    # ReservedCodeCacheSize is a virtual reservation — it costs memory
    # only as compiled code fills it — so 1g is safe at any deployment
    # size. Only effective when THIS process creates the JVM; a
    # getOrCreate() against a live session ignores driver JVM opts.
    java_opts = ["-XX:ReservedCodeCacheSize=1g"]
    # GC-log knob (VERDICT r12 #1): turns the 100x variance class from
    # attribution prose into data — full-GC stalls either show up in
    # the log during a slow sample or the GC hypothesis is dead. Used
    # by the fresh-JVM protocol in tools/bench_100x.py.
    gc_log = os.environ.get("SPARK_GRAFT_GC_LOG")
    if gc_log:
        java_opts.append(f"-Xlog:gc*:file={gc_log}:time,uptime,level,tags")
    builder = builder.config(
        "spark.driver.extraJavaOptions", " ".join(java_opts)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
