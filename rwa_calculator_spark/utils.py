"""Runtime plumbing helpers."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Any Pandas-UDF / mapInPandas closure that references package functions
    needs the module importable on the worker, regardless of the driver
    process's cwd/sys.path (the round driver may import __spark_entry__.py
    from anywhere). Zipping once per SparkContext is idempotent; on a real
    cluster this is the standard --py-files deployment expressed at runtime.
    """
    ctx_id = spark.sparkContext.applicationId
    if ctx_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # rebuild per process so a stale zip never ships edited-but-unshipped code
    zip_base = os.path.join(tempfile.gettempdir(), f"rwa_calculator_spark_pkg_{os.getpid()}")
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir), "rwa_calculator_spark")
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(ctx_id)


def release_cached_blocks(spark: SparkSession) -> None:
    """Unpersist every cached DataFrame and persistent RDD left by EARLIER
    queries in this session.

    One-session multi-query drivers (the round driver, bench.py) run ~95
    queries against one SparkSession; pipeline queries leave
    localCheckpoint and persist blocks behind, and with a default-sized
    driver heap the accumulation eventually OOMs during a later query's
    broadcast. Called at the ENTRY of each heavy pipeline query — never
    mid-query, so a query can never drop its own blocks — this bounds the
    session's cached footprint to one query's working set.
    """
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    rdds = jsc.getPersistentRDDs()
    it = rdds.values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    # Broadcast blocks are freed by ContextCleaner only after their py4j
    # handles are garbage-collected on the Python side AND the JVM runs a
    # GC that processes the cleaner's weak references. With ~100 broadcast
    # joins per session and a default-sized heap, waiting for an organic
    # full GC is what eventually OOMs a later query. Python GC is cheap —
    # always run it; the JVM full GC is a stop-the-world pause, so trigger
    # it only under real heap pressure (a roomy bench heap never pays it,
    # a default 1g driver sheds its accumulated broadcasts before OOM).
    import gc

    gc.collect()
    try:
        rt = spark.sparkContext._jvm.Runtime.getRuntime()
        if rt.totalMemory() - rt.freeMemory() > 0.6 * rt.maxMemory():
            spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # diagnostics-grade nudge; never fail a query over it
