"""SparkSession factory.

Reference behaviour being replaced: the Polars engine configured its lazy
runtime per-collect (`engine/materialise.py`); in Spark the equivalent knobs
are session-level. AQE is on so joins/skew re-plan at runtime; Arrow is on so
any pandas exchange is vectorised; timezone pinned UTC so timestamps compare
bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def apply_session_tuning(spark: SparkSession | None = None) -> None:
    """The engine's one session-tuning entry point; idempotent and cheap
    enough to call per query (one py4j round trip once a session is tuned).

    Process level (also with no session):
    - PySpark's per-call DataFrame-debugging origin capture is switched
      off by pre-seeding its Python-side cache of the public static conf
      ``spark.python.sql.dataFrameDebugging.enabled``. With it on, every
      wrapped DataFrame/Column API call walks the Python stack and pays
      THREE extra py4j round trips (``conf.get`` of the stack-depth conf +
      ``PySparkCurrentOrigin.set`` + ``.clear``) purely to decorate error
      messages with user call sites — ~60% of all gateway traffic on a
      160-column engine plan (one pipeline-query build dropped from 29,699
      to 12,269 py4j commands). Results are unaffected. Guarded so a
      pyspark that renames the cache degrades to a no-op
      (tests/test_pins.py pins the name).

    Session level (runtime confs, set where they differ):
    - ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``
      lets AQE coalesce the shuffles inside persisted subtrees (engine
      stages persist dimension-sized frames; with the default false every
      such shuffle materialises at the full ``spark.sql.shuffle.partitions``
      width — 200 near-empty cached partitions per frame in a default
      session). Partitioning only: every registered query is
      partitioning-independent by construction (exact integer-cents sums,
      explicit total orderings). Measured: ``facility_undrawn_waterfall``
      8.5 s → 4.3 s per run (vanilla local[8], sf0.01, 4 interleaved reps).

    JVM level (once per gateway; every session of the process shares it):
    - single-type imports of ``org.apache.spark.sql.functions`` and
      ``org.apache.spark.api.python.PythonUtils``. PySpark resolves both by
      simple name on every ``F.lit``/``F.col``/unary-operator call and
      every list-to-``Seq`` conversion; resolved through its wildcard
      imports, each lookup first searches the classpath's jars for a
      missing class. The names resolve to the same classes either way
      (tests/test_pins.py).

    Static confs — ``spark.sql.codegen.cache.maxEntries``, the JVM side of
    the debugging conf, driver memory — are fixed when the SparkContext or
    session state is created: only `build_session` can set them, at
    builder time. A session built elsewhere (the round driver's vanilla
    session) keeps Spark's defaults for those, whatever this function
    does."""
    try:
        import pyspark.errors.utils as _eu

        if hasattr(_eu, "_enable_debugging_cache"):
            _eu._enable_debugging_cache = False
    except Exception:  # noqa: BLE001 — tuning, never fail over it
        pass
    if spark is None:
        return
    _import_jvm_classes(spark.sparkContext._jvm)
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    try:
        if spark.conf.get(key, None) != "true":
            spark.conf.set(key, "true")
    except Exception:  # noqa: BLE001 — tuning, never fail a query over it
        pass


_IMPORTED_INTO: list = []  # the JVM views already given the imports below


def _import_jvm_classes(jvm) -> None:
    if any(v is jvm for v in _IMPORTED_INTO):
        return
    try:
        from py4j.java_gateway import java_import

        java_import(jvm, "org.apache.spark.sql.functions")
        java_import(jvm, "org.apache.spark.api.python.PythonUtils")
        _IMPORTED_INTO.append(jvm)
    except Exception:  # noqa: BLE001 — tuning, never fail over it
        pass


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def codegen_compiles(spark: SparkSession) -> int:
    """Whole-stage and expression classes Janino has compiled so far in
    this JVM (Spark's ``CodegenMetrics`` compilation-time histogram count).
    The counter is process-wide: every session and every concurrent job in
    the JVM adds to it, so a delta taken around one call is exact only when
    nothing else runs beside it."""
    metrics = getattr(spark.sparkContext._jvm, "org.apache.spark.metrics.source.CodegenMetrics")
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def build_session(
    app_name: str = "rwa_calculator_spark",
    master: str | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Local-mode session tuned for the test/bench harness.

    On a real cluster the same app code runs unchanged — only master/memory
    configs differ; shuffle partitions start at the core count and are
    AQE-coalesced either way.
    """
    cpus = default_parallelism()
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Engine rows are narrow to store but expensive to compute (160+
        # derived columns over checkpointed edges): the default 64m advisory
        # target coalesces the ~17MB calc shuffle to 6 partitions and strands
        # 26 cores. 8m keeps post-shuffle stages parallel at bench scale and
        # is still far above the scheduler-overhead floor at cluster scale.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # Engine post-shuffle stages are CPU-heavy over narrow bytes (160
        # derived columns on a ~20MB shuffle): byte-targeted coalescing
        # shrinks them to a handful of tasks and strands the other cores
        # (measured: the group-window reduce ran 6-wide on 32 cores, 4.5s
        # of task time on the critical path). Floor the coalesced width at
        # the session's core count — scale-adaptive (derived from
        # SPARK_GRAFT_CPUS / cluster parallelism, not a constant), and the
        # floor never widens a shuffle beyond its initial partition count.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", str(cpus))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Per-call Python origin capture (error-message enrichment) costs 3
        # py4j round trips per DataFrame/Column API call — ~60% of all
        # gateway traffic on wide engine plans. See apply_session_tuning.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated Java classes live in an LRU cache of this many entries
        # (a static conf, default 100). A cold sealed engine run compiles
        # ~139 classes and a cold pass over the 12 bench queries ~160, so at
        # 100 every repeat evicts its own classes and Janino compiles them
        # again: 128-131 compiles per repeated sealed run, ~147 per
        # repeated query pass. At 1000 a repeated sealed run compiles 3-25
        # and a warm query pass 0; JVM metaspace was 166 MiB after five
        # sealed runs at either size (4 cores, sf~0.004 star book).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    spark = builder.getOrCreate()
    apply_session_tuning(spark)
    spark.sparkContext.setLogLevel("WARN")
    # Releasing a locally-checkpointed frame (release_cached_blocks /
    # lazy-checkpoint GC) logs a benign "lineage has been truncated" WARN
    # per RDD — dozens of lines of noise in the bench's one-JSON-line
    # stderr. Quiet that one logger; every other RDD warning still shows.
    try:
        jvm = spark.sparkContext._jvm
        getattr(jvm, "org.apache.logging.log4j.core.config.Configurator").setLevel(
            "org.apache.spark.rdd.MapPartitionsRDD",
            getattr(jvm, "org.apache.logging.log4j.Level").ERROR,
        )
    except Exception:
        pass  # logging-only tuning; never fail session build over it
    return spark
