"""Pin the pyspark internals and engine invariants the session tuning and
the ledger rely on, so an environment bump or a refactor fails loudly
instead of silently re-inflating cost or reshaping output
(VERDICT r09 "What's wrong" item 2 / "Next round" item 7).

- ``session.apply_session_tuning`` pre-seeds the documented
  Python-side cache ``pyspark.errors.utils._enable_debugging_cache``; if a
  pyspark upgrade renames it, the helper degrades to a no-op and every
  DataFrame/Column call silently pays 3 extra py4j round trips again.
- ``session.apply_session_tuning`` also assumes
  ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is a
  RUNTIME conf (settable per session); if it became static the guarded
  conf.set would raise and the except would hide the regression. Every
  registered query calls it, so once a session is tuned a call makes one
  py4j round trip (the conf read) and process-level tuning makes none.
- ``session.build_session`` floors AQE's coalesced width at the core
  count through the deprecated
  ``spark.sql.adaptive.coalescePartitions.minPartitionNum``; if Spark
  stops honouring it, post-shuffle engine stages shrink to a handful of
  tasks again.
- Every calculator branch emits the ledger columns with the ledger's own
  dtypes, so the aggregate's ``unionByName`` never has to widen a type.
- ``session.build_session`` sizes Spark's generated-class cache above the
  engine's working set; at the default 100 entries every repeated run
  evicts its own classes and Janino compiles them all again.
- Input validation evaluates its check registry in one pass per table, so
  sealing the error channel runs a handful of Spark jobs, not one scan
  per check.
- ``session.apply_session_tuning`` imports pyspark's two most-resolved
  JVM classes by name; the simple names must still reach the classes
  pyspark's wildcard imports found.
- The SA and IRB branches build as SQL text (``functions.sqltext``): a
  Column-built branch costs thousands of py4j round trips.
- Building a bench query twice prints the same optimized plan, so a
  repeat run reuses its generated classes.
"""

from __future__ import annotations


def test_dataframe_debugging_cache_attribute_exists():
    import pyspark.errors.utils as eu

    assert hasattr(eu, "_enable_debugging_cache"), (
        "pyspark renamed _enable_debugging_cache: apply_session_tuning's "
        "debugging pre-seed is now a no-op — update session.apply_session_tuning"
    )


def test_cached_plan_repartitioning_conf_is_runtime_settable(spark):
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    original = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert spark.conf.get(key) == "false"
        spark.conf.set(key, "true")
        assert spark.conf.get(key) == "true"
    finally:
        if original is not None:
            spark.conf.set(key, original)


def test_session_tuning_is_idempotent_and_cheap_once_applied(spark):
    from py4j.java_gateway import GatewayClient

    from rwa_calculator_spark.session import apply_session_tuning

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    fresh = spark.newSession()
    fresh.conf.set(key, "false")
    apply_session_tuning(fresh)
    assert fresh.conf.get(key) == "true"
    calls = []
    real = GatewayClient.send_command

    def counting(client, command, *a, **k):
        calls.append(command)
        return real(client, command, *a, **k)

    GatewayClient.send_command = counting
    try:
        apply_session_tuning()
        assert calls == []
        apply_session_tuning(fresh)
    finally:
        GatewayClient.send_command = real
    assert len(calls) == 1 and fresh.conf.get(key) == "true"


def test_aqe_coalesced_width_floored_at_core_count(spark):
    from rwa_calculator_spark.session import default_parallelism

    cpus = default_parallelism()
    key = "spark.sql.adaptive.coalescePartitions.minPartitionNum"
    assert spark.conf.get(key) == str(cpus)
    original = spark.conf.get("spark.sql.shuffle.partitions")
    # enough shuffle bytes per core to clear the 1 MB minimum partition
    # size, far below the 8m advisory target: with minPartitionNum=1, AQE
    # coalesces these 8×cpus reducers into one or two partitions
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus * 8))
        df = (
            spark.range(0, cpus * 250_000, numPartitions=cpus)
            .selectExpr("(id * 7919) % 1000000007 AS k")
            .groupBy("k")
            .count()
        )
        width = df.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    assert cpus <= width < cpus * 8


def test_every_calculator_branch_matches_ledger_dtypes(spark, monkeypatch):
    from rwa_calculator_spark.engine import pipeline
    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.engine.stages.calculators import _RESULT_COLS

    branches = []
    real_aggregate = pipeline.run_aggregate

    def capture(*outs, **kwargs):
        branches.extend(outs)
        return real_aggregate(*outs, **kwargs)

    monkeypatch.setattr(pipeline, "run_aggregate", capture)

    df = spark.createDataFrame

    bundle = RawBundle(
        counterparties=df(
            [
                ("CP1", "corporate", 2, False, 0.0, False),
                ("CP2", "corporate", 2, False, 0.0, True),
                ("CP3", "corporate", 2, False, 0.0, False),
            ],
            "counterparty_reference string, entity_type string, cqs int, "
            "is_managed_as_retail boolean, annual_revenue double, "
            "has_irb_permission boolean",
        ),
        loans=df(
            [
                ("L1", "CP1", 1000.0, False, None, None, None),
                ("L2", "CP2", 1000.0, False, 0.01, 0.45, 2.5),
                ("L3", "CP3", 1000.0, False, None, None, None),
            ],
            "loan_reference string, counterparty_reference string, "
            "drawn_amount double, is_defaulted boolean, pd double, lgd double, "
            "effective_maturity double",
        ),
        specialised_lending=df(
            [("CP3", "good")], "counterparty_reference string, slot_category string"
        ),
        equity_exposures=df(
            [("E1", "CP1", 500.0, True)],
            "exposure_reference string, counterparty_reference string, "
            "market_value double, is_exchange_traded boolean",
        ),
        ciu_holdings=df(
            [("FUND1", "H1", "corporate", 1000.0, 3)],
            "fund_reference string, holding_reference string, "
            "underlying_class string, value double, holding_cqs int",
        ),
        failed_trades=df(
            [("T1", "CP1", 1000.0, 10)],
            "trade_reference string, counterparty_reference string, "
            "amount double, days_late int",
        ),
        securitisation_allocations=df(
            [("L1", "P1", 0.3)],
            "exposure_reference string, pool_reference string, "
            "allocation_pct double",
        ),
    )
    out = pipeline.run_pipeline(bundle, pipeline.PipelineConfig(pack=CRR_PACK))
    # SA, IRB, SEC-SA, slotting, equity, CIU, settlement
    assert len(branches) == 7
    ledger = out.results.dtypes[: len(_RESULT_COLS)]
    assert [c for c, _ in ledger] == _RESULT_COLS
    for branch in branches:
        assert branch.results.dtypes == ledger


def test_codegen_cache_holds_the_query_working_set(spark, sf_dir):
    """A cold pass over the 12 non-engine bench queries compiles ~160
    classes (more than Spark's default cache of 100), one sealed engine
    run ~139; the cache must hold both. Repeating the pass must hit the cache: the first two passes
    warm it (the second also sees the frames the first left cached), and
    the third compiles next to nothing. With the cache back at 100 the
    third pass compiles ~147."""
    from rwa_calculator_spark.plans import load_all
    from rwa_calculator_spark.session import codegen_compiles

    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 139 + 160

    registry = load_all()
    engine = ("rwa_pipeline_irb", "rwa_pipeline_sa")
    queries = sorted(n for n, s in registry.items() if s.bench and n not in engine)
    assert len(queries) == 12
    compiles = []
    for _ in range(3):
        before = codegen_compiles(spark)
        for name in queries:
            registry[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        compiles.append(codegen_compiles(spark) - before)
    assert compiles[2] <= 5, compiles


def test_sealed_error_edge_job_count(spark, sf_dir, tmp_path):
    """Sealing the `errors` edge of the star book runs at most 8 Spark jobs:
    one shuffle for every registry check, the broadcasts its scans and the
    counterparty existence join need, and the DQ013 walk's. Validation
    built as one scan per check, folded by one `unionByName` per check, ran
    14 jobs here."""
    from rwa_calculator_spark.api import CreditRiskCalc
    from rwa_calculator_spark.plans import rwa

    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup("edge:errors"))
    bundle = rwa._star_bundle(spark, sf_dir, irb=True)
    CreditRiskCalc(spark, bundle, cache_dir=str(tmp_path)).calculate()
    bus.waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup("edge:errors")) - before
    assert 0 < len(jobs) <= 8, sorted(jobs)


def test_jvm_class_imports_resolve_to_the_same_classes(spark):
    jvm = spark.sparkContext._jvm
    assert jvm.functions._fqn == "org.apache.spark.sql.functions"
    assert jvm.PythonUtils._fqn == "org.apache.spark.api.python.PythonUtils"


def _non_detach_commands(fn):
    from py4j.java_gateway import GatewayClient

    calls = [0]
    real = GatewayClient.send_command

    def counting(client, command, *a, **k):
        if not command.startswith("m\nd\n"):  # memory-detach: handle GC
            calls[0] += 1
        return real(client, command, *a, **k)

    GatewayClient.send_command = counting
    try:
        out = fn()
    finally:
        GatewayClient.send_command = real
    return out, calls[0]


def test_sa_and_irb_branches_build_in_few_py4j_commands(spark, sf_dir, monkeypatch):
    """The star book's SA + IRB branches build in under 2,000 py4j
    commands (~7k when each expression was a Column)."""
    from rwa_calculator_spark.engine import pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK
    from rwa_calculator_spark.plans import rwa

    counts = []
    for name in ("run_sa", "run_irb"):
        real = getattr(pipeline, name)

        def counted(*a, _real=real, **k):
            out, n = _non_detach_commands(lambda: _real(*a, **k))
            counts.append(n)
            return out

        monkeypatch.setattr(pipeline, name, counted)
    bundle = rwa._star_bundle(spark, sf_dir, irb=True)
    pipeline.run_pipeline(bundle, pipeline.PipelineConfig(pack=CRR_PACK))
    assert len(counts) == 2
    assert sum(counts) <= 2000, counts


def test_bench_query_plans_repeat_between_builds(spark, sf_dir):
    import re

    from rwa_calculator_spark.plans import load_all

    registry = load_all()
    engine = ("rwa_pipeline_irb", "rwa_pipeline_sa")
    queries = sorted(n for n, s in registry.items() if s.bench and n not in engine)
    assert len(queries) == 12

    # expression ids differ by construction: attribute #ids, plan_id tags
    # and the With-expression ids of _common_expr_N
    ids = re.compile(r"#\d+L?|plan_id=\d+|(?<=_common_expr_)\d+")

    def plan_text(name):
        opt = registry[name].fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        return ids.sub("", opt.toString())

    for name in queries:
        assert plan_text(name) == plan_text(name), name
