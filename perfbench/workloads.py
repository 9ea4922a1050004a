"""The two workloads: one operation each, its layer entry points and its
correctness check against the registered DuckDB oracles. The shares below
are from traced runs at the benchmark's scale (sf~0.004, ~10,600
exposures) on a 4-vCPU host.

- `sealed_run`: `CreditRiskCalc(spark, star bundle).calculate()`, which
  runs the engine pipeline and writes the per-exposure ledger and
  summaries to a results cache. The engine layers take 43-52% of an
  op's wall time (13,858 of its 13,910 py4j calls; the barrier's 8 jobs
  and validation's 1 included) and sealing the rest (50 jobs, ~1.9 MB
  written) with ~65% of its JVM CPU, so build, barrier and write changes
  all show.
- `query_suite`: one pass over the twelve non-engine bench queries, each
  built and then executed by a no-op write. Building the plans takes
  20-25% of an op's wall time and execution the rest, in 43 jobs of 52
  tasks: at this size execution is mostly per-job and per-stage overhead,
  so session, AQE and scheduling changes show more than operator
  throughput.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd


def suite_queries(registry) -> list[str]:
    """The bench queries that do not run the engine pipeline."""
    engine = ("rwa_pipeline_irb", "rwa_pipeline_sa")
    return sorted(n for n, s in registry.items() if s.bench and n not in engine)


def noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.floating, float)):
        return float(v)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def frames_match(got: pd.DataFrame, want: pd.DataFrame, tolerant: bool) -> str | None:
    """None when the frames hold the same rows in any order; otherwise why
    not. Floats match exactly, or to 6 decimals for tolerant queries (the
    registry tags libm-dependent queries `tolerant`)."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    cols = sorted(want.columns)

    def rows(df: pd.DataFrame) -> list:
        out = []
        for row in df[cols].itertuples(index=False, name=None):
            cells = [_canon(v) for v in row]
            if tolerant:
                cells = [round(v, 6) if isinstance(v, float) else v for v in cells]
            out.append(tuple(cells))
        return sorted(out, key=repr)

    a, b = rows(got), rows(want)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"first differing row: {diff[0]} != {diff[1]}"
    return None


class Workload:
    name = ""

    def __init__(self, spark, registry, data_dir: str, work_dir: str, duck):
        self.spark = spark
        self.registry = registry
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.duck = duck
        self.last = None  # what the last op produced, for the check

    def prepare(self) -> None:
        """Untimed work before each op."""

    def op(self, tracer=None) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Mismatches of the last op's outputs against the oracles."""
        raise NotImplementedError

    def oracle(self, query: str) -> pd.DataFrame:
        return self.duck.execute(self.registry[query].oracle).df()

    def compare(self, query: str, got: pd.DataFrame) -> list[str]:
        why = frames_match(got, self.oracle(query), "tolerant" in self.registry[query].tags)
        return [] if why is None else [f"{query}: {why}"]


def _engine_entry_points():
    """(owner, attribute, layer) for every engine layer a pipeline op calls."""
    from rwa_calculator_spark.engine import pipeline
    from rwa_calculator_spark.engine.stages import re_split, validate
    from rwa_calculator_spark.operators import checkpoint
    from rwa_calculator_spark.plans import rwa

    return [
        (rwa, "_star_bundle", "sources"),
        (validate, "run_validation", "validate"),
        (pipeline, "run_hierarchy", "hierarchy"),
        (pipeline, "run_classify", "classify"),
        (pipeline, "run_crm", "crm"),
        (re_split, "run_re_split", "re_split"),
        (checkpoint, "localcheckpoint_folded", "barrier"),
        (pipeline, "run_sa", "calculators"),
        (pipeline, "run_irb", "calculators"),
        (pipeline, "run_aggregate", "aggregate"),
    ]


def _write_entry_points():
    from pyspark.sql.readwriter import DataFrameWriter

    return [
        (DataFrameWriter, "save", "exec"),
        (DataFrameWriter, "parquet", "exec"),
    ]


class SealedRun(Workload):
    name = "sealed_run"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.cache_dir = os.path.join(self.work_dir, "results_cache")

    def entry_points(self):
        from rwa_calculator_spark import api

        return (
            _engine_entry_points()
            + _write_entry_points()
            + [(api.CreditRiskCalc, "calculate", "seal"), (api, "run_pipeline", "pipeline")]
        )

    def prepare(self) -> None:
        from rwa_calculator_spark.utils import release_cached_blocks

        release_cached_blocks(self.spark)
        shutil.rmtree(self.cache_dir, ignore_errors=True)

    def op(self, tracer=None) -> None:
        from rwa_calculator_spark.api import CreditRiskCalc
        from rwa_calculator_spark.plans import rwa

        bundle = rwa._star_bundle(self.spark, self.data_dir, irb=True)
        self.last = CreditRiskCalc(self.spark, bundle, cache_dir=self.cache_dir).calculate()

    def check(self) -> list[str]:
        want = self.oracle("rwa_pipeline_irb")
        got = self.last.scan_summary("approach").toPandas()[list(want.columns)]
        problems = self.compare("rwa_pipeline_irb", got)
        ledger_rows = self.last.scan_results().count()
        if ledger_rows != int(want["n_exposures"].sum()):
            problems.append(f"ledger: {ledger_rows} rows != {int(want['n_exposures'].sum())}")
        return problems

    def bytes_written(self) -> int:
        total = 0
        for root, _, files in os.walk(self.cache_dir):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total


class QuerySuite(Workload):
    name = "query_suite"

    def __init__(self, *a, **k):
        super().__init__(*a, **k)
        self.queries = suite_queries(self.registry)

    def entry_points(self):
        return _write_entry_points()  # plan spans are opened per query in `op`

    def op(self, tracer=None) -> None:
        out = {}
        for name in self.queries:
            fn = self.registry[name].fn
            if tracer is None:
                out[name] = fn(self.spark, self.data_dir)
                noop_write(out[name])
                continue
            with tracer.span("plans", "build"):
                out[name] = fn(self.spark, self.data_dir)
            with tracer.span("plans", name):
                noop_write(out[name])
        self.last = out

    def check(self) -> list[str]:
        problems = []
        for name, df in self.last.items():
            problems += self.compare(name, df.toPandas())
        return problems


WORKLOADS = {w.name: w for w in (SealedRun, QuerySuite)}
