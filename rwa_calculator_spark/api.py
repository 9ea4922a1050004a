"""Service façade (ref api/service.py `CreditRiskCalc`, api/results_cache.py,
api/export.py — the §3.1 query lifecycle).

`CreditRiskCalc(spark, bundle, pack).calculate()` runs the pipeline, writes
the per-exposure results ledger + summaries to a parquet results cache, and
returns a response exposing lazy re-scans and CSV/JSON export. The cache is
the reference's pattern: results persist as columnar files, every downstream
consumer (REST layer, reconciliation, exports) re-scans lazily rather than
holding frames in memory — on a cluster the cache directory is object
storage and nothing ever passes through the driver.

Sealing follows the same rule. The calculator DAG runs once, to write the
ledger; the summaries and the ledger-derived warnings on the error channel
are then computed from a re-scan of the sealed ledger (an
`AggregatedOutput` over the scan: the same lazily built plans a plan query
reads over its in-flight ledger).
Each edge's row count is observed on its own write.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from rwa_calculator_spark.engine.bundles import AggregatedOutput, RawBundle
from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
from rwa_calculator_spark.engine.rulepack import CRR_PACK, RulePack
from rwa_calculator_spark.session import codegen_compiles


@dataclass(frozen=True)
class CalculationResponse:
    spark: SparkSession
    cache_dir: str
    run_manifest: dict

    def scan_results(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.cache_dir, "results"))

    def scan_summary(self, dimension: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.cache_dir, f"summary_{dimension}"))

    def scan_errors(self) -> DataFrame | None:
        """The merged error channel (DQ/SCP codes), when the run produced one."""
        path = os.path.join(self.cache_dir, "errors")
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    def export_csv(self, out_dir: str) -> str:
        """Results ledger as CSV (ref api/export.py:88-473). List-typed
        audit carriers (collateral_references/types) flatten to
        ';'-delimited strings — the CSV datasource cannot carry arrays,
        and the reference's CSV exporter does the same join-on-export."""
        from pyspark.sql import types as T

        df = self.scan_results()
        for f in df.schema.fields:
            if isinstance(f.dataType, T.ArrayType):
                df = df.withColumn(f.name, F.concat_ws(";", F.col(f.name)))
        path = os.path.join(out_dir, "results_csv")
        df.write.mode("overwrite").option("header", True).csv(path)
        return path

    def export_summary_json(self, dimension: str) -> str:
        rows = [r.asDict() for r in self.scan_summary(dimension).collect()]
        return json.dumps(rows, sort_keys=True)

    def export_excel(self, path: str, dimensions: tuple[str, ...] = ("class", "approach")) -> str:
        """Summary workbook as .xlsx, one sheet per summary dimension plus
        the run manifest (ref api/export.py:88-473 + reporting/kernel/
        excel.py — written with the stdlib OOXML writer in sources/xlsx.py;
        the reference uses xlsxwriter, absent here). Driver-sized frames
        only: summaries are dimension-grain; the full ledger exports via
        parquet/CSV."""
        from rwa_calculator_spark.sources.xlsx import write_xlsx

        sheets: dict[str, list[list]] = {}
        for dim in dimensions:
            df = self.scan_summary(dim)
            cols = df.columns
            sheets[f"summary_{dim}"] = [cols] + [
                [row[c] for c in cols] for row in df.collect()
            ]
        sheets["manifest"] = [["key", "value"]] + [
            [k, json.dumps(v, sort_keys=True) if isinstance(v, (dict, list)) else v]
            for k, v in sorted(self.run_manifest.items())
        ]
        return write_xlsx(path, sheets)


class CreditRiskCalc:
    def __init__(
        self,
        spark: SparkSession,
        bundle: RawBundle,
        pack: RulePack = CRR_PACK,
        cache_dir: str | None = None,
        audit_cache_dir: str | None = None,
        audit_cache_max_runs: int = 20,
    ):
        """`bundle` runs as given. Callers loading file-based vendor
        extracts conform it first with `contracts.schemas.seal_bundle`."""
        self.spark = spark
        self.bundle = bundle
        self.pack = pack
        self.cache_dir = cache_dir or os.path.join("/tmp", "rwa_results_cache", str(os.getpid()))
        # opt-in per-run diagnostics cache (ref observability/audit_cache.py)
        self.audit_cache_dir = audit_cache_dir
        self.audit_cache_max_runs = audit_cache_max_runs

    def flow_statement(
        self, prior_cache_dir: str, approach: str = "IRB"
    ) -> DataFrame:
        """Pillar 3 CR8 against a PERSISTED prior run — the reference's
        exact input shape (reporting/pillar3/cr8.py:140
        ``generate_cr8(irb_data, prior_irb_data)``: the prior period is a
        previously SAVED run output, not a re-run). Both ledgers re-scan
        lazily from their parquet results caches, collapse to exposure
        grain (the reconciliation-grain collapse, analysis/
        reconciliation.py), and attribute through the full-outer-join flow
        machinery: current-only keys are new business, prior-only keys
        disposals, matched-key deltas parameter drift. Requires
        ``calculate()`` to have sealed THIS run's cache first."""
        from rwa_calculator_spark.functions.exact import scaled_sum
        from rwa_calculator_spark.reporting_flow import rwa_flow_statement

        def _grain(cache_dir: str) -> DataFrame:
            ledger = self.spark.read.parquet(os.path.join(cache_dir, "results"))
            return (
                ledger.where(F.col("approach") == approach)
                .groupBy("exposure_reference")
                .agg(scaled_sum(F.col("rwa"), 2).alias("rwa"))
            )

        return rwa_flow_statement(_grain(self.cache_dir), _grain(prior_cache_dir))

    def calculate(
        self,
        validation: str = "merged",
        reporting_entity: str | None = None,
        reporting_basis: str = "consolidated",
        on_event: "Callable[[str], None] | None" = None,
    ) -> CalculationResponse:
        """Run the pipeline and seal the results cache, capturing a per-edge
        event map (label → rows, wall_ms) plus the rulepack content hash —
        the reference's run manifest (ref engine/materialise.py:74-98
        EdgeEvent, engine/pipeline.py:467-572 manifest.json)."""
        from rwa_calculator_spark.observability import run_context

        t0 = time.perf_counter()
        compiles0 = codegen_compiles(self.spark)
        run_id = f"run_{uuid.uuid4().hex[:12]}"
        audit_sink = None
        if self.audit_cache_dir is not None:
            from rwa_calculator_spark.observability import sink_audit

            def audit_sink(name: str, df: DataFrame) -> None:
                sink_audit(df, self.audit_cache_dir, run_id, name)

        progress = None
        if on_event is not None:
            progress = lambda name, ms: on_event(  # noqa: E731
                f"stage {name} planned ({ms}ms)"
            )
        with run_context(run_id):  # log-record correlation for the run
            out = run_pipeline(
                self.bundle,
                PipelineConfig(
                    pack=self.pack,
                    validation=validation,
                    reporting_entity=reporting_entity,
                    reporting_basis=reporting_basis,
                    audit_sink=audit_sink,
                    progress=progress,
                    # identification block (ref CALCULATION_OUTPUT_SCHEMA
                    # :2881-2882) — sealed per-row by the aggregate stage;
                    # registered plan queries never set these, so every
                    # oracle-compared plan stays deterministic
                    run_id=run_id,
                    run_timestamp=datetime.now(timezone.utc).isoformat(),
                ),
            )
        os.makedirs(self.cache_dir, exist_ok=True)
        sc = self.spark.sparkContext
        edges: dict[str, dict] = {}

        def _seal(df: DataFrame, name: str) -> str:
            te = time.perf_counter()
            sc.setJobGroup(f"edge:{name}", f"seal {name} to results cache")
            try:
                path = os.path.join(self.cache_dir, name)
                # the row count rides on the write itself: no second scan
                seen = Observation()
                df.observe(seen, F.count(F.lit(1)).alias("rows")).write.mode(
                    "overwrite"
                ).parquet(path)
                rows = seen.get["rows"]
            finally:
                sc.setJobGroup("", "")
            edges[name] = {"rows": rows, "wall_ms": round((time.perf_counter() - te) * 1e3, 1)}
            if on_event is not None:
                try:
                    on_event(
                        f"sealed {name} ({rows} rows, {edges[name]['wall_ms']}ms)"
                    )
                except Exception:  # noqa: BLE001 — observability, never fatal
                    pass
            return path

        # run identity rides per-row from the aggregate stage (ref
        # CALCULATION_OUTPUT_SCHEMA cols 1-2, data/schemas.py:2877),
        # supplied through PipelineConfig above: a multi-run store
        # concatenating sealed caches keeps row→run lineage without
        # joining back to manifests.
        #
        # Only the ledger write runs the calculator DAG. `out`'s summaries
        # and its errors (whose IRB007 check reads the ledger) would each
        # recompute it, so they are derived from the sealed ledger instead;
        # `out` never builds them.
        ledger = self.spark.read.parquet(_seal(out.results, "results"))
        sealed = AggregatedOutput(ledger, self.pack, out.upstream_errors)
        _seal(sealed.summary_by_class, "summary_class")
        _seal(sealed.summary_by_approach, "summary_approach")
        if sealed.errors is not None:
            _seal(sealed.errors, "errors")
        manifest = {
            "run_id": run_id,
            "regime": self.pack.regime,
            "rulepack_version": self.pack.version,
            "rulepack_hash": self.pack.content_hash(),
            "reporting_entity": reporting_entity,
            "edges": edges,
            # per-stage plan-build wall-ms (driver-side Catalyst cost; the
            # reference's per-stage EdgeEvent timings) — execution cost is
            # on the seal edges above
            "stages": out.stage_wall_ms or {},
            # Janino compiles during this run. The counter is per JVM, so
            # runs executing concurrently in one process (REST jobs) each
            # count the other's compiles too.
            "codegen_compiles": codegen_compiles(self.spark) - compiles0,
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        with open(os.path.join(self.cache_dir, "manifest.json"), "w") as f:
            json.dump(manifest, f, sort_keys=True)
        if self.audit_cache_dir is not None:
            from rwa_calculator_spark.observability import prune_audit_cache

            prune_audit_cache(self.audit_cache_dir, self.audit_cache_max_runs)
        return CalculationResponse(self.spark, self.cache_dir, manifest)
