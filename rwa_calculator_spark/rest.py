"""REST layer over the service façade (ref api/rest.py:128-728, the FastAPI
router; SURVEY §3.2) built on stdlib http.server — the container has no web
framework, and none is needed: every endpoint is a thin JSON shim over
api.py, the reporting kernel, and the reconciliation operator.

The reference's lifecycle is mirrored: POST /api/calculate starts a
background-thread job (ref ui/app/main.py:218-840 job polling), GET
/jobs/{id} polls it, and every read endpoint re-scans the job's parquet
results cache rather than holding frames in memory — on a cluster the cache
is object storage and the HTTP process never carries row data beyond the
requested page.

Endpoints (reference parity, minus the xlsx export the container can't do):
  GET  /api/health
  POST /api/validate                     input DQ checks on the bundle
  POST /api/calculate                    {"regime": "crr"|"b31", "irb": bool}
  GET  /jobs/{id}                        job status + events
  GET  /api/results?job=ID&limit=N       page of the results ledger
  GET  /api/results/summary/{dim}?job=ID dim ∈ {class, approach}
  GET  /api/templates                    COREP sheet ids
  GET  /api/templates/{id}               computed cells for one sheet
  GET  /api/validations                  published-rule tie-outs
  GET  /api/lineage?job=ID               manifest, rulepack hash, stages
  GET  /api/errors?job=ID                merged DQ/SCP error channel
  GET  /api/comparison                   dual-framework per-class delta
  POST /api/reconcile                    {"job_a": ID, "job_b": ID}
  GET  /api/export/csv?job=ID            write ledger CSV, return path
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rwa_calculator_spark.api import CreditRiskCalc
from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK
from rwa_calculator_spark.plans.rwa import _star_bundle

_STAGES = ("hierarchy", "classify", "crm", "calculators", "aggregate")


def _rows(df, limit: int | None = None) -> list[dict]:
    if limit is not None:
        df = df.limit(limit)
    return [r.asDict(recursive=True) for r in df.collect()]


class JobIndex:
    def __init__(self):
        self._jobs: dict[str, dict] = {}
        self._lock = threading.Lock()

    def create(self) -> dict:
        job = {
            "job_id": uuid.uuid4().hex[:12],
            "status": "running",
            "events": [],
            "cache_dir": None,
            "manifest": None,
            "error": None,
        }
        with self._lock:
            self._jobs[job["job_id"]] = job
        return job

    def get(self, job_id: str) -> dict | None:
        with self._lock:
            return self._jobs.get(job_id)

    def list(self) -> list[tuple[str, dict]]:
        with self._lock:
            return sorted(self._jobs.items())

    def event(self, job: dict, msg: str) -> None:
        with self._lock:
            job["events"].append({"ts": round(time.time(), 3), "msg": msg})

    def events_since(self, job: dict, cursor: int) -> list[dict]:
        """Snapshot of events after `cursor` (the long-poll read side —
        the list only ever appends, so a cursor is a stable position)."""
        with self._lock:
            return list(job["events"][cursor:])


class RwaApi:
    """Endpoint implementations, transport-free (unit-testable without HTTP).
    Every method returns (http_status, payload_dict)."""

    def __init__(self, spark: SparkSession, sf_dir: str, cache_root: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.cache_root = cache_root or os.path.join(
            "/tmp", "rwa_rest_cache", uuid.uuid4().hex[:8]
        )
        self.jobs = JobIndex()
        # "has this exact calculation already been run?" (ref
        # api/run_index.py) — fingerprint params + input-file stats,
        # persisted under the cache root so reuse survives restarts
        from rwa_calculator_spark.observability import RunIndex

        self.run_index = RunIndex(state_dir=self.cache_root)

    # -- lifecycle ----------------------------------------------------------

    def health(self):
        return 200, {"status": "ok", "spark_version": self.spark.version}

    def validate(self):
        """Input DQ gates (ref contracts/validation.py:742,767 anti-join
        orphans; engine/pipeline.py:255-269 non-finite scrub): counts only,
        never row data."""
        bundle = _star_bundle(self.spark, self.sf_dir, irb=False)
        orphans = bundle.loans.join(
            bundle.counterparties, "counterparty_reference", "left_anti"
        ).count()
        bad_pd = bundle.loans.where(
            F.col("pd").isNotNull() & ~F.col("pd").between(0.0, 1.0)
        ).count()
        nonfinite = bundle.loans.where(
            F.isnan("drawn_amount") | F.col("drawn_amount").isin(float("inf"), float("-inf"))
        ).count()
        ok = orphans == 0 and bad_pd == 0 and nonfinite == 0
        return 200, {
            "valid": ok,
            "checks": {
                "DQ_orphan_loans": orphans,
                "DQ_pd_domain": bad_pd,
                "DQ011_nonfinite_drawn": nonfinite,
            },
        }

    def calculate(self, body: dict):
        regime = body.get("regime", "crr")
        if regime not in ("crr", "b31"):
            return 400, {"error": f"unknown regime {regime!r}"}
        pack = CRR_PACK if regime == "crr" else B31_PACK
        irb = bool(body.get("irb", True))
        validation = body.get("validation", "merged")
        if validation not in ("off", "merged", "immediate"):
            return 400, {"error": f"unknown validation mode {validation!r}"}
        reporting_entity = body.get("reporting_entity")
        reporting_basis = body.get("reporting_basis", "consolidated")

        # Run-index reuse (ref api/run_index.py): fingerprint BEFORE running;
        # a registered successful run with the same params + unchanged input
        # files is handed back instead of re-running the pipeline.
        from rwa_calculator_spark.observability import compute_fingerprint

        params = {
            "regime": regime,
            "irb": irb,
            "validation": validation,
            "reporting_entity": reporting_entity,
            "reporting_basis": reporting_basis,
        }
        fingerprint = compute_fingerprint(params, [self.sf_dir])
        reusable = self.run_index.find_reusable(
            fingerprint, params, [self.sf_dir]
        )
        if reusable is not None and not body.get("force", False):
            prior = self.jobs.get(reusable["job_id"])
            if prior is not None and prior["status"] == "done":
                return 200, {
                    "job_id": reusable["job_id"],
                    "status": "done",
                    "reused": True,
                }

        job = self.jobs.create()
        job["cache_dir"] = os.path.join(self.cache_root, job["job_id"])

        def run():
            self.jobs.event(job, f"pipeline start regime={regime} irb={irb}")
            try:
                bundle = _star_bundle(self.spark, self.sf_dir, irb=irb)
                calc = CreditRiskCalc(self.spark, bundle, pack, cache_dir=job["cache_dir"])
                resp = calc.calculate(
                    validation=validation,
                    reporting_entity=reporting_entity,
                    reporting_basis=reporting_basis,
                    # incremental stage events stream into the job record
                    # while the run is in flight (GET /jobs/{id}/events)
                    on_event=lambda msg: self.jobs.event(job, msg),
                )
                job["manifest"] = resp.run_manifest
                # only SUCCESSFUL runs register for reuse
                self.run_index.register(fingerprint, {"job_id": job["job_id"]})
                # the terminal event lands before the status flips, so a
                # poller that sees the job finished has every event
                self.jobs.event(job, f"pipeline done in {resp.run_manifest['wall_sec']}s")
                job["status"] = "done"
            except Exception as e:  # surfaced via the job, never swallowed
                job["error"] = str(e)
                self.jobs.event(job, f"pipeline failed: {e}")
                job["status"] = "failed"

        threading.Thread(target=run, daemon=True).start()
        return 202, {"job_id": job["job_id"], "status": job["status"]}

    def job(self, job_id: str):
        job = self.jobs.get(job_id)
        if job is None:
            return 404, {"error": f"no such job {job_id!r}"}
        return 200, {k: v for k, v in job.items() if k != "cache_dir"} | {
            "cache_dir": job["cache_dir"]
        }

    def job_events(self, job_id: str, since: int = 0, wait: float = 10.0):
        """Incremental job progress (ref ui/app/progress.py:288 + the
        reference's /jobs/{id}/events): LONG-POLL — returns events after the
        `since` cursor immediately when any exist, otherwise blocks up to
        `wait` seconds for new ones (clients chain requests with
        next_cursor for a live stream over plain stdlib HTTP). A finished
        job returns whatever remains plus done=true so the client knows to
        stop polling."""
        job = self.jobs.get(job_id)
        if job is None:
            return 404, {"error": f"no such job {job_id!r}"}
        deadline = time.time() + max(0.0, min(wait, 30.0))
        while True:
            # status before events: a job's last event precedes its status
            # change, so a finished job's snapshot is complete
            finished = job["status"] != "running"
            events = self.jobs.events_since(job, since)
            if events or finished or time.time() >= deadline:
                return 200, {
                    "job_id": job_id,
                    "status": job["status"],
                    "events": events,
                    "next_cursor": since + len(events),
                    "done": finished,
                }
            time.sleep(0.05)

    def _done_job(self, job_id: str):
        job = self.jobs.get(job_id)
        if job is None:
            return None, (404, {"error": f"no such job {job_id!r}"})
        if job["status"] != "done":
            return None, (409, {"error": f"job {job_id} is {job['status']}"})
        return job, None

    # -- reads over the results cache ----------------------------------------

    def results(self, job_id: str, limit: int):
        job, err = self._done_job(job_id)
        if err:
            return err
        df = self.spark.read.parquet(os.path.join(job["cache_dir"], "results"))
        page = _rows(df.orderBy("exposure_reference"), limit)
        return 200, {"rows": page, "n_returned": len(page)}

    def summary(self, job_id: str, dimension: str):
        if dimension not in ("class", "approach"):
            return 400, {"error": f"unknown dimension {dimension!r}"}
        job, err = self._done_job(job_id)
        if err:
            return err
        df = self.spark.read.parquet(os.path.join(job["cache_dir"], f"summary_{dimension}"))
        return 200, {"rows": _rows(df)}

    def lineage(self, job_id: str):
        job, err = self._done_job(job_id)
        if err:
            return err
        return 200, {
            "manifest": job["manifest"],
            "stages": list(_STAGES),
            "inputs": {"sf_dir": self.sf_dir},
        }

    def lineage_cell(self, job_id: str, cell: str):
        """Report-cell drilldown (ref reporting/lineage.py): re-run the
        cell's own predicate over the job's ledger and return the
        contributing legs + the reconciling total. A cell whose spec
        references columns the ledger lacks is honestly 'no lineage'
        (404), never a re-derived guess."""
        job, err = self._done_job(job_id)
        if err:
            return err
        from rwa_calculator_spark.reporting import cell_lineage
        from rwa_calculator_spark.reporting_templates import TEMPLATE_CELLS

        spec = next((s for s in TEMPLATE_CELLS if s.cell_id == cell), None)
        if spec is None:
            return 404, {"error": f"unknown cell {cell!r}"}
        df = self.spark.read.parquet(os.path.join(job["cache_dir"], "results"))
        try:
            legs, total = cell_lineage(
                df, spec, ["exposure_reference"], limit=100
            )
            rows = _rows(legs)
        except Exception:
            return 404, {"error": f"cell {cell!r} has no lineage over this ledger"}
        return 200, {
            "cell": cell,
            "filter": spec.filter_sql,
            "measure": spec.measure_sql,
            "cell_value": total,
            "n_legs": len(rows),
            "legs": rows,
        }

    def errors(self, job_id: str):
        """The run's merged error channel (DQ/SCP coded rows) — empty list
        when the run produced none."""
        job, err = self._done_job(job_id)
        if err is not None:
            return err
        path = os.path.join(job["cache_dir"], "errors")
        if not os.path.exists(path):
            return 200, {"job_id": job_id, "errors": []}
        df = self.spark.read.parquet(path)
        return 200, {"job_id": job_id, "errors": _rows(df, limit=1000)}

    def export_csv(self, job_id: str):
        job, err = self._done_job(job_id)
        if err:
            return err
        from pyspark.sql import types as T

        out = os.path.join(job["cache_dir"], "export")
        df = self.spark.read.parquet(os.path.join(job["cache_dir"], "results"))
        # list-typed audit carriers flatten to ';'-joined strings — the CSV
        # datasource cannot carry arrays (same join-on-export as api.py)
        for f in df.schema.fields:
            if isinstance(f.dataType, T.ArrayType):
                df = df.withColumn(f.name, F.concat_ws(";", F.col(f.name)))
        df.write.mode("overwrite").option("header", True).csv(out)
        return 200, {"path": out, "format": "csv"}

    def export_corep(self, only: str = ""):
        """Quarterly-return workbook (ref reporting/corep/generator.py →
        Excel): the computed COREP + Pillar 3 template estate, one sheet
        per template plus a metadata sheet, via the stdlib OOXML writer.
        Driver-sized: every sheet is template-grain. `only` filters to a
        comma-separated subset of template titles (the full estate runs
        every template's pipeline — let callers file one sheet)."""
        import tempfile

        from rwa_calculator_spark.reporting_workbook import (
            WORKBOOK_SHEETS,
            export_corep_workbook,
        )

        sheets = WORKBOOK_SHEETS
        if only:
            want = {t.strip() for t in only.split(",") if t.strip()}
            sheets = tuple((t, q) for t, q in WORKBOOK_SHEETS if t in want)
            if not sheets:
                return 400, {"error": f"no such templates: {sorted(want)}"}
        # per-request file name: a shared fixed path would let concurrent
        # requests (or two servers on one host) clobber each other's
        # workbook mid-download (ADVICE r5; export_xlsx's job-scoped paths
        # are the model)
        import uuid

        out = os.path.join(
            tempfile.gettempdir(), f"corep_workbook_{uuid.uuid4().hex}.xlsx"
        )
        path = export_corep_workbook(self.spark, self.sf_dir, out, sheets)
        return 200, {
            "path": path,
            "format": "xlsx",
            "sheets": ["metadata"] + [t for t, _ in sheets],
        }

    def export_xlsx(self, job_id: str):
        """Summary workbook export (ref api/export.py workbook paths),
        written with the stdlib OOXML writer — driver-sized sheets only."""
        job, err = self._done_job(job_id)
        if err:
            return err
        from rwa_calculator_spark.sources.xlsx import write_xlsx

        sheets = {}
        for dim in ("class", "approach"):
            df = self.spark.read.parquet(
                os.path.join(job["cache_dir"], f"summary_{dim}")
            )
            cols = df.columns
            sheets[f"summary_{dim}"] = [cols] + [
                [row[c] for c in cols] for row in df.collect()
            ]
        out = os.path.join(job["cache_dir"], "summary.xlsx")
        write_xlsx(out, sheets)
        return 200, {"path": out, "format": "xlsx"}

    def ui(self, job_id: str):
        """Server-rendered dashboard (ref ui/app/main.py:218-840 — the
        reference renders job status + summaries server-side; same idea,
        stdlib-only): one HTML page with run status, the two summary
        tables, and the error-channel head."""
        from html import escape as h

        job = self.jobs.get(job_id)
        parts = ["<!doctype html><html><head><title>RWA runs</title>",
                 "<style>table{border-collapse:collapse}td,th{border:1px solid "
                 "#999;padding:4px 8px;font-family:monospace}</style></head><body>"]
        if job_id and job is None:
            parts.append(f"<p>no such job {h(job_id)}</p>")
        elif job is None:
            parts.append("<h1>RWA calculator</h1><p>POST /api/calculate to "
                         "start a run, then /ui?job=&lt;id&gt;.</p>")
            parts.append("<ul>")
            for jid, j in self.jobs.list():
                parts.append(
                    f'<li><a href="/ui?job={h(jid)}">{h(jid)}</a>: '
                    f'{h(j["status"])}</li>'
                )
            parts.append("</ul>")
        else:
            parts.append(f"<h1>job {h(job_id)} — {h(job['status'])}</h1>")
            if job["status"] == "done":
                for dim in ("class", "approach"):
                    df = self.spark.read.parquet(
                        os.path.join(job["cache_dir"], f"summary_{dim}")
                    )
                    rows = _rows(df)
                    parts.append(f"<h2>summary by {dim}</h2><table><tr>")
                    if rows:
                        cols = list(rows[0])
                        parts.append(
                            "".join(f"<th>{h(str(c))}</th>" for c in cols)
                            + "</tr>"
                        )
                        for r in rows:
                            parts.append(
                                "<tr>"
                                + "".join(f"<td>{h(str(r[c]))}</td>" for c in cols)
                                + "</tr>"
                            )
                    parts.append("</table>")
                epath = os.path.join(job["cache_dir"], "errors")
                if os.path.exists(epath):
                    errs = _rows(self.spark.read.parquet(epath), limit=20)
                    parts.append(f"<h2>errors (first {len(errs)})</h2><table>")
                    for r in errs:
                        parts.append(
                            f'<tr><td>{h(str(r["code"]))}</td>'
                            f'<td>{h(str(r["key"]))}</td>'
                            f'<td>{h(str(r["message"]))}</td></tr>'
                        )
                    parts.append("</table>")
        parts.append("</body></html>")
        return 200, "".join(parts)

    def runs(self):
        """Run-registry listing (ref api/run_index.py:220 entries() +
        ui run-picker): every in-session job with status/wall-time plus the
        persisted reuse index (fingerprints survive restarts — a fresh
        server over the same cache root reuses prior successful runs)."""
        jobs = []
        for jid, j in self.jobs.list():
            wall = (j.get("manifest") or {}).get("wall_sec")
            jobs.append(
                {
                    "job_id": jid,
                    "status": j["status"],
                    "wall_sec": wall,
                    "error": j.get("error"),
                    "n_events": len(j.get("events") or []),
                }
            )
        indexed = [
            {"fingerprint": fp, **payload}
            for fp, payload in self.run_index.entries()
        ]
        return 200, {"jobs": jobs, "indexed": indexed}

    def ui_portfolio(self, job_id: str):
        """Analyst portfolio view (ref ui/views/ portfolio overview):
        class/approach allocation with density and share-of-RWEA bars plus
        the top risk drivers, server-rendered from the cached run."""
        from rwa_calculator_spark.ui_views import render_portfolio

        job, err = self._done_job(job_id)
        if err:
            return err
        return 200, render_portfolio(self.spark, job, job_id)

    def ui_reconciliation(self, job_a: str, job_b: str):
        """Two-run reconciliation forensics view (ref
        ui/views/reconciliation.py): headline tie-outs, bucket summary,
        break concentration, worklist."""
        from rwa_calculator_spark.ui_views import render_reconciliation

        a, err = self._done_job(job_a)
        if err:
            return err
        b, err = self._done_job(job_b)
        if err:
            return err
        return 200, render_reconciliation(
            self.spark, a, b, job_a, job_b,
            workspace=self._recon_workspace(a, b),
        )

    def ui_method_split(self, job_id: str):
        """Per-methodology split view (ref ui/views/method_split.py): one
        section per approach in presentation order, shared bar scale."""
        from rwa_calculator_spark.ui_views import render_method_split

        job, err = self._done_job(job_id)
        if err:
            return err
        return 200, render_method_split(self.spark, job, job_id)

    def ui_hierarchy(self):
        """Reporting-hierarchy tree view (ref ui/views/hierarchy.py) over
        the star registry this server's scope stage consumes: the
        region→nation entity forest under the group apex. Registry rows are
        config-scale — the collect is bounded by the entity registry, never
        exposure rows."""
        from rwa_calculator_spark.sources.star import load_table
        from rwa_calculator_spark.ui_views import render_hierarchy

        reg = load_table(self.spark, self.sf_dir, "region")
        nat = load_table(self.spark, self.sf_dir, "nation")
        rows = (
            [{"entity_reference": "EGROUP", "parent_entity_reference": None}]
            + [
                {
                    "entity_reference": f"ER{r['r_regionkey']}",
                    "parent_entity_reference": "EGROUP",
                }
                for r in reg.select("r_regionkey").collect()
            ]
            + [
                {
                    "entity_reference": f"EN{r['n_nationkey']}",
                    "parent_entity_reference": f"ER{r['n_regionkey']}",
                }
                for r in nat.select("n_nationkey", "n_regionkey").collect()
            ]
        )
        return 200, render_hierarchy(rows)

    def ui_lineage(self, job_id: str, cell: str):
        """HTML cell-lineage drilldown (ref ui/views/lineage.py) over the
        same spec-driven machinery as GET /api/lineage/cell."""
        from rwa_calculator_spark.ui_views import render_lineage

        job, err = self._done_job(job_id)
        if err:
            return err
        return 200, render_lineage(self.spark, job, job_id, cell)

    def ui_comparison(self):
        """CRR vs Basel 3.1 comparison page (ref ui/views/comparison.py)
        over the class-grain dual-framework delta."""
        from rwa_calculator_spark.ui_views import render_comparison

        return 200, render_comparison(self.spark, self.sf_dir)

    def ui_template(self, template_id: str):
        """Sheet-grid rendering of one computed template (ref
        ui/views/report_templates.py): rows × columns with absent cells as
        em-dashes, never zeros."""
        from rwa_calculator_spark.reporting import compute_cells
        from rwa_calculator_spark.reporting_templates import TEMPLATE_CELLS, star_ledger
        from rwa_calculator_spark.ui_views import render_template_sheet

        specs = [c for c in TEMPLATE_CELLS if c.template == template_id]
        if not specs:
            return 404, {"error": f"no such template {template_id!r}"}
        facts = compute_cells(star_ledger(self.spark, self.sf_dir), specs)
        return 200, render_template_sheet(
            template_id, [r.asDict() for r in facts.collect()]
        )

    def ui_validations(self):
        """Validation-outcome board (ref ui/app main validations tab) over
        the grammar evaluator's four-status vocabulary."""
        from rwa_calculator_spark.reporting import compute_cells, evaluate_validations
        from rwa_calculator_spark.reporting_templates import (
            TEMPLATE_CELLS,
            VALIDATION_RULES_TEXT,
            parse_validation_rules,
            star_ledger,
        )
        from rwa_calculator_spark.ui_views import render_validations

        facts = compute_cells(star_ledger(self.spark, self.sf_dir), TEMPLATE_CELLS)
        rules = parse_validation_rules(VALIDATION_RULES_TEXT)
        rows = [r.asDict() for r in evaluate_validations(facts, rules).collect()]
        # reporting.py's vocabulary → the grammar evaluator's status badges
        badge = {"pass": "PASS", "fail": "FAIL", "not_evaluable": "NOT_EVALUATED"}
        for r in rows:
            r["status"] = badge.get(str(r["status"]), str(r["status"]).upper())
        return 200, render_validations(rows)

    # -- reporting ------------------------------------------------------------

    def templates(self):
        from rwa_calculator_spark.reporting_templates import TEMPLATE_CELLS

        ids = sorted({c.template for c in TEMPLATE_CELLS})
        return 200, {"templates": ids}

    def template(self, template_id: str):
        from rwa_calculator_spark.reporting import compute_cells
        from rwa_calculator_spark.reporting_templates import TEMPLATE_CELLS, star_ledger

        specs = [c for c in TEMPLATE_CELLS if c.template == template_id]
        if not specs:
            return 404, {"error": f"no such template {template_id!r}"}
        facts = compute_cells(star_ledger(self.spark, self.sf_dir), specs)
        return 200, {"template": template_id, "cells": _rows(facts)}

    def validations(self):
        from rwa_calculator_spark.reporting import compute_cells, evaluate_validations
        from rwa_calculator_spark.reporting_templates import (
            TEMPLATE_CELLS,
            VALIDATION_RULES_TEXT,
            parse_validation_rules,
            star_ledger,
        )

        facts = compute_cells(star_ledger(self.spark, self.sf_dir), TEMPLATE_CELLS)
        rules = parse_validation_rules(VALIDATION_RULES_TEXT)
        return 200, {"results": _rows(evaluate_validations(facts, rules))}

    def validations_checker(self, modules: str = ""):
        """GET /api/validations/checker[?modules=corep_of,...] — the one
        supervisory entry point (ref reporting/validations/checker.py):
        applies the submission's filing scope, evaluates every in-scope
        enforced rule over the generated estate, and returns the
        supervisor-facing report — status counts, NOT_EVALUATED reasons,
        coverage, and the VAL001/VAL002/VAL003 findings. An unknown module
        name is a 400, never silently out-of-scope."""
        from rwa_calculator_spark.reporting_checker import findings_rows, run_checker
        from rwa_calculator_spark.reporting_scope import (
            FILING_MODULES,
            FULL_SUBMISSION,
            SubmissionContext,
        )

        if modules:
            names = tuple(sorted(m for m in modules.split(",") if m))
            unknown = [m for m in names if m not in FILING_MODULES]
            if unknown:
                return 400, {"error": f"unknown filing modules: {unknown}"}
            ctx = SubmissionContext(names)
        else:
            ctx = FULL_SUBMISSION
        report = run_checker(self.spark, self.sf_dir, ctx)
        return 200, {
            "filed_modules": list(ctx.filed_modules),
            "status_counts": report.status_counts,
            "rules_executed": report.rules_executed,
            "not_evaluated_reasons": report.not_evaluated_reasons,
            "templates_uncovered": list(report.templates_uncovered),
            "coverage_sufficient": report.is_coverage_sufficient,
            "findings": [
                {"code": c, "severity": s, "rule_id": r, "message": m}
                for c, s, r, m in findings_rows(report.findings)
            ],
        }

    # -- analysis --------------------------------------------------------------

    def comparison(self):
        from rwa_calculator_spark.plans.rwa import dual_framework_delta

        df = dual_framework_delta(self.spark, self.sf_dir)
        return 200, {"rows": _rows(df.orderBy(*df.columns[:1]))}

    def reconcile(self, body: dict):
        from rwa_calculator_spark.operators.recon import ReconComponent, reconcile

        job_a, err = self._done_job(body.get("job_a", ""))
        if err:
            return err
        job_b, err = self._done_job(body.get("job_b", ""))
        if err:
            return err
        # collapse sub-rows (RE-split tranches share an exposure_reference)
        # to the reconciliation grain first, as the reference does
        # (SURVEY §3.3); fixed-point sums so the grain totals are
        # partition-order-independent
        from rwa_calculator_spark.functions.exact import scaled_sum

        def grain(path: str):
            return (
                self.spark.read.parquet(path)
                .groupBy("exposure_reference")
                .agg(scaled_sum(F.col("ead"), 2).alias("ead"), scaled_sum(F.col("rwa"), 2).alias("rwa"))
            )

        ours = grain(os.path.join(job_a["cache_dir"], "results"))
        theirs = grain(os.path.join(job_b["cache_dir"], "results"))
        res = reconcile(
            ours,
            theirs,
            keys=["exposure_reference"],
            components=[ReconComponent("ead"), ReconComponent("rwa")],
        )
        return 200, {
            "summary": _rows(res.summary),
            "worklist": _rows(res.worklist, limit=20),
        }

    # -- reconciliation sign-off workflow (ref ui/app/recon_signoff.py) -------

    def _recon_workspace(self, job_a: dict, job_b: dict) -> str:
        """Workspace id from the two runs' SEMANTIC identity (regime +
        rulepack content hash off each persisted manifest, plus the dataset
        dir) — stable across job ids, run ids and server restarts."""
        from rwa_calculator_spark.recon_signoff import workspace_id

        def _manifest(job: dict) -> dict:
            with open(os.path.join(job["cache_dir"], "manifest.json")) as f:
                return json.load(f)

        ma, mb = _manifest(job_a), _manifest(job_b)
        return workspace_id(
            self.sf_dir, ma["regime"], ma["rulepack_hash"],
            mb["regime"], mb["rulepack_hash"],
        )

    def reconcile_decisions(self, body: dict):
        """Upsert / clear an analyst disposition for one reconciliation
        break (POST /api/reconcile/decisions). Actions: ``accept`` /
        ``reject`` (with optional reason + fingerprint), ``clear`` (reopen
        one key), ``clear_all`` (drop the workspace)."""
        from rwa_calculator_spark import recon_signoff as so

        job_a, err = self._done_job(body.get("job_a", ""))
        if err:
            return err
        job_b, err = self._done_job(body.get("job_b", ""))
        if err:
            return err
        ws = self._recon_workspace(job_a, job_b)
        action = body.get("action", "")
        key = body.get("recon_key", "")
        if action in ("accept", "reject"):
            if not key:
                return 400, {"error": "recon_key required"}
            so.upsert_decision(
                ws, key, action + "ed", body.get("reason", ""),
                body.get("fingerprint", ""),
            )
        elif action == "clear":
            if not key:
                return 400, {"error": "recon_key required"}
            so.clear_decision(ws, key)
        elif action == "clear_all":
            so.clear_all_decisions(ws)
        else:
            return 400, {"error": f"unknown action {action!r}"}
        return 200, {
            "workspace": ws,
            "decisions": {
                k: d.__dict__ for k, d in sorted(so.load_decisions(ws).items())
            },
        }

    def reconcile_decisions_get(self, job_a: str, job_b: str):
        from rwa_calculator_spark import recon_signoff as so

        a, err = self._done_job(job_a)
        if err:
            return err
        b, err = self._done_job(job_b)
        if err:
            return err
        ws = self._recon_workspace(a, b)
        return 200, {
            "workspace": ws,
            "decisions": {
                k: d.__dict__ for k, d in sorted(so.load_decisions(ws).items())
            },
        }


# -- HTTP transport -----------------------------------------------------------

_ROUTES: list[tuple[str, re.Pattern, str]] = [
    ("GET", re.compile(r"^/api/health$"), "health"),
    ("POST", re.compile(r"^/api/validate$"), "validate"),
    ("POST", re.compile(r"^/api/calculate$"), "calculate"),
    ("GET", re.compile(r"^/jobs/(?P<job_id>\w+)$"), "job"),
    ("GET", re.compile(r"^/jobs/(?P<job_id>\w+)/events$"), "job_events"),
    ("GET", re.compile(r"^/api/runs$"), "runs"),
    ("GET", re.compile(r"^/api/results$"), "results"),
    ("GET", re.compile(r"^/api/results/summary/(?P<dimension>\w+)$"), "summary"),
    ("GET", re.compile(r"^/api/templates$"), "templates"),
    ("GET", re.compile(r"^/api/templates/(?P<template_id>[\w.]+)$"), "template"),
    ("GET", re.compile(r"^/api/validations$"), "validations"),
    ("GET", re.compile(r"^/api/validations/checker$"), "validations_checker"),
    ("GET", re.compile(r"^/api/lineage$"), "lineage"),
    ("GET", re.compile(r"^/api/lineage/cell$"), "lineage_cell"),
    ("GET", re.compile(r"^/api/errors$"), "errors"),
    ("GET", re.compile(r"^/api/comparison$"), "comparison"),
    ("POST", re.compile(r"^/api/reconcile$"), "reconcile"),
    ("POST", re.compile(r"^/api/reconcile/decisions$"), "reconcile_decisions"),
    ("GET", re.compile(r"^/api/reconcile/decisions$"), "reconcile_decisions_get"),
    ("GET", re.compile(r"^/api/export/csv$"), "export_csv"),
    ("GET", re.compile(r"^/api/export/xlsx$"), "export_xlsx"),
    ("GET", re.compile(r"^/api/export/corep$"), "export_corep"),
    ("GET", re.compile(r"^/ui$"), "ui"),
    ("GET", re.compile(r"^/ui/portfolio$"), "ui_portfolio"),
    ("GET", re.compile(r"^/ui/reconciliation$"), "ui_reconciliation"),
    ("GET", re.compile(r"^/ui/method-split$"), "ui_method_split"),
    ("GET", re.compile(r"^/ui/hierarchy$"), "ui_hierarchy"),
    ("GET", re.compile(r"^/ui/lineage$"), "ui_lineage"),
    ("GET", re.compile(r"^/ui/comparison$"), "ui_comparison"),
    ("GET", re.compile(r"^/ui/templates/(?P<template_id>[\w.]+)$"), "ui_template"),
    ("GET", re.compile(r"^/ui/validations$"), "ui_validations"),
]


def _make_handler(api: RwaApi):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet test output
            pass

        def _dispatch(self, method: str):
            url = urlparse(self.path)
            qs = {k: v[0] for k, v in parse_qs(url.query).items()}
            for verb, pat, name in _ROUTES:
                if verb != method:
                    continue
                m = pat.match(url.path)
                if not m:
                    continue
                kwargs = dict(m.groupdict())
                if name in ("calculate", "reconcile", "reconcile_decisions"):
                    length = int(self.headers.get("Content-Length") or 0)
                    body = json.loads(self.rfile.read(length) or b"{}")
                    kwargs["body"] = body
                if name in (
                    "results", "summary", "lineage", "lineage_cell",
                    "export_csv", "export_xlsx", "errors", "ui",
                    "ui_portfolio", "ui_method_split", "ui_lineage",
                ):
                    kwargs["job_id"] = qs.get("job", "")
                if name in ("ui_reconciliation", "reconcile_decisions_get"):
                    kwargs["job_a"] = qs.get("job_a", "")
                    kwargs["job_b"] = qs.get("job_b", "")
                if name in ("lineage_cell", "ui_lineage"):
                    kwargs["cell"] = qs.get("cell", "")
                if name == "results":
                    kwargs["limit"] = int(qs.get("limit", "100"))
                if name == "export_corep":
                    kwargs["only"] = qs.get("only", "")
                if name == "validations_checker":
                    kwargs["modules"] = qs.get("modules", "")
                if name == "job_events":
                    kwargs["since"] = int(qs.get("since", "0"))
                    kwargs["wait"] = float(qs.get("wait", "10"))
                try:
                    status, payload = getattr(api, name)(**kwargs)
                except Exception as e:  # defensive: a handler bug is a 500, not a hang
                    status, payload = 500, {"error": str(e)}
                if isinstance(payload, str):  # server-rendered HTML (/ui)
                    data = payload.encode()
                    self.send_response(status)
                    self.send_header("Content-Type", "text/html; charset=utf-8")
                    self.send_header("Content-Length", str(len(data)))
                    self.end_headers()
                    self.wfile.write(data)
                    return
                data = json.dumps(payload, sort_keys=True, default=str).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)
                return
            self.send_response(404)
            self.end_headers()

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

    return Handler


class RwaRestServer:
    """Ephemeral JSON API server. `with RwaRestServer(spark, sf_dir) as base:`
    yields the base URL; requests are served on daemon threads sharing the
    one SparkSession (Spark is thread-safe for job submission; concurrent
    jobs get separate scheduler pools by default FIFO)."""

    def __init__(self, spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.api = RwaApi(spark, sf_dir)
        self._httpd = ThreadingHTTPServer((host, port), _make_handler(self.api))
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def base_url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def __enter__(self) -> str:
        self._thread.start()
        return self.base_url

    def __exit__(self, *exc):
        self._httpd.shutdown()
        self._httpd.server_close()
