"""Service façade round-trip: calculate → parquet results cache → lazy
re-scan → export (ref api/service.py lifecycle, SURVEY §3.1)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from rwa_calculator_spark.api import CreditRiskCalc
from rwa_calculator_spark.engine.rulepack import CRR_PACK
from rwa_calculator_spark.functions.exact import scaled_sum


def test_calculate_cache_scan_export(spark, tmp_path):
    from tests.engine_fixtures import build_bundle

    bundle = build_bundle(spark, n_cp=100)
    calc = CreditRiskCalc(spark, bundle, CRR_PACK, cache_dir=str(tmp_path / "cache"))
    resp = calc.calculate()

    assert resp.run_manifest["regime"] == "crr"
    assert len(resp.run_manifest["rulepack_hash"]) == 16

    results = resp.scan_results()
    n = results.count()
    assert n == bundle.loans.count() + bundle.contingents.count()

    # each sealed summary equals the same fixed-point groupBy over the
    # sealed ledger, exactly (the cache derives them from that ledger)
    for dim, key in (("class", "exposure_class"), ("approach", "approach")):
        rederived = results.groupBy(key).agg(
            F.count("*").alias("n_exposures"),
            scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
            scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
        )
        assert sorted(map(tuple, resp.scan_summary(dim).collect())) == sorted(
            map(tuple, rederived.collect())
        ), dim

    # each edge's observed row count is the row count of what was sealed
    edges = resp.run_manifest["edges"]
    assert set(edges) >= {"results", "summary_class", "summary_approach"}
    for name, edge in edges.items():
        sealed = spark.read.parquet(os.path.join(resp.cache_dir, name))
        assert edge["rows"] == sealed.count(), name
    assert resp.run_manifest["codegen_compiles"] >= 0

    # run identity stamped per-row at seal time (ref
    # CALCULATION_OUTPUT_SCHEMA cols 1-2): every sealed row carries THIS
    # run's id, so concatenated multi-run stores keep row→run lineage
    stamp = results.select("calculation_run_id", "calculation_timestamp").distinct().collect()
    assert len(stamp) == 1
    assert stamp[0]["calculation_run_id"] == resp.run_manifest["run_id"]
    assert stamp[0]["calculation_timestamp"]  # ISO string, non-empty

    csv_path = resp.export_csv(str(tmp_path))
    assert os.path.isdir(csv_path)
    back = spark.read.option("header", True).csv(csv_path)
    assert back.count() == n

    js = json.loads(resp.export_summary_json("approach"))
    assert {row["approach"] for row in js} <= {"SA", "IRB"}


def test_manifest_edge_events_and_errors(spark):
    """The run manifest carries the per-edge event map (rows + wall) and the
    rulepack hash (ref engine/materialise.py:74-98 EdgeEvent,
    engine/pipeline.py manifest.json); validation errors seal to the cache
    and re-scan lazily."""
    import tempfile

    from rwa_calculator_spark.api import CreditRiskCalc
    from rwa_calculator_spark.engine.bundles import RawBundle

    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [
            ("L1", "CP1", 100.0, False, None, None, None),
            ("L2", "CPMISSING", 100.0, False, None, None, None),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    with tempfile.TemporaryDirectory() as d:
        calc = CreditRiskCalc(spark, RawBundle(counterparties=cps, loans=loans), cache_dir=d)
        resp = calc.calculate()
        m = resp.run_manifest
        assert m["edges"]["results"]["rows"] == 2
        assert m["edges"]["errors"]["rows"] >= 1  # DQ002 orphan CPMISSING
        assert all("wall_ms" in e for e in m["edges"].values())
        errs = resp.scan_errors()
        codes = {r.code for r in errs.collect()}
        assert "DQ002" in codes


def test_flow_statement_against_persisted_prior_run(spark, tmp_path):
    """CR8 over two REAL persisted runs (the reference's external-prior
    shape, cr8.py:140): run t0, seal its cache; mutate the book (one new
    loan, one repaid, one re-rated); run t1; attribute the RWA flow. The
    expected figures re-derive independently from the two cached parquet
    ledgers in pandas."""
    import pandas as pd
    from pyspark.sql import functions as F

    from rwa_calculator_spark.api import CreditRiskCalc
    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    cps = spark.createDataFrame(
        [("CP1", "corporate", 0, False, 60_000_000.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )

    def loans(rows):
        return spark.createDataFrame(
            rows,
            "loan_reference string, counterparty_reference string, "
            "drawn_amount double, is_defaulted boolean, pd double, lgd double, "
            "effective_maturity double",
        )

    prior_loans = loans(
        [
            ("L_KEEP", "CP1", 1000.0, False, 0.01, 0.45, 2.5),
            ("L_GONE", "CP1", 500.0, False, 0.02, 0.45, 2.5),
        ]
    )
    cur_loans = loans(
        [
            ("L_KEEP", "CP1", 1000.0, False, 0.03, 0.45, 2.5),  # re-rated
            ("L_NEW", "CP1", 800.0, False, 0.01, 0.45, 2.5),    # new business
        ]
    )
    prior_dir = str(tmp_path / "prior")
    cur_dir = str(tmp_path / "cur")
    CreditRiskCalc(
        spark, RawBundle(counterparties=cps, loans=prior_loans), CRR_PACK,
        cache_dir=prior_dir,
    ).calculate()
    calc = CreditRiskCalc(
        spark, RawBundle(counterparties=cps, loans=cur_loans), CRR_PACK,
        cache_dir=cur_dir,
    )
    calc.calculate()
    flow = {r.row_ref: r.rwea for r in calc.flow_statement(prior_dir).collect()}

    # independent pandas re-derivation from the two sealed ledgers
    def grain(d):
        df = pd.read_parquet(f"{d}/results")
        df = df[df.approach == "IRB"]
        return {
            k: round(v, 2)
            for k, v in df.groupby("exposure_reference").rwa.sum().items()
        }

    p, c = grain(prior_dir), grain(cur_dir)
    assert flow["1"] == pytest.approx(sum(p.values()), abs=0.02)
    assert flow["9"] == pytest.approx(sum(c.values()), abs=0.02)
    assert flow["2"] == pytest.approx(c["L_NEW"] - p["L_GONE"], abs=0.02)
    assert flow["3"] == pytest.approx(c["L_KEEP"] - p["L_KEEP"], abs=0.02)
    assert flow["3"] > 0  # PD 1% → 3% raised the matched-row charge
    assert flow["8"] == pytest.approx(0.0, abs=0.05)  # residual closes


def test_sealed_errors_rederive_ledger_warnings(spark, tmp_path):
    """The IRB007 portfolio-LGD warning reads the ledger; the results cache
    derives it from the sealed ledger, and the sealed error channel holds
    exactly the rows the in-flight pipeline reports."""
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from tests.test_round7_portfolio_lgd_floor import _bundle

    # the below-floor residential book of
    # test_round7_portfolio_lgd_floor::test_residential_portfolio_below_floor_warns
    bundle = _bundle(
        spark,
        [
            ("L1", "CP1", 1000.0, 0.01, 0.05, False),
            ("L2", "CP1", 1000.0, 0.01, 0.09, False),
        ],
    )

    in_flight = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK)).errors
    resp = CreditRiskCalc(
        spark, bundle, CRR_PACK, cache_dir=str(tmp_path / "cache")
    ).calculate()
    sealed = resp.scan_errors()

    want = sorted(map(tuple, in_flight.collect()))
    assert ("IRB007", "residential") in {(r[0], r[3]) for r in want}
    assert sorted(map(tuple, sealed.collect())) == want
    assert resp.run_manifest["edges"]["errors"]["rows"] == len(want)
