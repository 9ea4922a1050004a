"""Round-7 CRR Art.164(4) retail-RE PORTFOLIO LGD floor check (ref
engine/aggregator/_lgd_floor_check.py check_retail_re_portfolio_lgd_floors):
the A-IRB retail-mortgage book, minus central-government-guaranteed legs,
splits residential/commercial; each sub-portfolio whose EAD-weighted
average own-estimate LGD sits below its floor (10% / 15%) raises ONE
IRB007 warning. CRR-only; warning-only (never reprices)."""

from __future__ import annotations

import pytest

from rwa_calculator_spark.engine.bundles import RawBundle
from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK


def _bundle(spark, loan_rows, gtees=None) -> RawBundle:
    cps = spark.createDataFrame(
        [("CP1", "individual", 0, True, 0.0, True, "mortgage")],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, "
        "has_irb_permission boolean, retail_subtype string",
    )
    loans = spark.createDataFrame(
        loan_rows,
        "loan_reference string, counterparty_reference string, "
        "drawn_amount double, pd double, lgd double, "
        "is_commercial_re boolean",
    ).selectExpr(
        "loan_reference", "counterparty_reference", "drawn_amount",
        "false AS is_defaulted", "pd", "lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity", "is_commercial_re",
    )
    g = None
    if gtees is not None:
        g = spark.createDataFrame(
            gtees,
            "guarantee_reference string, exposure_reference string, "
            "coverage_pct double, guarantor_class string, guarantor_cqs int",
        )
    return RawBundle(counterparties=cps, loans=loans, guarantees=g)


def _run(spark, loan_rows, pack=CRR_PACK, gtees=None):
    out = run_pipeline(_bundle(spark, loan_rows, gtees), PipelineConfig(pack=pack))
    return [
        (r.code, r.key)
        for r in (out.errors.collect() if out.errors is not None else [])
        if r.code == "IRB007"
    ]


def test_residential_portfolio_below_floor_warns(spark):
    # EW-avg LGD = (0.05·1000 + 0.09·1000) / 2000 = 0.07 < 0.10
    warns = _run(
        spark,
        [
            ("L1", "CP1", 1000.0, 0.01, 0.05, False),
            ("L2", "CP1", 1000.0, 0.01, 0.09, False),
        ],
    )
    assert warns == [("IRB007", "residential")]


def test_compliant_portfolio_no_warning(spark):
    warns = _run(
        spark,
        [
            ("L1", "CP1", 1000.0, 0.01, 0.12, False),
            ("L2", "CP1", 1000.0, 0.01, 0.11, False),
        ],
    )
    assert warns == []


def test_commercial_bucket_takes_15pct_floor(spark):
    # commercial EW-avg 0.12 breaches the 15% floor even though the same
    # LGD would pass the residential 10% one
    warns = _run(
        spark,
        [
            ("L1", "CP1", 1000.0, 0.01, 0.12, True),
            ("L2", "CP1", 1000.0, 0.01, 0.12, False),
        ],
    )
    assert warns == [("IRB007", "commercial")]


def test_central_government_guaranteed_legs_excluded(spark):
    # the 0.05-LGD loan is sovereign-guaranteed — excluded from the
    # Art.164(4) population, so the remaining 0.11 book passes
    warns = _run(
        spark,
        [
            ("L1", "CP1", 1000.0, 0.01, 0.05, False),
            ("L2", "CP1", 1000.0, 0.01, 0.11, False),
        ],
        gtees=[("G1", "L1", 0.8, "sovereign", 1)],
    )
    assert warns == []


def test_b31_disables_the_portfolio_check(spark):
    # B3.1's per-exposure A-IRB floors supersede the portfolio check —
    # and they also lift the 0.05 LGD to the 5% RRE floor's max(lgd, 0.05)
    warns = _run(
        spark,
        [("L1", "CP1", 1000.0, 0.01, 0.05, False)],
        pack=B31_PACK,
    )
    assert warns == []
