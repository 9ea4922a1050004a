"""Round-6 ledger widening: collateral decomposition lists, the CRR
double-default carriers, and per-stage wall-ms in the run manifest (ref
CALCULATION_OUTPUT_SCHEMA data/schemas.py:2954-2955 collateral_references/
collateral_types, :3098-3100 double-default block; engine/materialise.py:
74-98 EdgeEvent wall-ms)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import CRMOutput, RawBundle
from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK


def test_collateral_types_and_references_sealed(spark):
    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0), ("L2", "CP1", 500.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "false AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    collateral = spark.createDataFrame(
        [("C1", "govt_bond", 400.0), ("C2", "cash", 100.0)],
        "collateral_reference string, collateral_type string, market_value double",
    )
    links = spark.createDataFrame(
        [("C1", "L1"), ("C2", "L1")],
        "collateral_reference string, exposure_reference string",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, collateral=collateral,
            collateral_links=links,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # sorted, duplicate-free lists — deterministic under shuffle
    assert rows["L1"].collateral_references == ["C1", "C2"]
    assert rows["L1"].collateral_types == ["cash", "govt_bond"]
    # an unsecured row in a collateral-bearing run carries the EMPTY list
    # (the channel ran and found nothing), never null
    assert rows["L2"].collateral_references == []
    assert rows["L2"].collateral_types == []


def test_collateral_lists_null_without_collateral_channel(spark):
    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "false AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    out = run_pipeline(RawBundle(counterparties=cps, loans=loans),
                       PipelineConfig(pack=CRR_PACK))
    r = out.results.collect()[0]
    assert r.collateral_references is None or r.collateral_references == []
    assert "collateral_types" in out.results.columns


def _dd_book(spark, pd_g=0.001, seniority="subordinated", sub="airb"):
    """One corporate A-IRB exposure with a subordinated institution
    guarantor: rw_dd = rw_own × (0.15 + 160×PD_g) = 1.5885 × 0.31 ≈ 0.492
    beats the Art.161(1) subordinated-LGD substitution (≈ 0.524), so DD
    both qualifies AND prices the row."""
    return spark.createDataFrame(
        [("L1", "CP1", "corporate", 2, True, False, False, 0.05, 0.45, 2.5,
          200_000_000.0, 1000.0, 0.0, 1000.0, 1000.0, 0.5, "institution", 1,
          pd_g, seniority, sub)],
        "exposure_reference string, counterparty_reference string, "
        "exposure_class string, cqs int, has_irb_permission boolean, "
        "is_specialised boolean, is_defaulted boolean, pd double, lgd double, "
        "effective_maturity double, annual_revenue double, drawn_amount double, "
        "undrawn_amount double, ead double, ead_after_crm double, "
        "g_coverage double, g_class string, g_cqs int, guarantor_pd double, "
        "guarantor_seniority string, irb_subapproach string",
    )


def test_double_default_carriers_sealed_when_dd_prices(spark):
    from rwa_calculator_spark.engine.stages.calculators import run_irb

    res = run_irb(CRMOutput(exposures=_dd_book(spark)), CRR_PACK).results
    r = res.collect()[0]
    assert r.is_double_default_eligible is True
    assert r.rw_source.endswith("+gdd")
    # guaranteed portion under DD = coverage × EAD (the COREP 0220 figure)
    assert r.double_default_unfunded_protection == pytest.approx(500.0)
    # DD uses the OBLIGOR's LGD (it modifies K through PD_g, never LGD)
    assert r.irb_lgd_double_default == pytest.approx(0.45)


def test_double_default_carriers_null_when_substitution_wins(spark):
    from rwa_calculator_spark.engine.stages.calculators import run_irb

    # senior guarantor (LGD 0.45): substitution at PD_g=0.002 (~0.47)
    # beats rw_dd (~0.75) — eligible but NOT applied
    res = run_irb(
        CRMOutput(exposures=_dd_book(spark, pd_g=0.002, seniority="senior")),
        CRR_PACK,
    ).results
    r = res.collect()[0]
    assert r.is_double_default_eligible is True
    assert "+gsub_pd" in r.rw_source
    assert r.double_default_unfunded_protection is None
    assert r.irb_lgd_double_default is None


def test_double_default_gated_off_under_b31(spark):
    from rwa_calculator_spark.engine.stages.calculators import run_irb

    # PS1/26 did not onshore double default — the B3.1 pack gates the
    # branch off entirely; the carriers stay honest nulls
    res = run_irb(CRMOutput(exposures=_dd_book(spark)), B31_PACK).results
    r = res.collect()[0]
    assert r.is_double_default_eligible is None
    assert r.double_default_unfunded_protection is None
    assert "dd" not in (r.rw_source or "").split("+g")[-1]


def test_firb_rows_not_dd_eligible(spark):
    from rwa_calculator_spark.engine.stages.calculators import run_irb

    # CRR Art.153(3) double default is an A-IRB treatment
    res = run_irb(CRMOutput(exposures=_dd_book(spark, sub="firb")), CRR_PACK).results
    r = res.collect()[0]
    assert r.is_double_default_eligible is False
    assert r.double_default_unfunded_protection is None


def test_manifest_records_per_stage_wall_ms(spark, tmp_path):
    from rwa_calculator_spark.api import CreditRiskCalc

    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "false AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    calc = CreditRiskCalc(
        spark, RawBundle(counterparties=cps, loans=loans), pack=CRR_PACK,
        cache_dir=str(tmp_path / "cache"),
    )
    resp = calc.calculate()
    stages = resp.run_manifest["stages"]
    for name in ("hierarchy", "classify", "crm", "re_split", "barrier",
                 "calculators", "aggregate"):
        assert name in stages and stages[name] >= 0.0


def test_collateral_per_type_decomposition_sealed(spark):
    # L1 holds cash 100, govt_bond 400 (supplied 10% haircut each), a
    # receivables item 200 and a machinery item 100: financial = 0.9×500
    # = 450, cash subset = 90, receivables = 180, other = 90, and
    # collateral_value = 450 + 180 + 90 = 720 exactly (the identity the
    # COREP 0180/0200/0210 columns rely on).
    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 2000.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "false AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    collateral = spark.createDataFrame(
        [
            ("C1", "cash", 100.0, 0.1),
            ("C2", "govt_bond", 400.0, 0.1),
            ("C3", "receivables", 200.0, 0.1),
            ("C4", "machinery", 100.0, 0.1),
        ],
        "collateral_reference string, collateral_type string, "
        "market_value double, haircut double",
    )
    links = spark.createDataFrame(
        [("C1", "L1"), ("C2", "L1"), ("C3", "L1"), ("C4", "L1")],
        "collateral_reference string, exposure_reference string",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, collateral=collateral,
            collateral_links=links,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    r = out.results.collect()[0]
    assert r.collateral_financial_value == pytest.approx(450.0)
    assert r.collateral_cash_value == pytest.approx(90.0)
    assert r.collateral_receivables_value == pytest.approx(180.0)
    assert r.collateral_other_physical_value == pytest.approx(90.0)
    assert r.collateral_value == pytest.approx(720.0)
    assert r.collateral_re_value == pytest.approx(0.0)


def test_collateral_re_value_sealed_on_both_split_parts(spark):
    # A 1000 loan secured on a 900 property: the Art.124(2) split makes a
    # 720 re_secured tranche and a 280 remainder — BOTH parts carry the
    # full 900 collateral_re_value (provenance, deliberately not conserved
    # across the split), and neither carries FCCM decomposition value.
    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "false AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    collateral = spark.createDataFrame(
        [("RE1", "real_estate", 900.0)],
        "collateral_reference string, collateral_type string, market_value double",
    )
    links = spark.createDataFrame(
        [("RE1", "L1")],
        "collateral_reference string, exposure_reference string",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, collateral=collateral,
            collateral_links=links,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    assert rows["L1_RESEC"].ead_after_crm == pytest.approx(720.0)
    assert rows["L1"].ead_after_crm == pytest.approx(280.0)
    for ref in ("L1_RESEC", "L1"):
        assert rows[ref].collateral_re_value == pytest.approx(900.0)
        assert rows[ref].collateral_financial_value == pytest.approx(0.0)
        assert rows[ref].collateral_value == pytest.approx(0.0)


def _gtee_sa_book(spark, g_cqs=1, coverage=0.5, ptype="guarantee",
                  restructuring=True, ccy_mm=False):
    cps = spark.createDataFrame(
        [("CP1", "corporate", 0, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "false AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    gtees = spark.createDataFrame(
        [("L1", coverage, "institution", g_cqs, "GCP", "G1", ptype,
          restructuring, ccy_mm)],
        "exposure_reference string, coverage_pct double, guarantor_class string, "
        "guarantor_cqs int, guarantor_reference string, guarantee_reference string, "
        "protection_type string, includes_restructuring boolean, "
        "currency_mismatch boolean",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, guarantees=gtees),
        PipelineConfig(pack=CRR_PACK),
    )
    return out.results.collect()[0]


def test_guarantee_block_sa_substitution_carriers(spark):
    # unrated corporate (100%) with a CQS1 institution guarantor (20%) at
    # 50% coverage: rw = 0.5×0.2 + 0.5×1.0 = 0.60; benefit_rw = 0.5×0.8.
    r = _gtee_sa_book(spark)
    assert r.guarantee_status == "SA_RW_SUBSTITUTION"
    assert r.guarantee_method_used == "SA_RW_SUBSTITUTION"
    assert r.is_guaranteed is True
    assert r.guaranteed_portion == pytest.approx(500.0)
    assert r.unguaranteed_portion == pytest.approx(500.0)
    assert r.guarantor_risk_weight == pytest.approx(0.20)
    assert r.pre_crm_risk_weight == pytest.approx(1.0)
    assert r.guarantee_benefit_rw == pytest.approx(0.40)
    assert r.guarantee_benefit == pytest.approx(400.0)
    assert r.guarantee_references == ["G1"]
    assert r.protection_type == "guarantee"
    assert r.guarantee_coverage_pct == pytest.approx(0.5)
    assert r.pre_crm_counterparty_reference == "CP1"
    assert r.post_crm_counterparty_guaranteed == "GCP"
    assert r.post_crm_exposure_class_guaranteed == "institution"
    assert r.guarantee_fx_haircut == pytest.approx(0.0)
    assert r.guarantee_restructuring_haircut == pytest.approx(0.0)


def test_guarantee_cds_restructuring_haircut(spark):
    # CRR Art.233(3): a credit derivative whose events exclude
    # restructuring loses 40% of its protection value — effective coverage
    # 0.5 × 0.6 = 0.30, rw = 0.3×0.2 + 0.7×1.0 = 0.76.
    r = _gtee_sa_book(spark, ptype="credit_derivative", restructuring=False)
    assert r.guarantee_restructuring_haircut == pytest.approx(0.40)
    # declared coverage stays at the contract's 50%; the post-haircut
    # figure moves to the effective column (ref declared-coverage contract)
    assert r.guarantee_coverage_pct == pytest.approx(0.50)
    assert r.guarantee_effective_coverage_pct == pytest.approx(0.30)
    assert r.guaranteed_portion == pytest.approx(300.0)
    assert r.risk_weight == pytest.approx(0.76)
    # a CDS that DOES cover restructuring keeps full value
    r2 = _gtee_sa_book(spark, ptype="credit_derivative", restructuring=True)
    assert r2.guarantee_restructuring_haircut == pytest.approx(0.0)
    assert r2.risk_weight == pytest.approx(0.60)


def test_guarantee_fx_mismatch_haircut(spark):
    # currency-mismatched protection loses the 8% supervisory FX haircut:
    # effective coverage 0.5 × 0.92 = 0.46, rw = 0.46×0.2 + 0.54×1.0.
    r = _gtee_sa_book(spark, ccy_mm=True)
    assert r.guarantee_fx_haircut == pytest.approx(0.08)
    assert r.guaranteed_portion == pytest.approx(460.0)
    assert r.risk_weight == pytest.approx(0.46 * 0.2 + 0.54 * 1.0)


def test_guarantee_non_beneficial_status(spark):
    # CQS6 institution guarantor (150%) cannot improve an unrated
    # corporate (100%): the blend keeps the own weight, the status says so.
    r = _gtee_sa_book(spark, g_cqs=6)
    assert r.guarantee_status == "GUARANTEE_NOT_APPLIED_NON_BENEFICIAL"
    assert r.guarantee_method_used == "NO_SUBSTITUTION"
    # protection EXISTS (portion > 0) so the flag is True even though the
    # Art.193(1) benefit test declined it (ref crm/guarantees.py:183,
    # aggregator.py:706-707: is_guaranteed alone ≠ beneficial)
    assert r.is_guaranteed is True
    assert r.risk_weight == pytest.approx(1.0)
    assert r.guarantee_benefit == pytest.approx(0.0)
    # coverage still REPORTS (the portion exists; it just brought no benefit)
    assert r.guaranteed_portion == pytest.approx(500.0)


def test_guarantee_status_on_irb_paths(spark):
    from rwa_calculator_spark.engine.stages.calculators import run_irb

    # the DD book prices through double default → both enums say so
    r = run_irb(CRMOutput(exposures=_dd_book(spark)), CRR_PACK).results.collect()[0]
    assert r.guarantee_status == "DOUBLE_DEFAULT"
    assert r.guarantee_method_used == "DOUBLE_DEFAULT"
    assert r.is_guaranteed is True
    # PSM route: status records the non-beneficial outcome if any, method
    # records the PATH traversed (PS1/26 Art.236(1)(a)) — here beneficial
    r2 = run_irb(
        CRMOutput(exposures=_dd_book(spark, pd_g=0.002, seniority="senior")),
        CRR_PACK,
    ).results.collect()[0]
    assert r2.guarantee_status == "PD_PARAMETER_SUBSTITUTION"
    assert r2.guarantee_method_used == "PD_PARAMETER_SUBSTITUTION"


def test_provision_block_carriers_sealed(spark):
    # L1 (drawn 600) and L2 (drawn 400), same obligor. Direct SCRA 50 on
    # L1 (ref PA); counterparty-level GCRA pot 100 pro-rata by basis:
    # L1 60, L2 40 (ref PB). Carriers: L1 allocated 110 = scra 50 +
    # gcra 60, refs [PA, PB]; L2 allocated 40 gcra, refs [PB]; SA
    # drawn-first cap binds nothing here (allocations < drawn), so
    # capped == allocated and EAD nets the full amount.
    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 600.0), ("L2", "CP1", 400.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "false AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    provisions = spark.createDataFrame(
        [
            ("L1", "exposure", 50.0, "scra", "PA"),
            ("CP1", "counterparty", 100.0, "gcra", "PB"),
        ],
        "beneficiary_reference string, beneficiary_type string, amount double, "
        "provision_type string, provision_reference string",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, provisions=provisions),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    r1, r2 = rows["L1"], rows["L2"]
    assert r1.scra_provision_amount == pytest.approx(50.0)
    assert r1.gcra_provision_amount == pytest.approx(60.0)
    assert r1.provision_capped_amount == pytest.approx(110.0)
    assert r1.provision_references == ["PA", "PB"]
    assert r1.ead_after_crm == pytest.approx(490.0)
    assert r2.scra_provision_amount == pytest.approx(0.0)
    assert r2.gcra_provision_amount == pytest.approx(40.0)
    assert r2.provision_references == ["PB"]
    assert r2.ead_after_crm == pytest.approx(360.0)


def test_ead_block_and_irb_param_carriers(spark):
    # A 600-drawn/400-undrawn contingent-less book is hard to build from
    # loans alone, so use a loan (drawn only): gross_ead = 1000, EAD
    # method 'comprehensive' (the config default), final_ead tracks
    # ead_after_crm. The IRB leg seals the kernel decomposition: raw PD
    # 0.01 vs floor 0.0003 → floored 0.01; supplied LGD 0.25 (A-IRB,
    # 'modelled'); R from the corporate curve; b = (0.11852 −
    # 0.05478·ln 0.01)²; K and the pre-substitution Vasicek weight
    # reproduce risk_weight exactly (×12.5 ×1.06 under CRR).
    import math

    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0, 0.01, 0.25, 2.5)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "pd double, lgd double, effective_maturity double",
    ).selectExpr(
        "loan_reference", "counterparty_reference", "drawn_amount",
        "false AS is_defaulted", "pd", "lgd", "effective_maturity",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK)
    )
    r = out.results.collect()[0]
    assert r.gross_ead == pytest.approx(1000.0)
    assert r.converted_undrawn == pytest.approx(0.0)
    assert r.ead_after_collateral == pytest.approx(1000.0)
    assert r.final_ead == pytest.approx(1000.0)
    assert r.ead_calculation_method == "comprehensive"
    assert r.irb_pd_original == pytest.approx(0.01)
    assert r.irb_pd_floor == pytest.approx(0.0003)
    assert r.irb_pd_floored == pytest.approx(0.01)
    assert r.irb_lgd_original == pytest.approx(0.25)
    assert r.irb_lgd_floored == pytest.approx(0.25)
    assert r.irb_lgd_type == "modelled"
    assert r.irb_maturity_m == pytest.approx(2.5)
    # corporate correlation at PD 0.01 (CRR Art.153(1) closed form)
    e50 = 1.0 - math.exp(-50.0)
    w = (1.0 - math.exp(-50.0 * 0.01)) / e50
    r_exp = 0.12 * w + 0.24 * (1.0 - w)
    assert r.irb_correlation_r == pytest.approx(r_exp, rel=1e-12)
    b_exp = (0.11852 - 0.05478 * math.log(0.01)) ** 2
    assert r.irb_maturity_adj_b == pytest.approx(b_exp, rel=1e-12)
    ma = (1.0 + (2.5 - 2.5) * b_exp) / (1.0 - 1.5 * b_exp)
    assert r.irb_risk_weight == pytest.approx(r.irb_capital_k * ma * 12.5 * 1.06)
    assert r.risk_weight == pytest.approx(r.irb_risk_weight)


def test_sa_decision_floor_and_re_decision_carriers(spark):
    # B3.1 book: an income-producing CRE loan at LTV 0.65 prices on the
    # Art.124I band (100%) — the decision block records the base ladder
    # weight (re_secured flat 30% under the B31 pack never fires; class
    # route goes via the RE chain), the band label, qualification and
    # dependency; the output floor aliases carry the reference's names.
    cps = spark.createDataFrame(
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0, 0.65, True, True), ("L2", "CP1", 500.0, None, False, False)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "ltv double, is_income_producing boolean, is_commercial_re boolean",
    ).selectExpr(
        "loan_reference", "counterparty_reference", "drawn_amount",
        "false AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
        "loan_reference = 'L1' AS is_property_secured",
        "ltv", "is_income_producing", "is_commercial_re",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=B31_PACK)
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    r1, r2 = rows["L1"], rows["L2"]
    assert r1.property_type == "commercial"
    assert r1.property_ltv == pytest.approx(0.65)
    assert r1.ltv_band == "cre_income:<=0.8"
    assert r1.is_qualifying_re is True
    assert r1.materially_dependent_on_property is True
    assert r1.mortgage_risk_weight == pytest.approx(1.0)
    assert r1.sa_final_risk_weight == pytest.approx(1.0)
    assert r1.sa_rw_adjustment == pytest.approx(
        r1.sa_final_risk_weight - r1.sa_base_risk_weight
    )
    # plain corporate row: no RE decision, CQS2 ladder 50% base == final
    assert r2.property_type is None and r2.ltv_band is None
    assert r2.sa_cqs == 2
    assert r2.sa_base_risk_weight == pytest.approx(0.5)
    assert r2.sa_final_risk_weight == pytest.approx(0.5)
    assert r2.sa_rw_adjustment == pytest.approx(0.0)
    # output-floor aliases (B3.1 alpha 0.725): modelled == SA-equivalent
    # on an SA-only book, so the floor cannot bind
    assert r1.output_floor_pct == pytest.approx(0.725)
    assert r1.floor_binding is False
    assert r1.final_rwa == pytest.approx(r1.rwa)
    assert r1.rwa_before_floor == pytest.approx(r1.rwa)
    assert r1.floor_impact == pytest.approx(0.0)
    assert r1.risk_weight_effective == pytest.approx(r1.rwa / r1.ead_after_crm)
    assert r1.output_floor_rwa == pytest.approx(0.725 * r1.rwa_sa_equivalent)
