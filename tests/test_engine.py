"""Domain-engine tests: golden scenario (hand-computed RWA), conservation
properties (ref tests/properties/test_conservation.py), approach routing,
output floor identity, IRB K cross-check against the Python backend."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import RawBundle
from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def golden_bundle(spark):
    cps = _df(
        spark,
        [
            ("CP1", "corporate", 2, False, 10_000_000.0, False),
            ("CP2", "individual", 0, True, 0.0, False),
            ("CP3", "corporate", 0, False, 60_000_000.0, False),
            ("CP4", "institution", 1, False, 0.0, False),
            ("CP5", "corporate", 2, False, 10_000_000.0, False),
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 1000.0, False, None, None, None),
            ("L2", "CP2", 500.0, False, None, None, None),
            ("L3", "CP3", 200.0, True, None, None, None),
            ("L5", "CP5", 1000.0, False, None, None, None),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    contingents = _df(
        spark,
        [("C1", "CP4", 1000.0, "medium_risk", False, None, None, None)],
        "contingent_reference string, counterparty_reference string, nominal_amount double, "
        "risk_bucket string, is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    collateral = _df(
        spark,
        [("COL1", 400.0, 0.25, False)],
        "collateral_reference string, market_value double, haircut double, currency_mismatch boolean",
    )
    links = _df(
        spark,
        [("COL1", "L5")],
        "collateral_reference string, exposure_reference string",
    )
    return RawBundle(
        counterparties=cps,
        loans=loans,
        contingents=contingents,
        collateral=collateral,
        collateral_links=links,
    )


def test_golden_scenario_sa(spark, golden_bundle):
    out = run_pipeline(golden_bundle, PipelineConfig(pack=CRR_PACK))
    rows = {r.exposure_reference: r for r in out.results.collect()}

    # L1: corporate cqs2 → RW 0.5; SME (revenue 10M ≤ 50M) → SF 0.7619
    assert rows["L1"].risk_weight == pytest.approx(0.5)
    assert rows["L1"].rwa == pytest.approx(1000 * 0.5 * 0.7619)

    # L2: individual, group exposure 500 ≤ 1M → retail RW 0.75, no SME SF
    assert rows["L2"].exposure_class == "retail"
    assert rows["L2"].rwa == pytest.approx(500 * 0.75)

    # L3: defaulted → RW 1.5; revenue 60M → no SME SF
    assert rows["L3"].risk_weight == pytest.approx(1.5)
    assert rows["L3"].rwa == pytest.approx(200 * 1.5)

    # C1: institution cqs1, medium_risk CCF 0.5 → EAD 500, RW 0.2
    assert rows["C1"].ead == pytest.approx(500.0)
    assert rows["C1"].rwa == pytest.approx(500 * 0.2)

    # L5: collateral 400×(1−0.25)=300 → EAD* = 700, RW 0.5, SME SF
    assert rows["L5"].ead_after_crm == pytest.approx(700.0)
    assert rows["L5"].rwa == pytest.approx(700 * 0.5 * 0.7619)


def test_conservation_and_routing(spark):
    from tests.engine_fixtures import build_bundle

    bundle = build_bundle(spark, n_cp=300)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))

    portfolio = out.portfolio.collect()[0]
    by_class_total = out.summary_by_class.agg(F.sum("total_rwa")).collect()[0][0]
    by_approach_total = out.summary_by_approach.agg(F.sum("total_rwa")).collect()[0][0]
    # summaries partition the ledger (exact fixed-point sums → equality)
    assert by_class_total == pytest.approx(portfolio.total_rwa, abs=1e-6)
    assert by_approach_total == pytest.approx(portfolio.total_rwa, abs=1e-6)

    approaches = {r.approach for r in out.summary_by_approach.collect()}
    assert approaches == {"SA", "IRB"}

    n_results = out.results.count()
    n_inputs = bundle.loans.count() + bundle.contingents.count()
    assert n_results == n_inputs  # no exposure lost or duplicated


def test_b31_output_floor_uplifts(spark):
    from tests.engine_fixtures import build_bundle

    bundle = build_bundle(spark, n_cp=200)
    crr = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    b31 = run_pipeline(bundle, PipelineConfig(pack=B31_PACK))
    # B3.1 portfolio RWA ≥ alpha × std proxy by construction of the floor
    p = b31.portfolio.collect()[0]
    assert p.total_rwa > 0
    # floor never reduces RWA relative to the unfloored modelled total
    crr_p = crr.portfolio.collect()[0]
    assert p.total_rwa >= crr_p.total_rwa * 0.5  # sanity, not equality


def test_irb_k_matches_python_backend(spark):
    from rwa_calculator_spark.functions.irb import (
        capital_k_r_v,
        correlation_v,
        maturity_adj_v,
        pd_floor_v,
        sme_size_adjustment_v,
    )
    from rwa_calculator_spark.functions.stats import PyB, V, py_normal_ppf

    cps = _df(
        spark,
        [("CPX", "corporate", 2, False, 10_000_000.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("LX", "CPX", 1000.0, False, 0.01, 0.45, 2.5)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    out = run_pipeline(RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK))
    row = out.results.collect()[0]
    assert row.approach == "IRB"

    pd_f = pd_floor_v(V(PyB, 0.01)).v
    g_pd = py_normal_ppf(pd_f)
    # CRR Art.153(4): €10m sales corporate -> SME size adjustment on R
    r = (
        correlation_v(V(PyB, pd_f)).v
        - sme_size_adjustment_v(V(PyB, 10_000_000.0 / 1_000_000.0)).v
    )
    k = capital_k_r_v(V(PyB, pd_f), V(PyB, 0.45), V(PyB, g_pd), V(PyB, r)).v
    ma = maturity_adj_v(V(PyB, pd_f), V(PyB, 2.5)).v
    # CRR Art.153(1) 1.06 scaling applies to the non-defaulted IRB path
    assert row.risk_weight == pytest.approx(k * ma * 12.5 * 1.06, rel=1e-9)
    assert 0.0 < row.risk_weight < 3.0


def test_irb_correlation_routing_by_asset_class(spark):
    """CRR Art.153(2)/(4) + Art.154: the correlation is asset-class routed —
    mortgages R=0.15, QRRE R=0.04, other retail on the 0.03–0.16/35-decay
    curve (all retail WITHOUT maturity adjustment); corporates subtract the
    SME size adjustment only when 0 < sales ≤ €50m; large financials
    multiply R by 1.25."""
    from rwa_calculator_spark.functions.irb import (
        capital_k_r_v,
        correlation_other_retail_v,
        correlation_v,
        maturity_adj_v,
        pd_floor_v,
    )
    from rwa_calculator_spark.functions.stats import PyB, V, py_normal_ppf

    cps = _df(
        spark,
        [
            # retail subtypes (managed-as-retail individuals, small exposure)
            ("CPM", "individual", 0, True, 0.0, True, "mortgage", False),
            ("CPQ", "individual", 0, True, 0.0, True, "qrre", False),
            ("CPO", "individual", 0, True, 0.0, True, "other", False),
            # large corporate: sales > 50m -> NO size adjustment
            ("CPL", "corporate", 2, False, 200_000_000.0, True, None, False),
            # large financial: corporate curve ×1.25
            ("CPF", "corporate", 2, False, 200_000_000.0, True, None, True),
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, "
        "has_irb_permission boolean, retail_subtype string, is_large_financial boolean",
    )
    loans = _df(
        spark,
        [
            ("LM", "CPM", 1000.0, False, 0.02, 0.2, 4.0),
            ("LQ", "CPQ", 1000.0, False, 0.02, 0.2, 4.0),
            ("LO", "CPO", 1000.0, False, 0.02, 0.2, 4.0),
            ("LL", "CPL", 1000.0, False, 0.02, 0.4, 4.0),
            ("LF", "CPF", 1000.0, False, 0.02, 0.4, 4.0),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK)
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}

    pd_f = pd_floor_v(V(PyB, 0.02)).v
    g_pd = py_normal_ppf(pd_f)

    def rw(r_val, lgd, with_ma):
        k = capital_k_r_v(V(PyB, pd_f), V(PyB, lgd), V(PyB, g_pd), V(PyB, r_val)).v
        ma = maturity_adj_v(V(PyB, pd_f), V(PyB, 4.0)).v if with_ma else 1.0
        return k * ma * 12.5 * 1.06

    r_other = correlation_other_retail_v(V(PyB, pd_f)).v
    r_corp = correlation_v(V(PyB, pd_f)).v
    # retail: subtype curves, NO maturity adjustment
    assert rows["LM"].risk_weight == pytest.approx(rw(0.15, 0.2, False), rel=1e-9)
    assert rows["LQ"].risk_weight == pytest.approx(rw(0.04, 0.2, False), rel=1e-9)
    assert rows["LO"].risk_weight == pytest.approx(rw(r_other, 0.2, False), rel=1e-9)
    # sales > 50m: plain corporate curve, WITH maturity adjustment
    assert rows["LL"].risk_weight == pytest.approx(rw(r_corp, 0.4, True), rel=1e-9)
    # large financial: ×1.25 on R raises the weight above the plain row
    assert rows["LF"].risk_weight == pytest.approx(
        rw(r_corp * 1.25, 0.4, True), rel=1e-9
    )
    assert rows["LF"].risk_weight > rows["LL"].risk_weight


def test_slotting_and_equity_branches(spark):
    cps = _df(
        spark,
        [
            ("CP1", "corporate", 2, False, 60_000_000.0, False),
            ("CP2", "corporate", 2, False, 60_000_000.0, False),
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 1000.0, False, None, None, None),  # slotted (CP1 specialised)
            ("L2", "CP2", 1000.0, False, None, None, None),  # SA corporate cqs2
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    sl = _df(spark, [("CP1", "good")], "counterparty_reference string, slot_category string")
    eq = _df(
        spark,
        [("E1", "CP2", 500.0, True), ("E2", "CP2", 200.0, False)],
        "exposure_reference string, counterparty_reference string, "
        "market_value double, is_exchange_traded boolean",
    )
    bundle = RawBundle(
        counterparties=cps, loans=loans, specialised_lending=sl, equity_exposures=eq
    )
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    rows = {r.exposure_reference: r for r in out.results.collect()}

    assert rows["L1"].approach == "SLOTTING"
    assert rows["L1"].rwa == pytest.approx(1000 * 0.9)  # 'good' slot 90%
    assert rows["L2"].approach == "SA"
    assert rows["L2"].rwa == pytest.approx(1000 * 0.5)
    assert rows["E1"].approach == "EQUITY"
    assert rows["E1"].rwa == pytest.approx(500 * 2.9)  # exchange-traded 290% (CRR Art.155(2))
    assert rows["E2"].rwa == pytest.approx(200 * 3.7)  # other 370%

    approaches = {r.approach for r in out.summary_by_approach.collect()}
    assert approaches == {"SA", "SLOTTING", "EQUITY"}


def test_equity_branch_b31_and_pack_keys(spark):
    """B3.1 equity routing (SA 250%/400%, PS1/26 Art.133) + a guard that the
    pack keys run_equity references actually exist in BOTH packs, so a
    rulepack rename can never silently break the stage again."""
    from rwa_calculator_spark.engine.rulepack import B31_PACK

    # key-existence guard: resolve every scalar run_equity can touch
    for pack in (CRR_PACK, B31_PACK):
        pack.scalar("equity_irb_available")
    for key in ("equity_pe_diversified_rw", "equity_exchange_traded_rw", "equity_other_rw"):
        CRR_PACK.scalar(key)
    for key in ("equity_standard_rw", "equity_speculative_rw"):
        B31_PACK.scalar(key)

    eq = _df(
        spark,
        [("E1", "CP1", 500.0, True, False), ("E2", "CP1", 200.0, False, True)],
        "exposure_reference string, counterparty_reference string, "
        "market_value double, is_exchange_traded boolean, is_speculative boolean",
    )
    from rwa_calculator_spark.engine.stages.calculators import run_equity

    rows = {r.exposure_reference: r for r in run_equity(eq, B31_PACK).results.collect()}
    assert rows["E1"].rwa == pytest.approx(500 * 2.5)  # standard 250%
    assert rows["E2"].rwa == pytest.approx(200 * 4.0)  # speculative 400%

    crm_rows = {r.exposure_reference: r for r in run_equity(eq, CRR_PACK).results.collect()}
    assert crm_rows["E1"].rwa == pytest.approx(500 * 2.9)
    assert crm_rows["E2"].rwa == pytest.approx(200 * 3.7)


def _mof_bundle(spark):
    """Root F1 (limit 1000) with committed sub-facilities F2 (medium_risk)
    and F3 (medium_low_risk), no drawings — sub headrooms 600 + 600 exceed
    the parent headroom 1000, so waterfall ORDER determines the split."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 100.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    facilities = _df(
        spark,
        [
            ("F1", "CP1", 1000.0, True, None),
            ("F2", "CP1", 600.0, True, "medium_risk"),
            ("F3", "CP1", 600.0, True, "medium_low_risk"),
        ],
        "facility_reference string, counterparty_reference string, limit double, "
        "committed boolean, risk_bucket string",
    )
    mappings = _df(
        spark,
        [("F1", "F2", "facility"), ("F1", "F3", "facility")],
        "parent_facility_reference string, child_reference string, child_type string",
    )
    return RawBundle(
        counterparties=cps, loans=loans, facilities=facilities, facility_mappings=mappings
    )


def test_pack_propagates_to_facility_waterfall(spark):
    """Regime-divergent CCF tables must reorder the MOF waterfall: the
    configured pack has to reach facility_undrawn_exposures through
    run_pipeline → run_hierarchy (the round-2 bug passed CRR_PACK always)."""
    from dataclasses import replace as dc_replace
    from decimal import Decimal

    bundle = _mof_bundle(spark)

    # CRR ordering: medium_risk (0.5) before medium_low_risk (0.2)
    out_crr = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    rows = {r.exposure_reference: r.ead for r in out_crr.results.collect()}
    assert rows["F1_UNDRAWN_F2"] == pytest.approx(600 * 0.5)  # headroom 600, CCF 0.5
    assert rows["F1_UNDRAWN_F3"] == pytest.approx(400 * 0.2)  # residual headroom 400

    # flipped pack: medium_low_risk now carries the HIGHER CCF → F3 first
    flipped = dc_replace(
        CRR_PACK,
        tables={
            **CRR_PACK.tables,
            "ccf": (
                "risk_bucket string, ccf double",
                (
                    ("full_risk", Decimal("1.0")),
                    ("medium_risk", Decimal("0.2")),
                    ("medium_low_risk", Decimal("0.9")),
                    ("low_risk", Decimal("0.0")),
                ),
            ),
        },
    )
    out_flip = run_pipeline(bundle, PipelineConfig(pack=flipped))
    rows = {r.exposure_reference: r.ead for r in out_flip.results.collect()}
    assert rows["F1_UNDRAWN_F3"] == pytest.approx(600 * 0.9)
    assert rows["F1_UNDRAWN_F2"] == pytest.approx(400 * 0.2)


def test_b31_ccf_table_diverges_from_crr(spark):
    """B3.1 CCFs genuinely diverge (BCBS CRE20.94-101): other commitments
    20%→40%, UCC 0%→10% — pinned end-to-end through the pipeline."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 0.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    conts = _df(
        spark,
        [
            ("C1", "CP1", 1000.0, "medium_low_risk", False, None, None, None),
            ("C2", "CP1", 1000.0, "low_risk", False, None, None, None),
        ],
        "contingent_reference string, counterparty_reference string, nominal_amount double, "
        "risk_bucket string, is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    bundle = RawBundle(counterparties=cps, loans=loans, contingents=conts)
    crr = {r.exposure_reference: r.ead for r in run_pipeline(bundle, PipelineConfig(pack=CRR_PACK)).results.collect()}
    b31 = {r.exposure_reference: r.ead for r in run_pipeline(bundle, PipelineConfig(pack=B31_PACK)).results.collect()}
    assert crr["C1"] == pytest.approx(200.0) and b31["C1"] == pytest.approx(400.0)
    assert crr["C2"] == pytest.approx(0.0) and b31["C2"] == pytest.approx(100.0)


def test_fx_converts_side_frames(spark):
    """Collateral, provisions and equity market values in foreign currency
    convert at load (ADVICE r2 high: previously only loans/contingents/
    facility limits converted — unconverted USD collateral netted against
    converted EAD)."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    collateral = _df(
        spark,
        [("COL1", 500.0, 0.0, False, "USD")],
        "collateral_reference string, market_value double, haircut double, "
        "currency_mismatch boolean, currency string",
    )
    links = _df(spark, [("COL1", "L1")], "collateral_reference string, exposure_reference string")
    provisions = _df(
        spark,
        [("L1", "direct", 100.0, "USD")],
        "beneficiary_reference string, beneficiary_type string, amount double, currency string",
    )
    equity = _df(
        spark,
        [("E1", "CP1", 1000.0, False, "USD")],
        "exposure_reference string, counterparty_reference string, market_value double, "
        "is_exchange_traded boolean, currency string",
    )
    fx = _df(spark, [("USD", 0.8)], "currency string, rate_to_reporting double")
    bundle = RawBundle(
        counterparties=cps,
        loans=loans,
        collateral=collateral,
        collateral_links=links,
        provisions=provisions,
        equity_exposures=equity,
        fx_rates=fx,
    )
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # provision 100 USD → 80: EAD = 1000 − 80 = 920
    assert rows["L1"].ead == pytest.approx(920.0)
    # collateral 500 USD → 400: EAD* = 920 − 400 = 520
    assert rows["L1"].ead_after_crm == pytest.approx(520.0)
    # equity market value 1000 USD → 800 at RW 370%
    assert rows["E1"].ead == pytest.approx(800.0)
    assert rows["E1"].rwa == pytest.approx(800 * 3.7)


@pytest.fixture()
def scope_bundle(spark):
    """Registry E0 → E1 → E2; books B1→E1, B2→E2, B9→unknown entity;
    loans across mapped, unmapped and intragroup-tagged books."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 100.0, False, None, None, None, "B1", None),
            ("L2", "CP1", 100.0, False, None, None, None, "B2", None),
            ("L3", "CP1", 100.0, False, None, None, None, "B3", None),  # unmapped book
            ("L4", "CP1", 100.0, False, None, None, None, "B1", "E2"),  # intragroup
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double, "
        "book_code string, intragroup_entity_reference string",
    )
    registry = _df(
        spark,
        [("E0", None), ("E1", "E0"), ("E2", "E1")],
        "entity_reference string, parent_entity_reference string",
    )
    mapping = _df(
        spark,
        [("B1", "E1"), ("B2", "E2"), ("B9", "EUNKNOWN")],
        "book_code string, entity_reference string",
    )
    return RawBundle(
        counterparties=cps,
        loans=loans,
        reporting_entities=registry,
        book_entity_mappings=mapping,
    )


def test_scope_consolidated_filters_books_and_intragroup(spark, scope_bundle):
    out = run_pipeline(
        scope_bundle, PipelineConfig(pack=CRR_PACK, reporting_entity="E1")
    )
    refs = {r.exposure_reference for r in out.results.collect()}
    # L3 (unmapped book) excluded; L4 intragroup to member E2 eliminated
    assert refs == {"L1", "L2"}
    errs = {(r.code, r.key) for r in out.errors.collect()}
    assert ("SCP001", "B3") in errs  # unattributable book surfaced
    assert ("SCP002", "EUNKNOWN") in errs  # mapping to unregistered entity


def test_scope_individual_keeps_intragroup(spark, scope_bundle):
    out = run_pipeline(
        scope_bundle,
        PipelineConfig(pack=CRR_PACK, reporting_entity="E1", reporting_basis="individual"),
    )
    refs = {r.exposure_reference for r in out.results.collect()}
    # individual: entity alone (books of E1 only), intragroup rows KEPT
    assert refs == {"L1", "L4"}


def test_intragroup_zero_rw_art113_6(spark):
    """CRR Art.113(6) core-UK-group 0% RW (ref scope/resolver.py:233
    _cug_eligibility + sa/rw_adjustments.py): fires ONLY on an individual
    run where both the reporting entity and the tagged entity carry
    core_uk_group=True; the user-loadable carrier is clobbered."""
    from dataclasses import replace as dc_replace

    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            # intragroup to core-group member E2 → eligible on individual run
            ("L1", "CP1", 100.0, False, None, None, None, "B1", "E2", True),
            # intragroup to NON-core E3 → not eligible
            ("L2", "CP1", 100.0, False, None, None, None, "B1", "E3", False),
            # plain third-party row; smuggled True carrier must be clobbered
            ("L3", "CP1", 100.0, False, None, None, None, "B1", None, True),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double, "
        "book_code string, intragroup_entity_reference string, "
        "intragroup_zero_rw_eligible boolean",
    )
    registry = _df(
        spark,
        [("E0", None, True), ("E1", "E0", True), ("E2", "E1", True), ("E3", "E1", False)],
        "entity_reference string, parent_entity_reference string, core_uk_group boolean",
    )
    mapping = _df(
        spark,
        [("B1", "E1")],
        "book_code string, entity_reference string",
    )
    bundle = RawBundle(
        counterparties=cps,
        loans=loans,
        reporting_entities=registry,
        book_entity_mappings=mapping,
    )
    out = run_pipeline(
        bundle,
        PipelineConfig(pack=CRR_PACK, reporting_entity="E1", reporting_basis="individual"),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    assert rows["L1"].risk_weight == pytest.approx(0.0)
    assert rows["L1"].rw_source == "intragroup_art113_6"
    assert rows["L2"].risk_weight == pytest.approx(0.5)  # corporate cqs2
    assert rows["L3"].risk_weight == pytest.approx(0.5)  # smuggled True cleared
    assert rows["L3"].rw_source == "sa_cqs_lookup"

    # consolidated run: L1 is eliminated entirely; the carrier never fires
    out_c = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK, reporting_entity="E1"))
    rows_c = {r.exposure_reference: r for r in out_c.results.collect()}
    assert "L1" not in rows_c  # intragroup row eliminated on consolidation
    assert rows_c["L3"].risk_weight == pytest.approx(0.5)

    # reporting entity NOT in the core group → nothing eligible even solo
    registry_nc = _df(
        spark,
        [("E0", None, False), ("E1", "E0", False), ("E2", "E1", True)],
        "entity_reference string, parent_entity_reference string, core_uk_group boolean",
    )
    out_nc = run_pipeline(
        dc_replace(bundle, reporting_entities=registry_nc),
        PipelineConfig(pack=CRR_PACK, reporting_entity="E1", reporting_basis="individual"),
    )
    rows_nc = {r.exposure_reference: r for r in out_nc.results.collect()}
    assert rows_nc["L1"].risk_weight == pytest.approx(0.5)


def test_scope_unknown_entity_empties_selection(spark, scope_bundle):
    out = run_pipeline(
        scope_bundle, PipelineConfig(pack=CRR_PACK, reporting_entity="EX")
    )
    assert out.results.count() == 0
    codes = {r.code for r in out.errors.collect()}
    assert "SCP006" in codes


def test_ccr_sft_rows_enter_ledger(spark):
    """Trades and SFTs fold into the pipeline as synthetic exposures (ref
    engine/stages/ccr.py:160, sft.py:116): SA-CCR EAD = 1.4·(RC+PFE) per
    netting set, SFT E* = max(0, lent − collateral·(1−h)) — hand-computed,
    then risk-weighted like any loan."""
    cps = _df(
        spark,
        [
            ("CP1", "corporate", 2, False, 0.0, False),
            ("CP2", "institution", 1, False, 0.0, False),
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    trades = _df(
        spark,
        [
            ("T1", "NS1", "CP1", 100.0, 10000.0, "ir"),
            ("T2", "NS1", "CP1", -50.0, 20000.0, "fx"),
            ("T3", "NS2", "CP2", -200.0, 10000.0, "credit"),
        ],
        "trade_reference string, netting_set_reference string, counterparty_reference string, "
        "mtm double, notional double, asset_class string",
    )
    sft = _df(
        spark,
        [
            ("NSS1", "CP1", "lent", 1000.0, None),
            ("NSS1", "CP1", "collateral", 500.0, 0.2),
        ],
        "netting_set_reference string, counterparty_reference string, leg string, "
        "value double, haircut double",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, trades=trades, sft_trades=sft),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # NS1: RC = max(100-50, 0) = 50; PFE = 0.005·10000 + 0.04·20000 = 850
    assert rows["NS1_CCR"].ead == pytest.approx(1.4 * (50 + 850))
    assert rows["NS1_CCR"].rwa == pytest.approx(1.4 * 900 * 0.5)  # corporate cqs2
    # NS2: RC floored at 0; PFE = 0.05·10000 = 500
    assert rows["NS2_CCR"].ead == pytest.approx(1.4 * 500)
    assert rows["NS2_CCR"].rwa == pytest.approx(700 * 0.2)  # institution cqs1
    # SFT: E* = 1000 − 500·(1−0.2) = 600
    assert rows["NSS1_SFT"].ead == pytest.approx(600.0)
    assert out.results.count() == 4  # loan + 2 CCR sets + 1 SFT set


def test_saccr_margined_rc_and_pfe_multiplier(spark):
    """Margined RC (CRR Art.275(2)) and the Art.278(3) PFE multiplier inside
    the pipeline stage (ref engine/ccr/rc.py compute_rc_margined, pfe.py):
    RC = max(V−C, TH+MTA−NICA, 0); over-collateralised sets shrink PFE via
    min(1, F + (1−F)·e^{(V−C)/(2(1−F)·AddOn)})."""
    import math

    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    trades = _df(
        spark,
        [
            # NS1 margined, under-collateralised: V=100, C=30
            ("T1", "NS1", "CP1", 100.0, 10000.0, "ir"),
            # NS2 margined, over-collateralised: V=100, C=400 → multiplier <1
            ("T2", "NS2", "CP1", 100.0, 10000.0, "ir"),
            # NS3 unmargined with collateral: RC = max(V−C, 0)
            ("T3", "NS3", "CP1", 100.0, 10000.0, "ir"),
        ],
        "trade_reference string, netting_set_reference string, counterparty_reference string, "
        "mtm double, notional double, asset_class string",
    )
    margins = _df(
        spark,
        [("NS1", 80.0, 10.0, 5.0), ("NS2", 0.0, 0.0, 0.0)],
        "netting_set_reference string, threshold double, mta double, nica double",
    )
    coll = _df(
        spark,
        [("NS1", 30.0, None), ("NS2", 400.0, 0.0), ("NS3", 40.0, None)],
        "netting_set_reference string, value double, haircut double",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps,
            loans=loans,
            trades=trades,
            margin_agreements=margins,
            ccr_collateral=coll,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    addon = 0.005 * 10000.0  # ir SF × notional = 50

    # NS1: RC = max(100−30, 80+10−5, 0) = max(70, 85) = 85; V−C=70>0 → mult 1
    assert rows["NS1_CCR"].ead == pytest.approx(1.4 * (85 + addon))
    # NS2: V−C = −300 → RC = 0, mult = min(1, .05+.95·e^{−300/(2·0.95·50)})
    m2 = min(1.0, 0.05 + 0.95 * math.exp(-300.0 / (2 * 0.95 * addon)))
    assert rows["NS2_CCR"].ead == pytest.approx(1.4 * m2 * addon)
    assert m2 < 1.0  # the multiplier genuinely engaged
    # NS3 (no margin row): RC = max(100−40, 0) = 60, mult 1
    assert rows["NS3_CCR"].ead == pytest.approx(1.4 * (60 + addon))


def test_securitisation_stage_conserves_and_routes(spark):
    """Allocated slices leave the loan book, pools route to SEC-SA (ref
    engine/stages/securitisation.py, aggregator/_securitisation.py):
    retained + pool EAD = original drawn, pool RW = max(15%, 12.5·K_SA·p)."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    allocs = _df(
        spark,
        [("L1", "P1", 0.3), ("L1", "P2", 0.2)],
        "exposure_reference string, pool_reference string, allocation_pct double",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, securitisation_allocations=allocs),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    assert rows["L1"].ead == pytest.approx(500.0)  # retained 50%
    assert rows["SEC_P1"].ead == pytest.approx(300.0)
    assert rows["SEC_P2"].ead == pytest.approx(200.0)
    assert rows["SEC_P1"].approach == "SEC-SA"
    assert rows["SEC_P1"].risk_weight == pytest.approx(1.0)  # max(0.15, 0.08·12.5·1)
    total_ead = sum(r.ead for r in rows.values())
    assert total_ead == pytest.approx(1000.0)  # conservation across the split


def test_secsa_ssfa_tranches(spark):
    """Full SSFA tranche closed form (BCBS CRE41.16-18 / CRR Art.261-262,
    functions/secsa.py — beyond the reference's placeholder pool RWA):
    with W=0.1, K_A = 0.9·0.08 + 0.05 = 0.122, the three tranches cover
    all three branches — D ≤ K_A (1250%), straddle, A ≥ K_A — and the
    nominal splits by tranche width so EAD conservation still holds."""
    import math

    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    allocs = _df(
        spark,
        [("L1", "P1", 0.5)],
        "exposure_reference string, pool_reference string, allocation_pct double",
    )
    tranches = _df(
        spark,
        [
            ("P1", "JUN", 0.0, 0.05, 0.1),
            ("P1", "MEZ", 0.05, 0.15, 0.1),
            ("P1", "SEN", 0.15, 1.0, 0.1),
        ],
        "pool_reference string, tranche_reference string, attachment double, "
        "detachment double, w_delinquent double",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps,
            loans=loans,
            securitisation_allocations=allocs,
            securitisation_tranches=tranches,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}

    ka = 0.9 * 0.08 + 0.5 * 0.1  # 0.122
    a = -1.0 / ka

    def kssfa(lo, u):
        return (math.exp(a * u) - math.exp(a * lo)) / (a * (u - lo))

    # junior: fully below K_A → 1250%
    assert rows["SEC_P1_JUN"].risk_weight == pytest.approx(12.5)
    # mezzanine straddles K_A: sub-K_A slice at 1250%, rest at 12.5·K_SSFA
    ks_mez = kssfa(0.0, 0.15 - ka)
    exp_mez = ((ka - 0.05) + (0.15 - ka) * ks_mez) * 12.5 / 0.10
    assert rows["SEC_P1_MEZ"].risk_weight == pytest.approx(exp_mez, rel=1e-12)
    # senior: entirely above K_A
    exp_sen = max(12.5 * kssfa(0.15 - ka, 1.0 - ka), 0.15)
    assert rows["SEC_P1_SEN"].risk_weight == pytest.approx(exp_sen, rel=1e-12)
    for t in ("JUN", "MEZ", "SEN"):
        assert rows[f"SEC_P1_{t}"].rw_source == "sec_sa_ssfa"
        assert rows[f"SEC_P1_{t}"].approach == "SEC-SA"
    # tranche nominal = pool amount × width; conservation across the split
    assert rows["SEC_P1_JUN"].ead == pytest.approx(500.0 * 0.05)
    assert rows["SEC_P1_SEN"].ead == pytest.approx(500.0 * 0.85)
    assert sum(r.ead for r in rows.values()) == pytest.approx(1000.0)
    # monotonicity: seniority never increases the risk weight
    assert (
        rows["SEC_P1_JUN"].risk_weight
        >= rows["SEC_P1_MEZ"].risk_weight
        >= rows["SEC_P1_SEN"].risk_weight
    )


def test_re_split_stage(spark):
    """RE-secured tranche split (ref engine/stages/re_split/splitter.py:323,
    CRR Art.125): secured part capped at 80% of property value takes the
    35% RW; remainder keeps its class. RE collateral must NOT also FCCM-net."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    collateral = _df(
        spark,
        [("COLRE", 500.0, 0.0, False, "real_estate")],
        "collateral_reference string, market_value double, haircut double, "
        "currency_mismatch boolean, collateral_type string",
    )
    links = _df(
        spark, [("COLRE", "L1")], "collateral_reference string, exposure_reference string"
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, collateral=collateral, collateral_links=links
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # RE item excluded from FCCM: secured = min(1000, 0.8·500) = 400
    assert rows["L1_RESEC"].ead_after_crm == pytest.approx(400.0)
    assert rows["L1_RESEC"].risk_weight == pytest.approx(0.35)
    assert rows["L1"].ead_after_crm == pytest.approx(600.0)
    assert rows["L1"].risk_weight == pytest.approx(0.5)  # corporate cqs2 remainder
    total = sum(r.ead_after_crm for r in rows.values())
    assert total == pytest.approx(1000.0)  # split conserves post-CRM EAD


def test_irb_defaulted_treatment_and_el(spark):
    """Defaulted IRB exposures bypass Vasicek (CRR Art.153(1)(ii)/154(1)(i),
    ref engine/irb/adjustments.py apply_defaulted_treatment): A-IRB
    K = max(0, LGD − BEEL) ×12.5 with no maturity adjustment, F-IRB RW = 0.
    EL shortfall/excess compares EL against allocated provisions
    (Art.158-159)."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 1000.0, True, None, 0.45, None, 0.20),  # A-IRB defaulted
            ("L2", "CP1", 1000.0, True, None, 0.45, None, None),  # F-IRB defaulted
            ("L3", "CP1", 1000.0, False, 0.01, 0.45, 2.5, None),  # performing
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double, el_be double",
    )
    provisions = _df(
        spark,
        [("L3", "direct", 10.0)],
        "beneficiary_reference string, beneficiary_type string, amount double",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, provisions=provisions),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # A-IRB: RW = 12.5 · max(0, 0.45 − 0.20) = 3.125
    assert rows["L1"].risk_weight == pytest.approx(12.5 * 0.25)
    assert rows["L1"].rwa == pytest.approx(1000 * 3.125)
    assert rows["L1"].rw_source == "irb_defaulted_airb"
    assert rows["L1"].expected_loss == pytest.approx(0.20 * 1000)
    # F-IRB: RW 0, EL = LGD·EAD
    assert rows["L2"].risk_weight == pytest.approx(0.0)
    assert rows["L2"].rw_source == "irb_defaulted_firb"
    assert rows["L2"].expected_loss == pytest.approx(0.45 * 1000)
    # performing: EL = PD·LGD·EAD = 4.5; provisions 10 (no IRB deduction)
    assert rows["L3"].ead == pytest.approx(1000.0)  # pass-through, not deducted
    assert rows["L3"].provision_allocated == pytest.approx(10.0)
    assert rows["L3"].expected_loss == pytest.approx(0.01 * 0.45 * 1000)
    assert rows["L3"].el_shortfall == pytest.approx(0.0)
    assert rows["L3"].el_excess == pytest.approx(10.0 - 4.5)


def test_facility_provision_cascade(spark):
    """Facility-level provisions cascade over the named facility's
    descendant subtree (ref engine/crm/provisions.py facility cascade;
    ADVICE r2: previously unreachable — exposures carried no
    parent_facility_reference)."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 600.0, False, None, None, None),  # under sub F2
            ("L2", "CP1", 300.0, False, None, None, None),  # directly under F1
            ("L3", "CP1", 500.0, False, None, None, None),  # unmapped
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    facilities = _df(
        spark,
        [("F1", "CP1", 10000.0, False, None), ("F2", "CP1", 10000.0, False, None)],
        "facility_reference string, counterparty_reference string, limit double, "
        "committed boolean, risk_bucket string",
    )
    mappings = _df(
        spark,
        [("F1", "F2", "facility"), ("F2", "L1", "loan"), ("F1", "L2", "loan")],
        "parent_facility_reference string, child_reference string, child_type string",
    )
    provisions = _df(
        spark,
        [("F1", "facility", 90.0), ("XX", None, 999.0)],  # null type row DROPPED
        "beneficiary_reference string, beneficiary_type string, amount double",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps,
            loans=loans,
            facilities=facilities,
            facility_mappings=mappings,
            provisions=provisions,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # F1's subtree = {F1, F2}: members L1 (600) + L2 (300); 90 splits 60/30
    assert rows["L1"].provision_allocated == pytest.approx(60.0)
    assert rows["L2"].provision_allocated == pytest.approx(30.0)
    assert rows["L3"].provision_allocated == pytest.approx(0.0)
    # SA drawn-first deduction flows into EAD
    assert rows["L1"].ead == pytest.approx(540.0)
    assert rows["L2"].ead == pytest.approx(270.0)
    # the null-typed 999 row influenced nothing
    total_prov = sum(r.provision_allocated for r in rows.values())
    assert total_prov == pytest.approx(90.0)


def test_provision_basis_clips_negative_drawn(spark):
    """Counterparty-level pro-rata weights clip negative drawn to zero
    (ADVICE r2: an unclipped negative drawn gives the sibling >100%)."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 750.0, False, None, None, None),
            ("L2", "CP1", -250.0, False, None, None, None),
            ("L3", "CP1", 250.0, False, None, None, None),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    provisions = _df(
        spark,
        [("CP1", "counterparty", 100.0)],
        "beneficiary_reference string, beneficiary_type string, amount double",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, provisions=provisions),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # basis clips L2 to 0: denominators 750+0+250; shares 75/0/25
    assert rows["L1"].provision_allocated == pytest.approx(75.0)
    assert rows["L2"].provision_allocated == pytest.approx(0.0)
    assert rows["L3"].provision_allocated == pytest.approx(25.0)


def test_banded_haircut_derivation_and_maturity_mismatch(spark):
    """Haircuts derive from (type × CQS × maturity band) when no haircut
    column is supplied (CRR Art.224 Table 1, ref engine/crm/haircut_tables.py),
    with the Art.239 maturity-mismatch adjustment per (item, exposure) pair."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 1000.0, False, None, None, 2.5),
            ("L2", "CP1", 1000.0, False, None, None, 5.0),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    # NO haircut column: derived from attributes
    collateral = _df(
        spark,
        [
            ("C1", 500.0, False, "govt_bond", 1, 3.0),  # CQS1 1-5y → 2%
            ("C2", 500.0, False, "gold", None, None),  # gold → 15%
            ("C3", 500.0, False, "corp_bond", 2, 1.0),  # CQS2 0-1y → 2%, mty 1.0
        ],
        "collateral_reference string, market_value double, currency_mismatch boolean, "
        "collateral_type string, collateral_cqs int, residual_maturity double",
    )
    links = _df(
        spark,
        [("C1", "L1"), ("C2", "L1"), ("C3", "L2")],
        "collateral_reference string, exposure_reference string",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, collateral=collateral, collateral_links=links
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # L1 (maturity 2.5): C1 500·0.98 = 490 (t=min(3,2.5)=2.5, no mismatch)
    #                  + C2 500·0.85 = 425 (gold, no maturity) → 915
    assert rows["L1"].collateral_value == pytest.approx(490.0 + 425.0)
    # L2 (maturity 5): C3 500·0.98 = 490, mismatch (1−0.25)/(5−0.25)
    assert rows["L2"].collateral_value == pytest.approx(490.0 * 0.75 / 4.75)


def test_b31_haircuts_diverge(spark):
    """B3.1 raises the gold/equity haircuts (BCBS CRE22.52: gold 20%)."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    collateral = _df(
        spark,
        [("C1", 500.0, False, "gold", None, None)],
        "collateral_reference string, market_value double, currency_mismatch boolean, "
        "collateral_type string, collateral_cqs int, residual_maturity double",
    )
    links = _df(spark, [("C1", "L1")], "collateral_reference string, exposure_reference string")
    bundle = RawBundle(
        counterparties=cps, loans=loans, collateral=collateral, collateral_links=links
    )
    crr = {r.exposure_reference: r for r in run_pipeline(bundle, PipelineConfig(pack=CRR_PACK)).results.collect()}
    b31 = {r.exposure_reference: r for r in run_pipeline(bundle, PipelineConfig(pack=B31_PACK)).results.collect()}
    assert crr["L1"].collateral_value == pytest.approx(500 * 0.85)
    assert b31["L1"].collateral_value == pytest.approx(500 * 0.80)


def test_b31_five_band_haircuts(spark):
    """B3.1's 5 maturity bands come from pack data, not code: a 7y corp
    bond CQS1 takes 6% under B3.1 (5-10y band) vs 8% under CRR (5y+ band);
    a 12y one takes 12% vs CRR's 8% (PS1/26 Art.224 Table 1 long-end
    step-up)."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 1000.0, False, None, None, 20.0),
            ("L2", "CP1", 1000.0, False, None, None, 20.0),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    collateral = _df(
        spark,
        [
            ("C1", 100.0, False, "corp_bond", 1, 7.0),
            ("C2", 100.0, False, "corp_bond", 1, 12.0),
        ],
        "collateral_reference string, market_value double, currency_mismatch boolean, "
        "collateral_type string, collateral_cqs int, residual_maturity double",
    )
    links = _df(
        spark,
        [("C1", "L1"), ("C2", "L2")],
        "collateral_reference string, exposure_reference string",
    )
    bundle = RawBundle(
        counterparties=cps, loans=loans, collateral=collateral, collateral_links=links
    )
    # exposure maturity clips to 5y; collateral ≥ 5y → no maturity mismatch
    crr = {r.exposure_reference: r for r in run_pipeline(bundle, PipelineConfig(pack=CRR_PACK)).results.collect()}
    b31 = {r.exposure_reference: r for r in run_pipeline(bundle, PipelineConfig(pack=B31_PACK)).results.collect()}
    assert crr["L1"].collateral_value == pytest.approx(100 * 0.92)  # 5y+ 8%
    assert b31["L1"].collateral_value == pytest.approx(100 * 0.94)  # 5-10y 6%
    assert crr["L2"].collateral_value == pytest.approx(100 * 0.92)  # 5y+ 8%
    assert b31["L2"].collateral_value == pytest.approx(100 * 0.88)  # 10y+ 12%


def test_validation_scrubs_and_reports(spark):
    """Bad input surfaces a coded error row instead of silently flowing
    through (ref contracts/validation.py, DQ011 non-finite scrub + DQ002
    orphan FK; VERDICT r2 #9): NaN drawn scrubs to null (→ 0 EAD), unknown
    counterparties get a warning but still calculate as unrated SA."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", float("nan"), False, None, None, None),
            ("L2", "CP1", 1000.0, False, None, None, None),
            ("L3", "CPX", 500.0, False, None, None, None),  # orphan FK
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    out = run_pipeline(RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK))
    rows = {r.exposure_reference: r for r in out.results.collect()}
    assert rows["L1"].ead == pytest.approx(0.0)  # NaN → null → coalesce 0
    assert rows["L3"].risk_weight == pytest.approx(1.0)  # unrated SA fallback
    errs = {(r.code, r.key) for r in out.errors.collect()}
    assert ("DQ011", "L1") in errs
    assert ("DQ002", "CPX") in errs

    # halt="immediate" raises on the first error
    from rwa_calculator_spark.engine.stages.validate import PipelineHalt

    with pytest.raises(PipelineHalt):
        run_pipeline(
            RawBundle(counterparties=cps, loans=loans),
            PipelineConfig(pack=CRR_PACK, validation="immediate"),
        )


def test_threshold_fx_seam(spark):
    """CRR monetary thresholds are EUR bases × the run's EUR rate; B3.1
    thresholds are native (ref engine/thresholds.py "the FX seam" +
    fx_rate_sync.py). A 900k group sits under the EUR 1m retail threshold
    at rate 1.0, but above it at rate 0.85 (threshold 850k) — so the CRR
    classification flips to corporate while B3.1 (Feature off) keeps
    retail regardless of the supplied rate."""
    from rwa_calculator_spark.engine.rulepack import B31_PACK

    cps = _df(
        spark,
        [("CP1", "individual", 2, True, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 900_000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    fx = _df(
        spark,
        [("EUR", 0.85)],
        "currency string, rate_to_reporting double",
    )

    def cls(bundle, pack):
        out = run_pipeline(bundle, PipelineConfig(pack=pack))
        return out.results.collect()[0].exposure_class

    plain = RawBundle(counterparties=cps, loans=loans)
    with_fx = RawBundle(counterparties=cps, loans=loans, fx_rates=fx)
    assert cls(plain, CRR_PACK) == "retail"  # 900k ≤ 1m at rate 1.0
    assert cls(with_fx, CRR_PACK) == "corporate"  # 900k > 850k scaled
    assert cls(with_fx, B31_PACK) == "retail"  # native threshold, rate ignored


def test_eu_sovereign_domestic_currency_zero_rw(spark):
    """CRR Art.114(4)/(7) + Art.141 (ref engine/eu_sovereign.py): an EU
    central-government exposure denominated in the member state's domestic
    currency takes 0% RW; a foreign-currency exposure to the same
    sovereign keeps the CQS-ladder weight; non-EU sovereigns are
    unaffected."""
    cps = _df(
        spark,
        [
            ("SOV_DE", "sovereign", 3, False, 0.0, False, "DE"),
            ("SOV_US", "sovereign", 3, False, 0.0, False, "US"),
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean, "
        "country string",
    )
    loans = _df(
        spark,
        [
            ("L1", "SOV_DE", 1000.0, False, None, None, None, "EUR"),  # domestic
            ("L2", "SOV_DE", 1000.0, False, None, None, None, "USD"),  # foreign ccy
            ("L3", "SOV_US", 1000.0, False, None, None, None, "USD"),  # non-EU
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double, "
        "currency string",
    )
    out = run_pipeline(RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK))
    rows = {r.exposure_reference: r for r in out.results.collect()}
    assert rows["L1"].risk_weight == pytest.approx(0.0)
    assert rows["L1"].rw_source == "sovereign_eu_domestic"
    assert rows["L2"].risk_weight == pytest.approx(0.5)  # sovereign cqs3
    assert rows["L3"].risk_weight == pytest.approx(0.5)
    assert rows["L2"].rw_source == "sa_cqs_lookup"


def test_wwr_gate_splits_netting_sets(spark):
    """Wrong-way-risk gate (CRR Art.291; ref engine/ccr/wwr.py): a
    specific-WWR trade leaves its netting set into a single-trade
    synthetic set with LGD=100% override; CCR010/CCR011 warnings land on
    the error channel at netting-set grain."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    trades = _df(
        spark,
        [
            ("T1", "NS1", "CP1", 100.0, 10000.0, "ir", False, False),
            ("T2", "NS1", "CP1", 50.0, 20000.0, "ir", True, False),  # specific WWR
            ("T3", "NS2", "CP1", -10.0, 10000.0, "fx", False, True),  # general WWR
        ],
        "trade_reference string, netting_set_reference string, counterparty_reference string, "
        "mtm double, notional double, asset_class string, is_specific_wwr boolean, "
        "has_general_wwr_flag boolean",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, trades=trades),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # T2 carved out: NS1 keeps only T1 (RC=100, addon=0.005·10000=50);
    # the synthetic set carries T2 alone (RC=50, addon=0.005·20000=100)
    assert rows["NS1_CCR"].ead == pytest.approx(1.4 * (100 + 50))
    assert rows["NS1__wwr__T2_CCR"].ead == pytest.approx(1.4 * (50 + 100))
    errs = {(r.code, r.key) for r in out.errors.collect()}
    assert ("CCR010", "NS1") in errs
    assert ("CCR011", "NS2") in errs

    # Art.291(5)(c) LGD=100% carrier rides the synthetic exposure row
    # (consumed downstream by IRB; SA leaves lgd_used null by design)
    from rwa_calculator_spark.engine.stages.ccr_sft import ccr_exposures, wwr_gate

    gated, _ = wwr_gate(trades)
    shaped = {
        r.exposure_reference: r for r in ccr_exposures(gated, CRR_PACK).collect()
    }
    assert shaped["NS1__wwr__T2_CCR"].lgd == pytest.approx(1.0)
    assert shaped["NS1_CCR"].lgd is None


def test_pipeline_monotonicity_ladders(spark):
    """Pipeline-level perturbation ladders (ref tests/properties/
    test_monotonicity.py — stated on the full engine output, not the bare
    kernel): raising PD on a performing IRB loan never lowers its RWA in
    the pre-peak region; adding eligible collateral to an SA loan never
    raises RWA."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )

    def run_pd(pd):
        loans = _df(
            spark,
            [("L1", "CP1", 1000.0, False, pd, 0.45, 2.5)],
            "loan_reference string, counterparty_reference string, drawn_amount double, "
            "is_defaulted boolean, pd double, lgd double, effective_maturity double",
        )
        out = run_pipeline(
            RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK)
        )
        return out.results.collect()[0].rwa

    rwas = [run_pd(p) for p in (0.005, 0.01, 0.03)]
    assert rwas[0] < rwas[1] < rwas[2]

    cps_sa = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )

    def run_coll(mv):
        loans = _df(
            spark,
            [("L1", "CP1", 1000.0, False, None, None, None)],
            "loan_reference string, counterparty_reference string, drawn_amount double, "
            "is_defaulted boolean, pd double, lgd double, effective_maturity double",
        )
        coll = _df(
            spark,
            [("C1", "cash", mv, None)],
            "collateral_reference string, collateral_type string, market_value double, "
            "maturity_years double",
        )
        links = _df(
            spark,
            [("C1", "L1", 1.0)],
            "collateral_reference string, exposure_reference string, allocation_pct double",
        )
        out = run_pipeline(
            RawBundle(
                counterparties=cps_sa, loans=loans, collateral=coll, collateral_links=links
            ),
            PipelineConfig(pack=CRR_PACK),
        )
        return out.results.collect()[0].rwa

    rwas_c = [run_coll(v) for v in (0.0, 300.0, 700.0)]
    assert rwas_c[0] >= rwas_c[1] >= rwas_c[2]
    assert rwas_c[2] < rwas_c[0]  # the ladder genuinely engaged


def test_validation_duplicate_keys_and_negative_amounts(spark):
    """DQ004 duplicate keys + DQ012 negative principal (ref
    engine/stages/hierarchy/graph.py:437-488 first-wins edge dedup with
    DQ004): a duplicated org edge is warned AND deduplicated so the
    hierarchy closure cannot row-explode; duplicate loan keys and negative
    drawn amounts surface as warnings."""
    cps = _df(
        spark,
        [
            ("CP1", "corporate", 2, False, 0.0, False),
            ("P1", "corporate", 2, False, 0.0, False),
            ("P2", "corporate", 2, False, 0.0, False),
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 100.0, False, None, None, None),
            ("L1", "CP1", 100.0, False, None, None, None),  # duplicate key
            ("L2", "CP1", -50.0, False, None, None, None),  # negative drawn
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    org = _df(
        spark,
        [("CP1", "P1"), ("CP1", "P2")],  # conflicting duplicate edge
        "child_reference string, parent_reference string",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, org_mappings=org),
        PipelineConfig(pack=CRR_PACK),
    )
    errs = {(r.code, r.key) for r in out.errors.collect()}
    assert ("DQ004", "L1") in errs
    assert ("DQ004", "CP1") in errs
    assert ("DQ012", "L2") in errs
    # deterministic first edge (min parent) kept; no closure row explosion:
    # both L1 rows resolve to group P1, each appearing exactly once
    rows = out.results.collect()
    assert len(rows) == 3  # 2×L1 (duplicate keys flow, warned) + L2


def test_art138_agency_truth_table(spark):
    """Art.138 multi-rating rule unit cases (ref
    engine/stages/hierarchy/ratings.py:126): 1 agency → use it; 2 agencies
    → the worse (second-best of two); 3 agencies → second-best of the two
    lowest; short-term and stale per-agency assessments excluded."""
    import datetime as dt

    from rwa_calculator_spark.engine.stages.ratings import resolve_external_cqs

    d1, d2 = dt.date(2025, 1, 1), dt.date(2025, 6, 1)
    ratings = _df(
        spark,
        [
            # CP1: one agency → its CQS (2)
            ("CP1", "external", False, "AGA", d1, "R1", 2, None),
            # CP2: two agencies 1 and 3 → second-best = 3
            ("CP2", "external", False, "AGA", d1, "R2", 1, None),
            ("CP2", "external", False, "AGB", d1, "R3", 3, None),
            # CP3: three agencies 1, 2, 4 → two lowest {1,2} → second-best 2
            ("CP3", "external", False, "AGA", d1, "R4", 1, None),
            ("CP3", "external", False, "AGB", d1, "R5", 2, None),
            ("CP3", "external", False, "AGC", d1, "R6", 4, None),
            # CP4: stale AGA 5 superseded by newer AGA 1; AGB 3 → {1,3} → 3
            ("CP4", "external", False, "AGA", d1, "R7", 5, None),
            ("CP4", "external", False, "AGA", d2, "R8", 1, None),
            ("CP4", "external", False, "AGB", d1, "R9", 3, None),
            # CP5: short-term excluded → only AGB 4 remains
            ("CP5", "external", True, "AGA", d1, "R10", 1, None),
            ("CP5", "external", False, "AGB", d1, "R11", 4, None),
        ],
        "counterparty_reference string, rating_type string, is_short_term boolean, "
        "rating_agency string, rating_date date, rating_reference string, cqs int, pd double",
    )
    got = {r.counterparty_reference: r.external_cqs for r in resolve_external_cqs(ratings).collect()}
    assert got == {"CP1": 2, "CP2": 3, "CP3": 2, "CP4": 3, "CP5": 4}


def test_lending_group_threshold_crossing(spark):
    """CRR Art.123(c): the retail threshold tests the LENDING GROUP's total
    exposure — two managed-as-retail obligors whose individual exposures
    fit under £1M but whose group total crosses it must classify corporate
    (ref engine/stages/hierarchy/enrich.py:440 lending groups)."""
    cps = _df(
        spark,
        [
            ("CP1", "individual", 0, True, 0.0, False),
            ("CP2", "individual", 0, True, 0.0, False),
            ("CP3", "individual", 0, True, 0.0, False),  # not in any group
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 600_000.0, False, None, None, None),
            ("L2", "CP2", 600_000.0, False, None, None, None),
            ("L3", "CP3", 600_000.0, False, None, None, None),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    lending = _df(
        spark,
        [("CP1", "CP2")],
        "parent_counterparty_reference string, child_counterparty_reference string",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, lending_mappings=lending),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # group CP1+CP2 totals 1.2M > 1M → corporate; ungrouped CP3 stays retail
    assert rows["L1"].exposure_class == "corporate"
    assert rows["L2"].exposure_class == "corporate"
    assert rows["L3"].exposure_class == "retail"


def test_ciu_and_settlement_branches(spark):
    """CIU look-through weights each holding by its underlying class
    (CRR Art.132a); settlement risk charges failed trades by days-late band
    (Art.378) — both now flow through the pipeline into the unified
    summaries instead of living as standalone queries."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    ciu = _df(
        spark,
        [
            ("FUND1", "H1", "sovereign", 1000.0, 1),  # sov CQS1 → 0%
            ("FUND1", "H2", "corporate", 1000.0, 3),  # corp CQS3 → 100%
            ("FUND1", "H3", "equity", 500.0, None),  # equity → 370% (CRR)
        ],
        "fund_reference string, holding_reference string, underlying_class string, "
        "value double, holding_cqs int",
    )
    failed = _df(
        spark,
        [
            ("T1", "CP1", 1000.0, 10),  # 8% band
            ("T2", "CP1", 1000.0, 50),  # 100% band
            ("T3", "CP1", 1000.0, 2),  # under 5 days → no row
        ],
        "trade_reference string, counterparty_reference string, amount double, days_late int",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, ciu_holdings=ciu, failed_trades=failed),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    assert rows["FUND1_CIU_H1"].rwa == pytest.approx(0.0)
    assert rows["FUND1_CIU_H2"].rwa == pytest.approx(1000.0)
    assert rows["FUND1_CIU_H3"].rwa == pytest.approx(500 * 3.7)
    assert rows["T1_STL"].rwa == pytest.approx(1000 * 0.08 * 12.5)
    assert rows["T2_STL"].rwa == pytest.approx(1000 * 1.0 * 12.5)
    assert "T3_STL" not in rows
    approaches = {r.approach for r in out.summary_by_approach.collect()}
    assert approaches == {"SA", "CIU-LTA", "SETTLEMENT"}


def test_output_floor_uses_real_sa_equivalent(spark):
    """The Art.92(3) floor base is the IRB rows' RWA at their REAL SA
    weights (class × CQS ladder), not a flat 100% proxy: a low-PD IRB
    corporate cqs2 floors at 72.5% of ead·0.5."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, 0.001, 0.25, 2.5)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=B31_PACK)
    )
    row = out.results.collect()[0]
    # SA-equivalent: corporate cqs2 → RW 0.5 → std base 500
    assert row.rwa_sa_equivalent == pytest.approx(500.0)
    # modelled IRB RWA is far below 0.725·500 → the floor binds exactly
    p = out.portfolio.collect()[0]
    assert p.total_rwa == pytest.approx(0.725 * 500.0, abs=0.02)  # ±cents rounding


def test_value_domain_checks(spark):
    """DQ003: out-of-domain entity_type / cqs / risk_bucket / coverage_pct
    surface coded error rows (ref contracts/validation.py VALID_* sets)."""
    cps = _df(
        spark,
        [
            ("CP1", "corporate", 2, False, 0.0, False),
            ("CP2", "hedge_fund", 9, False, 0.0, False),  # bad type + cqs
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 100.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    conts = _df(
        spark,
        [("C1", "CP1", 100.0, "mega_risk", False, None, None, None)],
        "contingent_reference string, counterparty_reference string, nominal_amount double, "
        "risk_bucket string, is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    guarantees = _df(
        spark,
        [("L1", 1.7, "corporate", 2)],
        "exposure_reference string, coverage_pct double, guarantor_class string, guarantor_cqs int",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, contingents=conts, guarantees=guarantees),
        PipelineConfig(pack=CRR_PACK),
    )
    errs = {(r.code, r.key) for r in out.errors.collect()}
    assert ("DQ003", "hedge_fund") in errs
    assert ("DQ003", "CP2") in errs  # cqs 9
    assert ("DQ003", "mega_risk") in errs
    assert ("DQ003", "L1") in errs  # coverage 1.7


def test_sme_factor_tiers_and_infra_min(spark):
    """CRR2 Art.501 tiered SME factor blends 0.7619/0.85 around the EUR 2.5m
    group-drawn threshold; Art.501a infrastructure combines by
    most-beneficial min (ref supporting_factors.py get_effective_factor)."""
    cps = _df(
        spark,
        [
            ("CP1", "corporate", 2, False, 10_000_000.0, False, False),
            ("CP2", "corporate", 2, False, 10_000_000.0, False, True),  # infra
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean, "
        "is_infrastructure boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 2_000_000.0, False, None, None, None),
            ("L2", "CP1", 2_000_000.0, False, None, None, None),
            ("L3", "CP2", 1000.0, False, None, None, None),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    out = run_pipeline(RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK))
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # CP1 group drawn 4M > 2.5M: blended = (2.5M·0.7619 + 1.5M·0.85)/4M
    blended = (2_500_000 * 0.7619 + 1_500_000 * 0.85) / 4_000_000
    assert rows["L1"].rwa == pytest.approx(2_000_000 * 0.5 * blended)
    assert rows["L2"].rwa == pytest.approx(2_000_000 * 0.5 * blended)
    # CP2 qualifies for BOTH: min(SME 0.7619, infra 0.75) = 0.75 — the
    # infrastructure factor is the more beneficial of the two
    assert rows["L3"].rwa == pytest.approx(1000 * 0.5 * 0.75)


def test_infra_factor_applies_without_sme(spark):
    """Infrastructure factor 0.75 stands alone when the obligor is not an
    SME (revenue above the EUR 50m cutoff)."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 60_000_000.0, False, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean, "
        "is_infrastructure boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    out = run_pipeline(RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK))
    row = out.results.collect()[0]
    assert row.rwa == pytest.approx(1000 * 0.5 * 0.75)


def test_securitisation_conservation(spark, sf_dir):
    """Σ pool allocations + retained = Σ exposure amounts (the reference's
    conservation property on pool splits)."""
    from pyspark.sql import functions as F

    from rwa_calculator_spark.operators.securitisation import (
        build_allocation_column,
        explode_to_pools,
    )
    from rwa_calculator_spark.sources.star import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    allocations = (
        li.where(F.col("l_linenumber") <= 3)
        .select(
            F.concat(F.lit("L"), F.col("l_orderkey")).alias("exposure_reference"),
            F.concat(F.lit("POOL"), (F.col("l_suppkey") % 5)).alias("pool_reference"),
            F.lit(0.2).alias("allocation_pct"),
        )
        .distinct()
    )
    exposures = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.col("o_totalprice").alias("amount"),
    )
    with_allocs = build_allocation_column(allocations)
    assert with_allocs.where(F.col("is_over_allocated")).count() == 0
    # the nested column is a real ArrayType(StructType)
    dt = dict(with_allocs.dtypes)["pool_allocations"]
    assert dt.startswith("array<struct<")

    pools = explode_to_pools(exposures, with_allocs)
    total_in = o.agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))).collect()[0][0]
    total_out = pools.agg(
        F.sum(F.round(F.col("allocated_amount") * 100, 0).cast("long"))
    ).collect()[0][0]
    assert abs(total_in - total_out) <= pools.count()  # ≤1 cent rounding per slice


def test_capital_attribution_waterfall_invariant(spark):
    """The four drivers sum to delta per class, scaling driver is negative
    exactly on classes carrying scaled IRB RWA, and the supporting-factor
    driver is non-negative (removal can only raise RWA)."""
    from rwa_calculator_spark.engine.analysis import capital_attribution
    from tests.engine_fixtures import build_bundle

    bundle = build_bundle(spark, n_cp=300)
    crr = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    b31 = run_pipeline(bundle, PipelineConfig(pack=B31_PACK))
    rows = capital_attribution(crr, b31).collect()
    assert rows
    for r in rows:
        total = (
            r.scaling_impact
            + r.supporting_factor_impact
            + r.output_floor_impact
            + r.methodology_impact
        )
        assert total == pytest.approx(r.delta, abs=1e-6)
        assert r.scaling_impact <= 1e-9
        assert r.supporting_factor_impact >= -1e-9


def test_floor_transition_schedule_hand_computed(spark):
    """One IRB loan whose modelled RWA sits between 60% and 72.5% of the
    SA-equivalent: the floor must flip from non-binding to binding across
    the transitional years with hand-computed floored totals."""
    from rwa_calculator_spark.engine.analysis import floor_transition_schedule
    from rwa_calculator_spark.engine.rulepack import B31_PACK

    cps = _df(
        spark,
        [("CP1", "corporate", 3, False, 60_000_000.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    # low PD → modelled IRB RWA far below the 100% SA-equivalent weight
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, 0.001, 0.25, 1.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans),
        PipelineConfig(pack=B31_PACK),
    )
    sched = {r.year: r for r in floor_transition_schedule(spark, out).collect()}
    assert set(sched) == {2027, 2028, 2029, 2030}
    row = sched[2030]
    # B3.1 Table 6 corporate CQS3 → 75% (round 8 regime-split ladder)
    assert row.std_total == pytest.approx(750.0)
    assert row.floor_alpha == 0.725
    # modelled K(pd=0.001 floored to 0.0005... pd=0.001 > floor) is small →
    # floor binds at every transitional percentage
    assert row.modelled_total < 0.60 * row.std_total
    for y, alpha in ((2027, 0.60), (2028, 0.65), (2029, 0.70), (2030, 0.725)):
        r = sched[y]
        assert r.floor_binding
        assert r.rwa_floored == pytest.approx(alpha * r.std_total)
        assert r.floor_addon == pytest.approx(alpha * r.std_total - r.modelled_total)


def test_saccr_mpor_maturity_factor_in_pipeline(spark):
    """Art.285 MPOR cascade → Art.279c(2) margined MF inside ccr_exposures
    (ref engine/ccr/maturity_factor.py): engaged only when the margin frame
    carries remargin_days; illiquid trades upgrade the 10-BD base to 20,
    disputes double it, the remargining cadence adds (N−1), and the
    firm-supplied floor binds from below. MF scales the PFE add-on only."""
    import math

    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    trades = _df(
        spark,
        [
            # NS1: margined weekly, liquid, no disputes → MPOR 10+5−1 = 14
            ("T1", "NS1", "CP1", 100.0, 10000.0, "ir", False, False),
            # NS2: margined daily but illiquid + 3 disputed trades
            #      → base 20, doubled 40, +1−1 → 40
            ("T2", "NS2", "CP1", 100.0, 10000.0, "ir", True, True),
            ("T3", "NS2", "CP1", 0.0, 0.0, "ir", False, True),
            ("T4", "NS2", "CP1", 0.0, 0.0, "ir", False, True),
            # NS3: unmargined → MF stays 1
            ("T5", "NS3", "CP1", 100.0, 10000.0, "ir", False, False),
        ],
        "trade_reference string, netting_set_reference string, counterparty_reference string, "
        "mtm double, notional double, asset_class string, is_illiquid boolean, is_disputed boolean",
    )
    margins = _df(
        spark,
        # (set, TH, MTA, NICA, remargin_days, mpor_floor_days)
        [("NS1", 0.0, 0.0, 0.0, 5.0, None), ("NS2", 0.0, 0.0, 0.0, 1.0, 45.0)],
        "netting_set_reference string, threshold double, mta double, nica double, "
        "remargin_days double, mpor_floor_days double",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, trades=trades, margin_agreements=margins),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    addon = 0.005 * 10000.0  # ir SF × notional = 50

    mf1 = 1.5 * math.sqrt(14.0 / 250.0)
    assert rows["NS1_CCR"].ead == pytest.approx(1.4 * (100.0 + mf1 * addon))
    # NS2: cascade gives 40 but the firm floor 45 binds
    mf2 = 1.5 * math.sqrt(45.0 / 250.0)
    assert rows["NS2_CCR"].ead == pytest.approx(1.4 * (100.0 + mf2 * addon))
    # NS3 unmargined: RC = 100, MF = 1
    assert rows["NS3_CCR"].ead == pytest.approx(1.4 * (100.0 + addon))


def test_sec_irba_and_sts_variants(spark):
    """SEC-IRBA (CRR Art.259: SSFA with the pool's K_IRB and the
    supervisory p-formula p = max(0.3, A + B/N + C·K_IRB + D·LGD + E·M_T))
    and the STS SEC-SA halved p (Art.262(1)). The SEC-IRBA row's
    rwa_sa_equivalent keeps the SEC-SA-side number — the genuine
    Art.92(3) output-floor base."""
    import math

    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    allocs = _df(
        spark,
        [("L1", "P1", 0.3), ("L1", "P2", 0.3)],
        "exposure_reference string, pool_reference string, allocation_pct double",
    )
    tranches = _df(
        spark,
        [
            # P1: SEC-IRBA senior tranche (k_irb supplied)
            ("P1", "SEN", 0.2, 1.0, 0.0, False, 0.10, 20.0, 0.40, 3.0),
            # P2: SEC-SA STS senior tranche (no k_irb)
            ("P2", "SEN", 0.2, 1.0, 0.0, True, None, None, None, None),
        ],
        "pool_reference string, tranche_reference string, attachment double, "
        "detachment double, w_delinquent double, is_sts boolean, k_irb double, "
        "pool_n double, pool_lgd double, pool_maturity double",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps,
            loans=loans,
            securitisation_allocations=allocs,
            securitisation_tranches=tranches,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}

    def kssfa(a, lo, u):
        return (math.exp(a * u) - math.exp(a * lo)) / (a * (u - lo))

    def ssfa_rw(k, p, att, det):
        a = -1.0 / (p * k)
        if det <= k:
            return 12.5
        if att >= k:
            return max(12.5 * kssfa(a, att - k, det - k), 0.15)
        return max(((k - att) + (det - k) * kssfa(a, 0.0, det - k)) * 12.5 / (det - att), 0.15)

    # SEC-IRBA: p = max(0.3, 3.56/20 − 1.85·0.1 + 0.55·0.4 + 0.07·3) = 0.423
    p_irba = max(0.3, 3.56 / 20.0 - 1.85 * 0.10 + 0.55 * 0.40 + 0.07 * 3.0)
    assert p_irba == pytest.approx(0.423)
    r1 = rows["SEC_P1_SEN"]
    assert r1.approach == "SEC-IRBA" and r1.rw_source == "sec_irba_ssfa"
    assert r1.risk_weight == pytest.approx(ssfa_rw(0.10, p_irba, 0.2, 1.0), rel=1e-12)
    # floor base stays SEC-SA: K_A = 0.08, p = 1 (non-STS path of the SA rw)
    sa_rw_p1 = ssfa_rw(0.08, 1.0, 0.2, 1.0)
    assert r1.rwa_sa_equivalent == pytest.approx(r1.ead * sa_rw_p1, rel=1e-12)

    # STS SEC-SA: p halves → lower RW than the non-STS equivalent
    r2 = rows["SEC_P2_SEN"]
    assert r2.approach == "SEC-SA" and r2.rw_source == "sec_sa_ssfa"
    assert r2.risk_weight == pytest.approx(ssfa_rw(0.08, 0.5, 0.2, 1.0), rel=1e-12)
    assert r2.risk_weight <= sa_rw_p1


def test_ofcp_life_insurance_and_third_party_deposit(spark):
    """Other funded credit protection (ref engine/crm/life_insurance.py,
    third_party_deposit.py): life-insurance surrender value maps the
    insurer's institution RW through the Art.232(3) table onto the covered
    fraction (8% Hfx on currency mismatch, Art.233(3)); a third-party
    deposit substitutes the HOLDER's institution RW (Art.232(2)). Neither
    channel FCCM-nets — EAD is untouched."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False),
         ("CP2", "corporate", 2, False, 0.0, False),
         ("CP3", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None),
         ("L2", "CP2", 1000.0, False, None, None, None),
         ("L3", "CP3", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    coll = _df(
        spark,
        [
            # insurer CQS 1 → institution 20% → Art.232(3) map → 20%
            ("POL1", 200.0, "life_insurance", 1, False),
            # holder CQS 6 → institution 150% ≥ own 50% → no benefit
            ("DEP1", 100.0, "third_party_deposit", 6, False),
            # currency-mismatched policy: 8% Hfx on the value
            ("POL2", 100.0, "life_insurance", 1, True),
        ],
        "collateral_reference string, market_value double, collateral_type string, "
        "collateral_cqs int, currency_mismatch boolean",
    )
    links = _df(
        spark,
        [("POL1", "L1"), ("DEP1", "L2"), ("POL2", "L3")],
        "collateral_reference string, exposure_reference string",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, collateral=coll, collateral_links=links
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    # own RW corporate CQS2 = 50%; L1 covered 20% at 20%
    assert rows["L1"].ead_after_crm == pytest.approx(1000.0)  # no FCCM netting
    assert rows["L1"].risk_weight == pytest.approx(0.5 - 0.2 * (0.5 - 0.2))
    assert rows["L1"].rw_source.endswith("+ofcp")
    # L2: holder RW 150% never substitutes upward
    assert rows["L2"].risk_weight == pytest.approx(0.5)
    assert not rows["L2"].rw_source.endswith("+ofcp")
    # L3: value 100·0.92 = 92 → fraction 0.092
    assert rows["L3"].risk_weight == pytest.approx(0.5 - 0.092 * (0.5 - 0.2))


def test_fcsm_simple_method(spark):
    """Financial collateral simple method (CRR Art.222; ref
    engine/crm/simple_method.py): raw market values, collateral RW floored
    at 20% per item, same-currency cash at 0% (Art.222(4)), risk-weight
    substitution with NO EAD reduction — the comprehensive run of the same
    bundle nets EAD instead."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    coll = _df(
        spark,
        [
            ("C1", 300.0, "cash", None, False),      # same-ccy cash → 0%
            ("B1", 200.0, "govt_bond", 1, False),    # sov CQS1 0% → floor 20%
        ],
        "collateral_reference string, market_value double, collateral_type string, "
        "collateral_cqs int, currency_mismatch boolean",
    )
    links = _df(
        spark,
        [("C1", "L1"), ("B1", "L1")],
        "collateral_reference string, exposure_reference string",
    )
    bundle = RawBundle(
        counterparties=cps, loans=loans, collateral=coll, collateral_links=links
    )
    simple = run_pipeline(
        bundle, PipelineConfig(pack=CRR_PACK, collateral_method="simple")
    )
    r = {x.exposure_reference: x for x in simple.results.collect()}["L1"]
    # no EAD reduction; RW = 0.5 − 0.3·(0.5−0) − 0.2·(0.5−0.2) = 0.29
    assert r.ead_after_crm == pytest.approx(1000.0)
    assert r.risk_weight == pytest.approx(0.5 - 0.3 * 0.5 - 0.2 * 0.3)
    assert r.rw_source.endswith("+ofcp")

    comp = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    rc = {x.exposure_reference: x for x in comp.results.collect()}["L1"]
    # comprehensive method nets EAD instead (cash 0% haircut, bond CQS1
    # banded haircut) and leaves the RW at the unsubstituted 50%
    assert rc.ead_after_crm < 1000.0
    assert rc.risk_weight == pytest.approx(0.5)


def test_dq005_orphan_collateral_links(spark):
    """DQ005 (ref contracts/validation.py anti-join orphan detection): a
    collateral link naming an unknown item or an unknown exposure surfaces
    a coded warning instead of silently vanishing in CRM's inner joins."""
    from rwa_calculator_spark.engine.stages.validate import run_validation

    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 1000.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    coll = _df(
        spark,
        [("COL1", 100.0, 0.0, False)],
        "collateral_reference string, market_value double, haircut double, currency_mismatch boolean",
    )
    links = _df(
        spark,
        [("COL1", "L1"), ("COLX", "L1"), ("COL1", "LX")],
        "collateral_reference string, exposure_reference string",
    )
    errors = run_validation(
        RawBundle(counterparties=cps, loans=loans, collateral=coll, collateral_links=links)
    ).errors
    dq5 = {(r.key) for r in errors.collect() if r.code == "DQ005"}
    assert dq5 == {"COLX", "LX"}


def test_covered_bond_derivation_diverges_by_regime(spark):
    """CRR Art.129(5)(b) maps a 50% issuer weight to 20%; PS1/26 maps it
    to 25% — the derivation table is pack data, and reusing the CRR arm
    under B3.1 would understate by 5pp. Rated covered bonds price on the
    bond's OWN CQS (10% at CQS1) in both regimes; defaulted rows keep the
    defaulted weight."""
    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK

    cps = spark.createDataFrame(
        [("CP1", "institution", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        # (ref, cp, drawn, defaulted, is_cb, cb_cqs): unrated CB (issuer CQS2
        # -> 50% senior unsecured), rated CB at CQS1, plain loan, defaulted CB
        [
            ("L1", "CP1", 1000.0, False, True, 0),
            ("L2", "CP1", 1000.0, False, True, 1),
            ("L3", "CP1", 1000.0, False, False, 0),
            ("L4", "CP1", 1000.0, True, True, 1),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, is_covered_bond boolean, cb_cqs int",
    ).selectExpr(
        "*", "CAST(NULL AS DOUBLE) AS pd", "CAST(NULL AS DOUBLE) AS lgd",
        "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    bundle = RawBundle(counterparties=cps, loans=loans)

    def rw_by_ref(pack):
        out = run_pipeline(bundle, PipelineConfig(pack=pack))
        return {
            r.exposure_reference: (round(r.risk_weight, 6), r.rw_source)
            for r in out.results.collect()
        }

    crr = rw_by_ref(CRR_PACK)
    assert crr["L1"] == (0.2, "sa_covered_bond_unrated_derived")  # 50% -> 20%
    assert crr["L2"] == (0.1, "sa_covered_bond_rated")
    assert crr["L3"] == (0.5, "sa_cqs_lookup")  # plain institution CQS2
    assert crr["L4"][1] == "sa_defaulted"  # defaulted beats the CB override

    b31 = rw_by_ref(B31_PACK)
    # round-8 ladder split: the B3.1 ECRA CQS2 issuer weight is 30%
    # (Table 3), and the PS1/26 derivation chain maps 30% -> 15% —
    # reusing the CRR 50%->25% arm here would OVERSTATE by 10pp
    assert b31["L1"] == (0.15, "sa_covered_bond_unrated_derived")
    assert b31["L2"] == (0.1, "sa_covered_bond_rated")


def test_unrated_institution_sovereign_derived_vs_scra(spark):
    """CRR Art.121: unrated institutions take the sovereign-derived Table 5
    weight (CQS2 sovereign -> 50%). Basel 3.1 removed that Feature — the
    same bundle under B31 ignores sovereign_cqs and grades via SCRA when
    the carrier is present (Grade A 40%, B 75%, C 150%)."""
    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK

    cps = spark.createDataFrame(
        # unrated (CQS 0) institutions with sovereign_cqs + scra_grade carriers
        [
            ("CP1", "institution", 0, 2, "A", False, 0.0, False),
            ("CP2", "institution", 0, 6, "C", False, 0.0, False),
            ("CP3", "institution", 1, 2, "B", False, 0.0, False),  # rated: ladder wins
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "sovereign_cqs int, scra_grade string, is_managed_as_retail boolean, "
        "annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0), ("L2", "CP2", 1000.0), ("L3", "CP3", 1000.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "CAST(FALSE AS BOOLEAN) AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd", "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    bundle = RawBundle(counterparties=cps, loans=loans)

    crr = {
        r.exposure_reference: (round(r.risk_weight, 6), r.rw_source)
        for r in run_pipeline(bundle, PipelineConfig(pack=CRR_PACK)).results.collect()
    }
    assert crr["L1"] == (0.5, "sa_sovereign_derived")  # sov CQS2 -> 50%
    assert crr["L2"] == (1.5, "sa_sovereign_derived")  # sov CQS6 -> 150%
    assert crr["L3"] == (0.2, "sa_cqs_lookup")  # rated: own CQS1 -> 20%

    b31 = {
        r.exposure_reference: (round(r.risk_weight, 6), r.rw_source)
        for r in run_pipeline(bundle, PipelineConfig(pack=B31_PACK)).results.collect()
    }
    assert b31["L1"] == (0.4, "sa_scra")  # Grade A -> 40%; sovereign_cqs ignored
    assert b31["L2"] == (1.5, "sa_scra")  # Grade C -> 150%
    assert b31["L3"] == (0.2, "sa_cqs_lookup")


def test_rgla_sovereign_not_pinned_to_zero(spark):
    """ref engine/sa/rgla.py: Art.115(2) RGLAs are priced on the Art.114
    CGCB ladder by their OWN CQS — 0% only at CQS1, 20% at CQS2 — while
    Art.115(1) RGLAs take the institution treatment."""
    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    cps = spark.createDataFrame(
        [
            ("CP1", "rgla_sovereign", 1, False, 0.0, False),
            ("CP2", "rgla_sovereign", 2, False, 0.0, False),
            ("CP3", "rgla", 1, False, 0.0, False),
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 1000.0), ("L2", "CP2", 1000.0), ("L3", "CP3", 1000.0)],
        "loan_reference string, counterparty_reference string, drawn_amount double",
    ).selectExpr(
        "*", "CAST(FALSE AS BOOLEAN) AS is_defaulted", "CAST(NULL AS DOUBLE) AS pd",
        "CAST(NULL AS DOUBLE) AS lgd", "CAST(NULL AS DOUBLE) AS effective_maturity",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=CRR_PACK)
    )
    got = {
        r.exposure_reference: (r.exposure_class, round(r.risk_weight, 6))
        for r in out.results.collect()
    }
    assert got["L1"] == ("sovereign", 0.0)  # CGCB ladder at CQS1
    assert got["L2"] == ("sovereign", 0.2)  # NOT a flat 0%
    # Art.115(1)(b): own-rating Table 1B (round 8 — RGLA is its own class,
    # no longer flattened to the institution treatment; CQS1 is 20% on
    # both ladders so the priced figure is unchanged)
    assert got["L3"] == ("rgla", 0.2)


def _py_irb_rw(pd, lgd, m, scaling, pd_floor, with_ma=True):
    """Python-backend mirror of the performing corporate IRB RW (no SME/FI
    routing): K(PD,LGD,R_corp)·MA·12.5·scaling."""
    from rwa_calculator_spark.functions.irb import (
        capital_k_r_v,
        correlation_v,
        maturity_adj_v,
    )
    from rwa_calculator_spark.functions.stats import PyB, V, py_normal_ppf

    pd_f = max(pd, pd_floor)
    g_pd = py_normal_ppf(pd_f)
    r = correlation_v(V(PyB, pd_f)).v
    k = capital_k_r_v(V(PyB, pd_f), V(PyB, lgd), V(PyB, g_pd), V(PyB, r)).v
    ma = maturity_adj_v(V(PyB, pd_f), V(PyB, m)).v if with_ma else 1.0
    return k * ma * 12.5 * scaling


def test_irb_guarantee_substitution_and_pd_substitution(spark):
    """IRB unfunded protection (ref engine/irb/guarantee.py
    apply_guarantee_substitution): SA guarantor -> RW substitution on the
    covered leg (Art.235); IRB guarantor (guarantor_pd) -> parameter
    substitution through the Vasicek kernel with the Art.161(1) supervisory
    LGD; non-beneficial guarantees are DECLINED (Art.193(1)), not capped.
    EL: SA guarantor keeps the retained share only; PD substitution adds
    PD_g·LGD_g on the covered leg (Art.161(3))."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 200_000_000.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 1000.0, False, 0.02, 0.45, 2.5),  # SA-guaranteed
            ("L2", "CP1", 1000.0, False, 0.02, 0.45, 2.5),  # PD-substituted
            ("L3", "CP1", 1000.0, False, 0.02, 0.45, 2.5),  # declined (worse RW)
            ("L4", "CP1", 1000.0, False, 0.02, 0.45, 2.5),  # unguaranteed
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    guarantees = _df(
        spark,
        [
            ("L1", 0.6, "institution", 1, None, None),
            ("L2", 0.5, "corporate", 1, 0.001, "senior"),
            ("L3", 0.5, "corporate", 5, None, None),  # SA RW 1.5 > own -> declined
        ],
        "exposure_reference string, coverage_pct double, guarantor_class string, "
        "guarantor_cqs int, guarantor_pd double, guarantor_seniority string",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, guarantees=guarantees),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}

    rw_own = _py_irb_rw(0.02, 0.45, 2.5, 1.06, 0.0003)
    el_own = 0.02 * 0.45 * 1000.0

    # L1: SA substitution — institution CQS1 -> 20%
    assert rows["L1"].risk_weight == pytest.approx(
        0.4 * rw_own + 0.6 * 0.2, rel=1e-9
    )
    assert rows["L1"].rw_source.endswith("+gsub_sa")
    assert rows["L1"].expected_loss == pytest.approx(0.4 * el_own, rel=1e-9)

    # L2: parameter substitution — guarantor PD 0.001, CRR F-IRB senior LGD 0.45
    rw_g = _py_irb_rw(0.001, 0.45, 2.5, 1.06, 0.0003)
    assert rows["L2"].risk_weight == pytest.approx(
        0.5 * rw_own + 0.5 * rw_g, rel=1e-9
    )
    assert rows["L2"].rw_source.endswith("+gsub_pd")
    assert rows["L2"].expected_loss == pytest.approx(
        0.5 * el_own + 0.001 * 0.45 * 0.5 * 1000.0, rel=1e-9
    )

    # L3: corporate CQS5 guarantor (SA RW 150%) is worse — declined outright
    assert rows["L3"].risk_weight == pytest.approx(rw_own, rel=1e-9)
    assert "+g" not in rows["L3"].rw_source
    assert rows["L3"].expected_loss == pytest.approx(el_own, rel=1e-9)

    # L4: untouched
    assert rows["L4"].risk_weight == pytest.approx(rw_own, rel=1e-9)


def test_irb_double_default_multiplier(spark):
    """CRR Art.153(3)/202-203 double default: A-IRB corporate underlying +
    eligible guarantor with an internal PD takes
    RW_dd = RW_obligor·(0.15+160·PD_g) on the covered leg when lower than
    the substitution RW; EL stays on the full obligor basis (DD modifies K,
    not EL). B3.1 gates DD off (not onshored in PS1/26) — the same row
    falls back to parameter substitution."""
    from rwa_calculator_spark.engine.bundles import CRMOutput
    from rwa_calculator_spark.engine.stages.calculators import run_irb

    schema = (
        "exposure_reference string, counterparty_reference string, "
        "exposure_class string, cqs int, has_irb_permission boolean, "
        "is_specialised boolean, is_defaulted boolean, pd double, lgd double, "
        "effective_maturity double, annual_revenue double, drawn_amount double, "
        "undrawn_amount double, ead double, ead_after_crm double, "
        "g_coverage double, g_class string, g_cqs int, guarantor_pd double, "
        "irb_subapproach string"
    )
    rows = [
        ("E1", "CP1", "corporate", 2, True, False, False, 0.02, 0.25, 2.5,
         200_000_000.0, 1000.0, 0.0, 1000.0, 1000.0,
         0.6, "institution", 1, 0.0003, "airb"),
        # F-IRB routed row: DD requires own-LGD permission -> substitution only
        ("E2", "CP1", "corporate", 2, True, False, False, 0.02, 0.25, 2.5,
         200_000_000.0, 1000.0, 0.0, 1000.0, 1000.0,
         0.6, "institution", 1, 0.0003, "firb"),
    ]
    crm = CRMOutput(exposures=_df(spark, rows, schema))

    for pack, scaling, pd_floor, lgd_sen in (
        (CRR_PACK, 1.06, 0.0003, 0.45),
        (B31_PACK, 1.0, 0.0005, 0.40),
    ):
        res = {r.exposure_reference: r for r in run_irb(crm, pack).results.collect()}
        rw_own = _py_irb_rw(0.02, 0.25, 2.5, scaling, pd_floor)
        pd_g = max(0.0003, pd_floor)
        rw_sub = _py_irb_rw(pd_g, lgd_sen, 2.5, scaling, pd_floor)
        rw_dd = rw_own * (0.15 + 160.0 * pd_g)
        if pack is CRR_PACK:
            # DD eligible and (here) beneficial vs substitution
            best = min(rw_sub, rw_dd)
            assert rw_dd < rw_sub  # scenario exercises the DD branch
            assert res["E1"].risk_weight == pytest.approx(
                0.4 * rw_own + 0.6 * best, rel=1e-9
            )
            assert res["E1"].rw_source.endswith("+gdd")
            # DD retains the FULL obligor EL
            assert res["E1"].expected_loss == pytest.approx(
                0.02 * 0.25 * 1000.0, rel=1e-9
            )
        else:
            # B3.1: DD unavailable -> parameter substitution on E1 too
            assert res["E1"].risk_weight == pytest.approx(
                0.4 * rw_own + 0.6 * rw_sub, rel=1e-9
            )
            assert res["E1"].rw_source.endswith("+gsub_pd")
        # F-IRB row never takes DD; always parameter substitution
        assert res["E2"].risk_weight == pytest.approx(
            0.4 * rw_own + 0.6 * rw_sub, rel=1e-9
        )
        assert res["E2"].rw_source.endswith("+gsub_pd")


def test_b31_currency_mismatch_and_due_diligence(spark):
    """PS1/26 Art.123B: ×1.5 RW multiplier (capped at 150%) for retail /
    residential-RE currency mismatch, waived by the is_hedged flag or ≥90%
    effective hedge coverage with the Art.123B(2A) revolving rescale onto
    the fully-drawn base; PS1/26 Art.110A: increase-only due-diligence
    override. Both are B3.1 Features — the CRR run is a no-op."""
    cps = _df(
        spark,
        [
            ("CPR", "individual", 0, True, 0.0, False),
            ("CPC", "corporate", 2, False, 0.0, False),
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            # retail, mismatch, unhedged -> 0.75 × 1.5 = 1.125
            ("R1", "CPR", 100.0, False, None, None, None,
             "GBP", "USD", False, None, False, None, None),
            # retail, mismatch, is_hedged flag -> waived
            ("R2", "CPR", 100.0, False, None, None, None,
             "GBP", "USD", True, None, False, None, None),
            # retail, mismatch, 95% coverage non-revolving -> waived
            ("R3", "CPR", 100.0, False, None, None, None,
             "GBP", "USD", False, 0.95, False, None, None),
            # revolving: 0.95 × 100/1000 = 9.5% effective -> applies
            ("R4", "CPR", 100.0, False, None, None, None,
             "GBP", "USD", False, 0.95, True, 1000.0, None),
            # no mismatch (income ccy == exposure ccy) -> unchanged
            ("R5", "CPR", 100.0, False, None, None, None,
             "GBP", "GBP", False, None, False, None, None),
            # corporate mismatch -> out of scope
            ("C1", "CPC", 100.0, False, None, None, None,
             "GBP", "USD", False, None, False, None, None),
            # corporate, due-diligence override 1.2 > 0.5 -> 1.2
            ("C2", "CPC", 100.0, False, None, None, None,
             "GBP", "GBP", False, None, False, None, 1.2),
            # override below the calculated RW -> increase-only, unchanged
            ("C3", "CPC", 100.0, False, None, None, None,
             "GBP", "GBP", False, None, False, None, 0.1),
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double, "
        "currency string, borrower_income_currency string, is_hedged boolean, "
        "hedge_coverage_ratio double, is_revolving boolean, facility_limit double, "
        "due_diligence_override_rw double",
    )
    bundle = RawBundle(counterparties=cps, loans=loans)

    b31 = {
        r.exposure_reference: r
        for r in run_pipeline(bundle, PipelineConfig(pack=B31_PACK)).results.collect()
    }
    assert b31["R1"].risk_weight == pytest.approx(0.75 * 1.5)
    assert b31["R1"].rw_source == "sa_retail+ccymm"
    assert b31["R2"].risk_weight == pytest.approx(0.75)
    assert b31["R3"].risk_weight == pytest.approx(0.75)
    assert b31["R4"].risk_weight == pytest.approx(0.75 * 1.5)
    assert b31["R5"].risk_weight == pytest.approx(0.75)
    assert b31["C1"].risk_weight == pytest.approx(0.5)  # corporate CQS2
    assert b31["C2"].risk_weight == pytest.approx(1.2)
    assert b31["C2"].rw_source == "sa_cqs_lookup+ddq"
    assert b31["C3"].risk_weight == pytest.approx(0.5)

    # CRR: both Features off -> no adjustment anywhere
    crr = {
        r.exposure_reference: r
        for r in run_pipeline(bundle, PipelineConfig(pack=CRR_PACK)).results.collect()
    }
    assert crr["R1"].risk_weight == pytest.approx(0.75)
    assert crr["C2"].risk_weight == pytest.approx(0.5)
    assert all("+ccymm" not in r.rw_source and "+ddq" not in r.rw_source
               for r in crr.values())


def test_b31_currency_mismatch_cap(spark):
    """Art.123B(1): the multiplied weight is capped at 150% — a defaulted
    retail row at 150% and an unrated-corporate-style retail row stay at
    the cap rather than 225%."""
    cps = _df(
        spark,
        [("CPR", "individual", 0, True, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("D1", "CPR", 100.0, True, None, None, None, "GBP", "USD")],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double, "
        "currency string, borrower_income_currency string",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans), PipelineConfig(pack=B31_PACK)
    )
    row = out.results.collect()[0]
    # defaulted RW 1.5 -> in scope? defaulted retail keeps class retail;
    # 1.5 × 1.5 = 2.25 capped to 1.5
    assert row.risk_weight == pytest.approx(1.5)


def test_slotting_maturity_band_and_hvcre_no_fanout(spark):
    """Art.153(5) Table A keys on (category, maturity band, HVCRE). A
    category-only join against the 20-row pack table fanned every slotted
    exposure out 4× — regression: one ledger row per input, the <2.5y
    preferential row only below 2.5y remaining maturity (unknown maturity
    takes the long row), HVCRE rows on the HVCRE curve."""
    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False),
         ("CP2", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 1000.0, False, None, None, None),  # unknown -> long
            ("L2", "CP1", 1000.0, False, None, None, 1.5),   # short band
            ("L3", "CP2", 1000.0, False, None, None, 4.0),   # HVCRE long
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    sl = _df(
        spark,
        [("CP1", "good", False), ("CP2", "good", True)],
        "counterparty_reference string, slot_category string, is_hvcre boolean",
    )
    out = run_pipeline(
        RawBundle(counterparties=cps, loans=loans, specialised_lending=sl),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r.exposure_reference: r for r in out.results.collect()}
    assert len(rows) == 3  # no fan-out
    assert rows["L1"].risk_weight == pytest.approx(0.90)   # good, long
    assert rows["L1"].expected_loss == pytest.approx(0.008 * 1000)
    assert rows["L2"].risk_weight == pytest.approx(0.70)   # good, <2.5y
    assert rows["L2"].expected_loss == pytest.approx(0.004 * 1000)
    assert rows["L2"].maturity_used == pytest.approx(1.5)
    assert rows["L3"].risk_weight == pytest.approx(1.20)   # good, HVCRE


def test_equity_pd_lgd_approach(spark):
    """CRR Art.155(3)/165 PD/LGD equity: corporate Vasicek K at the
    supervisory parameters (PD floor 0.40% listed / 1.25% other, LGD 65%
    diversified PE / 90% other, M=5), ×1.06 scaling, ×1.5 where Art.178
    default-definition data is lacking, RWEA capped at EAD·12.5 − EL·12.5.
    B3.1 ignores the election (PS1/26 Art.133 removes IRB equity)."""
    from rwa_calculator_spark.engine.stages.calculators import run_equity
    from rwa_calculator_spark.functions.irb import (
        capital_k_r_v,
        correlation_v,
        maturity_adj_v,
    )
    from rwa_calculator_spark.functions.stats import PyB, V, py_normal_ppf

    eq = _df(
        spark,
        [
            ("E1", "CP1", 1000.0, True, False, True, True),
            ("E2", "CP1", 1000.0, False, True, False, True),
            ("E3", "CP1", 1000.0, True, False, True, False),  # simple 290%
        ],
        "exposure_reference string, counterparty_reference string, "
        "market_value double, is_exchange_traded boolean, is_diversified_pe boolean, "
        "has_default_definition_info boolean, use_pd_lgd boolean",
    )

    def rw_py(pd, lgd, scale):
        g = py_normal_ppf(pd)
        r = correlation_v(V(PyB, pd)).v
        k = capital_k_r_v(V(PyB, pd), V(PyB, lgd), V(PyB, g), V(PyB, r)).v
        ma = maturity_adj_v(V(PyB, pd), V(PyB, 5.0)).v
        return ((k * ma) * 12.5) * 1.06 * scale

    crr = {r.exposure_reference: r for r in run_equity(eq, CRR_PACK).results.collect()}
    # E1: listed floor 0.40%, LGD 90%, has default data -> no 1.5×
    assert crr["E1"].risk_weight == pytest.approx(rw_py(0.004, 0.9, 1.0), rel=1e-9)
    assert crr["E1"].rwa == pytest.approx(crr["E1"].risk_weight * 1000.0, rel=1e-9)
    assert crr["E1"].expected_loss == pytest.approx(0.004 * 0.9 * 1000.0, rel=1e-9)
    assert crr["E1"].rw_source == "equity_pd_lgd"
    # E2: other floor 1.25%, diversified-PE LGD 65%, ×1.5 no-default-data
    assert crr["E2"].risk_weight == pytest.approx(rw_py(0.0125, 0.65, 1.5), rel=1e-9)
    # cap never binds at supervisory params (rw ≪ 12.5·(1−EL rate))
    assert crr["E2"].rwa == pytest.approx(crr["E2"].risk_weight * 1000.0, rel=1e-9)
    # E3: stays on the simple method
    assert crr["E3"].risk_weight == pytest.approx(2.9)
    assert crr["E3"].rw_source == "equity_irb_simple"

    # B3.1: election ignored, everything on SA 250%/400%
    b31 = {r.exposure_reference: r for r in run_equity(eq, B31_PACK).results.collect()}
    assert all(r.rw_source == "equity_sa" for r in b31.values())
    assert b31["E1"].risk_weight == pytest.approx(2.5)


def test_ccf_firb_routing_and_oc_maturity_split(spark):
    """CRR Art.166(8)/(10) F-IRB CCFs for IRB-routed off-balance rows (75%
    commitments / credit lines, 20% short-term trade-LC carve-out, Annex I
    fallback for issued items) and the CRR Annex I 2(b)/3(b) original-
    maturity split on SA "other commitments" (50% → 20% at ≤ 1 year).
    Both are carrier-gated; B3.1 retires both (PS1/26 Art.166C reads the
    SA Table A1 CCFs)."""
    cps = _df(
        spark,
        [("CPS", "corporate", 2, False, 0.0, False),
         ("CPI", "corporate", 2, False, 0.0, True)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L0", "CPI", 10.0, False, 0.01, 0.45, 2.5)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    conts = _df(
        spark,
        [
            # SA rows: OC maturity split on medium_risk
            ("K1", "CPS", 1000.0, "medium_risk", True, None, 0.5),
            ("K2", "CPS", 1000.0, "medium_risk", True, None, 2.0),
            ("K3", "CPS", 1000.0, "medium_risk", True, None, None),
            # IRB rows: Art.166(8) bespoke ladder
            ("K4", "CPI", 1000.0, "medium_risk", True, None, 0.5),
            ("K5", "CPI", 1000.0, "medium_low_risk", True, True, None),
            ("K6", "CPI", 1000.0, "medium_low_risk", True, None, None),
            ("K7", "CPI", 1000.0, "medium_risk", False, None, None),
            ("K8", "CPI", 1000.0, "full_risk", True, None, None),
        ],
        "contingent_reference string, counterparty_reference string, "
        "nominal_amount double, risk_bucket string, is_obs_commitment boolean, "
        "is_short_term_trade_lc boolean, original_maturity_years double",
    )
    conts = conts.withColumn("is_defaulted", F.lit(False)).withColumn(
        "pd", F.when(F.col("counterparty_reference") == "CPI", 0.01)
    ).withColumn("lgd", F.lit(None).cast("double")).withColumn(
        "effective_maturity", F.lit(None).cast("double")
    )
    bundle = RawBundle(counterparties=cps, loans=loans, contingents=conts)

    crr = {
        r.exposure_reference: r
        for r in run_pipeline(bundle, PipelineConfig(pack=CRR_PACK)).results.collect()
    }
    assert crr["K1"].ead == pytest.approx(200.0)   # OC ≤ 1y -> 20%
    assert crr["K2"].ead == pytest.approx(500.0)   # OC > 1y -> 50%
    assert crr["K3"].ead == pytest.approx(500.0)   # unknown maturity -> 50%
    assert crr["K4"].ead == pytest.approx(750.0)   # IRB commitment -> 75%
    assert crr["K5"].ead == pytest.approx(200.0)   # trade-LC carve-out -> 20%
    assert crr["K6"].ead == pytest.approx(750.0)   # IRB MLR commitment -> 75%
    assert crr["K7"].ead == pytest.approx(500.0)   # issued -> Art.166(10)(b) 50%
    assert crr["K8"].ead == pytest.approx(1000.0)  # FR converges at 100%

    b31 = {
        r.exposure_reference: r
        for r in run_pipeline(bundle, PipelineConfig(pack=B31_PACK)).results.collect()
    }
    # PS1/26: flat Table A1 rates everywhere (medium 0.5, medium_low 0.4)
    assert b31["K1"].ead == pytest.approx(500.0)
    assert b31["K4"].ead == pytest.approx(500.0)
    assert b31["K5"].ead == pytest.approx(400.0)
    assert b31["K6"].ead == pytest.approx(400.0)


def test_validation_domain_breadth(spark):
    """Round-4 DQ-code breadth (ref contracts/validation.py VALID_* domains,
    1,232 LoC distilled): each injected domain violation surfaces its typed
    code on the error channel, and none of them crashes the run."""
    from rwa_calculator_spark.engine.stages.validate import run_validation

    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [
            ("L1", "CP1", 100.0, False, 1.5, 0.4, 2.0),   # pd > 1 → DQ006
            ("L2", "CP1", 100.0, False, 0.01, -0.2, 2.0), # lgd < 0 → DQ006
            ("L3", "CP1", 100.0, False, 0.01, 0.4, -1.0), # m ≤ 0 → DQ006
        ],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    allocs = _df(
        spark,
        [("L1", "P1", 0.7), ("L1", "P2", 0.6), ("L2", "P1", 1.5)],
        "exposure_reference string, pool_reference string, allocation_pct double",
    )
    trades = _df(
        spark,
        [("T1", "NS1", "CP1", 10.0, 100.0, "weather")],
        "trade_reference string, netting_set_reference string, "
        "counterparty_reference string, mtm double, notional double, asset_class string",
    )
    sft = _df(
        spark,
        [("SS1", "CP1", "borrowed", 100.0, None), ("SS1", "CP1", "collateral", 50.0, 1.2)],
        "netting_set_reference string, counterparty_reference string, leg string, "
        "value double, haircut double",
    )
    slotting = _df(
        spark,
        [("CP1", "excellent")],
        "counterparty_reference string, slot_category string",
    )
    coll = _df(
        spark,
        [("COL1", "crypto", 100.0)],
        "collateral_reference string, collateral_type string, market_value double",
    )
    links = _df(
        spark,
        [("COL1", "L1")],
        "collateral_reference string, exposure_reference string",
    )
    bundle = RawBundle(
        counterparties=cps,
        loans=loans,
        collateral=coll,
        collateral_links=links,
        specialised_lending=slotting,
        trades=trades,
        sft_trades=sft,
        securitisation_allocations=allocs,
    )
    errors = run_validation(bundle).errors
    rows = errors.collect()
    by_code = {}
    for r in rows:
        by_code.setdefault(r.code, []).append(r)

    # DQ006: one row per offending parameter
    assert len(by_code["DQ006"]) == 3
    # DQ007: the out-of-range slice AND the >100% total (L1: 0.7+0.6)
    dq7 = {(r.severity, r.key) for r in by_code["DQ007"]}
    assert ("warning", "L2") in dq7 and ("error", "L1") in dq7
    # DQ008: unknown asset class, unknown leg, haircut ≥ 1
    dq8 = [r.message for r in by_code["DQ008"]]
    assert any("asset_class" in m for m in dq8)
    assert any("leg" in m for m in dq8)
    assert any("haircut" in m for m in dq8)
    # DQ009: slot category (error) + collateral type (warning)
    dq9 = {(r.severity, r.key) for r in by_code["DQ009"]}
    assert ("error", "CP1") in dq9 and ("warning", "crypto") in dq9


def test_ciu_mandate_fallback_1250(spark):
    """CRR Art.132(2): an unknown-class CIU holding takes the 100% mandate
    proxy when the mandate can bound the risk, and the 1250% FALL-BACK when
    it cannot (carrier-gated on is_mandate_known; absent carrier keeps the
    mandate proxy — the pre-round-4 behaviour, oracle-pinned)."""
    from rwa_calculator_spark.engine.stages.ciu_settlement import run_ciu

    holdings = _df(
        spark,
        [
            ("F1", "H1", "private_debt", 1000.0, None, True),
            ("F1", "H2", "private_debt", 1000.0, None, False),
            ("F1", "H3", "sovereign", 1000.0, 1, True),
        ],
        "fund_reference string, holding_reference string, underlying_class string, "
        "value double, holding_cqs int, is_mandate_known boolean",
    )
    rows = {
        r.exposure_reference: r for r in run_ciu(holdings, CRR_PACK).results.collect()
    }
    assert rows["F1_CIU_H1"].risk_weight == pytest.approx(1.0)
    assert rows["F1_CIU_H1"].rw_source == "ciu_mandate"
    assert rows["F1_CIU_H2"].risk_weight == pytest.approx(12.5)
    assert rows["F1_CIU_H2"].rwa == pytest.approx(12_500.0)
    assert rows["F1_CIU_H2"].rw_source == "ciu_fallback_1250"
    assert rows["F1_CIU_H3"].risk_weight == pytest.approx(0.0)  # look-through


def test_dq013_hierarchy_cycle_surfaces(spark):
    """A cyclic org edge pair hits the resolver's depth cap; DQ013 names
    the trapped nodes on the error channel while the pipeline still runs
    (cap-truncated parents, the reference's graph.py cycle-guard shape)."""
    from rwa_calculator_spark.engine.stages.validate import run_validation

    cps = _df(
        spark,
        [("CP1", "corporate", 2, False, 0.0, False), ("CP2", "corporate", 2, False, 0.0, False)],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, has_irb_permission boolean",
    )
    loans = _df(
        spark,
        [("L1", "CP1", 100.0, False, None, None, None)],
        "loan_reference string, counterparty_reference string, drawn_amount double, "
        "is_defaulted boolean, pd double, lgd double, effective_maturity double",
    )
    org = _df(
        spark,
        [("CP1", "CP2"), ("CP2", "CP1")],  # 2-cycle
        "child_reference string, parent_reference string",
    )
    sealed, errors, _ = run_validation(
        RawBundle(counterparties=cps, loans=loans, org_mappings=org)
    )
    dq13 = [r for r in errors.collect() if r.code == "DQ013"]
    assert {r.key for r in dq13} == {"CP1", "CP2"}
    # the pipeline itself still completes on the truncated hierarchy
    out = run_pipeline(sealed, PipelineConfig(pack=CRR_PACK, validation="off"))
    assert out.results.count() == 1


def test_validation_categorical_long_tail(spark):
    """DQ003 declarative domain registry + DQ008/DQ012/DQ014/DQ015 numeric
    long tail (ref data/schemas.py COLUMN_VALUE_CONSTRAINTS +
    contracts/validation.py validate_bundle_values): one injected violation
    per (table, column) — the table-driven port of the reference's
    VALID_* value-domain checks for the side tables the first rounds left
    thinner (guarantees/provisions/ratings/equity/CIU/permissions/CCR)."""
    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.engine.stages.validate import run_validation

    cps = spark.createDataFrame(
        [("CP1", "corporate", 1, "Z_GRADE", "hedge_fund_type")],
        "counterparty_reference string, entity_type string, cqs int, "
        "scra_grade string, counterparty_type string",
    )
    loans = spark.createDataFrame(
        [("L1", "CP1", 100.0, False, "mezzanine", 7.5)],
        "loan_reference string, counterparty_reference string, "
        "drawn_amount double, is_defaulted boolean, seniority string, "
        "effective_maturity double",
    )
    contingents = spark.createDataFrame(
        [("K1", "CP1", -50.0, "medium_risk")],
        "contingent_reference string, counterparty_reference string, "
        "nominal_amount double, risk_bucket string",
    )
    guarantees = spark.createDataFrame(
        [("L1", 0.5, "letter_of_comfort", "everything", "maybe")],
        "exposure_reference string, coverage_pct double, protection_type string, "
        "beneficiary_type string, look_through_election string",
    )
    provisions = spark.createDataFrame(
        [("L1", "loan", 10.0, "ifrs9_stage_9")],
        "beneficiary_reference string, beneficiary_type string, amount double, "
        "provision_type string",
    )
    ratings = spark.createDataFrame(
        [("CP1", "astrology", "portfolio", 2)],
        "counterparty_reference string, rating_type string, scope_type string, cqs int",
    )
    equity = spark.createDataFrame(
        [("E1", "CP1", 100.0, "meme_stock")],
        "exposure_reference string, counterparty_reference string, "
        "market_value double, equity_type string",
    )
    ciu = spark.createDataFrame(
        [("F1", "H1", "corporate", 100.0, "vibes")],
        "fund_reference string, holding_reference string, underlying_class string, "
        "value double, ciu_approach string",
    )
    mp = spark.createDataFrame(
        [("M1", "corporate", "QUANTUM", "because")],
        "model_id string, exposure_class string, approach string, ppu_reason string",
    )
    margin = spark.createDataFrame(
        [("NS1", -5.0, 0.0, 0.0, 0.0)],
        "netting_set_reference string, threshold double, mta double, "
        "nica double, remargin_days double",
    )
    failed = spark.createDataFrame(
        [("FT1", "CP1", -10.0, -3)],
        "trade_reference string, counterparty_reference string, "
        "amount double, days_late int",
    )
    tranches = spark.createDataFrame(
        [("P1", "T1", 0.5, 0.2)],
        "pool_reference string, tranche_reference string, "
        "attachment double, detachment double",
    )
    allocs = spark.createDataFrame(
        [("L1", "P1", 0.5, "swap", "telepathic")],
        "exposure_reference string, pool_reference string, allocation_pct double, "
        "exposure_type string, transfer_type string",
    )
    collateral = spark.createDataFrame(
        [("COL1", "cash", 100.0, "houseboat", "alien", "guesswork")],
        "collateral_reference string, collateral_type string, market_value double, "
        "property_type string, issuer_type string, valuation_type string",
    )
    bundle = RawBundle(
        counterparties=cps,
        loans=loans,
        contingents=contingents,
        guarantees=guarantees,
        provisions=provisions,
        ratings=ratings,
        equity_exposures=equity,
        ciu_holdings=ciu,
        model_permissions=mp,
        margin_agreements=margin,
        failed_trades=failed,
        securitisation_tranches=tranches,
        securitisation_allocations=allocs,
        collateral=collateral,
    )
    errors = run_validation(bundle).errors
    errs = {(r.code, r.key) for r in errors.collect()}
    expected = {
        ("DQ003", "Z_GRADE"),           # counterparties.scra_grade
        ("DQ003", "hedge_fund_type"),   # counterparties.counterparty_type
        ("DQ003", "mezzanine"),         # loans.seniority
        ("DQ003", "letter_of_comfort"), # guarantees.protection_type
        ("DQ003", "everything"),        # guarantees.beneficiary_type
        ("DQ003", "maybe"),             # guarantees.look_through_election
        ("DQ003", "ifrs9_stage_9"),     # provisions.provision_type
        ("DQ003", "astrology"),         # ratings.rating_type
        ("DQ003", "portfolio"),         # ratings.scope_type
        ("DQ003", "meme_stock"),        # equity.equity_type
        ("DQ003", "vibes"),             # ciu.ciu_approach
        ("DQ003", "QUANTUM"),           # model_permissions.approach
        ("DQ003", "because"),           # model_permissions.ppu_reason
        ("DQ003", "swap"),              # alloc.exposure_type
        ("DQ003", "telepathic"),        # alloc.transfer_type
        ("DQ003", "houseboat"),         # collateral.property_type
        ("DQ003", "alien"),             # collateral.issuer_type
        ("DQ003", "guesswork"),         # collateral.valuation_type
        ("DQ014", "L1"),                # maturity 7.5y > 5y cap
        ("DQ015", "P1/T1"),             # inverted tranche
        ("DQ008", "NS1"),               # negative threshold
        ("DQ008", "FT1"),               # negative amount / days_late
        ("DQ012", "K1"),                # negative nominal
    }
    missing = expected - errs
    assert not missing, f"validation misses: {sorted(missing)}"


def test_round5_ledger_carriers(spark):
    """The round-5 ledger carriers surface what the stages already compute
    (ref data/schemas.py:2877 CALCULATION_OUTPUT_SCHEMA): resolved group
    apex + walk depth, the connected-clients group and its aggregate with
    the retail-threshold flag, the CCF rule that fired, the guarantor, and
    the approach-routing reason — each pinned on a hand-built book."""
    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.engine.rulepack import CRR_PACK

    cps = spark.createDataFrame(
        [
            ("CPA", "corporate", 2, False, 0.0, False),
            ("CPB", "corporate", 2, False, 0.0, False),   # child of CPA
            ("CPC", "corporate", 2, False, 0.0, False),   # grandchild
            ("CPR", "individual", None, True, 0.0, False),  # retail candidate
            ("CPI", "corporate", 2, False, 0.0, True),    # IRB-permitted
        ],
        "counterparty_reference string, entity_type string, cqs int, "
        "is_managed_as_retail boolean, annual_revenue double, "
        "has_irb_permission boolean",
    )
    loans = spark.createDataFrame(
        [
            ("L1", "CPC", 100.0, False, None, None, None),
            ("L2", "CPR", 50.0, False, None, None, None),
            ("L3", "CPI", 80.0, False, 0.01, 0.4, 2.0),
        ],
        "loan_reference string, counterparty_reference string, "
        "drawn_amount double, is_defaulted boolean, pd double, lgd double, "
        "effective_maturity double",
    )
    cont = spark.createDataFrame(
        [("K1", "CPC", 40.0, "medium_risk", False, None, None, None)],
        "contingent_reference string, counterparty_reference string, "
        "nominal_amount double, risk_bucket string, is_defaulted boolean, "
        "pd double, lgd double, effective_maturity double",
    )
    org = spark.createDataFrame(
        [("CPB", "CPA"), ("CPC", "CPB")],
        "child_reference string, parent_reference string",
    )
    lend = spark.createDataFrame(
        [("CPA", "CPR")],
        "parent_counterparty_reference string, child_counterparty_reference string",
    )
    guar = spark.createDataFrame(
        [("L1", 0.6, "G_SOV", "sovereign", 0)],
        "exposure_reference string, coverage_pct double, "
        "guarantor_reference string, guarantor_class string, guarantor_cqs int",
    )
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, contingents=cont,
            org_mappings=org, lending_mappings=lend, guarantees=guar,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    rows = {r["exposure_reference"]: r for r in out.results.collect()}

    l1 = rows["L1"]
    assert l1["ultimate_parent_reference"] == "CPA"
    assert l1["hierarchy_depth"] == 2          # CPC → CPB → CPA
    assert l1["guarantor_reference"] == "G_SOV"
    assert l1["ccf_source"] == "default_full_conversion"  # loan: no bucket
    assert l1["approach_reason"] == "sa_no_irb_permission"
    assert l1["retail_threshold_applied"] is False

    k1 = rows["K1"]
    assert k1["ccf_source"] == "sa_annex_i_bucket"        # medium_risk 50%
    assert k1["ccf"] == 0.5

    l2 = rows["L2"]
    assert l2["retail_threshold_applied"] is True
    assert l2["lending_group_reference"] == "CPA"
    # the Art.123 aggregate pools the CONNECTED-CLIENTS group: CPR's own
    # 50 only (CPA has no loans in the lending group beyond membership)
    assert l2["group_exposure"] == 50.0
    assert l2["exposure_class"] == "retail"               # under the 1M cap

    l3 = rows["L3"]
    assert l3["approach"] == "IRB"
    assert l3["approach_reason"] == "irb_permission_granted"
    assert l3["hierarchy_depth"] is None                  # no org edge
    assert l3["ultimate_parent_reference"] == "CPI"       # self-rooted
