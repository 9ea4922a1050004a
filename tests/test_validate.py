"""Input validation (engine/stages/validate.py) pinned as an exact error
multiset: one book fires every DQ code, and the error channel must hold
exactly the expected rows — no missing row, no extra row, the right
multiplicity at each grain (row, distinct value, duplicate key, orphan
foreign key).
"""

from __future__ import annotations

from collections import Counter

import pytest

from rwa_calculator_spark.engine.bundles import RawBundle
from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
from rwa_calculator_spark.engine.rulepack import CRR_PACK
from rwa_calculator_spark.engine.stages.validate import PipelineHalt, run_validation

NAN = float("nan")
INF = float("inf")


@pytest.fixture(scope="module")
def book(spark):
    def df(rows, schema):
        return spark.createDataFrame(rows, schema)

    return RawBundle(
        counterparties=df(
            [
                ("CP1", "corporate", 2, "A", "financial"),
                ("CP2", "hedge_fund", 9, "Z_GRADE", "hedge_fund_type"),
                ("CP3", "hedge_fund", 1, None, None),
                ("CP4", "corporate", None, None, None),
                ("CP5", "corporate", 3, None, None),
            ],
            "counterparty_reference string, entity_type string, cqs int, "
            "scra_grade string, counterparty_type string",
        ),
        loans=df(
            [
                # duplicated key with a NaN pd: two DQ011 rows, one DQ004,
                # no DQ006 (the pd range check sees the scrubbed null)
                ("L1", "CP1", 100.0, NAN, 0.4, 2.0, None),
                ("L1", "CP1", 100.0, NAN, 0.4, 2.0, None),
                # -inf drawn: DQ011, and no DQ012 on the scrubbed null
                ("L2", "CP1", -INF, 0.01, 0.4, 2.0, None),
                ("L3", "CP1", -50.0, 0.01, 0.4, 2.0, "senior"),
                ("L4", "CPX", 100.0, 0.01, 0.4, 2.0, None),
                ("L5", None, 100.0, 0.01, 0.4, 2.0, None),
                # two DQ006 rows from one input row
                ("L6", "CP1", 100.0, 1.5, -0.2, 2.0, "mezzanine"),
                ("L7", "CP1", 100.0, 0.01, 0.4, -1.0, "mezzanine"),
                ("L8", "CP1", 100.0, 0.01, 0.4, 7.5, None),
            ],
            "loan_reference string, counterparty_reference string, "
            "drawn_amount double, pd double, lgd double, "
            "effective_maturity double, seniority string",
        ),
        contingents=df(
            [
                ("K1", "CPX", -50.0, "mega_risk", None),
                ("K2", "CP1", NAN, "medium_risk", None),
                ("K3", "CP1", 100.0, "mega_risk", 6.0),
            ],
            "contingent_reference string, counterparty_reference string, "
            "nominal_amount double, risk_bucket string, effective_maturity double",
        ),
        collateral=df(
            [
                ("COL1", "crypto", 100.0, "houseboat"),
                ("COL2", "cash", 100.0, "residential"),
            ],
            "collateral_reference string, collateral_type string, "
            "market_value double, property_type string",
        ),
        collateral_links=df(
            [
                ("COL1", "L1"),
                ("COLX", "L1"),
                ("COLX", "L2"),
                ("COL1", "LX"),
                ("COL2", "K1"),
            ],
            "collateral_reference string, exposure_reference string",
        ),
        guarantees=df(
            [("L1", 1.7, "letter_of_comfort"), ("L3", 0.5, "guarantee")],
            "exposure_reference string, coverage_pct double, protection_type string",
        ),
        org_mappings=df(
            # a conflicting duplicate edge (DQ004) and a 2-cycle (DQ013)
            [("CP2", "CP1"), ("CP2", "CP3"), ("CP4", "CP5"), ("CP5", "CP4")],
            "child_reference string, parent_reference string",
        ),
        model_permissions=df(
            [("M1", "corporate", "QUANTUM")],
            "model_id string, exposure_class string, approach string",
        ),
        specialised_lending=df(
            [("CP1", "excellent"), ("CP3", "strong")],
            "counterparty_reference string, slot_category string",
        ),
        trades=df(
            [("T1", "NS1", "CP1", 10.0, 100.0, "weather")],
            "trade_reference string, netting_set_reference string, "
            "counterparty_reference string, mtm double, notional double, "
            "asset_class string",
        ),
        margin_agreements=df(
            [("NS1", -5.0, 0.0, 0.0)],
            "netting_set_reference string, threshold double, mta double, nica double",
        ),
        ccr_collateral=df(
            [("NS1", 100.0, 1.5)],
            "netting_set_reference string, value double, haircut double",
        ),
        sft_trades=df(
            [
                ("SS1", "CP1", "borrowed", 100.0, None),
                ("SS1", "CP1", "collateral", 50.0, 1.2),
            ],
            "netting_set_reference string, counterparty_reference string, "
            "leg string, value double, haircut double",
        ),
        securitisation_allocations=df(
            # L1 over-allocated (0.7 + 0.6); L2's slice is out of range
            # AND over-allocates on its own: both DQ007 grains
            [("L1", "P1", 0.7), ("L1", "P2", 0.6), ("L2", "P1", 1.5)],
            "exposure_reference string, pool_reference string, allocation_pct double",
        ),
        securitisation_tranches=df(
            [("P1", "T1", 0.5, 0.2), ("P1", "T2", 0.0, 0.5)],
            "pool_reference string, tranche_reference string, "
            "attachment double, detachment double",
        ),
        failed_trades=df(
            [("FT1", "CP1", -10.0, -3), ("FT2", "CP1", 10.0, 3)],
            "trade_reference string, counterparty_reference string, "
            "amount double, days_late int",
        ),
    )


def _w(code, key, message, severity="warning"):
    return (code, severity, "validate", key, message)


EXPECTED = [
    # DQ011: pre-scrub non-finite values, row grain
    _w("DQ011", "L1", "non-finite value in loans scrubbed to null"),
    _w("DQ011", "L1", "non-finite value in loans scrubbed to null"),
    _w("DQ011", "L2", "non-finite value in loans scrubbed to null"),
    _w("DQ011", "K2", "non-finite value in contingents scrubbed to null"),
    # DQ002: distinct orphan counterparty per referencing table (null FK
    # included)
    _w("DQ002", "CPX", "loans reference a counterparty absent from the registry"),
    _w("DQ002", None, "loans reference a counterparty absent from the registry"),
    _w("DQ002", "CPX", "contingents reference a counterparty absent from the registry"),
    # DQ003: distinct offending value, or row grain for the numeric checks
    _w("DQ003", "hedge_fund", "entity_type outside the valid domain"),
    _w("DQ003", "CP2", "cqs outside 0-6"),
    _w("DQ003", "mega_risk", "risk_bucket outside the CCF domain"),
    _w("DQ003", "L1", "guarantee coverage_pct outside [0,1]"),
    _w("DQ003", "Z_GRADE", "counterparties.scra_grade outside the valid domain"),
    _w("DQ003", "hedge_fund_type", "counterparties.counterparty_type outside the valid domain"),
    _w("DQ003", "mezzanine", "loans.seniority outside the valid domain"),
    _w("DQ003", "letter_of_comfort", "guarantees.protection_type outside the valid domain"),
    _w("DQ003", "QUANTUM", "model_permissions.approach outside the valid domain"),
    _w("DQ003", "houseboat", "collateral.property_type outside the valid domain"),
    # DQ004: one row per duplicated key
    _w("DQ004", "L1", "duplicate loan_reference rows (amounts will double-count)"),
    _w("DQ004", "CP2", "duplicate org hierarchy edge; deterministic first edge kept"),
    # DQ005: both kinds of dangling collateral link, distinct grain
    _w("DQ005", "COLX", "collateral link references an item absent from the collateral table"),
    _w("DQ005", "LX", "collateral link references an unknown exposure"),
    # DQ006: one row per offending parameter
    _w("DQ006", "L6", "loans: pd outside [0,1]"),
    _w("DQ006", "L6", "loans: lgd outside [0,1]"),
    _w("DQ006", "L7", "loans: non-positive effective_maturity"),
    # DQ007: the out-of-range slice and the over-allocated totals
    _w("DQ007", "L2", "allocation_pct outside (0,1]"),
    _w("DQ007", "L1", "allocations exceed 100% of the exposure", "error"),
    _w("DQ007", "L2", "allocations exceed 100% of the exposure", "error"),
    # DQ008: CCR / SFT / settlement domains
    _w("DQ008", "weather", "asset_class outside the SA-CCR supervisory-factor domain"),
    _w("DQ008", "SS1", "sft leg outside {lent, collateral} — row will not net"),
    _w("DQ008", "SS1", "sft haircut outside [0,1)"),
    _w("DQ008", "NS1", "margin agreement: negative threshold"),
    _w("DQ008", "NS1", "ccr collateral haircut outside [0,1)"),
    _w("DQ008", "FT1", "failed trade: negative amount"),
    _w("DQ008", "FT1", "failed trade: negative days_late"),
    # DQ009: slotting category (error) and collateral type (warning)
    _w("DQ009", "CP1", "slot_category outside the Art.153(5) category set", "error"),
    _w(
        "DQ009",
        "crypto",
        "collateral_type outside the eligible-collateral domain "
        "(unknown types take the conservative fallback haircut)",
    ),
    # DQ012: negative principal on the scrubbed values
    _w("DQ012", "L3", "negative drawn_amount"),
    _w("DQ012", "K1", "negative nominal_amount"),
    # DQ013: the 2-cycle's trapped nodes
    _w(
        "DQ013",
        "CP4",
        "org hierarchy walk hit the depth cap or a cycle; "
        "ultimate parent truncated at the cap",
    ),
    _w(
        "DQ013",
        "CP5",
        "org hierarchy walk hit the depth cap or a cycle; "
        "ultimate parent truncated at the cap",
    ),
    # DQ014: maturity above the 5-year cap
    _w("DQ014", "L8", "loans effective_maturity above the Art.162(3) 5-year cap (clipped downstream)"),
    _w(
        "DQ014",
        "K3",
        "contingents effective_maturity above the Art.162(3) 5-year cap (clipped downstream)",
    ),
    # DQ015: inverted tranche
    _w("DQ015", "P1/T1", "tranche attachment/detachment outside [0,1] or D ≤ A", "error"),
]


def test_validation_error_multiset_is_exact(book):
    errors = run_validation(book).errors
    got = Counter(tuple(r) for r in errors.collect())
    want = Counter(EXPECTED)
    assert got == want, (
        f"missing: {sorted(map(str, want - got))}\nextra: {sorted(map(str, got - want))}"
    )


def test_validation_scrubs_and_dedups(book):
    scrubbed = run_validation(book).raw
    loans = {
        (r.loan_reference, r.drawn_amount, r.pd) for r in scrubbed.loans.collect()
    }
    assert ("L1", 100.0, None) in loans  # NaN pd scrubbed to null
    assert ("L2", None, 0.01) in loans  # -inf drawn scrubbed to null
    assert ("L3", -50.0, 0.01) in loans  # finite values untouched
    assert scrubbed.loans.count() == 9  # duplicates flow on, warned
    nominal = {r.contingent_reference: r.nominal_amount for r in scrubbed.contingents.collect()}
    assert nominal == {"K1": -50.0, "K2": None, "K3": 100.0}
    # one parent per child: the deterministic first (min) edge is kept
    edges = sorted(tuple(r) for r in scrubbed.org_mappings.collect())
    assert edges == [("CP2", "CP1"), ("CP4", "CP5"), ("CP5", "CP4")]


def test_immediate_validation_halts(book):
    with pytest.raises(PipelineHalt):
        run_pipeline(book, PipelineConfig(pack=CRR_PACK, validation="immediate"))


@pytest.mark.parametrize("validation", ["merged", "off"])
def test_org_walk_is_built_once_per_run(spark, monkeypatch, validation):
    """Validation's DQ013 check and the hierarchy's group apex read one
    walk; without validation the hierarchy builds it, still once."""
    from rwa_calculator_spark.operators import graph
    from tests.engine_fixtures import build_bundle

    built = []
    real = graph.resolve_ultimate_parent_iterative

    def counting(edges, *args, **kwargs):
        built.append(edges)
        return real(edges, *args, **kwargs)

    monkeypatch.setattr(graph, "resolve_ultimate_parent_iterative", counting)
    out = run_pipeline(
        build_bundle(spark, n_cp=30), PipelineConfig(pack=CRR_PACK, validation=validation)
    )
    assert len(built) == 1
    assert out.results.where("ultimate_parent_reference IS NOT NULL").count() > 0
