"""The calculator input contract (`contracts.schemas.CALC_EDGE`).

- Every carrier the pipeline really hands the calculators has the dtype the
  contract declares, so the conform's typed defaults and the carried
  columns union into one ledger type.
- Absent means default: on the star book and the `tests/engine_fixtures.py`
  book, CRR and B3.1, an edge without a carrier prices exactly like the
  same edge with that carrier set to its declared default — the carriers
  the edge lacks (added as defaults) and the ones it has (dropped, against
  replaced by defaults) alike.
- Direct calls pin the same rule where neither book has the rows: a B3.1
  RE-secured exposure without / with a null `ltv`, an unrated corporate
  under the investment-grade election without / with a null
  `is_investment_grade`, a CRR revenue-carrying corporate without / with a
  null `group_drawn`.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rwa_calculator_spark.contracts.schemas import CALC_EDGE
from rwa_calculator_spark.engine import pipeline
from rwa_calculator_spark.engine.bundles import CRMOutput
from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK
from rwa_calculator_spark.engine.stages.calculators import (
    run_irb,
    run_sa,
    run_secsa,
    run_slotting,
)
from rwa_calculator_spark.plans.rwa import _star_bundle
from tests.engine_fixtures import build_bundle
from tests.util_compare import canonical


def _calculator_edge(monkeypatch, bundle, pack=CRR_PACK):
    """The CRM edge exactly as run_pipeline hands it to the calculators."""
    seen = {}
    real = pipeline.run_sa

    def capture(crm, *args, **kwargs):
        seen["crm"] = crm
        return real(crm, *args, **kwargs)

    monkeypatch.setattr(pipeline, "run_sa", capture)
    pipeline.run_pipeline(bundle, pipeline.PipelineConfig(pack=pack, validation="off"))
    monkeypatch.setattr(pipeline, "run_sa", real)
    return seen["crm"].exposures


def _book(spark, sf_dir, book):
    if book == "star":
        return _star_bundle(spark, sf_dir, irb=True)
    return build_bundle(spark, n_cp=60)


@pytest.mark.parametrize("book", ["star", "fixtures"])
def test_carried_dtypes_match_the_contract(spark, sf_dir, monkeypatch, book):
    edge = _calculator_edge(monkeypatch, _book(spark, sf_dir, book))
    carried = {f.name: f.dataType.simpleString() for f in edge.schema.fields}
    declared = {
        n: s.dtype.simpleString() for n, s in CALC_EDGE.items() if n in carried
    }
    # the check must cover a real share of the contract, not a corner
    assert len(declared) >= 40
    assert {n: carried[n] for n in declared} == declared


def _rows(df) -> list[tuple]:
    """Canonical ledger rows; array cells as tuples, so rows compare."""
    return [
        tuple(tuple(v) if isinstance(v, np.ndarray) else v for v in row)
        for row in canonical(df.toPandas())
    ]


def _ledger(edge, pack):
    crm = CRMOutput(exposures=edge)
    out = None
    for branch in (run_sa, run_irb, run_secsa, run_slotting):
        res = branch(crm, pack).results
        out = res if out is None else out.unionByName(res)
    return _rows(out)


def _with_defaults(edge, names):
    return edge.withColumns(
        {n: F.lit(CALC_EDGE[n].default).cast(CALC_EDGE[n].dtype) for n in names}
    )


@pytest.mark.parametrize("pack", [CRR_PACK, B31_PACK], ids=["crr", "b31"])
def test_absent_carriers_price_as_their_defaults(spark, sf_dir, monkeypatch, pack):
    for book in ("star", "fixtures"):
        edge = _calculator_edge(monkeypatch, _book(spark, sf_dir, book), pack)
        carried = [c for c in edge.columns if c in CALC_EDGE]
        lacking = [c for c in CALC_EDGE if c not in carried]
        as_is = _ledger(edge, pack)
        assert len(as_is) > 100, book
        assert as_is == _ledger(_with_defaults(edge, lacking), pack), book
        bare = edge.drop(*carried)
        assert _ledger(bare, pack) == _ledger(_with_defaults(bare, carried), pack), book


def test_pool_k_irb_without_tranche_grain_prices_sec_sa(spark):
    """SEC-IRBA needs the tranche grain: a pool row carrying K_IRB but no
    attachment point takes the flat SEC-SA weight."""
    edge = spark.createDataFrame(
        [("P1", "CP1", "securitisation", 100.0, 0.0, 100.0, 100.0, 0.08)],
        "exposure_reference string, counterparty_reference string, "
        "exposure_class string, drawn_amount double, undrawn_amount double, "
        "ead double, ead_after_crm double, k_irb double",
    )
    row = run_secsa(CRMOutput(exposures=edge), CRR_PACK).results.collect()[0]
    assert (row.approach, row.rw_source) == ("SEC-SA", "sec_sa")


_SA_EDGE = (
    "exposure_reference string, counterparty_reference string, "
    "exposure_class string, entity_type string, cqs int, g_cqs int, "
    "drawn_amount double, undrawn_amount double, ead double, "
    "ead_after_crm double, is_specialised boolean, is_defaulted boolean, "
    "is_managed_as_retail boolean"
)


def _sa_absent_vs_null(spark, rows, extra: str, carrier: str, pack, **kwargs):
    """SA prices `rows` the same without `carrier` as with it all null;
    returns the ledger rows by exposure reference."""
    edge = spark.createDataFrame(rows, f"{_SA_EDGE}, {extra}")
    dtype = CALC_EDGE[carrier].dtype
    absent, null = (
        run_sa(CRMOutput(exposures=e), pack, **kwargs).results
        for e in (edge, edge.withColumn(carrier, F.lit(None).cast(dtype)))
    )
    assert _rows(absent) == _rows(null)
    return {r.exposure_reference: r for r in absent.collect()}


def test_b31_re_secured_null_ltv_prices_like_no_ltv(spark):
    """An RE-secured exposure with no LTV still takes the PS1/26 limbs that
    need none (ADC) and seals its Art.124A qualification carriers."""
    rows = [
        ("ADC", "CP1", "re_secured", "corporate", 0, None, 100.0, 0.0, 100.0, 100.0,
         False, False, False, True),
        ("RRE", "CP2", "re_secured", "individual", 0, None, 100.0, 0.0, 100.0, 100.0,
         False, False, True, False),
    ]
    got = _sa_absent_vs_null(spark, rows, "is_adc boolean", "ltv", B31_PACK)
    assert got["ADC"].rw_source == "b31_adc"
    assert got["RRE"].is_qualifying_re is True


def test_unrated_corporate_null_ig_grade_prices_like_no_grade(spark):
    """Under the investment-grade election an unrated corporate with no
    assessment is not investment grade (Art.122(6)/(8))."""
    rows = [
        ("L1", "CP1", "corporate", "corporate", 0, None, 100.0, 0.0, 100.0, 100.0,
         False, False, False, 60_000_000.0),
    ]
    got = _sa_absent_vs_null(
        spark, rows, "annual_revenue double", "is_investment_grade", B31_PACK,
        use_ig_assessment=True,
    )
    assert (got["L1"].risk_weight, got["L1"].rw_source) == (1.35, "sa_corporate_non_ig")


def test_revenue_corporate_null_group_drawn_prices_like_no_group(spark):
    """A CRR SME-sized corporate with no group aggregate takes no SME
    supporting factor."""
    rows = [
        ("L1", "CP1", "corporate", "corporate", 0, None, 100.0, 0.0, 100.0, 100.0,
         False, False, False, 10_000_000.0),
    ]
    got = _sa_absent_vs_null(
        spark, rows, "annual_revenue double", "group_drawn", CRR_PACK
    )
    assert got["L1"].sme_supporting_factor == 1.0
