"""The calculator input contract (`contracts.schemas.CALC_EDGE`).

- Every carrier the pipeline really hands the calculators has the dtype the
  contract declares, so the conform's typed defaults and the carried
  columns union into one ledger type.
- A calculator edge with no optional carriers prices exactly like the same
  edge with every carrier set explicitly to its declared default: the
  gated branches' absent path and their default path agree. (The
  carriers of CALC_EDGE_GATES have no default: their absence selects a
  different derivation.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rwa_calculator_spark.contracts.schemas import CALC_EDGE, CALC_EDGE_GATES
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


@pytest.mark.parametrize("book", ["star", "fixtures"])
def test_carried_dtypes_match_the_contract(spark, sf_dir, monkeypatch, book):
    bundle = (
        _star_bundle(spark, sf_dir, irb=True)
        if book == "star"
        else build_bundle(spark, n_cp=60)
    )
    edge = _calculator_edge(monkeypatch, bundle)
    carried = {f.name: f.dataType.simpleString() for f in edge.schema.fields}
    declared = {
        name: dtype.simpleString()
        for name, dtype in [
            *((n, s.dtype) for n, s in CALC_EDGE.items()),
            *CALC_EDGE_GATES.items(),
        ]
        if name in carried
    }
    # the check must cover a real share of the contract, not a corner
    assert len(declared) >= 40
    assert {n: carried[n] for n in declared} == declared


def _ledger(edge, pack):
    crm = CRMOutput(exposures=edge)
    out = None
    for branch in (run_sa, run_irb, run_secsa, run_slotting):
        res = branch(crm, pack).results
        out = res if out is None else out.unionByName(res)
    return canonical(out.toPandas())


@pytest.mark.parametrize("pack", [CRR_PACK, B31_PACK], ids=["crr", "b31"])
def test_absent_carriers_price_as_their_defaults(spark, sf_dir, monkeypatch, pack):
    edge = _calculator_edge(monkeypatch, _star_bundle(spark, sf_dir, irb=True), pack)
    bare = edge.drop(*(c for c in edge.columns if c in CALC_EDGE))
    explicit = bare.withColumns(
        {n: F.lit(s.default).cast(s.dtype) for n, s in CALC_EDGE.items()}
    )
    absent = _ledger(bare, pack)
    assert len(absent) > 100
    assert absent == _ledger(explicit, pack)


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
