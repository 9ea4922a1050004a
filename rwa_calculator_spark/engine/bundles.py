"""Typed bundles of DataFrames passed stage→stage (ref contracts/bundles.py
RawDataBundle and friends — frozen dataclasses of frames; the pattern is
engine-agnostic and ports verbatim to Spark DataFrames).

Every frame is lazy; bundles carry no data, only plans. The pipeline
reproduces the reference's stage-edge materialisation by localCheckpointing
the CRM edge before the calculators (SURVEY §4: re-computation avoidance,
lineage truncation under 960-deep when-chains).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property
from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame

if TYPE_CHECKING:
    from rwa_calculator_spark.engine.rulepack import RulePack


@dataclass(frozen=True)
class RawBundle:
    """Sealed input tables (ref contracts/bundles.py:139-255)."""

    counterparties: DataFrame
    loans: DataFrame
    contingents: Optional[DataFrame] = None
    collateral: Optional[DataFrame] = None
    collateral_links: Optional[DataFrame] = None
    guarantees: Optional[DataFrame] = None
    org_mappings: Optional[DataFrame] = None
    model_permissions: Optional[DataFrame] = None
    specialised_lending: Optional[DataFrame] = None  # (counterparty_reference, slot_category)
    equity_exposures: Optional[DataFrame] = None  # (exposure_reference, counterparty_reference, market_value, is_exchange_traded)
    # (counterparty_reference, rating_type, is_short_term, rating_agency,
    #  rating_date, rating_reference, cqs, pd) — when present, external CQS
    # is Art.138-derived and REPLACES counterparties.cqs (ref
    # engine/stages/hierarchy/ratings.py)
    ratings: Optional[DataFrame] = None
    # (facility_reference, counterparty_reference, limit, committed,
    #  risk_bucket) + facility_mappings (parent_facility_reference,
    #  child_reference, child_type) — synthetic facility-undrawn exposures
    # (ref engine/stages/hierarchy/facility_undrawn.py)
    facilities: Optional[DataFrame] = None
    facility_mappings: Optional[DataFrame] = None
    # (beneficiary_reference, beneficiary_type, amount) — drawn-first
    # deduction under SA (CRR Art.111(2); ref engine/crm/provisions.py)
    provisions: Optional[DataFrame] = None
    # (parent_counterparty_reference, child_counterparty_reference) —
    # retail-threshold lending groups (CRR Art.123(c)/4(1)(39); ref
    # engine/stages/hierarchy/enrich.py:440)
    lending_mappings: Optional[DataFrame] = None
    # fx_rates: (currency, rate_to_reporting) — monetary columns convert at
    # load (ref engine/pipeline.py:271-285)
    fx_rates: Optional[DataFrame] = None
    # scope: reporting_entities (entity_reference, parent_entity_reference)
    # + book_entity_mappings (book_code, entity_reference); exposures carry
    # book_code (ref engine/stages/scope/resolver.py)
    reporting_entities: Optional[DataFrame] = None
    book_entity_mappings: Optional[DataFrame] = None
    # CCR: (trade_reference, netting_set_reference, counterparty_reference,
    #  mtm, notional, asset_class[, book_code]) — SA-CCR EAD per netting set
    # emits synthetic exposure rows into the unified ledger (ref
    # engine/stages/ccr.py:160)
    trades: Optional[DataFrame] = None
    # (netting_set_reference, threshold, mta, nica) — margined netting sets
    # take RC = max(V−C, TH+MTA−NICA, 0) (CRR Art.275(2); ref
    # engine/ccr/rc.py compute_rc_margined; margin_agreements schemas:1484)
    margin_agreements: Optional[DataFrame] = None
    # (netting_set_reference, value[, haircut]) — collateral C netting
    # against V in RC and driving the Art.278(3) PFE multiplier (ref
    # ccr_collateral schemas:1506)
    ccr_collateral: Optional[DataFrame] = None
    # SFT: (netting_set_reference, counterparty_reference, leg
    #  ('lent'|'collateral'), value, haircut[, book_code]) — FCCM E* per
    # netting set emits synthetic rows (ref engine/stages/sft.py:116)
    sft_trades: Optional[DataFrame] = None
    # (exposure_reference, pool_reference, allocation_pct) — allocated
    # slices leave the loan book, pools enter as securitisation exposures
    # (ref engine/securitisation/allocator.py:187,245,
    #  engine/stages/securitisation.py)
    securitisation_allocations: Optional[DataFrame] = None
    # (pool_reference, tranche_reference, attachment, detachment
    #  [, w_delinquent]) — when present, pools emit one synthetic exposure
    # per tranche and the SEC-SA branch applies the full SSFA closed form
    # (BCBS CRE41 / CRR Art.261-262; beyond the reference, which reports a
    # placeholder per-pool RWA — see functions/secsa.py)
    securitisation_tranches: Optional[DataFrame] = None
    # (fund_reference, holding_reference, underlying_class, value
    #  [, holding_cqs][, book_code]) — CIU look-through rows weighted by
    # their underlying class (CRR Art.132a; ref ciu_holdings schemas:1036)
    ciu_holdings: Optional[DataFrame] = None
    # (trade_reference, counterparty_reference, amount, days_late
    #  [, book_code]) — settlement risk by days-late band (CRR Art.378;
    # ref failed_trades schemas:1716)
    failed_trades: Optional[DataFrame] = None


@dataclass(frozen=True)
class HierarchyOutput:
    """Unified, enriched exposures (ref RESOLVED_HIERARCHY_SCHEMA)."""

    exposures: DataFrame  # one row per exposure, counterparty attrs joined


@dataclass(frozen=True)
class ClassifiedOutput:
    exposures: DataFrame  # + exposure_class, is_defaulted, group_exposure


@dataclass(frozen=True)
class CRMOutput:
    exposures: DataFrame  # + ead, secured_amount, effective RW inputs


@dataclass(frozen=True)
class CalcOutput:
    """Per-exposure results ledger (ref CALCULATION_OUTPUT_SCHEMA, 162 cols —
    here the load-bearing subset)."""

    results: DataFrame


@dataclass(frozen=True)
class AggregatedOutput:
    """The per-exposure ledger and what derives from it. The summaries, the
    portfolio total and the error channel are built from `results` on first
    access (engine/stages/aggregate.py), so a caller that only seals the
    ledger — the results cache re-derives the rest from its re-scan — never
    builds their plans, and a plan query gets the plans it reads, once."""

    results: DataFrame
    pack: "RulePack"
    # the error rows of the stages before the ledger (validation, scope,
    # WWR gate, model permissions): `errors` minus the ledger-derived
    # warnings, which the results cache re-derives from the sealed ledger
    upstream_errors: Optional[DataFrame] = None
    # per-stage PLAN-BUILD wall-ms (ref engine/materialise.py:74-98
    # EdgeEvent wall-ms per stage edge). Spark's fold is lazy, so this
    # records driver-side Catalyst construction/analysis cost per stage —
    # the real per-stage driver expense on 960-`when` plans; execution cost
    # lands on the seal-edge events in the run manifest (api.py _seal).
    stage_wall_ms: Optional[dict] = None

    @cached_property
    def summary_by_class(self) -> DataFrame:
        from rwa_calculator_spark.engine.stages.aggregate import summary_by

        return summary_by(self.results, "exposure_class")

    @cached_property
    def summary_by_approach(self) -> DataFrame:
        from rwa_calculator_spark.engine.stages.aggregate import summary_by

        return summary_by(self.results, "approach")

    @cached_property
    def portfolio(self) -> DataFrame:
        from rwa_calculator_spark.engine.stages.aggregate import summary_by

        return summary_by(self.results)

    @cached_property
    def errors(self) -> Optional[DataFrame]:
        """Error channel: (code, severity, stage, key, message) rows merged
        from every stage (ref engine/pipeline.py:337-370 error-channel merge;
        schema at stages/scope.py ERRORS_SCHEMA) — `upstream_errors` plus the
        ledger-derived warnings. None when no stage emitted."""
        from rwa_calculator_spark.engine.stages.aggregate import ledger_warnings

        warn = ledger_warnings(self.results, self.pack)
        if warn is None:
            return self.upstream_errors
        if self.upstream_errors is None:
            return warn
        return self.upstream_errors.unionByName(warn)
