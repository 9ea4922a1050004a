"""Declared input-table data dictionary + bundle sealing (ref
data/schemas.py — the reference's 40-schema dictionary, 3,268 LoC, distilled
to the columns this engine consumes — and engine/loader.py:108-196: column
NAME NORMALISATION (lowercase, trimmed, separators unified) plus ALIAS
TRANSLATION, cast-to-declared-type, typed-default injection for absent
optional columns, and required-column enforcement. The reference guards
its schema-enforcement off switch behind an env var "because it silently
changes RWA" — sealing is the contract that a migrating user's CSV/parquet
extracts, whatever their vendor headers, land in the engine with one
meaning).

Sealing is OPT-IN at the bundle boundary: `seal_bundle(raw)` conforms every
present frame; callers that build frames programmatically (tests, the
driver queries) skip it. Inside the engine, the calculator input edge is
declared once (`CALC_EDGE`, below): every calculator branch conforms its
input to it, so an absent optional carrier reads as its typed default and
prices exactly like a column holding that default.
Cost at 100 TB: pure `select` + literal injection — Catalyst folds it into
the scan projection; no shuffle, no UDF.
"""

from __future__ import annotations

import re
from dataclasses import replace as dc_replace
from typing import TYPE_CHECKING, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from rwa_calculator_spark.contracts.column_spec import (
    ColumnSpec,
    absent_defaults,
    ensure_columns,
)

if TYPE_CHECKING:  # the engine package imports this module's CALC_EDGE
    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.functions.sqltext import Expr

_S = T.StringType()
_D = T.DoubleType()
_I = T.IntegerType()
_B = T.BooleanType()
_DT = T.DateType()
_AS = T.ArrayType(T.StringType())


def _req(dtype) -> ColumnSpec:
    return ColumnSpec(dtype, required=True)


#: Distilled input schemas, one per RawBundle frame (reference
#: data/schemas.py file:line in comments). Required columns are the join
#: keys and principal amounts; everything else injects a typed default
#: (None unless the engine treats absence as a specific value — Boolean
#: carriers default False, the reference's Boolean-only null-fill policy,
#: data/column_spec.py:79-126).
INPUT_SCHEMAS: dict[str, Mapping[str, ColumnSpec]] = {
    # ref schemas.py:565 COUNTERPARTY_SCHEMA (26 cols)
    "counterparties": {
        "counterparty_reference": _req(_S),
        "entity_type": ColumnSpec(_S, "corporate"),
        "cqs": ColumnSpec(_I),
        "is_managed_as_retail": ColumnSpec(_B, False),
        "annual_revenue": ColumnSpec(_D, 0.0),
        "has_irb_permission": ColumnSpec(_B, False),
        "country": ColumnSpec(_S),
        "sovereign_cqs": ColumnSpec(_I),
        "scra_grade": ColumnSpec(_S),
        "retail_subtype": ColumnSpec(_S),
        "is_large_financial": ColumnSpec(_B, False),
        "is_infrastructure": ColumnSpec(_B, False),
        # PS1/26 Art.124E(1)(b) three-property limit input (ref
        # schemas.py:615 qualifying_property_count Int32)
        "qualifying_property_count": ColumnSpec(_I),
        # PS1/26 Art.139(2B): whether the resolved external rating is
        # issue-specific (inferred/issuer-level assessments are disapplied
        # for the Art.122B SA specialised-lending routing)
        "external_rating_is_issue_specific": ColumnSpec(_B),
        # CRR Art.4(1)(128D) SME size test second limb (ref schemas.py:604
        # total_assets) and the PS1/26 Art.124L(c) registered social
        # housing flag (ref schemas.py:616)
        "total_assets": ColumnSpec(_D, 0.0),
        "is_social_housing": ColumnSpec(_B, False),
    },
    # ref schemas.py:310 LOAN_SCHEMA (41 cols)
    "loans": {
        "loan_reference": _req(_S),
        "counterparty_reference": _req(_S),
        "drawn_amount": ColumnSpec(_D, 0.0),
        "is_defaulted": ColumnSpec(_B, False),
        "pd": ColumnSpec(_D),
        "lgd": ColumnSpec(_D),
        "effective_maturity": ColumnSpec(_D),
        "el_be": ColumnSpec(_D),
        "currency": ColumnSpec(_S),
        "book_code": ColumnSpec(_S),
        "is_covered_bond": ColumnSpec(_B, False),
        "cb_cqs": ColumnSpec(_I),
        "borrower_income_currency": ColumnSpec(_S),
        "is_hedged": ColumnSpec(_B, False),
        "hedge_coverage_ratio": ColumnSpec(_D),
        "is_revolving": ColumnSpec(_B, False),
        "facility_limit": ColumnSpec(_D),
        "due_diligence_override_rw": ColumnSpec(_D),
        # real-estate route + PS1/26 Art.124E-124I treatment carriers
        "is_property_secured": ColumnSpec(_B, False),
        "ltv": ColumnSpec(_D),
        "is_income_producing": ColumnSpec(_B, False),
        "is_commercial_re": ColumnSpec(_B, False),
        "is_junior_lien": ColumnSpec(_B, False),
        "is_adc": ColumnSpec(_B, False),
        "is_presold": ColumnSpec(_B, False),
        "is_other_re": ColumnSpec(_B, False),
        # Art.124F(2): prior/pari-passu charges as a fraction of property
        # value — reduces the loan-split secured threshold and marks the
        # position junior when positive (ref b31_risk_weight_tables.py:526)
        "prior_charge_ltv": ColumnSpec(_D),
    },
    # ref schemas.py:456 CONTINGENT_SCHEMA (42 cols)
    "contingents": {
        "contingent_reference": _req(_S),
        "counterparty_reference": _req(_S),
        "nominal_amount": ColumnSpec(_D, 0.0),
        "risk_bucket": ColumnSpec(_S, "full_risk"),
        "is_defaulted": ColumnSpec(_B, False),
        "pd": ColumnSpec(_D),
        "lgd": ColumnSpec(_D),
        "effective_maturity": ColumnSpec(_D),
        "currency": ColumnSpec(_S),
        "book_code": ColumnSpec(_S),
        "is_obs_commitment": ColumnSpec(_B, False),
        "is_short_term_trade_lc": ColumnSpec(_B, False),
        "original_maturity_years": ColumnSpec(_D),
    },
    # ref schemas.py:670 COLLATERAL_SCHEMA (40 cols)
    "collateral": {
        "collateral_reference": _req(_S),
        "collateral_type": ColumnSpec(_S),
        "market_value": ColumnSpec(_D, 0.0),
        "haircut": ColumnSpec(_D),
        "currency_mismatch": ColumnSpec(_B, False),
        "collateral_cqs": ColumnSpec(_I),
        "residual_maturity": ColumnSpec(_D),
        "currency": ColumnSpec(_S),
    },
    # ref schemas.py:836 COLLATERAL_LINK_SCHEMA (5 cols). Direct types
    # (exposure/loan/contingent, or a null type) resolve on
    # exposure_reference; "facility"/"counterparty" resolve on the pooled
    # beneficiary_reference, mirroring the reference's collateral cascade.
    "collateral_links": {
        "collateral_reference": _req(_S),
        "exposure_reference": _req(_S),
        "beneficiary_type": ColumnSpec(_S),
        "beneficiary_reference": ColumnSpec(_S),
    },
    # ref schemas.py:852 GUARANTEE_SCHEMA (20 cols)
    "guarantees": {
        "exposure_reference": _req(_S),
        "coverage_pct": ColumnSpec(_D, 0.0),
        "guarantor_reference": ColumnSpec(_S),
        "guarantor_class": ColumnSpec(_S),
        "guarantor_cqs": ColumnSpec(_I),
        "guarantor_pd": ColumnSpec(_D),
        "guarantor_seniority": ColumnSpec(_S),
        "guarantor_is_fse": ColumnSpec(_B, False),
        "currency": ColumnSpec(_S),
        "guarantee_amount": ColumnSpec(_D),
    },
    # ref schemas.py:916 (8 cols)
    "provisions": {
        "beneficiary_reference": _req(_S),
        "beneficiary_type": ColumnSpec(_S, "exposure"),
        "amount": ColumnSpec(_D, 0.0),
        "currency": ColumnSpec(_S),
        # ref schemas.py:917-918: the provision's own id (→ the ledger's
        # provision_references) and its IFRS 9 SCRA/GCRA class (domain
        # schemas.py:2144; undeclared counts as SCRA — conservative, only
        # specific provisions reduce the SA exposure value)
        "provision_reference": ColumnSpec(_S),
        "provision_type": ColumnSpec(_S, "scra"),
    },
    # ref schemas.py:927 RATING_SCHEMA (16 cols)
    "ratings": {
        "counterparty_reference": _req(_S),
        "rating_type": ColumnSpec(_S, "external"),
        "cqs": ColumnSpec(_I),
        "pd": ColumnSpec(_D),
        "rating_agency": ColumnSpec(_S),
        "is_short_term": ColumnSpec(_B, False),
        "model_id": ColumnSpec(_S),
    },
    # ref schemas.py:962 (5 cols)
    "specialised_lending": {
        "counterparty_reference": _req(_S),
        # null for SA-only SL entries (PS1/26 Art.122A-122B routing needs
        # no slotting category; ref schemas.py:962-974 + :2528)
        "slot_category": ColumnSpec(_S),
        "is_hvcre": ColumnSpec(_B, False),
        "sl_type": ColumnSpec(_S),
        "sl_project_phase": ColumnSpec(_S),
    },
    # ref schemas.py:975 EQUITY_SCHEMA (23 cols)
    "equity_exposures": {
        "exposure_reference": _req(_S),
        "counterparty_reference": ColumnSpec(_S),
        "market_value": ColumnSpec(_D, 0.0),
        "is_exchange_traded": ColumnSpec(_B, False),
        "is_diversified_pe": ColumnSpec(_B, False),
        "is_speculative": ColumnSpec(_B, False),
        "use_pd_lgd": ColumnSpec(_B, False),
        "currency": ColumnSpec(_S),
    },
    # ref schemas.py:1036 (5 cols)
    "ciu_holdings": {
        "fund_reference": _req(_S),
        "holding_reference": _req(_S),
        "underlying_class": ColumnSpec(_S, "equity"),
        "value": ColumnSpec(_D, 0.0),
        "holding_cqs": ColumnSpec(_I),
        "counterparty_reference": ColumnSpec(_S),
    },
    # ref schemas.py:1049 (3 cols)
    "fx_rates": {
        "currency": _req(_S),
        "rate_to_reporting": _req(_D),
    },
    # ref schemas.py:1060 (3 cols)
    "facility_mappings": {
        "parent_facility_reference": _req(_S),
        "child_reference": _req(_S),
        "child_type": ColumnSpec(_S, "loan"),
    },
    # ref schemas.py:166 FACILITY_SCHEMA (42 cols)
    "facilities": {
        "facility_reference": _req(_S),
        "counterparty_reference": _req(_S),
        "limit": ColumnSpec(_D, 0.0),
        "committed": ColumnSpec(_B, True),
        "risk_bucket": ColumnSpec(_S, "medium_risk"),
        "currency": ColumnSpec(_S),
    },
    # ref schemas.py:1066 (2 cols)
    "org_mappings": {
        "child_reference": _req(_S),
        "parent_reference": _req(_S),
    },
    # ref schemas.py:1071 (2 cols)
    "lending_mappings": {
        "parent_counterparty_reference": _req(_S),
        "child_counterparty_reference": _req(_S),
    },
    # ref schemas.py:1099 / :1121
    "reporting_entities": {
        "entity_reference": _req(_S),
        "parent_entity_reference": ColumnSpec(_S),
    },
    "book_entity_mappings": {
        "book_code": _req(_S),
        "entity_reference": _req(_S),
    },
    # ref schemas.py:1204 (6 cols)
    "model_permissions": {
        "model_id": _req(_S),
        "approach": _req(_S),
        "exposure_classes": ColumnSpec(_S),
        "countries": ColumnSpec(_S),
        "book_codes": ColumnSpec(_S),
        "active": ColumnSpec(_B, True),
    },
    # ref schemas.py:1281 TRADE_SCHEMA (35 cols)
    "trades": {
        "trade_reference": _req(_S),
        "netting_set_reference": _req(_S),
        "counterparty_reference": _req(_S),
        "mtm": ColumnSpec(_D, 0.0),
        "notional": ColumnSpec(_D, 0.0),
        "asset_class": ColumnSpec(_S, "ir"),
        "maturity_years": ColumnSpec(_D),
        "is_specific_wwr": ColumnSpec(_B, False),
        "has_general_wwr_flag": ColumnSpec(_B, False),
        "book_code": ColumnSpec(_S),
    },
    # ref schemas.py:1424 (15 cols)
    "margin_agreements": {
        "netting_set_reference": _req(_S),
        "threshold": ColumnSpec(_D, 0.0),
        "mta": ColumnSpec(_D, 0.0),
        "nica": ColumnSpec(_D, 0.0),
        "remargin_days": ColumnSpec(_I),
        "has_disputes": ColumnSpec(_B, False),
    },
    # ref schemas.py:1506 (11 cols)
    "ccr_collateral": {
        "netting_set_reference": _req(_S),
        "value": ColumnSpec(_D, 0.0),
        "haircut": ColumnSpec(_D),
    },
    # ref schemas.py:1558 (21 cols)
    "sft_trades": {
        "netting_set_reference": _req(_S),
        "counterparty_reference": _req(_S),
        "leg": _req(_S),
        "value": ColumnSpec(_D, 0.0),
        "haircut": ColumnSpec(_D),
        "book_code": ColumnSpec(_S),
    },
    # ref schemas.py:1236 (7 cols)
    "securitisation_allocations": {
        "exposure_reference": _req(_S),
        "pool_reference": _req(_S),
        "allocation_pct": ColumnSpec(_D, 0.0),
    },
    "securitisation_tranches": {
        "pool_reference": _req(_S),
        "tranche_reference": _req(_S),
        "attachment": ColumnSpec(_D),
        "detachment": ColumnSpec(_D),
        "w_delinquent": ColumnSpec(_D),
        "k_irb": ColumnSpec(_D),
        "pool_n": ColumnSpec(_D),
        "pool_lgd": ColumnSpec(_D),
        "pool_maturity": ColumnSpec(_D),
        "is_sts": ColumnSpec(_B, False),
    },
    # ref schemas.py:1716 (13 cols)
    "failed_trades": {
        "trade_reference": _req(_S),
        "counterparty_reference": ColumnSpec(_S),
        "amount": ColumnSpec(_D, 0.0),
        "days_late": ColumnSpec(_I, 0),
    },
}


def _nulls(dtype: T.DataType, *names: str) -> dict[str, ColumnSpec]:
    return {n: ColumnSpec(dtype) for n in names}


def _falses(*names: str) -> dict[str, ColumnSpec]:
    return {n: ColumnSpec(_B, False) for n in names}


def _zeros(*names: str) -> dict[str, ColumnSpec]:
    return {n: ColumnSpec(_D, 0.0) for n in names}


#: The CRM stage's multi-guarantee stack: one priority-ordered struct per
#: guarantee leg (tranche slice, SA weight, modelled guarantor carriers).
MG_STACK = T.ArrayType(
    T.StructType(
        [
            T.StructField("slice", _D),
            T.StructField("rw", _D),
            T.StructField("pd", _D),
            T.StructField("sen", _S),
            T.StructField("fse", _B),
            T.StructField("gclass", _S),
            T.StructField("gcqs", _I),
        ]
    )
)

#: The calculator input edge: every optional carrier a calculator branch
#: (SA, IRB, SEC-SA, slotting, equity, and the CIU/settlement ledger) reads,
#: with its dtype and its default. An absent carrier reads as its default
#: (`calc_edge_defaults`), so a ledger value is a function of column values
#: only; a null carrier's meaning is written out in the SQL that reads it.
CALC_EDGE: Mapping[str, ColumnSpec] = {
    # CRM components: zero where no CRM frame fed them (the branches
    # coalesce a carried amount's nulls to 0.0 as well)
    **_zeros(
        "provision_allocated",
        "collateral_value",
        "g_coverage",
        "collateral_value_gross",
        "haircut_quality",
        "haircut_fx",
        "haircut_maturity_mismatch",
        "on_bs_netting_amount",
    ),
    "class_reason": ColumnSpec(_S, "CLS_BRANCH_DIRECT"),
    # ledger provenance carriers: passed through as supplied, or written
    # by the branch that computes them; null otherwise
    **_nulls(_I, "hierarchy_depth", "facility_hierarchy_depth", "external_cqs", "sa_cqs"),
    **_nulls(
        _S,
        "country",
        "g_class",
        "model_id",
        "slot_category",
        "lending_group_reference",
        "retail_subtype",
        "exposure_type",
        "currency",
        "parent_counterparty_reference",
        "parent_facility_reference",
        "root_facility_reference",
        "collateral_source_level",
        "collateral_inherited_from",
        "collateral_allocation_method",
        "guarantee_source_level",
        "guarantee_inherited_from",
        "provision_source_level",
        "provision_inherited_from",
        "crm_allocation_notes",
        "ccf_source",
        "guarantor_reference",
        "approach_reason",
        "book_code",
        "approach_permitted",
        "borrower_income_currency",
        "netting_agreement_reference",
        "sa_rating_source",
        "sa_rw_adjustment_reason",
        "sa_rw_regulatory_ref",
        "protection_type",
        "guarantee_status",
        "guarantee_method_used",
        "pre_crm_counterparty_reference",
        "pre_crm_exposure_class",
        "post_crm_counterparty_guaranteed",
        "post_crm_exposure_class_guaranteed",
        "ead_calculation_method",
        "irb_lgd_type",
        "property_type",
        "ltv_band",
        "sl_type",
        "sl_project_phase",
        "equity_type",
        "equity_transitional_approach",
        # derived where null (calculators._provenance)
        "risk_type",
        "ultimate_parent_reference",
    ),
    **_nulls(
        _D,
        "ccf",
        "fx_rate",
        "group_exposure",
        "sme_supporting_factor",
        "infra_supporting_factor",
        "supporting_factor_benefit",
        "internal_pd",
        "ava_amount",
        "other_own_funds_reductions",
        "collateral_financial_value",
        "collateral_cash_value",
        "collateral_re_value",
        "collateral_receivables_value",
        "collateral_other_physical_value",
        "guarantee_fx_haircut",
        "guarantee_restructuring_haircut",
        "guarantor_risk_weight",
        "guaranteed_portion",
        "unguaranteed_portion",
        "pre_crm_risk_weight",
        "guarantee_benefit_rw",
        "guarantee_benefit",
        "scra_provision_amount",
        "gcra_provision_amount",
        "provision_capped_amount",
        "converted_undrawn",
        "gross_ead",
        "ead_after_collateral",
        "irb_pd_original",
        "irb_pd_floor",
        "irb_pd_floored",
        "irb_lgd_original",
        "irb_lgd_floor",
        "irb_lgd_floored",
        "irb_maturity_m",
        "irb_correlation_r",
        "irb_maturity_adj_b",
        "irb_capital_k",
        "irb_risk_weight",
        "sa_base_risk_weight",
        "sa_final_risk_weight",
        "sa_rw_adjustment",
        "risk_weight_pre_currency_mismatch",
        "property_ltv",
        "mortgage_risk_weight",
        "rwa_pre_adjustments",
        "mortgage_rw_floor_adjustment",
        "post_model_adjustment_rwa",
        "unrecognised_exposure_adjustment",
        "el_pre_adjustment",
        "post_model_adjustment_el",
        "el_after_adjustment",
        "fcsm_collateral_value",
        "fcsm_collateral_rw",
        "pre_fcsm_risk_weight",
        "sl_risk_weight",
        "equity_risk_weight",
        "equity_transitional_rw",
        "double_default_unfunded_protection",
        "irb_lgd_double_default",
        # derived where null (calculators._provenance)
        "guarantee_coverage_pct",
        "guarantee_effective_coverage_pct",
        "final_ead",
    ),
    **_nulls(
        _B,
        "retail_threshold_applied",
        "is_commercial_re",
        "is_defaulted",
        "counterparty_has_parent",
        "retail_eligible_via_group",
        "exposure_has_parent",
        "is_guaranteed",
        "currency_mismatch_multiplier_applied",
        "is_income_producing",
        "is_adc",
        "is_qualifying_re",
        "materially_dependent_on_property",
        "equity_higher_risk",
        "is_double_default_eligible",
    ),
    **_nulls(
        _AS,
        "ancestor_facilities",
        "facility_hierarchy_path",
        "data_quality_flags",
        "calculation_warnings",
        "collateral_references",
        "collateral_types",
        "provision_references",
        "guarantee_references",
    ),
    "original_maturity_date": ColumnSpec(_DT),
    # -- SA / IRB / slotting inputs read as values --------------------------
    **_falses(
        "is_qrre_transactor",
        "is_junior_lien",
        "is_presold",
        "is_other_re",
        "is_sme",
        "qualifies_as_retail",
        "is_social_housing",
        "is_short_term_trade_lc",
        "is_client_cleared",
        "is_qccp",
        "is_hedged",
        "is_revolving",
        "is_payroll_loan",
        "intragroup_zero_rw_eligible",
        "is_financial_sector_entity",
        "has_one_day_maturity_floor",
        "is_large_financial",
        "is_hvcre",
        "is_infrastructure",
        "guarantor_is_fse",
        "is_sts",
    ),
    # null-permissive flags (absent = no negative determination)
    **_nulls(_B, "external_rating_is_issue_specific", "pse_jurisdiction_equivalent"),
    **_nulls(
        _D,
        "prior_charge_ltv",
        "facility_limit",
        "due_diligence_override_rw",
        "residual_maturity_years",
        "el_be",
        "w_delinquent",
    ),
    "qualifying_property_count": ColumnSpec(_I),
    **_nulls(
        _S,
        "entity_type",
        "group_reference",
        "source_exposure_reference",
        "parent_exposure_reference",
        "guarantee_reference",
        "seniority",
        "purchased_receivables_subtype",
        "irb_subapproach",
        "guarantor_seniority",
        "ppu_reason",
        "permission_diagnostic",
        "external_rating_agency",
        "g_currency",
        "funding_currency",
    ),
    "facility_termination_date": ColumnSpec(_DT),
    "guarantor_references": ColumnSpec(_AS),
    # B3.1 RE-LTV bands: a null LTV prices the LTV-free limbs (ADC, other
    # RE) and leaves the band and loan-split limbs to the flat weight (with
    # is_other_re, also a plan gate)
    "ltv": ColumnSpec(_D),
    # Art.122(6)/(8) under the IG election: no assessment is not
    # investment grade (the reference's Boolean null-fill)
    "is_investment_grade": ColumnSpec(_B, False),
    # the declared '% guaranteed'; null reports the post-haircut figure
    "g_coverage_declared": ColumnSpec(_D),
    # the IRB guarantor-PD leg: a null PD substitutes no parameters and
    # is not double-default eligible
    "guarantor_pd": ColumnSpec(_D),
    # other funded protection, one (value, substitute RW) pair per channel:
    # a null value is no protection on that channel
    **_nulls(_D, "li_value", "li_rw", "tpd_value", "tpd_rw", "fcsm_value", "fcsm_rw"),
    # the SME factor's group aggregate: null prices the factor at 1.0
    "group_drawn": ColumnSpec(_D),
    # model-permission routing: all three grants null means the registry
    # was not consulted, and approach_permitted comes from the bundle's
    # blanket flag (false: standardised)
    **_nulls(_B, "model_airb_permitted", "model_firb_permitted", "model_slotting_permitted"),
    "has_irb_permission": ColumnSpec(_B, False),
    # -- carriers that also gate a plan (calculators module docstring) ---
    # covered bonds (+ the bond's own CQS, emitted alongside by hierarchy)
    "is_covered_bond": ColumnSpec(_B, False),
    "cb_cqs": ColumnSpec(_I),
    # sovereign-derived institution / PSE / RGLA ladders, ECA MEIP, SCRA
    "sovereign_cqs": ColumnSpec(_I),
    "eca_meip_score": ColumnSpec(_I),
    "scra_grade": ColumnSpec(_S),
    # short-term ECAI tables (original maturity also feeds value reads)
    "has_short_term_ecai": ColumnSpec(_B, False),
    "original_maturity_years": ColumnSpec(_D),
    # Art.123B hedge waiver: a null ratio is no coverage test
    "hedge_coverage_ratio": ColumnSpec(_D),
    # EU-domestic guarantor ladder
    "g_country": ColumnSpec(_S),
    # the CRM stage's multi-guarantee stack
    "_mg": ColumnSpec(MG_STACK),
    # supporting factors (the IRB SME correlation adjustment reads the
    # 0.0 default as unknown sales)
    "annual_revenue": ColumnSpec(_D, 0.0),
    # SEC-SA tranche grain / SEC-IRBA pool parameters: a null attachment
    # is pool grain (flat SEC-SA), a null K_IRB is no SEC-IRBA
    **_nulls(_D, "attachment", "detachment", "k_irb", "pool_n", "pool_lgd", "pool_maturity"),
    # -- equity holdings ----------------------------------------------------
    **_falses(
        "is_diversified_pe",
        "has_default_definition_info",
        "is_speculative",
        "is_explicitly_hedged",
    ),
    "business_age_years": ColumnSpec(_D),
    "equity_subtype": ColumnSpec(_S),
    # the PD/LGD election; net-short netting needs both the signed
    # position and its issuer
    "use_pd_lgd": ColumnSpec(_B, False),
    "position_value": ColumnSpec(_D),
    "issuer_reference": ColumnSpec(_S),
}


def calc_edge_defaults(present, names=None) -> dict[str, "Expr"]:
    """The typed default (SQL) of every `CALC_EDGE` carrier, or of the
    `names` subset, that `present` lacks."""
    specs = CALC_EDGE if names is None else {n: CALC_EDGE[n] for n in names}
    return absent_defaults(present, specs)


#: Vendor-header → canonical-name translation (ref engine/loader.py alias
#: translation). Keys are POST-normalisation (lowercased, separators
#: unified), per table; '*' aliases apply everywhere.
ALIASES: dict[str, dict[str, str]] = {
    "*": {
        "cpty_ref": "counterparty_reference",
        "cpty_reference": "counterparty_reference",
        "counterparty_id": "counterparty_reference",
        "obligor_reference": "counterparty_reference",
        "ccy": "currency",
    },
    "counterparties": {
        "credit_quality_step": "cqs",
        "turnover": "annual_revenue",
        "sales": "annual_revenue",
    },
    "loans": {
        "loan_id": "loan_reference",
        "outstanding_balance": "drawn_amount",
        "balance": "drawn_amount",
        "default_flag": "is_defaulted",
        "maturity": "effective_maturity",
        "best_estimate_el": "el_be",
    },
    "contingents": {
        "contingent_id": "contingent_reference",
        "notional": "nominal_amount",
        "ccf_bucket": "risk_bucket",
    },
    "collateral": {
        "collateral_id": "collateral_reference",
        "value": "market_value",
        "type": "collateral_type",
    },
    "guarantees": {
        "coverage": "coverage_pct",
        "guarantee_coverage": "coverage_pct",
    },
    "fx_rates": {"rate": "rate_to_reporting"},
}

_SEP = re.compile(r"[\s\-./]+")


def normalize_name(name: str) -> str:
    """Lowercase, trim, unify separators to underscores (reference loader
    name normalisation)."""
    return _SEP.sub("_", name.strip().lower()).strip("_")


def normalize_columns(df: DataFrame, table: str) -> DataFrame:
    """Normalise every column name and translate known aliases."""
    aliases = {**ALIASES.get("*", {}), **ALIASES.get(table, {})}
    renames = {}
    for c in df.columns:
        canon = normalize_name(c)
        canon = aliases.get(canon, canon)
        if canon != c:
            renames[c] = canon
    for old, new in renames.items():
        df = df.withColumnRenamed(old, new)
    return df


def seal_table(df: DataFrame, table: str) -> DataFrame:
    """Normalise + alias-translate + cast + default-fill one input table."""
    if table not in INPUT_SCHEMAS:
        raise KeyError(f"unknown input table: {table!r}")
    return ensure_columns(normalize_columns(df, table), INPUT_SCHEMAS[table])


def seal_bundle(raw: RawBundle) -> RawBundle:
    """Seal every present frame of a RawBundle against its declared schema
    (the reference's `RawDataBundle` seal, contracts/bundles.py:100-122)."""
    updates = {}
    for table in INPUT_SCHEMAS:
        frame = getattr(raw, table, None)
        if frame is not None:
            updates[table] = seal_table(frame, table)
    return dc_replace(raw, **updates)
