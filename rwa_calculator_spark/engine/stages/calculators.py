"""SA and IRB calculators (ref engine/sa/risk_weights.py,
engine/irb/formulas.py) + approach routing (ref engine/stages/calc.py:
filter-split by approach, compute branches, recombine by unionByName).

SA: rulepack RW lookup on (class, cqs) broadcast-joined, override ladder
(defaulted / RE-secured / retail / unrated), guarantee substitution on the
covered portion, supporting factors.

IRB: the staged K pipeline from functions/irb (codegen-friendly Φ/Φ⁻¹),
PD/LGD floors from the rulepack; defaulted exposures bypass Vasicek
entirely (CRR Art.153(1)(ii)/154(1)(i), ref engine/irb/adjustments.py
apply_defaulted_treatment): A-IRB K = max(0, LGD − BEEL), F-IRB K = 0,
no maturity adjustment. EL shortfall/excess vs allocated provisions
(CRR Art.158-159, ref adjustments.py compute_el_shortfall_excess).

Every branch emits the same audit-ledger columns (_RESULT_COLS — the
reference's 162-column CALCULATION_OUTPUT_SCHEMA distilled to its
load-bearing component buckets: EAD pre/post CRM, provisions, collateral,
guarantee coverage, RW provenance, EL decomposition).

Input contract (ref contracts/edges.py EdgeContract.conform): every branch
entry conforms its input to `contracts.schemas.CALC_EDGE`, which declares
each optional carrier a calculator reads with its dtype and default. There
is one kind of carrier: an absent one reads as its default — in the
branch filter, in the provenance fills and in every expression after the
entry — so a ledger value is a function of column values only, and an
edge without a carrier prices exactly like one holding its default. Where
a null carrier means something of its own (no guarantor PD, no funded-
protection channel, no group aggregate, no model grants), the SQL that
reads it writes that case out, so the literal an absent carrier gets
folds the leg away and the optimised plan is the one that never rendered
it.

Plan gates: the branches still test which carriers their input really
carried, but only to skip building what an absent carrier's default
would leave unmatched, unread or folded away — the ledger is the same
either way (tests/test_calc_edge.py). Pack-table joins in `run_sa`:
``is_covered_bond`` (the covered-bond ladder and derivation tables),
``ltv`` with ``is_other_re`` (the B3.1 counterparty ladder of the RE
loan-split and other-RE limbs), ``sovereign_cqs`` (the sovereign-derived
institution, PSE and RGLA tables), ``scra_grade`` (the SCRA and SCRA
short-term tables), ``original_maturity_years`` (the ECRA short-term
table), ``has_short_term_ecai`` (the short-term ECAI tables),
``eca_meip_score`` (the ECA MEIP table) and ``g_country`` (the
EU-domestic guarantor table). Large folds, which Catalyst would parse,
analyse and then fold away on every build: the ``_mg`` stack folds
(`run_sa`, `run_irb`), the guarantor-PD Vasicek leg (``guarantor_pd``,
`run_irb`) and the SSFA closed forms (``attachment``, ``k_irb``,
`run_secsa`).

Build shape (``functions/sqltext.py``): every expression is SQL text built
in Python — ``S.when``/``S.coalesce``/``S.col`` mirror the Column API, the
Φ/Φ⁻¹ kernels are the JVM UDFs called by name, the multi-guarantee folds
are SQL lambdas — and a branch's frame is a `Projection` whose column
steps apply as one ``selectExpr`` per run of steps (lateral aliases carry
a step's columns to the next). DataFrame calls remain only where the plan
changes shape: the branch filter, the CALC_EDGE conform, each pack-table
or dictionary join (the pack side built, renamed and broadcast-hinted in
one ``spark.sql``), the IRB defaulted/performing split and its union.
Built this way the SA and IRB branches of a sealed run cost ~220 py4j
round trips and 46 frame-building calls (27 of them ``selectExpr`` steps),
against ~7,200 and 95 as Columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rwa_calculator_spark.contracts.schemas import MG_STACK, calc_edge_defaults
from rwa_calculator_spark.engine.bundles import CalcOutput, CRMOutput
from rwa_calculator_spark.engine.rulepack import RulePack
from rwa_calculator_spark.functions import sqltext as S
from rwa_calculator_spark.functions.irb import (
    FI_CORRELATION_MULTIPLIER,
    R_RETAIL_MORTGAGE,
    R_RETAIL_QRRE,
    correlation_other_retail_v,
    correlation_v,
    maturity_adj_v,
    maturity_b_v,
    sme_size_adjustment_v,
    with_irb_k_r,
)
from rwa_calculator_spark.functions.sqltext import Expr, Projection
from rwa_calculator_spark.functions.stats import with_normal_ppf
from rwa_calculator_spark.operators.dictionary import dictionary_apply


# The audit ledger every calculator branch emits (ref CALCULATION_OUTPUT_
# SCHEMA, data/schemas.py:2877 — distilled). Asserted by tests/test_contracts.
_RESULT_COLS = [
    "exposure_reference",
    "counterparty_reference",
    "exposure_class",
    "approach",
    # gross pre-CF/CCF carriers (Pillar 3 CR4 cols a/b, COREP C07 col 0010
    # "original exposure" — ref reporting/pillar3/cr4.py gross on/off-BS)
    "drawn_amount",
    "undrawn_amount",
    "ead",
    "ead_after_crm",
    "provision_allocated",
    "collateral_value",
    "g_coverage",
    "risk_weight",
    "rw_source",
    "rwa_before_sf",
    "rwa",
    "expected_loss",
    "el_shortfall",
    "el_excess",
    # parameter components actually used (reconciliation buckets: CCF, PD,
    # LGD, M per exposure — null where the approach has no such input)
    "ccf",
    "pd_used",
    "lgd_used",
    "maturity_used",
    # the exposure's RWA under the STANDARDISED approach — the Art.92(3)
    # output-floor base (own rwa for SA-family branches; IRB rows re-weighted
    # through the real SA ladder, not a flat proxy)
    "rwa_sa_equivalent",
    # stage-provenance carriers (round 4, toward the reference's 162-col
    # CALCULATION_OUTPUT_SCHEMA): which classifier branch fired, the CMS1/
    # CCR-vs-credit risk-type discriminator, and the Art.224/239 haircut
    # decomposition (gross − quality − fx − mismatch ≡ collateral_value)
    "class_reason",
    "risk_type",
    "collateral_value_gross",
    "haircut_quality",
    "haircut_fx",
    "haircut_maturity_mismatch",
    # obligor country of residence — the COREP C 09.01 geography axis (ref
    # reporting/corep/c09.py: sheets key the counterparty country); null when
    # the counterparty dim carries none
    "country",
    # guarantor destination class — the CRM-substitution inflow routing key
    # (ref reporting/corep/crm_substitution.py: the per-destination-class
    # inflow is computed once over the WHOLE population and routed to the
    # template that reports the substituted leg); null when unguaranteed
    "g_class",
    # the hypothetical NO-SUBSTITUTION RWA — the carrier the reference
    # RECORDS as its F7 follow-up ("the m-side needs a pre-substitution
    # RWA carrier", reporting/pillar3/cr7a.py:36-41; cr7.py:16-21 records
    # the a=b approximation it forces). SA: EAD × own-ladder RW × factor
    # (post-base B3.1 adjustments not re-applied — recorded scope); IRB:
    # EAD × pre-guarantee-blend Vasicek RW; substitution-free branches
    # carry their actual rwa
    "rwa_pre_crm_substitution",
    # round-5 period-over-period lineage carriers: the rating model that
    # priced the row (sealed from the model-permission stage's model_id
    # when the bundle routes permissions — CR8 row 4 "model updates" keys
    # a matched row whose model changed between runs) and the exposure→
    # reporting currency translation rate (CR8 row 7's exact two-factor
    # FX split; null when the bundle carries no FX inputs). Ref
    # reporting/pillar3/cr8.py:22-24 — the carriers whose absence kept
    # the reference's rows 4-7 null.
    "model_id",
    "fx_rate",
    # the assigned Art.153(5) slotting category (ref
    # CALCULATION_OUTPUT_SCHEMA's slotting carriers) — the C 08.06 / CR10
    # row axis; null where the counterparty has no slotting assignment
    "slot_category",
    # round-5 widening toward the reference's 162-col
    # CALCULATION_OUTPUT_SCHEMA (data/schemas.py:2877) — each carrier is a
    # value the pipeline already computes, surfaced instead of dropped:
    # the resolved group apex + walk depth (hierarchy stage),
    "ultimate_parent_reference",
    "hierarchy_depth",
    # the Art.4(1)(39) connected-clients group and its aggregate exposure
    # (the Art.123 retail-threshold base), plus whether that test decided
    # the row's class (classify stage),
    "lending_group_reference",
    "group_exposure",
    "retail_threshold_applied",
    # retail sub-portfolio + commercial-property routing carriers (ref: the
    # reference's class enum IS the subtype — retail_mortgage/retail_qrre/
    # retail_other — and property_type; this ledger keeps class 'retail'
    # with the subtype alongside, consumed by the Art.164(4) portfolio
    # LGD-floor check and the per-class parameter floors)
    "retail_subtype",
    "is_commercial_re",
    # the obligor default flag (ref schemas.py:2525 is_defaulted) — the
    # C 02.00 row-0160 / CR template defaulted-memo axis,
    "is_defaulted",
    # identity/provenance fringe (ref :2877 block headers): the pre-split
    # source reference (RE-split stage; own reference when never split),
    # the source row type, the obligor's IMMEDIATE org parent + flag
    # (hierarchy dim), and whether the Art.123 retail test decided on a
    # group base (classify),
    "source_exposure_reference",
    "exposure_type",
    # denomination currency input (rides from the loader; ref schemas.py
    # currency — the Art.141 test input, reported as supplied),
    "currency",
    # the borrower's income currency as supplied (ref :3082 — the Art.123A
    # mismatch test input the SA chain consumes),
    "borrower_income_currency",
    "parent_counterparty_reference",
    "counterparty_has_parent",
    "retail_eligible_via_group",
    # identity long tail (ref :2885-2905): the pre-guarantor-split parent
    # (this engine keeps guarantee portions ON-ROW, never row-splits, so
    # the parent is the row's own reference — recorded narrowing), the
    # book/portfolio code and contractual maturity date as supplied, the
    # internal-model PD fed by the Art.171/175 inheritance channel, and
    # the Art.138-resolved external CQS kept under its own name,
    "parent_exposure_reference",
    "book_code",
    "original_maturity_date",
    "internal_pd",
    "external_cqs",
    # approach permission grant consulted by routing (ref :2935
    # approach_permitted; permissions stage grants where present, else the
    # bundle's has_irb_permission flag),
    "approach_permitted",
    # CRR Art.159(1)(c)/(d) Pool-B components (ref data/schemas.py:405-413:
    # per-exposure AVAs / other own-funds reductions, null when unreported
    # — absence of data must not imply a zero AVA),
    "ava_amount",
    "other_own_funds_reductions",
    # CRR Art.195/219 on-balance-sheet netting benefit allocated to this
    # exposure (ref :2961; crm stage netting kernel) and the agreement it
    # came through (audit carrier),
    "on_bs_netting_amount",
    "netting_agreement_reference",
    # facility-structure provenance block (ref CALCULATION_OUTPUT_SCHEMA
    # :2911-2918): whether the exposure hangs off a facility, its direct
    # parent, the ordered ancestor chain (parent→root), the hierarchy
    # root, levels below root (0 = standalone), and the full root→exposure
    # path — all sealed by the hierarchy stage's broadcast closure,
    "exposure_has_parent",
    "parent_facility_reference",
    "ancestor_facilities",
    "root_facility_reference",
    "facility_hierarchy_depth",
    "facility_hierarchy_path",
    # CRM inheritance provenance (ref :2922-2929): WHERE in the hierarchy
    # each mitigant came from, which entity it was inherited from, and how
    # it was allocated down (crm stage),
    "collateral_source_level",
    "collateral_inherited_from",
    "collateral_allocation_method",
    "guarantee_source_level",
    "guarantee_inherited_from",
    "provision_source_level",
    "provision_inherited_from",
    "crm_allocation_notes",
    # warning / DQ list carriers (ref schemas.py calculation_warnings /
    # data_quality_flags): machine codes + human-readable twins collected
    # from the stage gates (today the Art.194(4) own-issue exclusions),
    "data_quality_flags",
    "calculation_warnings",
    # supporting-factor decomposition (ref schemas.py sme_supporting_factor
    # / infra_supporting_factor / supporting_factor_benefit): SA branch
    # seals the applied factors and the RWEA saved; IRB rows carry null
    # (this engine prices Art.501/501a on the SA chain only — recorded),
    "sme_supporting_factor",
    "infra_supporting_factor",
    "supporting_factor_benefit",
    # WHICH CCF rule fired (Annex I bucket / OC original-maturity split /
    # F-IRB Art.166(8) bespoke / issued fallback — crm stage),
    "ccf_source",
    # who provides the unfunded protection (crm stage; null unguaranteed),
    "guarantor_reference",
    # guarantee-impact block (ref CALCULATION_OUTPUT_SCHEMA :2972-3005):
    # the protection instrument and its Art.233(3) value haircuts (crm
    # stage), the covered/retained EAD split, substitute weight, isolated
    # benefit, and the status/method enums plus pre/post-substitution
    # counterparty tracking (SA and IRB calculators). guarantee_references
    # carries the FULL priority-ordered stack (both channels price every
    # leg since the round-7 multi-guarantee fold); the 0/1-element fill is
    # only the fallback for direct-call frames without the crm stack.
    "guarantee_references",
    # guarantor counterparty ids as a list (ref :2973 guarantor_references
    # — same stack ordering as guarantee_references),
    "guarantor_references",
    "protection_type",
    "guarantee_coverage_pct",
    "guarantee_effective_coverage_pct",
    "guarantee_fx_haircut",
    "guarantee_restructuring_haircut",
    "guarantor_risk_weight",
    "is_guaranteed",
    "guaranteed_portion",
    "unguaranteed_portion",
    "pre_crm_risk_weight",
    "guarantee_benefit_rw",
    "guarantee_benefit",
    "guarantee_status",
    "guarantee_method_used",
    "pre_crm_counterparty_reference",
    "pre_crm_exposure_class",
    "post_crm_counterparty_guaranteed",
    "post_crm_exposure_class_guaranteed",
    # provision-impact block (ref :3005-3008): WHICH provisions were
    # applied (all three allocation levels, sorted + duplicate-free), the
    # IFRS 9 SCRA/GCRA split of the allocated total (scra + gcra ≡
    # provision_allocated), and the amount that actually reduced the SA
    # exposure value (zero on IRB rows — their provisions route to the EL
    # shortfall/excess comparison instead)
    "provision_references",
    "scra_provision_amount",
    "gcra_provision_amount",
    "provision_capped_amount",
    # EAD-calculation block (ref :3010-3014): converted off-BS amount,
    # gross (pre-provision) EAD, the post-collateral value BEFORE any RE
    # split re-partitions it, the final figure RWA priced on, and which
    # collateral method the run elected
    "converted_undrawn",
    "gross_ead",
    "ead_after_collateral",
    "final_ead",
    "ead_calculation_method",
    # IRB parameter decomposition (ref :3026-3041): raw-vs-floor PD/LGD
    # provenance, the LGD basis (modelled/supervisory), effective
    # maturity, routed correlation R, the Art.153(1) maturity slope b,
    # capital K, and the pre-substitution Vasicek weight — every value
    # the kernel already computed, surfaced instead of dropped
    "irb_pd_original",
    "irb_pd_floor",
    "irb_pd_floored",
    "irb_lgd_type",
    "irb_lgd_original",
    "irb_lgd_floor",
    "irb_lgd_floored",
    "irb_maturity_m",
    "irb_correlation_r",
    "irb_maturity_adj_b",
    "irb_capital_k",
    "irb_risk_weight",
    # SA decision block (ref :3021-3025): the CQS consulted, the base
    # ladder weight, the final weight after every override, their delta
    # (rw_source remains the which-branch-fired reason carrier)
    "sa_cqs",
    "sa_base_risk_weight",
    "sa_final_risk_weight",
    "sa_rw_adjustment",
    # the remaining SA decision strings (ref :3025-3030): which rating
    # channel supplied the CQS (agency name / "internal" / null unrated),
    # why the final weight moved off the base ladder, and the CRR / PS1/26
    # article the pricing branch carries,
    "sa_rating_source",
    "sa_rw_adjustment_reason",
    "sa_rw_regulatory_ref",
    # currency-mismatch decomposition (ref :3066-3068): the pre-multiplier
    # snapshot and whether the Art.123A ×1.5 actually applied
    "risk_weight_pre_currency_mismatch",
    "currency_mismatch_multiplier_applied",
    # RE decision block (ref :3045-3053): property type/LTV, the band the
    # income track priced on, the Art.124A qualification outcome, the
    # cash-flow dependency that routed the row, the raw income/ADC input
    # flags, and the RW the RE treatment assigned
    "property_type",
    "property_ltv",
    "ltv_band",
    "is_income_producing",
    "is_adc",
    "is_qualifying_re",
    "materially_dependent_on_property",
    "mortgage_risk_weight",
    # PS1/26 Art.153(5A)/154(4A)/158(6A) post-model adjustments (ref
    # :3070-3076): pre-PMA RWEA, the mortgage-floor increase applied
    # FIRST, the general-PMA/unrecognised scalars on the post-floor base,
    # and the EL twins (expected_loss keeps the pre-PMA value;
    # el_after_adjustment carries the floored-at-zero adjusted figure).
    # IRB-branch columns; zeros under CRR, null on non-IRB branches.
    "rwa_pre_adjustments",
    "mortgage_rw_floor_adjustment",
    "post_model_adjustment_rwa",
    "unrecognised_exposure_adjustment",
    "el_pre_adjustment",
    "post_model_adjustment_el",
    "el_after_adjustment",
    # FCSM decomposition (ref :3016-3018) — simple-method collateral
    # value/substitute weight and the pre-substitution RW snapshot
    "fcsm_collateral_value",
    "fcsm_collateral_rw",
    "pre_fcsm_risk_weight",
    # SL + equity decomposition (ref :3042-3045): the input carriers under
    # the reference's names and each branch's assigned weight
    "sl_type",
    "sl_project_phase",
    "sl_risk_weight",
    "equity_type",
    "equity_risk_weight",
    "equity_higher_risk",
    # PRA Rules 4.1-4.10 equity transitional carriers (ref calculator.py
    # :1110-1126): the COREP OF 07.00 approach annotation and the resolved
    # floor weight; null outside the B3.1 transition window,
    "equity_transitional_approach",
    "equity_transitional_rw",
    # WHY the approach routed as it did (permission diagnostic where the
    # model-permission stage ran, branch rule otherwise — calculators)
    "approach_reason",
    # round-6 widening (ref data/schemas.py:2954-2955, :3098-3100):
    # WHICH collateral items secured the row (sorted, duplicate-free —
    # deterministic under shuffle; crm stage), and the CRR Art.153(3)/
    # 202-203 double-default decomposition — the Art.202 eligibility gate
    # outcome, the guaranteed portion under DD (COREP C 08.01 col 0220),
    # and the LGD the DD formula used (the obligor's own — DD modifies K
    # through PD_g, never LGD). CRR-only: B3.1 rows carry the honest
    # false/null (PS1/26 did not onshore double default).
    "collateral_references",
    "collateral_types",
    # per-type decomposition of the allocated (post-haircut) collateral
    # value (ref data/schemas.py:2963-2968 "Per-type collateral tracking
    # for COREP C 08.01 cols 0170-0210"): financial + receivables + other
    # ≡ collateral_value exactly (RE never enters the FCCM channel — its
    # carrier is sealed by the RE-split stage instead); cash is a reported
    # SUBSET of financial
    "collateral_financial_value",
    "collateral_cash_value",
    "collateral_re_value",
    "collateral_receivables_value",
    "collateral_other_physical_value",
    "is_double_default_eligible",
    "double_default_unfunded_protection",
    "irb_lgd_double_default",
]

# exposure_type → CMS1-style risk-type discriminator (ref
# reporting/pillar3/cms1.py _CCR_RISK_TYPES: the CCR rows key by risk_type,
# never by approach label — under CRR the CCR legs carry approach
# 'standardised' and an approach-based rule would no-op)
_RISK_TYPE_BY_ETYPE = {
    "ccr": "CCR_DERIVATIVE",
    "sft": "CCR_SFT",
    "securitisation_pool": "SECURITISATION",
}


def _provenance(default_risk_type: str) -> dict[str, Expr]:
    """The provenance carriers a conformed branch frame derives from its
    other columns where it carries none.

    `risk_type` derives from exposure_type where the unified ledger carries
    one (CCR/SFT synthetic netting-set rows, securitisation pools); branches
    built outside the hierarchy union (equity, CIU, settlement) pass their
    own default."""
    rt = S.lit(default_risk_type)
    for etype, label in _RISK_TYPE_BY_ETYPE.items():
        rt = S.when(S.col("exposure_type") == etype, label).otherwise(rt)
    ref = S.col("exposure_reference")
    g = S.coalesce("g_coverage", S.lit(0.0))
    return {
        "risk_type": S.coalesce(S.col("risk_type"), rt),
        # round-5 carrier: the resolved group apex where the frame went
        # through the hierarchy stage, else null
        "ultimate_parent_reference": S.coalesce(
            "ultimate_parent_reference", "group_reference"
        ),
        # identity fills:
        # - source_exposure_reference: a never-split row is its own source
        # - facility-structure identities for bundles with no facility data
        #   (no parent, depth 0, own 1-element path; ref schemas.py:2911-2915)
        # - parent_exposure_reference (ref :2885 "original exposure before
        #   multi-guarantor split"): this engine never row-splits on
        #   guarantors (portions stay on-row), so the parent IS the row's
        #   own reference
        "exposure_has_parent": S.coalesce("exposure_has_parent", S.lit(False)),
        "facility_hierarchy_depth": S.coalesce("facility_hierarchy_depth", S.lit(0)),
        "source_exposure_reference": S.coalesce("source_exposure_reference", ref),
        "facility_hierarchy_path": S.coalesce("facility_hierarchy_path", S.array(ref)),
        "parent_exposure_reference": S.coalesce("parent_exposure_reference", ref),
        # guarantee id lists: the crm stack where present, else a 0/1-element
        # list from the scalar (single first-wins guarantee — recorded
        # narrowing)
        "guarantor_references": S.coalesce(
            "guarantor_references",
            S.when(
                S.col("guarantor_reference").isNotNull(),
                S.array(S.col("guarantor_reference")),
            ),
        ),
        "guarantee_references": S.coalesce(
            "guarantee_references",
            S.when(
                S.col("guarantee_reference").isNotNull(),
                S.array(S.col("guarantee_reference")),
            ),
        ),
        # guarantee_coverage_pct carries the DECLARED '% guaranteed' (ref
        # contract), else the Art.233(3) post-haircut figure, which seals
        # separately as guarantee_effective_coverage_pct
        "guarantee_coverage_pct": S.coalesce(
            "guarantee_coverage_pct", "g_coverage_declared", g
        ),
        "guarantee_effective_coverage_pct": S.coalesce(
            "guarantee_effective_coverage_pct", g
        ),
        # the figure RWA actually priced on
        "final_ead": S.coalesce("final_ead", "ead_after_crm", "ead"),
    }


# CRM component amounts: zero when the branch input never went through
# run_crm or a CRM frame was absent; a carried amount's nulls read as zero
_CRM_AMOUNTS = {
    c: S.coalesce(c, S.lit(0.0))
    for c in (
        "provision_allocated",
        "collateral_value",
        "g_coverage",
        "collateral_value_gross",
        "haircut_quality",
        "haircut_fx",
        "haircut_maturity_mismatch",
        "on_bs_netting_amount",
    )
}

# approach_permitted (ref :2935): the permission grant routing consulted —
# the model-permission grants where that stage ran (it emits all three,
# never null), else the bundle's blanket has_irb_permission flag
_GRANTS = ("model_airb_permitted", "model_firb_permitted", "model_slotting_permitted")
_APPROACH_PERMITTED = (
    S.when(S.coalesce(_GRANTS[0], S.lit(False)), "AIRB")
    .when(S.coalesce(_GRANTS[1], S.lit(False)), "FIRB")
    .when(S.coalesce(_GRANTS[2], S.lit(False)), "SLOTTING")
    .when(S.coalesce(*_GRANTS).isNotNull(), "SA")
    .when(S.coalesce("has_irb_permission", S.lit(False)), "AIRB")
    .otherwise("SA")
)


def _conform(
    exp: DataFrame, fills: dict[str, Expr], where: Expr | None = None
) -> Projection:
    """Conform `exp` to CALC_EDGE in one projection: every absent carrier
    reads as its typed default — in `where` and `fills` too, so both see
    the same values a default-valued column would give them — and the
    `fills` carriers are defined over the rest."""
    proj = Projection(exp)
    defaults = calc_edge_defaults(proj.columns)
    if where is not None:
        proj = proj.where(where.bind(defaults))
    return proj.with_columns(
        {**defaults, **{n: e.bind(defaults) for n, e in fills.items()}}
    )


def _calc_entry(crm: CRMOutput, where: Expr) -> Projection:
    """A calculator branch's entry: the CRM edge's `where` rows, conformed,
    with the CRM amounts zeroed and the provenance and routing carriers
    sealed."""
    fills = {
        **_CRM_AMOUNTS,
        **_provenance("CREDIT"),
        "approach_permitted": _APPROACH_PERMITTED,
    }
    return _conform(crm.exposures, fills, where)


def _provenance_cols(exp: DataFrame, default_risk_type: str = "CREDIT") -> Projection:
    """Conform a ledger frame built outside the CRM edge (equity, CIU,
    settlement) to CALC_EDGE and seal its provenance carriers."""
    return _conform(exp, _provenance(default_risk_type))


def _param_cols(exp: Projection, pd_col=None, lgd_col=None, m_col=None) -> Projection:
    none = S.null("double")
    return exp.with_columns(
        {
            "ccf": S.col("ccf").cast("double"),
            "pd_used": none if pd_col is None else pd_col,
            "lgd_used": none if lgd_col is None else lgd_col,
            "maturity_used": none if m_col is None else m_col,
        }
    )


def _el_columns(
    exp: Projection, expected_loss: Expr, pool_b_extras: bool = False
) -> Projection:
    """EL + shortfall/excess vs the CRR Art.159(1) Pool B: allocated
    provisions plus, on the IRB legs only (pool_b_extras=True), the
    per-exposure Art.159(1)(c)/(d) components — additional value
    adjustments (Art.34/105 AVAs) and other own-funds reductions (ref
    engine/irb/adjustments.py compute_el_shortfall_excess:306-353 —
    components enter the pool exactly once, at this stage; null inputs
    contribute 0 to the POOL but stay null on their ledger carriers)."""
    pool_b = S.coalesce("provision_allocated", S.lit(0.0))
    if pool_b_extras:
        for extra in ("ava_amount", "other_own_funds_reductions"):
            pool_b = pool_b + S.coalesce(extra, S.lit(0.0))
    # shortfall/excess inline the expected_loss expression (identical
    # arithmetic DAG) so all three land in one projection
    return exp.with_columns(
        {
            "expected_loss": expected_loss,
            "el_shortfall": S.greatest(expected_loss - pool_b, S.lit(0.0)),
            "el_excess": S.greatest(pool_b - expected_loss, S.lit(0.0)),
        }
    )


def _pd_floor_class_expr(pack: RulePack) -> Expr:
    """Per-exposure-class IRB PD floor (ref engine/irb/formulas.py
    _pd_floor_expression + rulebook/packs "pd_floors"): under CRR the 0.03%
    floor reaches corporates/institutions (Art.160(1)) and retail
    (Art.163(1)) but NO article reaches central governments/central banks —
    the sovereign floor is 0. B3.1 (PS1/26 / BCBS CRE30.55) differentiates:
    retail mortgages and QRRE revolvers 0.10%, QRRE transactors and
    everything else 0.05%. Frames without an is_qrre_transactor carrier
    take the conservative revolver floor (the reference's
    has_transactor_col=False path); unknown classes default to the
    corporate floor (the reference's fill_null('CORPORATE'))."""
    f = pack.table_map("pd_floor_by_class")
    sub = S.col("retail_subtype")
    trans = S.coalesce(S.col("is_qrre_transactor"), S.lit(False))
    # Art.147(3)/(4)(b): floors key on the IRB-equivalent class run_irb
    # seals before staging the floors
    cls = S.col("irb_exposure_class")
    is_retail = cls == "retail"
    return (
        S.when(cls == "sovereign", S.lit(f["sovereign"]))
        .when(is_retail & (sub == "mortgage"), S.lit(f["retail_mortgage"]))
        .when(
            is_retail & (sub == "qrre") & trans,
            S.lit(f["retail_qrre_transactor"]),
        )
        .when(is_retail & (sub == "qrre"), S.lit(f["retail_qrre_revolver"]))
        .when(is_retail, S.lit(f["retail_other"]))
        .when(cls == "institution", S.lit(f["institution"]))
        .otherwise(S.lit(f["corporate"]))
    )


def _guarantor_pd_floor_expr(pack: RulePack, gclass: Expr) -> Expr:
    """PD floor for a substituted guarantor PD, keyed on the GUARANTOR's
    own class (CRR Art.160(4) / ref _pd_floor_expression's
    guarantor_exposure_class routing — the covered portion is a direct
    exposure to the guarantor, so the guarantor's class floor governs;
    sovereign guarantors are unfloored under CRR)."""
    f = pack.table_map("pd_floor_by_class")
    return (
        S.when(gclass == "sovereign", S.lit(f["sovereign"]))
        .when(gclass == "institution", S.lit(f["institution"]))
        .otherwise(S.lit(f["corporate"]))
    )


def _lgd_floor_expr(pack: RulePack) -> Expr:
    """A-IRB LGD input floor (feature-gated; ref engine/irb/formulas.py
    _lgd_floor_expression / _lgd_floor_blended_expression, PS1/26
    Art.161(5) corporate + Art.164(4) retail; CRR returns 0 — no A-IRB
    floors). Flat class floor (25% corporate / 5% retail-RRE / 50% QRRE /
    30% other-retail) for unprotected rows; where recognised funded
    protection is present the Art.161(5)(b)/164(4)(c) floor is the blend
    of per-collateral-type LGDS and the class LGDU, weighted over the
    Art.230(1) CCF=100% basis E = drawn + undrawn — the per-type
    allocations are the CRM stage's own sealed decomposition (financial /
    receivables / other-physical; RE rides collateral_re_value). Retail
    mortgages keep the flat 5% (Art.164(4)(a) — the reference's blend
    deny-list). F-IRB rows are never floored (supervisory LGDs)."""
    if pack.scalar("airb_lgd_floor") < 1.0:
        return S.lit(0.0)
    f = pack.table_map("lgd_floors")
    sub = S.col("retail_subtype")
    cls = S.col("irb_exposure_class")
    is_retail = cls == "retail"
    is_mortgage = is_retail & (sub == "mortgage")
    lgdu = (
        S.when(is_mortgage, S.lit(f["retail_rre"]))
        .when(is_retail & (sub == "qrre"), S.lit(f["retail_qrre_unsecured"]))
        .when(is_retail, S.lit(f["retail_other_unsecured"]))
        .otherwise(S.lit(f["unsecured"]))
    )
    fin = S.coalesce("collateral_financial_value", S.lit(0.0))
    recv = S.coalesce("collateral_receivables_value", S.lit(0.0))
    oth = S.coalesce("collateral_other_physical_value", S.lit(0.0))
    re_v = S.coalesce("collateral_re_value", S.lit(0.0))
    tot = S.coalesce("collateral_value", S.lit(0.0)) + re_v
    raw_basis = S.coalesce("drawn_amount", S.lit(0.0)) + S.coalesce(
        "undrawn_amount", S.lit(0.0)
    )
    # convexity guard: allocations never exceed the basis they were
    # allocated against, but a basis narrower than total protection must
    # not produce negative unsecured weight
    basis = S.greatest(raw_basis, tot)
    unsec = S.greatest(basis - tot, S.lit(0.0))
    blend = (
        unsec * lgdu
        + fin * S.lit(f["financial_collateral"])
        + recv * S.lit(f["receivables"])
        + re_v * S.lit(f["residential_real_estate"])
        + oth * S.lit(f["other_physical"])
    ) / S.nullif(basis, S.lit(0.0))
    floor = S.when((tot > 0) & ~is_mortgage, S.coalesce(blend, lgdu)).otherwise(lgdu)
    return S.when(
        S.coalesce(S.col("irb_subapproach"), S.lit("airb")) == "firb",
        S.lit(0.0),
    ).otherwise(floor)


def _irb_guarantee_adjust(
    perf: Projection, pack: RulePack, spark, carried: frozenset
) -> tuple[Projection, Expr]:
    """IRB unfunded-protection treatment (ref engine/irb/guarantee.py
    apply_guarantee_substitution, 902 LoC distilled to its dataflow):

    - SA guarantor (no internal PD): RW substitution — the covered leg takes
      the guarantor's SA risk weight (CRR Art.235 / Basel 3.1 SA guarantors).
    - IRB guarantor (``guarantor_pd`` not null): parameter substitution —
      the covered leg re-prices through the full Vasicek kernel with the
      guarantor's floored PD, the Art.161(1) supervisory LGD selected by
      seniority/FSE status, and the guarantor-PD corporate correlation
      (CRR Art.161(3) / B3.1 CRE22.70-85). The reference's Art.160(4)
      "no better than direct" floor is an identity here because the PSM LGD
      IS the direct supervisory LGD (psm_lgd_source=option_ii distilled).
    - Double default (CRR Art.153(3)/202-203, pack-gated — CRR only):
      RW_dd = RW_obligor × (0.15 + 160·PD_g) when the underlying is
      corporate, the guarantor is an institution/sovereign/MDB or a
      CQS≤2 corporate with an internal PD, and the row is A-IRB routed;
      taken when lower than the substitution RW.
    - Art.193(1) benefit gate: the guarantee is DECLINED (not capped)
      unless guarantor RW < borrower IRB RW; beneficial rows blend
      RWA = (1−g)·RW_own + g·RW_guarantor over EAD.
    - EL (ref _adjust_expected_loss): SA guarantor keeps only the retained
      share's EL; PD substitution adds PD_g·LGD_g on the covered leg;
      double default retains full obligor EL (DD modifies K, not EL).

    Returns the adjusted frame plus the EL expression for _el_columns.
    """
    el_own = S.col("pd_floored") * S.col("lgd_floored") * S.col("ead_after_crm")
    # rank-1 scalars price the n<=1 books bit-for-bit and feed the
    # priority-1 audit carriers; exposures with 2+ guarantees take the
    # multi-leg stack fold below (every leg through its own channel)
    g = S.coalesce("g_coverage", S.lit(0.0))

    grw = pack.dim(
        spark,
        "sa_rw",
        "exposure_class AS _gi_class, cqs AS _gi_cqs, rw AS _g_rw_sa",
    )
    perf = perf.join(
        grw,
        (S.col("g_class") == S.col("_gi_class"))
        & (S.coalesce(S.col("g_cqs"), S.lit(0)) == S.col("_gi_cqs")),
        "left",
    ).drop("_gi_class", "_gi_cqs")
    guarantor_rw = S.col("_g_rw_sa")
    method = S.when(S.col("_g_rw_sa").isNotNull(), S.lit("sub_sa")).otherwise(
        S.null("string")
    )

    # a null guarantor PD substitutes no parameters and is not DD
    # eligible: every leg below reads it through `has_pd`, so an absent
    # carrier's NULL folds the whole leg away
    gpd = S.col("guarantor_pd")
    has_pd = gpd.isNotNull()
    if "guarantor_pd" in carried:
        sen = S.coalesce(S.col("guarantor_seniority"), S.lit("senior"))
        fse = S.coalesce(S.col("guarantor_is_fse"), S.lit(False))
        perf = perf.with_columns(
            {
                "_pd_g_fl": S.when(
                    has_pd,
                    S.greatest(gpd, _guarantor_pd_floor_expr(pack, S.col("g_class"))),
                ),
                "_lgd_g": S.when(
                    sen == "subordinated", pack.sql_lit("firb_lgd_subordinated")
                )
                .when(fse, pack.sql_lit("firb_lgd_senior_fse"))
                .otherwise(pack.sql_lit("firb_lgd_senior")),
            }
        )
        perf = with_normal_ppf(perf, "_pd_g_fl", "_g_gpd")
        perf = perf.with_column("_r_g", S.kernel(correlation_v, S.col("_pd_g_fl")))
        perf = with_irb_k_r(perf, "_pd_g_fl", "_lgd_g", "_g_gpd", "_r_g", "_k_g")
        rw_irb_g = (
            S.col("_k_g")
            * S.kernel(maturity_adj_v, S.col("_pd_g_fl"), S.col("m_eff"))
            * S.lit(12.5)
            * pack.sql_lit("irb_scaling_factor")
        )
        guarantor_rw = S.when(has_pd, rw_irb_g).otherwise(guarantor_rw)
        method = S.when(has_pd, S.lit("sub_pd")).otherwise(method)
        pd_g, lgd_g = S.col("_pd_g_fl"), S.col("_lgd_g")
    else:  # plan gate: the Vasicek leg the null default folds away
        pd_g = lgd_g = S.null("double")
    dd_pack = pack.scalar("double_default_available") >= 1.0
    if dd_pack:
        is_airb = S.coalesce(S.col("irb_subapproach"), S.lit("")) == "airb"
        elig_g_type = S.coalesce(S.col("g_class"), S.lit("")).isin(
            "institution", "sovereign", "mdb"
        ) | (
            (S.col("g_class") == "corporate")
            & (S.coalesce(S.col("g_cqs"), S.lit(99)) <= 2)
        )
        dd_elig = (
            (g > 0)
            & (S.col("exposure_class") == "corporate")
            & elig_g_type
            & has_pd
            & is_airb
        )
        rw_dd = S.col("risk_weight") * (
            pack.sql_lit("dd_k_base") + pack.sql_lit("dd_k_slope") * pd_g
        )
        dd_applies = dd_elig & (rw_dd < S.coalesce(guarantor_rw, S.POS_INF))
        guarantor_rw = S.when(dd_applies, rw_dd).otherwise(guarantor_rw)
        method = S.when(dd_applies, S.lit("dd")).otherwise(method)
        # eligibility carrier staged here (where the gate is known);
        # the APPLIED carriers seal after the Art.193(1) benefit test
        # below, which can still decline the guarantee
        perf = perf.with_column("_dd_elig", dd_elig)

    # _g_ben re-uses the guarantor_rw expression (identical value to
    # reading the _g_rw column) so all three land in one projection
    perf = perf.with_columns(
        {
            "_g_rw": guarantor_rw,
            "_g_method": method,
            "_g_ben": (g > 0)
            & guarantor_rw.isNotNull()
            & (guarantor_rw < S.col("risk_weight")),
        }
    )

    # --- multi-guarantee stack on the IRB channel (closes the rank-1
    # narrowing; ref engine/irb/guarantee.py multi-leg waterfall): the crm
    # stage's priority-ordered `_mg` structs now carry each leg's modelled
    # carriers (pd/seniority/FSE/class/CQS), so EVERY leg prices through
    # its own channel — SA RW substitution from the pre-resolved ladder
    # weight, parameter substitution through the full Vasicek kernel with
    # the leg's floored PD + Art.161(1) LGD, double default per leg where
    # Art.202/203 eligible — entirely in array expressions (zero new
    # shuffle; the per-leg Φ/Φ⁻¹ route through the same generated-Java
    # kernel as the scalar path, pure-SQL Cody/Acklam fallback).
    # Gated on size>1: books with at most one guarantee per exposure keep
    # the legacy rank-1 expressions bit-for-bit. The rank-1 scalar
    # carriers (guarantor_risk_weight, the method enums, the DD block)
    # keep describing the PRIORITY-1 leg — the stack's pricing is total,
    # its audit detail per-leg lives in guarantee_references order.
    if "_mg" in carried:
        from rwa_calculator_spark.functions.jvm_kernel import (
            CDF_FN,
            PPF_FN,
            ensure_jvm_kernel,
        )
        from rwa_calculator_spark.functions.stats import G_999, norm_cdf_v, norm_ppf_v

        _mg_arr = S.coalesce(S.col("_mg"), S.array().cast(MG_STACK))
        _is_multi = S.size(_mg_arr) > 1
        _own0 = S.col("risk_weight")
        _kern = ensure_jvm_kernel(spark)
        _row_airb = S.coalesce(S.col("irb_subapproach"), S.lit("")) == "airb"

        def _leg_params(x):
            pdfl = S.when(
                x["pd"].isNotNull(),
                S.greatest(x["pd"], _guarantor_pd_floor_expr(pack, x["gclass"])),
            )
            lgdg = (
                S.when(
                    S.coalesce(x["sen"], S.lit("senior")) == "subordinated",
                    pack.sql_lit("firb_lgd_subordinated"),
                )
                .when(
                    S.coalesce(x["fse"], S.lit(False)),
                    pack.sql_lit("firb_lgd_senior_fse"),
                )
                .otherwise(pack.sql_lit("firb_lgd_senior"))
            )
            gq = S.call(PPF_FN, pdfl) if _kern else S.kernel(norm_ppf_v, pdfl)
            return S.struct(
                slice=x["slice"],
                rw=x["rw"],
                pdfl=pdfl,
                lgdg=lgdg,
                gclass=x["gclass"],
                gcqs=x["gcqs"],
                gq=gq,
                r=S.kernel(correlation_v, pdfl),
            )

        def _leg_rw(x):
            arg = (x["gq"] + S.sqrt(x["r"]) * S.lit(G_999)) / S.sqrt(
                S.lit(1.0) - x["r"]
            )
            phi = S.call(CDF_FN, arg) if _kern else S.kernel(norm_cdf_v, arg)
            k_leg = x["lgdg"] * phi - x["pdfl"] * x["lgdg"]
            rw_irb = (
                k_leg
                * S.kernel(maturity_adj_v, x["pdfl"], S.col("m_eff"))
                * S.lit(12.5)
                * pack.sql_lit("irb_scaling_factor")
            )
            rw_sub = S.when(x["pdfl"].isNotNull(), rw_irb).otherwise(x["rw"])
            meth = S.when(x["pdfl"].isNotNull(), S.lit("sub_pd")).otherwise(
                S.when(x["rw"].isNotNull(), S.lit("sub_sa"))
            )
            if dd_pack:
                elig_t = S.coalesce(x["gclass"], S.lit("")).isin(
                    "institution", "sovereign", "mdb"
                ) | (
                    (x["gclass"] == "corporate")
                    & (S.coalesce(x["gcqs"], S.lit(99)) <= 2)
                )
                dd_elig = (
                    (x["slice"] > 0)
                    & (S.col("exposure_class") == "corporate")
                    & elig_t
                    & x["pdfl"].isNotNull()
                    & _row_airb
                )
                rw_dd = _own0 * (
                    pack.sql_lit("dd_k_base") + pack.sql_lit("dd_k_slope") * x["pdfl"]
                )
                dd_app = dd_elig & (
                    rw_dd < S.coalesce(rw_sub, S.POS_INF)
                )
                rw_sub = S.when(dd_app, rw_dd).otherwise(rw_sub)
                meth = S.when(dd_app, S.lit("dd")).otherwise(meth)
            return S.struct(
                slice=x["slice"],
                rwl=rw_sub,
                pdfl=x["pdfl"],
                lgdg=x["lgdg"],
                meth=meth,
            )

        perf = perf.with_column(
            "_mgl",
            S.when(_is_multi, S.transform(S.transform(_mg_arr, _leg_params), _leg_rw)),
        )

        # priority-ordered left fold (deterministic addition order — the
        # oracle mirrors it term-by-term): per leg the covered slice takes
        # min(own, leg RW) — each slice individually neutral-or-beneficial
        # (Art.193(1) per leg) — and the EL rate follows the leg's channel:
        # DD retains full obligor EL, parameter substitution re-prices the
        # slice at PD_g·LGD_g, SA substitution drops the slice's EL,
        # a non-beneficial leg keeps the obligor rate.
        _el_rate_own = S.col("pd_floored") * S.col("lgd_floored")
        # the empty-stack default takes the leg array's type by coercion
        _mg_fold = S.aggregate(
            S.coalesce(S.col("_mgl"), S.array()),
            S.struct(g=S.lit(0.0), t=S.lit(0.0), el=S.lit(0.0)),
            lambda acc, x: S.struct(
                g=acc["g"] + x["slice"],
                t=acc["t"] + x["slice"] * S.least(_own0, S.coalesce(x["rwl"], _own0)),
                el=acc["el"]
                + S.when(
                    S.coalesce(x["rwl"] < _own0, S.lit(False)),
                    S.when(x["meth"] == "dd", x["slice"] * _el_rate_own)
                    .when(
                        x["meth"] == "sub_pd",
                        x["slice"] * x["pdfl"] * x["lgdg"],
                    )
                    .otherwise(S.lit(0.0)),
                ).otherwise(x["slice"] * _el_rate_own),
            ),
        )
        perf = perf.with_column("_mgf", S.when(_is_multi, _mg_fold))
        _mg_g = S.col("_mgf").getField("g")
        _mg_t = S.col("_mgf").getField("t")
    else:  # plan gate: what the empty-stack default folds to
        _is_multi = S.lit(False)
        _mg_g = _mg_t = S.lit(0.0)

    perf = perf.with_column("pre_crm_risk_weight", S.col("risk_weight"))
    # every expression BELOW the blend references the sealed snapshot —
    # S.col("risk_weight") would re-resolve to the mutated value
    _own_p = S.col("pre_crm_risk_weight")
    _mg_ben = _is_multi & (_mg_t < _mg_g * _own_p)
    # both expressions read the PRE-blend risk_weight/rw_source — one
    # batched projection preserves that (with_columns evaluates against the
    # input frame)
    perf = perf.with_columns(
        {
            "risk_weight": S.when(_is_multi, _mg_t + (S.lit(1.0) - _mg_g) * _own_p)
            .when(
                S.col("_g_ben"),
                (S.lit(1.0) - g) * S.col("risk_weight") + g * S.col("_g_rw"),
            )
            .otherwise(S.col("risk_weight")),
            "rw_source": S.when(
                _mg_ben, S.concat(S.col("rw_source"), S.lit("+gmulti"))
            )
            .when(_is_multi | ~S.col("_g_ben"), S.col("rw_source"))
            .otherwise(
                S.concat(S.col("rw_source"), S.lit("+g"), S.col("_g_method"))
            ),
        }
    )
    # guarantee-impact ledger block, IRB side (ref
    # engine/irb/guarantee.py:865-903 _add_guarantee_status_columns +
    # CALCULATION_OUTPUT_SCHEMA :2972-3005). Method semantics follow the
    # reference exactly: the PSM path is RECORDED whenever an IRB
    # guarantor's parameter substitution was traversed (PS1/26
    # Art.236(1)(a)), independent of the Art.193(1) benefit outcome — the
    # non-beneficial signal lives on guarantee_status; DD and SA RW
    # substitution report only where they actually repriced the row.
    _g_m = S.coalesce(S.col("_g_method"), S.lit(""))
    # is_guaranteed means protection EXISTS (ref crm/guarantees.py:183
    # guaranteed_portion > 0; aggregator.py:706-707 warns the beneficial
    # test is a separate downstream gate) — the Art.193(1) benefit outcome
    # lives on guarantee_status / guarantee_method_used, never here.
    # Multi-guarantee rows: the portion/benefit columns cover the WHOLE
    # stack (Σ slices, aggregate RW relief); the method/status enums and
    # guarantor_risk_weight keep describing the priority-1 leg (same
    # convention as the SA channel).
    _g_eff = S.when(_is_multi, _mg_g).otherwise(g)
    _ben_eff = S.when(_is_multi, _mg_ben).otherwise(S.col("_g_ben"))
    # guarantee_benefit re-uses guarantee_benefit_rw's expression inline
    # (same value) so the whole carrier block lands in ONE projection —
    # every other expression reads only pre-block columns
    _ben_rw = S.when(
        _ben_eff, S.col("pre_crm_risk_weight") - S.col("risk_weight")
    ).otherwise(0.0)
    perf = perf.with_columns(
        {
            "is_guaranteed": _g_eff > 0,
            "guaranteed_portion": S.when(
                _g_eff > 0, _g_eff * S.col("ead_after_crm")
            ).otherwise(0.0),
            "unguaranteed_portion": S.col("ead_after_crm")
            - S.when(_g_eff > 0, _g_eff * S.col("ead_after_crm")).otherwise(0.0),
            "guarantor_risk_weight": S.when(_g_eff > 0, S.col("_g_rw")),
            "guarantee_benefit_rw": _ben_rw,
            "guarantee_benefit": _ben_rw * S.col("ead_after_crm"),
            "guarantee_status": S.when(~(_g_eff > 0), "NO_GUARANTEE")
            .when(~_ben_eff, "GUARANTEE_NOT_APPLIED_NON_BENEFICIAL")
            .when(_g_m == "dd", "DOUBLE_DEFAULT")
            .when(_g_m == "sub_pd", "PD_PARAMETER_SUBSTITUTION")
            .otherwise("SA_RW_SUBSTITUTION"),
            "guarantee_method_used": S.when(
                _ben_eff & (_g_m == "dd"), "DOUBLE_DEFAULT"
            )
            .when((_g_eff > 0) & (_g_m == "sub_pd"), "PD_PARAMETER_SUBSTITUTION")
            .when(_ben_eff, "SA_RW_SUBSTITUTION")
            .otherwise("NO_SUBSTITUTION"),
            "pre_crm_counterparty_reference": S.col("counterparty_reference"),
            "pre_crm_exposure_class": S.col("exposure_class"),
            "post_crm_counterparty_guaranteed": S.when(
                g > 0, S.col("guarantor_reference")
            ),
            "post_crm_exposure_class_guaranteed": S.when(g > 0, S.col("g_class")),
        }
    )

    # double-default audit carriers (ref CALCULATION_OUTPUT_SCHEMA
    # :3098-3100): eligibility is the Art.202/203 gate outcome; the applied
    # carriers seal only where DD actually priced the row (benefit test
    # passed AND the DD K beat substitution) — the guaranteed portion
    # (g × EAD, the COREP 0220 figure) and the LGD the DD formula used
    # (= the obligor's own floored LGD; DD modifies K through PD_g, not LGD)
    # `has_pd` leads each substitution condition: only a guarantor PD
    # reaches the DD and PD-substitution methods
    dd_on = has_pd & S.col("_g_ben") & (S.col("_g_method") == "dd")
    if dd_pack:
        perf = perf.with_columns(
            {
                "is_double_default_eligible": S.coalesce(
                    S.col("_dd_elig"), S.lit(False)
                ),
                "double_default_unfunded_protection": S.when(
                    dd_on, g * S.col("ead_after_crm")
                ),
                "irb_lgd_double_default": S.when(dd_on, S.col("lgd_floored")),
            }
        ).drop("_dd_elig")

    el = (
        S.when(dd_on, el_own)
        .when(
            has_pd & S.col("_g_ben") & (S.col("_g_method") == "sub_pd"),
            (S.lit(1.0) - g) * el_own
            + pd_g * lgd_g * g * S.col("ead_after_crm"),
        )
        .when(S.col("_g_ben"), (S.lit(1.0) - g) * el_own)
        .otherwise(el_own)
    )
    if "_mg" in carried:
        # stack EL: the fold accumulated per-unit-EAD rates leg by leg in
        # priority order; the uncovered remainder keeps the obligor rate
        _el_multi = (
            S.col("_mgf").getField("el")
            + (S.lit(1.0) - _mg_g) * (S.col("pd_floored") * S.col("lgd_floored"))
        ) * S.col("ead_after_crm")
        el = S.when(_is_multi, _el_multi).otherwise(el)
    return perf, el


def _supporting_factor_exprs(pack: RulePack, threshold_scale: float):
    """CRR2 Art.501 tiered SME factor + Art.501a infrastructure factor
    (ref engine/supporting_factors.py SupportingFactorCalculator — the
    reference applies them on EVERY branch: sa/factors_output.py,
    irb/calculator.py:168, slotting/calculator.py:176). Returns
    (sme_f, infra_f, sf = most-beneficial min).

    Art.501(2)(b): defaulted exposures are excluded from the SME factor
    (ref supporting_factors.py sme_eligible ~is_defaulted); the
    infrastructure factor carries no defaulted exclusion. Both collapse to
    1.0 under B3.1 (factors removed — pack scalars are 1.0). Without a
    revenue (the 0.0 default) or a group aggregate (null) the SME factor
    is 1.0."""
    f1 = pack.scalar("sme_supporting_factor")
    f2 = pack.scalar("sme_factor_above_threshold")
    thr = pack.scalar("sme_exposure_threshold") * threshold_scale
    revenue_cap = pack.scalar("sme_revenue_cap") * threshold_scale
    gd = S.col("group_drawn")
    sme_cond = (
        (S.col("exposure_class") == "corporate")
        & (S.col("annual_revenue") > 0)
        & (S.col("annual_revenue") <= revenue_cap)
        & ~S.col("is_defaulted")
        & gd.isNotNull()
    )
    if f1 >= 1.0 and f2 >= 1.0:
        sme_f = S.lit(1.0)  # factors removed (B3.1)
    else:
        blended = S.when(
            gd > 0,
            (
                S.least(gd, S.lit(thr)) * S.lit(f1)
                + S.greatest(gd - S.lit(thr), S.lit(0.0)) * S.lit(f2)
            )
            / gd,
        ).otherwise(S.lit(f1))
        sme_f = S.when(sme_cond, blended).otherwise(S.lit(1.0))
    infra_f = S.when(
        S.col("is_infrastructure"), pack.sql_lit("infra_supporting_factor")
    ).otherwise(S.lit(1.0))
    return sme_f, infra_f, S.least(sme_f, infra_f)


def run_sa(
    crm: CRMOutput,
    pack: RulePack,
    threshold_scale: float = 1.0,
    use_ig_assessment: bool = False,
) -> CalcOutput:
    spark = crm.exposures.sparkSession
    exp = _calc_entry(
        crm,
        ~S.col("has_irb_permission")
        & ~S.col("is_specialised")
        & (S.col("exposure_class") != "securitisation"),
    )
    # the plan gates (module docstring): pack-table joins a carrier's
    # absence makes redundant
    carried = frozenset(crm.exposures.columns)

    rw_table = pack.dim(
        spark,
        "sa_rw",
        "exposure_class AS _rw_class, cqs AS _rw_cqs, rw",
    )
    exp = exp.join(
        rw_table,
        (S.col("exposure_class") == S.col("_rw_class"))
        & (S.coalesce("cqs", S.lit(0)) == S.col("_rw_cqs")),
        "left",
    ).drop("_rw_class", "_rw_cqs")

    base_rw = (
        S.when(
            S.col("is_defaulted") & (S.col("exposure_class") == "re_secured"),
            pack.sql_lit("defaulted_rw_secured"),
        )
        .when(S.col("is_defaulted"), pack.sql_lit("defaulted_rw"))
        .when(S.col("exposure_class") == "re_secured", pack.sql_lit("re_secured_rw"))
        .when(S.col("exposure_class") == "retail", pack.sql_lit("retail_rw"))
        .when(S.col("rw").isNotNull(), S.col("rw"))
        .otherwise(pack.sql_lit("unrated_corp_rw"))
    )
    rw_source = (
        S.when(
            S.col("is_defaulted") & (S.col("exposure_class") == "re_secured"),
            "sa_defaulted_secured",
        )
        .when(S.col("is_defaulted"), "sa_defaulted")
        .when(S.col("exposure_class") == "re_secured", "sa_re_secured")
        .when(S.col("exposure_class") == "retail", "sa_retail")
        .when(S.col("rw").isNotNull(), "sa_cqs_lookup")
        .otherwise("sa_unrated")
    )
    # SA decision-block carriers (ref :3021-3025): the CQS consulted and
    # the BASE ladder weight before any branch override — the final weight
    # and their delta seal at the end of this function, after every
    # adjustment (covered-bond/RE/sovereign-derived/ccymm/due-diligence/
    # intragroup) has run; rw_source remains the adjustment-reason carrier
    exp = exp.with_columns(
        {
            "sa_cqs": S.coalesce(S.col("cqs"), S.lit(0)),
            "sa_base_risk_weight": base_rw,
        }
    )
    # CRR Art.129 covered bonds (ref engine/sa/covered_bond.py): rated
    # bonds price on the bond's OWN CQS (Art.129(4) Table 6A); unrated
    # bonds derive from the issuing institution's senior unsecured weight
    # (the class-ladder RW already joined above) through the regime's
    # derivation table — the tables genuinely diverge (CRR (5)(b) maps a
    # 50% issuer weight to 20%, PS1/26 to 25%), which is why the table is
    # pack data, never shared code.
    if "is_covered_bond" in carried:
        cbt = pack.dim(spark, "covered_bond_rw", "cqs AS _cb_cqs_t, rw AS _cb_rated_rw")
        exp = exp.join(
            cbt,
            S.coalesce(S.col("cb_cqs"), S.lit(0)) == S.col("_cb_cqs_t"),
            "left",
        ).drop("_cb_cqs_t")
        der = pack.dim(
            spark,
            "covered_bond_unrated_derivation",
            "issuer_rw AS _cb_issuer_rw, cb_rw AS _cb_derived",
        )
        exp = exp.join(
            der, S.col("rw") == S.col("_cb_issuer_rw"), "left"
        ).drop("_cb_issuer_rw")
        is_cb = S.coalesce(S.col("is_covered_bond"), S.lit(False)) & ~S.col(
            "is_defaulted"
        )
        base_rw = (
            S.when(is_cb & S.col("_cb_rated_rw").isNotNull(), S.col("_cb_rated_rw"))
            # derivation default 1.00 (CRR Art.129(5) residual sub-para)
            .when(is_cb, S.coalesce(S.col("_cb_derived"), S.lit(1.0)))
            .otherwise(base_rw)
        )
        rw_source = (
            S.when(is_cb & S.col("_cb_rated_rw").isNotNull(), "sa_covered_bond_rated")
            .when(is_cb, "sa_covered_bond_unrated_derived")
            .otherwise(rw_source)
        )

    # PS1/26 Art.124E-124I revised real-estate treatment (ref
    # engine/sa/b31_risk_weight_tables.py + rulebook/packs/b31.py:1249-1308):
    # income-producing RE prices WHOLE-LOAN off the LTV band table
    # (Art.124G Table 6B RRE / Art.124I CRE; junior RRE charges ×1.25 above
    # 50% LTV); general (owner-occupied) RE loan-splits — the portion
    # secured up to 55% of property value takes the preferential weight
    # (20% RRE / 60% CRE), the remainder prices as an exposure to the
    # counterparty (Art.124F(1)(b): retail weight for natural persons,
    # else the obligor's ladder weight). Pack-gated via the table's
    # presence (CRR keeps flat Art.125/126); bands compile to a
    # when-chain from the pack rows (pure literals — band-count work,
    # never a join against the fact table).
    if "re_ltv_rw" in pack.tables:
        ltv = S.col("ltv")
        # the class gate; the LTV-dependent limbs (bands, split) require a
        # usable LTV on top — ADC and Art.124J other-RE price without one
        # (a non-qualifying property may carry NO independent valuation),
        # and a qualifying-RE row with no LTV falls through to the pack's
        # flat re_secured weight rather than guessing a band
        re_row = (S.col("exposure_class") == "re_secured") & ~S.col("is_defaulted")
        ltv_ok = ltv.isNotNull() & (ltv > 0)

        def _flag(name):
            return S.coalesce(S.col(name), S.lit(False))

        commercial = _flag("is_commercial_re")
        explicit_income = _flag("is_income_producing")
        # Art.124E(1)(b)/(2) three-property limit: a natural person
        # financing strictly more than the pack limit of residential
        # properties is materially dependent on property cash flows and
        # re-routes to the Art.124G income-producing whole-loan track (ref
        # classify/attributes.py:560-598 _build_has_income_cover_expr;
        # strict > — count 3 stays owner-occupied, 4 re-routes; null
        # counts never breach; an explicit upstream income flag wins)
        if "b31_rre_three_property_limit" in pack.scalars:
            three_prop = (S.col("entity_type") == "individual") & (
                S.coalesce(S.col("qualifying_property_count"), S.lit(0)).cast(
                    "double"
                )
                > pack.sql_lit("b31_rre_three_property_limit")
            )
        else:
            three_prop = S.lit(False)
        income = explicit_income | three_prop
        # Art.124F(2) prior/pari-passu charges: reduce the loan-split
        # secured threshold; a positive prior charge also marks the
        # position junior (ref b31_risk_weight_tables.py:526 is_junior)
        prior_chg = S.coalesce(S.col("prior_charge_ltv"), S.lit(0.0))
        junior = _flag("is_junior_lien") | (prior_chg > 0)
        # Art.124K ADC (land acquisition / development / construction):
        # 150% flat; 100% only for qualifying RESIDENTIAL pre-sold —
        # commercial ADC has no pre-sold concession (ref
        # b31_risk_weight_tables.py:641-662 b31_adc_rw_expr)
        adc = _flag("is_adc")
        presold = _flag("is_presold")
        # Art.124J "other" (non-qualifying) RE — fails the Art.124A
        # criteria: income-dependent 150% flat; non-dependent RESI takes
        # the counterparty weight with no floor; non-dependent CRE floors
        # it at 60% (ref b31_risk_weight_tables.py:665-713
        # b31_other_re_rw_expr — its Art.124L four-limb counterparty table
        # narrows here to the person-retail-75% / ladder split the bundle's
        # carriers can discriminate; SME-85% and social-housing limbs need
        # carriers the dictionary does not yet declare)
        other_re = _flag("is_other_re")

        def _band_chain(track: str):
            rows = sorted(
                ((float(u), float(w)) for t, u, w in pack.tables["re_ltv_rw"][1] if t == track),
            )
            chain = S.lit(rows[-1][1])  # open catch-all band
            for upper, w in reversed(rows[:-1]):
                chain = S.when(ltv <= S.lit(upper), S.lit(w)).otherwise(chain)
            return chain

        rre_income_rw = _band_chain("rre_income") * S.when(
            junior & (ltv > pack.sql_lit("b31_re_income_junior_ltv_threshold")),
            pack.sql_lit("b31_re_income_junior_multiplier"),
        ).otherwise(S.lit(1.0))
        cre_income_base = _band_chain("cre_income")
        # Art.124I(3): junior income-CRE takes ABSOLUTE risk weights that
        # replace the base bands (not multipliers — contrast Art.124G(2)
        # RRE; ref b31_risk_weight_tables.py:605-613)
        if "b31_cre_income_junior_rw_low" in pack.scalars:
            cre_income_rw = S.when(
                junior,
                S.when(ltv <= S.lit(0.60), pack.sql_lit("b31_cre_income_junior_rw_low"))
                .when(ltv <= S.lit(0.80), pack.sql_lit("b31_cre_income_junior_rw_mid"))
                .otherwise(pack.sql_lit("b31_cre_income_junior_rw_high")),
            ).otherwise(cre_income_base)
        else:
            cre_income_rw = cre_income_base
        # Art.124F(1)(b)/124H(1)(b) remainder: the counterparty's own weight
        # — retail for natural persons, the CORPORATE ladder for the
        # obligor's CQS otherwise (the class-ladder join above keyed on
        # 're_secured', which the sa_rw table deliberately has no row for)
        # only the loan-split (a usable LTV) and other-RE limbs read it: an
        # input with neither carrier skips the join (plan gate)
        if "ltv" in carried or "is_other_re" in carried:
            cp_ladder = pack.dim(
                spark,
                "sa_rw",
                "cqs AS _re_cqs, rw AS _re_cp_rw",
                where="exposure_class = 'corporate'",
            )
            exp = exp.join(
                cp_ladder,
                S.coalesce("cqs", S.lit(0)) == S.col("_re_cqs"),
                "left",
            ).drop("_re_cqs")
            ladder_rw = S.col("_re_cp_rw")
        else:
            ladder_rw = S.null("double")
        cp_rw = S.when(
            (S.col("entity_type") == "individual") | S.col("is_managed_as_retail"),
            pack.sql_lit("retail_rw"),
        ).otherwise(S.coalesce(ladder_rw, pack.sql_lit("unrated_corp_rw")))
        # Art.124L counterparty-type table for the split RESIDUAL and the
        # Art.124J non-dependent other-RE weight (ref
        # b31_risk_weight_tables.py:760-799 _b31_art_124l_cp_rw_expr):
        # natural person / retail-qualifying SME 75% (limb a), other SME
        # 85% (limb b), registered social housing max(75%, unsecured cp RW)
        # (limb c), full unsecured counterparty RW otherwise (d/e). The
        # is_sme / qualifies_as_retail inputs are the classify stage's CRR
        # Art.4(1)(128D) size test and Art.123 outcome; pack-gated so the
        # CRR regime (no Art.124L) keeps the plain residual.
        is_person = S.col("entity_type") == "individual"
        sme = _flag("is_sme")
        retail_q = _flag("qualifies_as_retail")
        social = _flag("is_social_housing")
        if "b31_rre_residual_rw_person" in pack.scalars:
            cp_rw_124l = (
                S.when(is_person | (sme & retail_q), pack.sql_lit("b31_rre_residual_rw_person"))
                .when(sme, pack.sql_lit("b31_rre_residual_rw_other_sme"))
                .when(
                    social,
                    S.greatest(pack.sql_lit("b31_rre_residual_rw_social_floor"), cp_rw),
                )
                .otherwise(cp_rw)
            )
        else:
            cp_rw_124l = cp_rw
        # Art.124F(2): prior charges shrink the preferential secured cap
        eff_cap = S.greatest(S.lit(0.0), pack.sql_lit("b31_re_split_cap") - prior_chg)
        secured_share = S.least(eff_cap / ltv, S.lit(1.0))
        split_rw = (
            S.when(commercial, pack.sql_lit("b31_cre_split_secured_rw")).otherwise(
                pack.sql_lit("b31_rre_split_secured_rw")
            )
            * secured_share
            + cp_rw_124l * (S.lit(1.0) - secured_share)
        )
        # Art.124H(3): general CRE to counterparties OTHER than natural
        # persons / SMEs takes max(60%, min(counterparty RW, Art.124I(1)/(2)
        # BASE income RW)) instead of the loan split — so large corporates
        # cannot reach the preferential split (ref
        # b31_risk_weight_tables.py:590-637; the cap deliberately uses the
        # base bands, not the Art.124I(3) junior override). The gate is
        # natural-person OR SME (any SME, not just retail-qualifying —
        # ref :594 is_person_or_sme), with the retail-managed carrier kept
        # as a person-equivalent alias for bundles that declare no sizes.
        person_or_sme = (
            (S.col("entity_type") == "individual")
            | S.coalesce(S.col("is_managed_as_retail"), S.lit(False))
            | sme
        )
        cre_h3_rw = S.greatest(
            pack.sql_lit("b31_cre_split_secured_rw"), S.least(cp_rw, cre_income_base)
        )
        base_rw = (
            S.when(re_row & adc & ~commercial & presold, pack.sql_lit("b31_adc_presold_rw"))
            .when(re_row & adc, pack.sql_lit("b31_adc_rw"))
            .when(re_row & other_re & income, pack.sql_lit("b31_other_re_income_rw"))
            # Art.124J non-dependent limbs price at the Art.124L
            # counterparty-type weight (ref b31_risk_weight_tables.py:
            # 674-683) — CRE floored at 60%, RESI unfloored
            .when(
                re_row & other_re & commercial,
                S.greatest(pack.sql_lit("b31_other_re_cre_floor_rw"), cp_rw_124l),
            )
            .when(re_row & other_re, cp_rw_124l)
            .when(re_row & ltv_ok & income & commercial, cre_income_rw)
            .when(re_row & ltv_ok & income, rre_income_rw)
            .when(re_row & ltv_ok & commercial & ~person_or_sme, cre_h3_rw)
            .when(re_row & ltv_ok, split_rw)
            .otherwise(base_rw)
        )
        rw_source = (
            S.when(re_row & adc & ~commercial & presold, "b31_adc_presold")
            .when(re_row & adc, "b31_adc")
            .when(re_row & other_re & income, "b31_other_re_income")
            .when(re_row & other_re & commercial, "b31_other_re_cre")
            .when(re_row & other_re, "b31_other_re_resi")
            .when(re_row & ltv_ok & income & commercial, "b31_cre_income_ltv")
            .when(re_row & ltv_ok & explicit_income, "b31_rre_income_ltv")
            # derived income (three-property re-route) keeps its own leg so
            # the audit trail shows WHY the loan left the owner-occupied
            # track (priced identically to b31_rre_income_ltv)
            .when(re_row & ltv_ok & income, "b31_rre_three_property")
            .when(re_row & ltv_ok & commercial & ~person_or_sme, "b31_cre_art124h3")
            .when(re_row & ltv_ok & commercial, "b31_cre_loan_split")
            .when(re_row & ltv_ok, "b31_rre_loan_split")
            .otherwise(rw_source)
        )
        # RE decision carriers only the band chain knows (ref :3047-3052):
        # the LTV band the income track priced on (a label derived from
        # the same pack rows as the weights — no second table to drift),
        # the Art.124A qualification outcome, and the cash-flow dependency
        # that routed the row (explicit flag OR three-property re-route)
        def _band_label(track: str):
            rows = sorted(
                (float(u), float(w))
                for t, u, w in pack.tables["re_ltv_rw"][1]
                if t == track
            )
            chain = S.lit(f"{track}:>{rows[-2][0]:g}")
            for upper, _w in reversed(rows[:-1]):
                chain = S.when(
                    ltv <= S.lit(upper), S.lit(f"{track}:<={upper:g}")
                ).otherwise(chain)
            return chain

        exp = (
            exp.with_column(
                "ltv_band",
                S.when(
                    re_row & ltv_ok & income & commercial, _band_label("cre_income")
                ).when(re_row & ltv_ok & income, _band_label("rre_income")),
            )
            .with_column("is_qualifying_re", S.when(re_row, ~other_re))
            .with_column(
                "materially_dependent_on_property", S.when(re_row, income)
            )
        )

    # Unrated-institution RW: CRR Art.121 derives it from the CENTRAL
    # GOVERNMENT's credit step (sovereign_cqs carrier); Basel 3.1 removed
    # that method in favour of SCRA grading (PS1/26 Art.121A: Grade A 40%,
    # B 75%, C 150%). Feature-gated per pack, column-gated per bundle.
    _unrated_inst = (
        (S.col("exposure_class") == "institution")
        & (S.coalesce(S.col("cqs"), S.lit(0)) == 0)
        & ~S.col("is_defaulted")
    )
    if (
        "sovereign_cqs" in carried
        and "sovereign_derived_institutions" in pack.scalars
        and pack.scalar("sovereign_derived_institutions") >= 1.0
    ):
        sd = pack.dim(
            spark,
            "institution_rw_sovereign_derived",
            "cqs AS _sd_cqs, rw AS _sd_rw",
        )
        exp = exp.join(
            sd, S.col("sovereign_cqs") == S.col("_sd_cqs"), "left"
        ).drop("_sd_cqs")
        sd_match = _unrated_inst & S.col("_sd_rw").isNotNull()
        base_rw = S.when(sd_match, S.col("_sd_rw")).otherwise(base_rw)
        rw_source = S.when(sd_match, "sa_sovereign_derived").otherwise(rw_source)
    if "scra_grade" in carried and "institution_scra_rw" in pack.tables:
        sc = pack.dim(
            spark,
            "institution_scra_rw",
            "grade AS _scra_grade_t, rw AS _scra_rw",
        )
        exp = exp.join(
            sc, S.col("scra_grade") == S.col("_scra_grade_t"), "left"
        ).drop("_scra_grade_t")
        scra_match = _unrated_inst & S.col("_scra_rw").isNotNull()
        base_rw = S.when(scra_match, S.col("_scra_rw")).otherwise(base_rw)
        rw_source = S.when(scra_match, "sa_scra").otherwise(rw_source)

    # PS1/26 Art.122A-122B: UNRATED SA specialised lending takes type-
    # specific risk weights instead of the unrated-corporate 100% — object/
    # commodities 100%, project finance 130% pre-operational / 100%
    # operational / 80% high-quality (rated SL keeps its Art.122A(3)
    # corporate CQS weight; ref engine/sa/risk_weights.py:1188-1196 +
    # b31_risk_weight_tables.py:716-747 b31_sa_sl_rw_expr). Pack-gated
    # (CRR has no Art.122A — unrated SL stays at the corporate 100%); a
    # null sl_type is no SL row; weights compile from pack rows to literal
    # when-chains — never a fact-table join.
    if "b31_sa_sl_rw" in pack.tables:
        slw = {k: float(v) for k, v in pack.tables["b31_sa_sl_rw"][1]}
        sl = S.lower(S.coalesce(S.col("sl_type"), S.lit("")))
        phase = S.lower(S.coalesce(S.col("sl_project_phase"), S.lit("")))
        # Art.139(2B): an SL exposure whose only external assessment is
        # NOT issue-specific (inferred / issuer-level) is treated as
        # unrated for this routing — ordinary rated corporates untouched
        cqs_eff = S.coalesce(S.col("cqs"), S.lit(0))
        if (
            "sa_sl_inferred_rating_disapplied" in pack.scalars
            and pack.scalar("sa_sl_inferred_rating_disapplied") >= 1.0
        ):
            cqs_eff = S.when(
                ~S.coalesce(S.col("external_rating_is_issue_specific"), S.lit(True)),
                S.lit(0),
            ).otherwise(cqs_eff)
        sl_row = (
            (S.col("exposure_class") == "corporate")
            & (sl != "")
            & (cqs_eff <= 0)
            & ~S.col("is_defaulted")
        )
        sl_key = (
            S.when(sl.contains("object"), S.lit("object_finance"))
            .when(sl.contains("commodit"), S.lit("commodities_finance"))
            .when(
                sl.contains("project"),
                S.when(phase.contains("pre"), S.lit("project_finance_pre_operational"))
                .when(phase.contains("high"), S.lit("project_finance_high_quality"))
                .otherwise(S.lit("project_finance_operational")),
            )
            .otherwise(S.lit("unknown"))
        )
        sl_rw = S.lit(1.0)  # unknown SL type falls back to corporate 100%
        for key, w in sorted(slw.items()):
            sl_rw = S.when(sl_key == key, S.lit(w)).otherwise(sl_rw)
        base_rw = S.when(sl_row, sl_rw).otherwise(base_rw)
        rw_source = S.when(
            sl_row, S.concat(S.lit("b31_sa_sl_"), sl_key)
        ).otherwise(rw_source)

    # --- PS1/26 short-term institution / corporate ECAI routing (ref
    # engine/sa/risk_weights.py _b31_append_institution_maturity_branches +
    # _b31_append_corporate_maturity_branches). Pack-gated (the CRR has no
    # short-term tables) and column-gated per bundle; all four tables are
    # dim-sized broadcast lookups. Precedence mirrors the reference chain:
    # dedicated short-term ECAI (Table 4A) beats the long-term-rating
    # short-term window (Table 4); SCRA-ST beats the long-term SCRA
    # override above (applied later wins).
    _nd = ~S.col("is_defaulted")
    _rated = S.coalesce(S.col("cqs"), S.lit(0)) > 0
    _inst = S.col("exposure_class") == "institution"
    _has_st_ecai = S.coalesce(S.col("has_short_term_ecai"), S.lit(False))
    _om = S.coalesce(S.col("original_maturity_years"), S.lit(1.0))
    _st_lc = S.coalesce(S.col("is_short_term_trade_lc"), S.lit(False))
    # Art.120(2)/121(5): original maturity <= 3m, or trade finance <= 6m
    _st_window = (_om <= 0.25) | (_st_lc & (_om <= 0.5))
    if "ecra_short_term_rw" in pack.tables and "original_maturity_years" in carried:
        t4 = pack.dim(spark, "ecra_short_term_rw", "cqs AS _t4_cqs, rw AS _t4_rw")
        exp = exp.join(
            t4, S.col("cqs") == S.col("_t4_cqs"), "left"
        ).drop("_t4_cqs")
        m_t4 = _inst & _rated & ~_has_st_ecai & _st_window & _nd
        base_rw = S.when(m_t4, S.coalesce(S.col("_t4_rw"), S.lit(1.5))).otherwise(
            base_rw
        )
        rw_source = S.when(m_t4, "sa_ecra_short_term").otherwise(rw_source)
    if "scra_short_term_rw" in pack.tables and "scra_grade" in carried:
        sst = pack.dim(
            spark,
            "scra_short_term_rw",
            "grade AS _sst_grade, rw AS _sst_rw",
        )
        exp = exp.join(
            sst, S.col("scra_grade") == S.col("_sst_grade"), "left"
        ).drop("_sst_grade")
        m_sst = (
            _inst
            & (S.coalesce(S.col("cqs"), S.lit(0)) == 0)
            & _st_window
            & _nd
            & S.col("_sst_rw").isNotNull()
        )
        base_rw = S.when(m_sst, S.col("_sst_rw")).otherwise(base_rw)
        rw_source = S.when(m_sst, "sa_scra_short_term").otherwise(rw_source)
    if "ecra_short_term_ecai_rw" in pack.tables and "has_short_term_ecai" in carried:
        t4a = pack.dim(
            spark,
            "ecra_short_term_ecai_rw",
            "cqs AS _t4a_cqs, rw AS _t4a_rw",
        )
        exp = exp.join(
            t4a, S.col("cqs") == S.col("_t4a_cqs"), "left"
        ).drop("_t4a_cqs")
        m_t4a = _inst & _rated & _has_st_ecai & _nd
        base_rw = S.when(m_t4a, S.coalesce(S.col("_t4a_rw"), S.lit(1.5))).otherwise(
            base_rw
        )
        rw_source = S.when(m_t4a, "sa_ecra_st_ecai").otherwise(rw_source)
    if "corporate_st_ecai_rw" in pack.tables and "has_short_term_ecai" in carried:
        t6a = pack.dim(spark, "corporate_st_ecai_rw", "cqs AS _t6a_cqs, rw AS _t6a_rw")
        exp = exp.join(
            t6a, S.col("cqs") == S.col("_t6a_cqs"), "left"
        ).drop("_t6a_cqs")
        # SME corporates stay on the dedicated 85% path (ref excludes the
        # SME class from Table 6A)
        m_t6a = (
            (S.col("exposure_class") == "corporate")
            & _rated
            & _has_st_ecai
            & ~S.coalesce(S.col("is_sme"), S.lit(False))
            & _nd
        )
        base_rw = S.when(m_t6a, S.coalesce(S.col("_t6a_rw"), S.lit(1.5))).otherwise(
            base_rw
        )
        rw_source = S.when(m_t6a, "sa_corp_st_ecai").otherwise(rw_source)

    # --- PS1/26 Art.122(11) unrated corporate SME 85% and Art.122(6)/(8)
    # investment-grade assessment (65% IG / 135% non-IG, active only under
    # the firm's PRA permission — use_ig_assessment). Pack-gated: the CRR
    # prices unrated corporates flat at Art.122(2) 100%.
    _unrated_corp = (
        (S.col("exposure_class") == "corporate")
        & (S.coalesce(S.col("cqs"), S.lit(0)) == 0)
        & _nd
    )
    _is_sme = S.coalesce(S.col("is_sme"), S.lit(False))
    if "corporate_sme_rw" in pack.scalars:
        m_sme = _unrated_corp & _is_sme
        base_rw = S.when(m_sme, pack.sql_lit("corporate_sme_rw")).otherwise(base_rw)
        rw_source = S.when(m_sme, "sa_corporate_sme").otherwise(rw_source)
    if use_ig_assessment and "corporate_ig_rw" in pack.scalars:
        _ig = S.coalesce(S.col("is_investment_grade"), S.lit(False))
        m_ig = _unrated_corp & ~_is_sme & _ig
        m_nig = _unrated_corp & ~_is_sme & ~_ig
        base_rw = (
            S.when(m_ig, pack.sql_lit("corporate_ig_rw"))
            .when(m_nig, pack.sql_lit("corporate_non_ig_rw"))
            .otherwise(base_rw)
        )
        rw_source = (
            S.when(m_ig, "sa_corporate_ig")
            .when(m_nig, "sa_corporate_non_ig")
            .otherwise(rw_source)
        )

    # --- Art.123 retail product branches: payroll/pension 35% (CRR2 F68 /
    # PS1/26 Art.123(4)), QRRE transactor 45% (PS1/26 Art.123(2), B3.1
    # only — transactor applied after payroll so it wins ties, mirroring
    # the reference chain order)
    _retail_nd = (S.col("exposure_class") == "retail") & _nd
    if "retail_payroll_rw" in pack.scalars:
        m_pay = _retail_nd & S.coalesce(S.col("is_payroll_loan"), S.lit(False))
        base_rw = S.when(m_pay, pack.sql_lit("retail_payroll_rw")).otherwise(base_rw)
        rw_source = S.when(m_pay, "sa_retail_payroll").otherwise(rw_source)
    if "retail_transactor_rw" in pack.scalars:
        m_tx = _retail_nd & S.coalesce(S.col("is_qrre_transactor"), S.lit(False))
        base_rw = S.when(m_tx, pack.sql_lit("retail_transactor_rw")).otherwise(base_rw)
        rw_source = S.when(m_tx, "sa_retail_transactor").otherwise(rw_source)

    # --- CRR Art.116-118 / Art.137 sovereign-family branches (ref
    # engine/sa/risk_weights.py PSE/RGLA/MDB/IO chain + _eca_meip_rw_expr).
    # All lookups are pack-dim broadcast joins; fallbacks are the cited
    # Art.116(1)/117(1) conservative defaults.
    if "io_rw" in pack.scalars:
        m_io = (S.col("exposure_class") == "international_organisation") & _nd
        base_rw = S.when(m_io, pack.sql_lit("io_rw")).otherwise(base_rw)
        rw_source = S.when(m_io, "sa_art118_io").otherwise(rw_source)
    if "mdb_rw_table2b" in pack.tables:
        t2b = pack.dim(spark, "mdb_rw_table2b", "cqs AS _2b_cqs, rw AS _2b_rw")
        exp = exp.join(
            t2b,
            S.coalesce(S.col("cqs"), S.lit(0)) == S.col("_2b_cqs"),
            "left",
        ).drop("_2b_cqs")
        _mdb = (S.col("exposure_class") == "mdb") & _nd
        m_named = _mdb & (S.col("entity_type") == "mdb_named")
        m_2b = _mdb & (S.col("entity_type") != "mdb_named")
        base_rw = (
            S.when(m_named, pack.sql_lit("mdb_named_rw"))
            .when(m_2b, S.coalesce(S.col("_2b_rw"), pack.sql_lit("mdb_unrated_rw")))
            .otherwise(base_rw)
        )
        rw_source = (
            S.when(m_named, "sa_mdb_named")
            .when(m_2b, "sa_mdb_table2b")
            .otherwise(rw_source)
        )
    if "pse_own_rating_rw" in pack.tables:
        por = pack.dim(spark, "pse_own_rating_rw", "cqs AS _por_cqs, rw AS _por_rw")
        exp = exp.join(
            por, S.col("cqs") == S.col("_por_cqs"), "left"
        ).drop("_por_cqs")
        if "sovereign_cqs" in carried:
            psd = pack.dim(
                spark,
                "pse_sovereign_derived_rw",
                "cqs AS _psd_cqs, rw AS _psd_rw",
            )
            exp = exp.join(
                psd,
                S.col("sovereign_cqs") == S.col("_psd_cqs"),
                "left",
            ).drop("_psd_cqs")
            _psd_rw = S.col("_psd_rw")
        else:
            _psd_rw = S.null("double")
        _pse = (S.col("exposure_class") == "pse") & _nd
        # Art.116(5): an EXPLICIT non-equivalence flag prices 100%; null is
        # permissive (no Treasury determination recorded ≠ negative one)
        _pse_ne = ~S.coalesce(S.col("pse_jurisdiction_equivalent"), S.lit(True))
        _pse_st = _om <= 0.25
        base_rw = (
            S.when(_pse & _pse_ne, pack.sql_lit("pse_non_equivalent_rw"))
            .when(_pse & _pse_st, pack.sql_lit("pse_short_term_rw"))
            .when(
                _pse & (S.coalesce(S.col("cqs"), S.lit(0)) == 0),
                S.coalesce(_psd_rw, pack.sql_lit("pse_unrated_rw")),
            )
            .when(_pse, S.coalesce(S.col("_por_rw"), pack.sql_lit("pse_unrated_rw")))
            .otherwise(base_rw)
        )
        rw_source = (
            S.when(_pse & _pse_ne, "sa_pse_non_equivalent")
            .when(_pse & _pse_st, "sa_pse_short_term")
            .when(
                _pse & (S.coalesce(S.col("cqs"), S.lit(0)) == 0),
                "sa_pse_sovereign_derived",
            )
            .when(_pse, "sa_pse_own_rating")
            .otherwise(rw_source)
        )
    if "rgla_own_rating_rw" in pack.tables:
        r1b = pack.dim(spark, "rgla_own_rating_rw", "cqs AS _1b_cqs, rw AS _1b_rw")
        exp = exp.join(
            r1b, S.col("cqs") == S.col("_1b_cqs"), "left"
        ).drop("_1b_cqs")
        if "sovereign_cqs" in carried:
            r1a = pack.dim(
                spark,
                "rgla_sovereign_derived_rw",
                "cqs AS _1a_cqs, rw AS _1a_rw",
            )
            exp = exp.join(
                r1a,
                S.col("sovereign_cqs") == S.col("_1a_cqs"),
                "left",
            ).drop("_1a_cqs")
            _r1a_rw = S.col("_1a_rw")
        else:
            _r1a_rw = S.null("double")
        _rgla = (S.col("exposure_class") == "rgla") & _nd
        # Art.115(5): sterling-domestic UK RGLAs take the flat 20% — the
        # 'GB'/'GBP' carrier convention; non-UK domestic-currency RGLAs
        # fall through to the (1) rating tables (the reference deliberately
        # does NOT reuse the composite EU-domestic flag here)
        _rgla_dom = (S.col("country") == "GB") & (S.col("currency") == "GBP")
        base_rw = (
            S.when(_rgla & _rgla_dom, pack.sql_lit("rgla_domestic_rw"))
            .when(
                _rgla & (S.coalesce(S.col("cqs"), S.lit(0)) == 0),
                S.coalesce(_r1a_rw, pack.sql_lit("pse_unrated_rw")),
            )
            .when(_rgla, S.coalesce(S.col("_1b_rw"), pack.sql_lit("pse_unrated_rw")))
            .otherwise(base_rw)
        )
        rw_source = (
            S.when(_rgla & _rgla_dom, "sa_rgla_domestic")
            .when(
                _rgla & (S.coalesce(S.col("cqs"), S.lit(0)) == 0),
                "sa_rgla_sovereign_derived",
            )
            .when(_rgla, "sa_rgla_own_rating")
            .otherwise(rw_source)
        )
    if "eca_meip_rw" in pack.tables and "eca_meip_score" in carried:
        eca = pack.dim(spark, "eca_meip_rw", "score AS _eca_score, rw AS _eca_rw")
        exp = exp.join(
            eca,
            S.col("eca_meip_score") == S.col("_eca_score"),
            "left",
        ).drop("_eca_score")
        m_eca = (
            (S.col("exposure_class") == "sovereign")
            & (S.coalesce(S.col("cqs"), S.lit(0)) == 0)
            & _nd
            & S.col("_eca_rw").isNotNull()
        )
        base_rw = S.when(m_eca, S.col("_eca_rw")).otherwise(base_rw)
        rw_source = S.when(m_eca, "sa_eca_meip").otherwise(rw_source)

    # --- Art.112 Table A2 rows 3-4: subordinated debt / high-risk classes.
    # Both outrank the defaulted rule (priority 3/4 > 5, ref
    # risk_weights.py "_uc != HIGH_RISK" defaulted gate), so neither is
    # gated on ~is_defaulted and both are excluded from the provision
    # override below. The B3.1 pack prices them (Art.133A / Art.128); the
    # CRR omitted Art.128 — its high-risk rows take the residual 100%,
    # including defaulted ones (the Table A2 precedence, not an oversight).
    if "subordinated_debt_rw" in pack.scalars:
        m_sd = S.col("exposure_class") == "subordinated_debt"
        base_rw = S.when(m_sd, pack.sql_lit("subordinated_debt_rw")).otherwise(base_rw)
        rw_source = S.when(m_sd, "sa_subordinated_debt").otherwise(rw_source)
    m_hr = S.col("exposure_class") == "high_risk"
    if "high_risk_rw" in pack.scalars:
        base_rw = S.when(m_hr, pack.sql_lit("high_risk_rw")).otherwise(base_rw)
        rw_source = S.when(m_hr, "sa_high_risk").otherwise(rw_source)
    else:
        base_rw = S.when(m_hr, pack.sql_lit("unrated_corp_rw")).otherwise(base_rw)
        rw_source = S.when(m_hr, "sa_unrated").otherwise(rw_source)

    # --- Art.127 defaulted provision test (ref engine/sa/risk_weights.py
    # _apply_defaulted_risk_weight): the unsecured defaulted part takes
    # 100% where specific provisions >= 20% of the denominator, 150%
    # below. Denominator is regime data: CRR = pre-provision EXPOSURE
    # VALUE (post-CRM EAD + the provision that reduced it), B3.1 = gross
    # outstanding (the defaulted_denom_gross_outstanding Feature). B3.1
    # additionally prices ALL defaulted RE-secured rows through the test
    # except general (non-income) residential RE, which stays flat 100%
    # (Art.127(3)/CRE20.88); the CRR keeps the flat Art.127(3)/(4) secured
    # leg from the base chain. Applied LAST so the provision-based weight
    # overrides every non-defaulted branch above, like the reference's
    # unconditional Art.127 overwrite.
    if "defaulted_provision_threshold" in pack.scalars:
        _prov = S.coalesce(S.col("provision_allocated"), S.lit(0.0))
        _gross_basis = (
            "defaulted_denom_gross_outstanding" in pack.scalars
            and pack.scalar("defaulted_denom_gross_outstanding") >= 1.0
        )
        _denom = (
            S.col("gross_ead")
            if _gross_basis
            else S.col("ead_after_crm")
            + S.coalesce(S.col("provision_capped_amount"), S.lit(0.0))
        )
        _high = _prov >= pack.sql_lit("defaulted_provision_threshold") * _denom
        _prov_rw = S.when(_high, pack.sql_lit("defaulted_rw_high_provision")).otherwise(
            pack.sql_lit("defaulted_rw_low_provision")
        )
        _re_sec = S.col("exposure_class") == "re_secured"
        if "defaulted_resi_re_non_income_rw" in pack.scalars:
            _comm = S.coalesce(S.col("is_commercial_re"), S.lit(False))
            _inc = S.coalesce(S.col("is_income_producing"), S.lit(False))
            # ADC / other-RE are their own classes in the reference's
            # Art.127(3) carve-out (residential only) — they join the
            # provision test like income/commercial rows
            _adc = S.coalesce(S.col("is_adc"), S.lit(False))
            _oth = S.coalesce(S.col("is_other_re"), S.lit(False))
            # general resi RE stays flat 100% (the base chain's secured
            # leg); income-producing / commercial / ADC / other-RE secured
            # rows join the provision test
            m_prov = S.col("is_defaulted") & ~(
                _re_sec & ~_comm & ~_inc & ~_adc & ~_oth
            )
        else:
            m_prov = S.col("is_defaulted") & ~_re_sec
        # Table A2 rows 3-4 outrank the defaulted rule (see above)
        m_prov = m_prov & ~S.col("exposure_class").isin(
            "high_risk", "subordinated_debt"
        )
        base_rw = S.when(m_prov, _prov_rw).otherwise(base_rw)
        rw_source = S.when(
            m_prov,
            S.when(_high, S.lit("sa_defaulted_high_provision")).otherwise(
                S.lit("sa_defaulted")
            ),
        ).otherwise(rw_source)

    # CRR/PS1/26 Art.114(3): exposures to the ECB take an UNCONDITIONAL
    # 0% risk weight — no currency test, no rating test, both regimes
    # (ref engine/sa/central_bank.py ecb_rw_expr; 'central_bank_ecb' is
    # the documented entity-type convention — the ECB is supranational,
    # so no country code can identify it)
    _is_ecb = S.col("entity_type") == "central_bank_ecb"
    base_rw = S.when(_is_ecb, S.lit(0.0)).otherwise(base_rw)
    rw_source = S.when(_is_ecb, "ecb_art114_3").otherwise(rw_source)

    # CRR Art.306(1) / BCBS CRE54.14-15: trade exposures to a QUALIFYING
    # CCP take 2% (clearing member's own trades, (1)(a)) or 4% (client-
    # cleared through a clearing member, (1)(c)), overriding the
    # institution ladder the Art.107(2)(a) class demotion put them on; a
    # non-qualifying CCP simply stays on that ladder (ref engine/ccr/
    # ccp.py apply_ccp_risk_weight + engine/sa/cqs_lift.py). Pack-gated; a
    # null is_qccp is non-qualifying; defaulted rows keep the defaulted
    # treatment.
    if "qccp_trade_rw" in pack.scalars:
        _qccp = (
            (S.col("entity_type") == "ccp")
            & ~S.col("is_defaulted")
            & S.coalesce("is_qccp", S.lit(False))
        )
        _cleared = S.coalesce("is_client_cleared", S.lit(False))
        base_rw = (
            S.when(_qccp & _cleared, pack.sql_lit("qccp_client_cleared_rw"))
            .when(_qccp, pack.sql_lit("qccp_trade_rw"))
            .otherwise(base_rw)
        )
        rw_source = (
            S.when(_qccp & _cleared, "sa_qccp_client_cleared_art306_1c")
            .when(_qccp, "sa_qccp_trade_art306_1a")
            .otherwise(rw_source)
        )

    # CRR Art.114(4)/(7) + Art.141: EU central-government exposures
    # denominated in the member state's domestic currency take 0% RW,
    # overriding the CQS ladder (ref engine/eu_sovereign.py — consumed by
    # the SA risk-weight path; the country→currency map is pack data).
    eu = pack.dim(
        spark,
        "eu_domestic_ccy",
        "country AS _eu_country, domestic_ccy AS _eu_ccy",
    )
    exp = exp.join(eu, S.col("country") == S.col("_eu_country"), "left")
    eu_match = (
        (S.col("exposure_class") == "sovereign")
        & ~S.col("is_defaulted")
        & S.col("_eu_ccy").isNotNull()
        & (S.col("currency") == S.col("_eu_ccy"))
    )
    base_rw = S.when(eu_match, S.lit(0.0)).otherwise(base_rw)
    rw_source = S.when(eu_match, "sovereign_eu_domestic").otherwise(rw_source)
    exp = exp.with_columns({"own_rw": base_rw, "rw_source": rw_source}).drop(
        "_eu_country", "_eu_ccy"
    )

    # guarantee substitution on the covered share (ref crm/guarantees.py)
    g_rw_table = pack.dim(
        spark,
        "sa_rw",
        "exposure_class AS g_class_t, cqs AS g_cqs_t, rw AS g_rw",
    )
    exp = exp.join(
        g_rw_table,
        (S.col("g_class") == S.col("g_class_t"))
        & (S.coalesce(S.col("g_cqs"), S.lit(0)) == S.col("g_cqs_t")),
        "left",
    ).drop("g_class_t", "g_cqs_t")
    # CRR Art.235(3) + Art.114(4)/(7): a central-government guarantee from
    # an EU member state, DENOMINATED and FUNDED in that state's domestic
    # currency, extends the sovereign 0% to the covered portion — the
    # guarantor's own CQS ladder weight is bypassed (ref engine/sa/
    # rw_adjustments.py _build_domestic_guarantor_expr +
    # build_domestic_cgcb_guarantor_expr). Denomination falls back to the
    # exposure's currency when the guarantee declares none; the funding
    # limb is null-PERMISSIVE (funding_currency absent = funded in the
    # denomination). Carrier-gated on the guarantor country column.
    if "g_country" in carried:
        _gd = pack.dim(
            spark,
            "eu_domestic_ccy",
            "country AS _gd_country, domestic_ccy AS _gd_ccy",
        )
        exp = exp.join(_gd, S.col("g_country") == S.col("_gd_country"), "left")
        _g_den = S.coalesce(S.col("g_currency"), S.col("currency"))
        _g_fund = S.coalesce(S.col("funding_currency"), _g_den)
        _g_dom = (
            (S.col("g_class") == "sovereign")
            & S.col("_gd_ccy").isNotNull()
            & (_g_den == S.col("_gd_ccy"))
            & (_g_fund == S.col("_gd_ccy"))
        )
        exp = exp.with_column(
            "g_rw", S.when(_g_dom, S.lit(0.0)).otherwise(S.col("g_rw"))
        ).drop("_gd_country", "_gd_ccy")
    # multi-guarantee fold (crm stage `_mg`: priority-ordered (slice, rw)
    # structs, slices capped at 100% coverage): G = Σ slice, and the
    # covered term Σ slice·least(own, rw) — each slice individually
    # neutral-or-beneficial, exactly the legacy least() semantics per
    # guarantee. Gated on size>1 so single-guarantee books keep the
    # legacy expressions bit-for-bit.
    _own = S.col("own_rw")
    if "_mg" in carried:
        _fold = S.aggregate(
            S.coalesce(S.col("_mg"), S.array().cast(MG_STACK)),
            S.struct(g=S.lit(0.0), t=S.lit(0.0)),
            lambda acc, x: S.struct(
                g=acc["g"] + x["slice"],
                t=acc["t"] + x["slice"] * S.least(_own, S.coalesce(x["rw"], _own)),
            ),
        )
        _is_multi = S.size(S.coalesce(S.col("_mg"), S.array())) > 1
        _mg_g, _mg_t = _fold.getField("g"), _fold.getField("t")
    else:  # plan gate: what the empty-stack default folds to
        _is_multi = S.lit(False)
        _mg_g, _mg_t = S.lit(0.0), S.lit(0.0)
    # total coverage / covered-term for the ledger portions below: the
    # rank-1 scalars on the n≤1 path, the fold on the multi path
    _g_total = S.when(_is_multi, _mg_g).otherwise(S.col("g_coverage"))
    eff_rw = S.when(_is_multi, _mg_t + (1 - _mg_g) * _own).otherwise(
        S.col("g_coverage") * S.least(S.col("own_rw"), S.coalesce("g_rw", S.col("own_rw")))
        + (1 - S.col("g_coverage")) * S.col("own_rw")
    )
    g_src = S.when(
        S.when(_is_multi, _mg_t < _mg_g * _own).otherwise(
            (S.col("g_coverage") > 0)
            & (S.coalesce("g_rw", S.col("own_rw")) < S.col("own_rw"))
        ),
        S.concat(S.col("rw_source"), S.lit("+guarantee")),
    ).otherwise(S.col("rw_source"))
    # other-funded-protection RW substitution (CRR Art.222/232; ref
    # engine/crm/{simple_method,life_insurance,third_party_deposit}.py):
    # each channel's covered fraction takes min(own RW, substitute RW) —
    # the blend composes as a subtraction of each channel's benefit from
    # the guarantee-blended RW; channels claim the unguaranteed remainder
    # in order (life insurance, third-party deposit, FCSM). A null channel
    # value is no protection on that channel.
    ead_nz = S.nullif(S.col("ead_after_crm"), S.lit(0.0))
    avail = S.greatest(1 - _g_total, S.lit(0.0))
    ofcp = S.lit(0.0)
    for vcol, rcol in (
        ("li_value", "li_rw"),
        ("tpd_value", "tpd_rw"),
        ("fcsm_value", "fcsm_rw"),
    ):
        frac = S.least(S.coalesce(S.col(vcol) / ead_nz, S.lit(0.0)), avail)
        ofcp = ofcp + S.when(
            S.col(vcol).isNotNull(),
            frac * S.greatest(_own - S.coalesce(S.col(rcol), _own), S.lit(0.0)),
        ).otherwise(S.lit(0.0))
        avail = avail - frac
    # the hypothetical no-substitution weight starts at the own ladder and
    # tracks every NON-substitution adjustment below (ccymm multiplier,
    # due-diligence override, Art.113(6) intragroup) in lockstep — only
    # the guarantee/OFCP substitution steps themselves are undone, so
    # CR7/CR7-A never misattribute a post-base override to CRM relief
    exp = exp.with_columns(
        {
            "risk_weight": S.when(ofcp != 0, eff_rw - ofcp).otherwise(eff_rw),
            "_rw_nosubst": S.col("own_rw"),
            "rw_source": S.when(
                ofcp > 0, S.concat(g_src, S.lit("+ofcp"))
            ).otherwise(g_src),
            # FCSM decomposition carriers (ref :3016-3018): the simple-
            # method collateral value, its substitute weight, and the RW
            # before any funded-substitution channel subtracted its benefit
            "pre_fcsm_risk_weight": eff_rw,
            "fcsm_collateral_value": S.coalesce("fcsm_value", S.lit(0.0)),
            "fcsm_collateral_rw": S.col("fcsm_rw"),
        }
    )
    # guarantee-impact ledger block (ref CALCULATION_OUTPUT_SCHEMA
    # :2972-3005 + engine/irb/guarantee.py:865-903
    # _add_guarantee_status_columns): the covered/retained EAD split, the
    # substitute weight, the isolated RW/RWA benefit of the guarantee step
    # (the blend continues mutating risk_weight after — OFCP, ccy-mismatch,
    # overrides — so the benefit is computed directly as g·(own − g_rw),
    # never as a later difference), and the status/method enums. Pre/post
    # substitution tracking: the borrower-side identity and the
    # guarantor-side destination the CRM-substitution router reports.
    _g_has = _g_total > 0
    _g_ben_sa = S.when(_is_multi, _mg_t < _mg_g * _own).otherwise(
        (S.col("g_coverage") > 0)
        & (S.coalesce("g_rw", S.col("own_rw")) < S.col("own_rw"))
    )
    # is_guaranteed = protection exists (ref crm/guarantees.py:183); the
    # beneficial outcome is guarantee_status's job (aggregator.py:706-707).
    # one batched projection: guarantee_benefit inlines benefit_rw's
    # expression (same value); everything else reads pre-block columns only
    _ben_rw_sa = (
        S.when(_is_multi, S.greatest(_mg_g * _own - _mg_t, S.lit(0.0)))
        .when(_g_ben_sa, S.col("g_coverage") * (S.col("own_rw") - S.col("g_rw")))
        .otherwise(0.0)
    )
    exp = exp.with_columns(
        {
            "is_guaranteed": _g_has,
            "guaranteed_portion": S.when(
                _g_has, _g_total * S.col("ead_after_crm")
            ).otherwise(0.0),
            "unguaranteed_portion": S.col("ead_after_crm")
            - S.when(_g_has, _g_total * S.col("ead_after_crm")).otherwise(0.0),
            "guarantor_risk_weight": S.when(_g_has, S.col("g_rw")),
            "pre_crm_risk_weight": S.col("own_rw"),
            "guarantee_benefit_rw": _ben_rw_sa,
            "guarantee_benefit": _ben_rw_sa * S.col("ead_after_crm"),
            "guarantee_status": S.when(~_g_has, "NO_GUARANTEE")
            .when(~_g_ben_sa, "GUARANTEE_NOT_APPLIED_NON_BENEFICIAL")
            .otherwise("SA_RW_SUBSTITUTION"),
            "guarantee_method_used": S.when(
                _g_ben_sa, "SA_RW_SUBSTITUTION"
            ).otherwise("NO_SUBSTITUTION"),
            "pre_crm_counterparty_reference": S.col("counterparty_reference"),
            "pre_crm_exposure_class": S.col("exposure_class"),
            "post_crm_counterparty_guaranteed": S.when(
                _g_has, S.col("guarantor_reference")
            ),
            "post_crm_exposure_class_guaranteed": S.when(_g_has, S.col("g_class")),
        }
    )

    # PS1/26 Art.123B (B3.1 only, Feature-gated): ×1.5 RW multiplier for
    # retail / residential-RE exposures whose currency mismatches the
    # borrower's income currency, capped at 150%. Waived when hedged —
    # either the is_hedged flag or ≥90% effective coverage, where a
    # revolving facility's firm-supplied coverage ratio (measured on the
    # current drawn balance) is rescaled onto the fully-drawn committed
    # base per Art.123B(2A) (ref engine/sa/rw_adjustments.py
    # apply_currency_mismatch_multiplier).
    if pack.scalar("sa_currency_mismatch_multiplier") >= 1.0:
        in_scope = S.col("exposure_class").isin("retail", "re_secured")
        mismatch = S.col("borrower_income_currency").isNotNull() & (
            S.col("borrower_income_currency") != S.col("currency")
        )
        hedged = S.coalesce("is_hedged", S.lit(False))
        # a null coverage ratio is no coverage test
        raw_cov = S.col("hedge_coverage_ratio")
        revolving = S.coalesce("is_revolving", S.lit(False))
        drawn = S.coalesce("drawn_amount", S.lit(0.0))
        limit = S.coalesce(S.col("facility_limit"), drawn)
        full_draw = S.greatest(drawn, limit)
        eff_cov = S.when(
            revolving & (full_draw > 0), raw_cov * drawn / full_draw
        ).otherwise(raw_cov)
        cov_ok = raw_cov.isNotNull() & (
            eff_cov >= pack.sql_lit("currency_mismatch_hedge_floor")
        )
        ccymm = in_scope & mismatch & ~(hedged | cov_ok)
        # ledger carriers (ref :3066-3068): the pre-multiplier snapshot and
        # whether the ×1.5 actually applied — every expression reads the
        # PRE-block columns, so the whole block is one batched projection
        # (the _rw_nosubst mirror is NOT a substitution effect)
        exp = exp.with_columns(
            {
                "risk_weight_pre_currency_mismatch": S.col("risk_weight"),
                "currency_mismatch_multiplier_applied": S.coalesce(
                    ccymm, S.lit(False)
                ),
                "risk_weight": S.when(
                    ccymm,
                    S.least(
                        S.col("risk_weight")
                        * pack.sql_lit("currency_mismatch_multiplier"),
                        pack.sql_lit("currency_mismatch_cap"),
                    ),
                ).otherwise(S.col("risk_weight")),
                "_rw_nosubst": S.when(
                    ccymm,
                    S.least(
                        S.col("_rw_nosubst")
                        * pack.sql_lit("currency_mismatch_multiplier"),
                        pack.sql_lit("currency_mismatch_cap"),
                    ),
                ).otherwise(S.col("_rw_nosubst")),
                "rw_source": S.when(
                    ccymm, S.concat(S.col("rw_source"), S.lit("+ccymm"))
                ).otherwise(S.col("rw_source")),
            }
        )

    # PS1/26 Art.110A (B3.1 only, Feature-gated): where the firm's due
    # diligence found the calculated weight understates the risk, the
    # firm-assessed override replaces it — increase-only, applied after
    # every standard RW step but BEFORE the Art.113(6) intragroup
    # override, which is a hard permission and deliberately wins.
    if pack.scalar("sa_due_diligence_override") >= 1.0:
        ddq = S.col("due_diligence_override_rw").isNotNull() & (
            S.col("due_diligence_override_rw") > S.col("risk_weight")
        )
        # one with_columns: both outputs must read the PRE-override weight
        # (a second chained step would re-evaluate ddq against the
        # already-overridden column and never tag the source)
        exp = exp.with_columns(
            {
                "risk_weight": S.when(
                    ddq, S.col("due_diligence_override_rw")
                ).otherwise(S.col("risk_weight")),
                # NOT a substitution effect — mirrored onto the hypothetical
                # (increase-only against ITS OWN level)
                "_rw_nosubst": S.when(
                    S.col("due_diligence_override_rw").isNotNull()
                    & (S.col("due_diligence_override_rw") > S.col("_rw_nosubst")),
                    S.col("due_diligence_override_rw"),
                ).otherwise(S.col("_rw_nosubst")),
                "rw_source": S.when(
                    ddq, S.concat(S.col("rw_source"), S.lit("+ddq"))
                ).otherwise(S.col("rw_source")),
            }
        )

    # CRR Art.113(6): 0% RW for core-UK-group intragroup exposures on an
    # individual-basis run. The carrier is set (and authoritatively
    # cleared) ONLY by resolve_scope — see engine/stages/scope.py (ref
    # engine/sa/rw_adjustments.py apply_intragroup_zero_rw).
    elig = S.coalesce("intragroup_zero_rw_eligible", S.lit(False))
    # a hard permission, not a substitution — the hypothetical is 0% too
    # (CR7 must not report phantom CD relief on Art.113(6)); all three read
    # pre-block columns — one batched projection
    exp = exp.with_columns(
        {
            "risk_weight": S.when(elig, pack.sql_lit("intragroup_zero_rw_pct")).otherwise(
                S.col("risk_weight")
            ),
            "_rw_nosubst": S.when(elig, pack.sql_lit("intragroup_zero_rw_pct")).otherwise(
                S.col("_rw_nosubst")
            ),
            "rw_source": S.when(elig, "intragroup_art113_6").otherwise(
                S.col("rw_source")
            ),
        }
    )

    # CRR2 Art.501 tiered SME factor blended over the group drawn amount,
    # combined with the Art.501a infrastructure factor by most-beneficial
    # min (ref supporting_factors.py get_effective_factor). Round 9: the
    # shared helper adds the Art.501(2)(b) defaulted exclusion and is the
    # SAME expression the IRB and slotting branches now apply — the
    # reference runs SupportingFactorCalculator on every branch.
    sme_f, infra_f, sf = _supporting_factor_exprs(pack, threshold_scale)

    # routing provenance: the permission stage's diagnostic / PPU reason
    # where it ran (ref permissions.py approach_selection), else the
    # pipeline's default SA routing rule
    reason = S.coalesce(
        S.col("permission_diagnostic"),
        S.col("ppu_reason"),
        S.lit("sa_no_irb_permission"),
    )
    # one batched projection; supporting_factor_benefit inlines the exact
    # rwa_before_sf/rwa expressions (identical arithmetic DAG, bit-equal)
    exp = exp.with_columns(
        {
            "approach": S.lit("SA"),
            "approach_reason": reason,
            "rwa_before_sf": S.col("ead_after_crm") * S.col("risk_weight"),
            "rwa": S.col("ead_after_crm") * S.col("risk_weight") * sf,
            # the CR7/CR7-A hypothetical: the own-ladder RW with every
            # NON-substitution adjustment mirrored (_rw_nosubst tracks
            # ccymm/ddq/intragroup), at the same supporting factor
            "rwa_pre_crm_substitution": S.col("ead_after_crm")
            * S.col("_rw_nosubst")
            * sf,
            # supporting-factor decomposition (ref CALCULATION_OUTPUT_SCHEMA
            # sme_supporting_factor / infra_supporting_factor /
            # supporting_factor_benefit + supporting_factors.py
            # get_effective_factor): each factor under its own name — 1.0
            # where it did not apply — and the RWEA the most-beneficial
            # min saved
            "sme_supporting_factor": sme_f,
            "infra_supporting_factor": infra_f,
            "supporting_factor_benefit": (
                S.col("ead_after_crm") * S.col("risk_weight")
            )
            - (S.col("ead_after_crm") * S.col("risk_weight") * sf),
        }
    )
    exp = _el_columns(exp, S.lit(0.0))  # EL treatment is IRB-only; SA deducts
    exp = _param_cols(exp)  # SA uses CCF only
    # SA decision block, final leg (ref :3024-3025): the weight every
    # adjustment landed on and its delta from the base ladder value —
    # batched with the decision strings below into one projection
    _sa_adj = S.col("risk_weight") - S.col("sa_base_risk_weight")
    # SA decision strings (ref :3025-3030). sa_rating_source: the Art.138
    # pick's agency where the ratings channel resolved the CQS, "internal"
    # where the counterparty-supplied mapping was consulted, null unrated.
    _rated = S.col("sa_cqs") > 0
    _rating_src = S.when(
        S.col("external_rating_agency").isNotNull() & _rated,
        S.col("external_rating_agency"),
    ).when(_rated, S.lit("internal"))
    # sa_rw_adjustment_reason: the branch that moved the weight off the
    # base ladder (rw_source IS the which-branch carrier, incl. the
    # +guarantee substitution suffix), plus the Art.123A currency-mismatch
    # multiplier when it fired on top; null when nothing moved.
    _adj_reason = S.when(
        _sa_adj != 0,
        S.concat_ws(
            "+",
            S.col("rw_source"),
            S.when(
                S.coalesce("currency_mismatch_multiplier_applied", S.lit(False)),
                S.lit("art123a_ccy_mismatch"),
            ),
        ),
    )
    # sa_rw_regulatory_ref: the CRR / PS1/26 article each pricing branch
    # carries (same citations as the branch comments above; the CQS-ladder
    # and unrated rows resolve per Art.112 class).
    _src = S.regexp_replace(S.col("rw_source"), "[+].*$", "")
    _cls = S.col("exposure_class")
    _reg_ref = (
        S.when(_src == "sa_defaulted_secured", "CRR Art.127(1)(b)")
        .when(_src == "sa_defaulted", "CRR Art.127(1)")
        .when(_src == "sa_re_secured", "CRR Art.125-126")
        .when(_src == "sa_retail", "CRR Art.123")
        .when(_src == "sa_covered_bond_rated", "CRR Art.129(4)")
        .when(_src == "sa_covered_bond_unrated_derived", "CRR Art.129(5)")
        .when(_src == "sa_sovereign_derived", "CRR Art.121")
        .when(_src == "sa_scra", "PS1/26 Art.121A")
        .when(_src == "sovereign_eu_domestic", "CRR Art.114(4)")
        .when(_src == "ecb_art114_3", "CRR Art.114(3)")
        .when(_src.isin("b31_adc", "b31_adc_presold"), "PS1/26 Art.124K")
        .when(
            _src.isin("b31_other_re_income", "b31_other_re_cre", "b31_other_re_resi"),
            "PS1/26 Art.124J",
        )
        .when(_src == "b31_cre_income_ltv", "PS1/26 Art.124I")
        .when(_src == "b31_rre_income_ltv", "PS1/26 Art.124G")
        .when(_src == "b31_rre_three_property", "PS1/26 Art.124E(2)")
        .when(_src == "b31_cre_art124h3", "PS1/26 Art.124H(3)")
        .when(_src == "b31_cre_loan_split", "PS1/26 Art.124H")
        .when(_src == "b31_rre_loan_split", "PS1/26 Art.124F")
        .when(_src.startswith("b31_sa_sl_"), "PS1/26 Art.122A-122B")
        .when(
            _src == "sa_cqs_lookup",
            # the ladder table includes the unrated CQS-0 row, so split on
            # ratedness: rated rows cite the per-class assessment article,
            # unrated rows its unrated limb
            S.when(
                _rated,
                S.when(_cls == "sovereign", S.lit("CRR Art.114"))
                .when(_cls == "institution", S.lit("CRR Art.120"))
                .otherwise(S.lit("CRR Art.122")),
            )
            .when(_cls == "institution", S.lit("CRR Art.121"))
            .otherwise(S.lit("CRR Art.122(2)")),
        )
        .when(
            _src == "sa_unrated",
            S.when(_cls == "institution", S.lit("CRR Art.121")).otherwise(
                S.lit("CRR Art.122(2)")
            ),
        )
    )
    exp = exp.with_columns(
        {
            "rwa_sa_equivalent": S.col("rwa"),
            "sa_final_risk_weight": S.col("risk_weight"),
            "sa_rw_adjustment": _sa_adj,
            "sa_rating_source": _rating_src,
            "sa_rw_adjustment_reason": _adj_reason,
            "sa_rw_regulatory_ref": _reg_ref,
        }
    )
    # RE decision block (ref :3045-3053): sealed generically so the CRR
    # flat Art.125 branch carries them too; the LTV-band label seals in
    # the B3.1 block where the band chain runs
    _re = S.col("exposure_class") == "re_secured"
    exp = exp.with_columns(
        {
            "mortgage_risk_weight": S.when(_re, S.col("risk_weight")),
            "property_type": S.when(
                _re,
                S.when(
                    S.coalesce(S.col("is_commercial_re"), S.lit(False)),
                    "commercial",
                ).otherwise("residential"),
            ),
            "property_ltv": S.when(_re, S.col("ltv")),
        }
    )
    return CalcOutput(results=exp.select(*_RESULT_COLS).df)


def _apply_pma(df: Projection, pack: RulePack, pma) -> Projection:
    """PS1/26 Art.153(5A)/154(4A)/158(6A) post-model adjustments on the
    IRB branch (ref engine/irb/adjustments.py:122-279
    apply_post_model_adjustments). B3.1-only (pack Feature); CRR rows
    carry the zero columns for schema consistency.

    Sequencing per Art.154(4A) — it is load-bearing: (b) the 10%
    residential-mortgage RW floor applies FIRST and establishes the
    post-floor RWEA base; (a) the general-PMA and unrecognised-exposure
    scalars then multiply THAT base, so capital on floored rows is not
    understated. EL PMAs are floored at zero (Art.158(6A) — a PMA can
    never decrease expected loss); expected_loss keeps the pre-PMA value
    and el_after_adjustment carries the adjusted figure, mirroring the
    reference's column contract."""
    pma_rwa, pma_el, pma_unrec = pma
    zero = S.lit(0.0)
    if (
        "post_model_adjustments" not in pack.scalars
        or pack.scalar("post_model_adjustments") < 1.0
    ):
        return df.with_columns(
            {
                "rwa_pre_adjustments": S.col("rwa"),
                "mortgage_rw_floor_adjustment": zero,
                "post_model_adjustment_rwa": zero,
                "unrecognised_exposure_adjustment": zero,
                "el_pre_adjustment": S.col("expected_loss"),
                "post_model_adjustment_el": zero,
                "el_after_adjustment": S.col("expected_loss"),
            }
        )
    floor = pack.sql_lit("mortgage_rw_floor")
    # Art.154(4A)(b) scopes the 10% floor to RESIDENTIAL mortgages only
    # (ref irb/adjustments.py is_mortgage = class contains
    # MORTGAGE|RESIDENTIAL): a commercial-RE-secured re_secured row is out.
    is_mortgage = (
        (S.col("exposure_class") == "re_secured")
        & ~S.coalesce(S.col("is_commercial_re"), S.lit(False))
    ) | (
        (S.col("exposure_class") == "retail")
        & (S.col("retail_subtype") == "mortgage")
    )
    mortgage_adj = S.when(
        is_mortgage,
        S.greatest(zero, floor - S.col("risk_weight")) * S.col("ead_after_crm"),
    ).otherwise(zero)
    # the Art.154(4A) sequencing is preserved by expression NESTING instead
    # of column chaining (same arithmetic DAG, bit-identical): rwa_floored
    # is the (b) post-floor base and the (a) scalars multiply THAT base, so
    # the whole adjustment block is one step
    rwa_floored = S.col("rwa") + mortgage_adj
    pma_rwa_col = rwa_floored * S.lit(pma_rwa)
    unrec_col = rwa_floored * S.lit(pma_unrec)
    el_pma = S.greatest(zero, S.col("expected_loss") * S.lit(pma_el))
    return df.with_columns(
        {
            "rwa_pre_adjustments": S.col("rwa"),
            "mortgage_rw_floor_adjustment": mortgage_adj,
            "post_model_adjustment_rwa": pma_rwa_col,
            "unrecognised_exposure_adjustment": unrec_col,
            "rwa": rwa_floored + pma_rwa_col + unrec_col,
            "el_pre_adjustment": S.col("expected_loss"),
            "post_model_adjustment_el": el_pma,
            "el_after_adjustment": S.col("expected_loss") + el_pma,
        }
    )


def run_irb(
    crm: CRMOutput,
    pack: RulePack,
    pma: tuple = (0.0, 0.0, 0.0),
    firb_fixed_maturity: bool = False,
    reporting_date: str | None = None,
    threshold_scale: float = 1.0,
) -> CalcOutput:
    spark = crm.exposures.sparkSession
    exp = _calc_entry(
        crm,
        S.col("has_irb_permission")
        & ~S.col("is_specialised")
        & (S.col("exposure_class") != "securitisation"),
    )
    # CRR Art.147(3)/(4)(b) IRB class equivalence (ref rulebook/packs/
    # common.py entity_type_to_irb_class + engine/entity_class_maps.py):
    # MDBs and international organisations take the central-government
    # treatment under IRB (Art.147(3)); the institution-leg RGLA/PSE
    # classes take the institution treatment (Art.147(4)(b)). The SA class
    # on exposure_class is untouched — this routes IRB floors/curves only
    # (the sovereign-equivalent RGLA leg already classifies as sovereign).
    exp = exp.with_column(
        "irb_exposure_class",
        S.when(
            S.col("exposure_class").isin("mdb", "international_organisation"),
            S.lit("sovereign"),
        )
        .when(S.col("exposure_class").isin("pse", "rgla"), S.lit("institution"))
        .otherwise(S.col("exposure_class")),
    )

    # standardised-equivalent RWA for the Art.92(3) output floor: the SAME
    # SA ladder the SA branch runs (class × CQS lookup + overrides), so the
    # floor base is a genuine dual-framework number, not a flat proxy
    sa_rw_table = pack.dim(
        spark,
        "sa_rw",
        "exposure_class AS _sa_class, cqs AS _sa_cqs, rw AS _sa_rw",
    )
    exp = exp.join(
        sa_rw_table,
        (S.col("exposure_class") == S.col("_sa_class"))
        & (S.coalesce("cqs", S.lit(0)) == S.col("_sa_cqs")),
        "left",
    ).drop("_sa_class", "_sa_cqs")
    sa_equiv_rw = (
        S.when(S.col("is_defaulted"), pack.sql_lit("defaulted_rw"))
        .when(S.col("exposure_class") == "re_secured", pack.sql_lit("re_secured_rw"))
        .when(S.col("exposure_class") == "retail", pack.sql_lit("retail_rw"))
        .when(S.col("_sa_rw").isNotNull(), S.col("_sa_rw"))
        .otherwise(pack.sql_lit("unrated_corp_rw"))
    )
    exp = exp.with_column(
        "rwa_sa_equivalent", S.col("ead_after_crm") * sa_equiv_rw
    ).drop("_sa_rw")
    # per-class PD floor + feature-gated A-IRB LGD floor, staged as real
    # columns so pd_floored/lgd_floored AND the irb_*_floor audit carriers
    # read the same expression (ref _pd_floor_expression /
    # _lgd_floor_blended_expression in engine/irb/formulas.py)
    exp = exp.with_columns(
        {
            "_pd_floor_in": _pd_floor_class_expr(pack),
            "_lgd_floor_in": _lgd_floor_expr(pack),
        }
    )
    # F-IRB supervisory LGD for rows with no own estimate (ref
    # engine/irb/transforms.py apply_firb_lgd): seniority-routed senior/
    # subordinated with the B3.1 Art.161(1)(aa) FSE split, OVERRIDDEN by
    # the Art.161(1)(e)/(f)/(g) purchased-receivables sub-type rates when
    # purchased_receivables_subtype is set — subtype dispatch, not
    # seniority (subordinated purchased receivables carry 100%, dilution
    # risk 75% CRR / 100% B3.1). The subtype rates bind on BOTH approaches
    # for the Art.160(2)/(6) top-down population: a row carrying a subtype
    # with no own LGD is that population by construction, and the ref
    # records that gating them on approach==FIRB was anti-conservative.
    _sen_sub = S.coalesce(S.col("seniority"), S.lit("senior")).contains("sub")
    _fse_flag = S.coalesce(S.col("is_financial_sector_entity"), S.lit(False))
    _supervisory_lgd = S.when(_sen_sub, pack.sql_lit("firb_lgd_subordinated")).otherwise(
        S.when(_fse_flag, pack.sql_lit("firb_lgd_senior_fse")).otherwise(
            pack.sql_lit("firb_lgd_senior")
        )
    )
    _prs = S.col("purchased_receivables_subtype")
    _supervisory_lgd = (
        S.when(_prs == "senior", pack.sql_lit("firb_lgd_pr_senior"))
        .when(_prs == "subordinated", pack.sql_lit("firb_lgd_pr_subordinated"))
        .when(_prs == "dilution_risk", pack.sql_lit("firb_lgd_dilution"))
        .otherwise(_supervisory_lgd)
    )
    _floored_cols = {
        "pd_floored": S.when(S.col("is_defaulted"), S.lit(1.0)).otherwise(
            S.greatest(S.coalesce("pd", S.lit(1.0)), S.col("_pd_floor_in"))
        ),
        "lgd_floored": S.greatest(
            S.coalesce(S.col("lgd"), _supervisory_lgd), S.col("_lgd_floor_in")
        ),
    }
    # Art.162 maturity priority chain (ref engine/irb/transforms.py
    # _build_maturity_exprs — highest rung wins):
    #   1. supplied effective_maturity = the firm's own Art.162(2) figure,
    #      trusted to the [1 day, 5y] clip (the 1-year floor is the firm's
    #      to apply; carve-outs may legitimately sit below it)
    #   2. the Art.162(3) one-day carve-out flag — explicit column, or
    #      derived under the CRR-only Art.162(3)(b) feature from
    #      self-liquidating short-term trade finance with residual <= 1y
    #   3. B3.1 revolvers price to the facility termination date
    #      (PS1/26 Art.162(2A)(k), feature-gated, needs reporting_date)
    #   4. F-IRB fixed supervisory 2.5y (CRR Art.162(1) first sentence;
    #      only under the firm's Art.143 election — config, default off)
    #   5. fallback 2.5y
    _one_day = S.coalesce("has_one_day_maturity_floor", S.lit(False))
    if pack.scalar("one_day_maturity_floor") >= 1.0:
        _resid = S.coalesce("residual_maturity_years", "original_maturity_years")
        _one_day = _one_day | (
            S.coalesce("is_short_term_trade_lc", S.lit(False)) & (_resid <= 1.0)
        )
    _m_base = S.lit(2.5)
    if (
        pack.scalar("revolving_uses_termination_maturity") >= 1.0
        and reporting_date is not None
    ):
        _term_y = (
            S.datediff(
                S.col("facility_termination_date").cast("date"),
                S.lit(reporting_date).cast("date"),
            )
            / S.lit(365.0)
        )
        _m_base = S.when(
            S.coalesce("is_revolving", S.lit(False)) & _term_y.isNotNull(),
            S.least(S.greatest(_term_y, S.lit(1.0)), S.lit(5.0)),
        ).otherwise(_m_base)
    if (
        firb_fixed_maturity
        and pack.scalar("firb_fixed_supervisory_maturity") >= 1.0
    ):
        _m_base = S.when(
            S.col("irb_subapproach") == "firb",
            pack.sql_lit("firb_fixed_supervisory_maturity_years"),
        ).otherwise(_m_base)
    # pd_floored / lgd_floored / m_eff all read columns present after the
    # floor-in projection — one batched projection instead of three
    _floored_cols["m_eff"] = (
        S.when(
            S.col("effective_maturity").isNotNull(),
            S.least(
                S.greatest(S.col("effective_maturity"), S.lit(1.0 / 365.0)),
                S.lit(5.0),
            ),
        )
        .when(_one_day, S.lit(1.0 / 365.0))
        .otherwise(_m_base)
    )
    exp = exp.with_columns(_floored_cols)

    perf = exp.where(S.col("pd_floored") < 1.0)

    # Asset-class correlation routing (CRR Art.153(2)/(4), Art.154; ref
    # engine/irb/formulas.py _correlation_expr_from_pd + the retail
    # calculators): retail takes its own curves (mortgage 0.15, QRRE 0.04
    # when a retail_subtype carrier is present, else the other-retail
    # 0.03–0.16/35-decay curve) and NO maturity adjustment; corporates
    # subtract the Art.153(4) SME size adjustment when annual sales ≤ €50m
    # (unknown sales ⇒ S=50 ⇒ zero adjustment); large/unregulated
    # financial-sector entities multiply R by 1.25 (Art.153(2),
    # is_large_financial carrier).
    r_corp = S.kernel(correlation_v, S.col("pd_floored"))
    r_other_retail = S.kernel(correlation_other_retail_v, S.col("pd_floored"))
    sme_adj = S.when(
        (S.col("exposure_class") == "corporate")
        & (S.col("annual_revenue") > 0.0)
        & (S.col("annual_revenue") <= 50_000_000.0),
        S.kernel(sme_size_adjustment_v, S.col("annual_revenue") / 1000000.0),
    ).otherwise(S.lit(0.0))
    r_retail = (
        S.when(S.col("retail_subtype") == "mortgage", S.lit(R_RETAIL_MORTGAGE))
        .when(S.col("retail_subtype") == "qrre", S.lit(R_RETAIL_QRRE))
        .otherwise(r_other_retail)
    )
    r_nonretail = S.when(
        S.coalesce(S.col("is_large_financial"), S.lit(False)),
        (r_corp - sme_adj) * S.lit(FI_CORRELATION_MULTIPLIER),
    ).otherwise(r_corp - sme_adj)
    perf = perf.with_columns(
        {
            "_irb_r_in": S.when(
                S.col("exposure_class") == "retail", r_retail
            ).otherwise(r_nonretail),
            "_no_ma": S.col("exposure_class") == "retail",
        }
    )

    # With routed correlations R is a function of (PD, class, sales, FI
    # flag) — sales is continuous, so a dictionary keyed on R would grow
    # toward row-count and its broadcast-back would melt at scale. Split
    # the kernel instead: Φ⁻¹(PD) — the widest expression — still
    # dictionary-evaluates on the banded PD master scale alone (PDs come
    # off rating grades, so distinct PDs ≪ rows); Φ (K) and the maturity
    # adjustment run per-row inside whole-stage codegen.
    perf = dictionary_apply(
        perf,
        ["pd_floored"],
        lambda d: with_normal_ppf(d, "pd_floored", "g_pd"),
    )
    perf = with_irb_k_r(perf, "pd_floored", "lgd_floored", "g_pd", "_irb_r_in", "k")
    # IRB parameter decomposition carriers (ref CALCULATION_OUTPUT_SCHEMA
    # :3030-3041): the routed correlation and the Art.153(1) maturity
    # slope b, sealed HERE where the kernel inputs still exist as columns
    # (retail rows carry no b — they take no maturity adjustment).
    # ma and both carriers read pre-chain columns only — one projection
    perf = perf.with_columns(
        {
            "ma": S.when(S.col("_no_ma"), S.lit(1.0)).otherwise(
                S.kernel(maturity_adj_v, S.col("pd_floored"), S.col("m_eff"))
            ),
            "irb_correlation_r": S.col("_irb_r_in"),
            "irb_maturity_adj_b": S.when(
                S.col("_no_ma"), S.null("double")
            ).otherwise(S.kernel(maturity_b_v, S.col("pd_floored"))),
        }
    )
    perf = perf.drop("g_pd", "_irb_r_in", "_no_ma")
    # CRR Art.153(1): ×1.06 scaling on non-defaulted IRB (B3.1 sets it to
    # 1.0 — the attribution waterfall decomposes exactly this removal)
    perf = perf.with_columns(
        {
            "risk_weight": S.col("k")
            * S.col("ma")
            * 12.5
            * pack.sql_lit("irb_scaling_factor"),
            # permission-routed runs record WHICH IRB variant priced the
            # row (airb = own LGD, firb = supervisory LGD) — the
            # model-permissions stage sets irb_subapproach
            "rw_source": S.when(
                S.col("irb_subapproach").isNotNull(),
                S.concat(S.lit("irb_vasicek_"), S.col("irb_subapproach")),
            ).otherwise("irb_vasicek"),
        }
    )
    # the rest of the decomposition block (ref :3026-3041): raw-vs-floor
    # parameter provenance, the LGD basis, and the kernel outputs K and
    # the pre-substitution Vasicek weight — every value the kernel already
    # computed, surfaced instead of dropped
    _sub = S.coalesce(S.col("irb_subapproach"), S.lit(""))
    # one batched step — every carrier copies a pre-existing column
    perf = perf.with_columns(
        {
            "irb_pd_original": S.col("pd"),
            "irb_pd_floor": S.col("_pd_floor_in"),
            "irb_pd_floored": S.col("pd_floored"),
            "irb_lgd_original": S.col("lgd"),
            "irb_lgd_floor": S.col("_lgd_floor_in"),
            "irb_lgd_floored": S.col("lgd_floored"),
            "irb_lgd_type": S.when(
                S.col("lgd").isNotNull() & (_sub != "firb"), "modelled"
            ).otherwise("supervisory"),
            "irb_maturity_m": S.col("m_eff"),
            "irb_capital_k": S.col("k"),
            "irb_risk_weight": S.col("risk_weight"),
        }
    )
    # IRB unfunded protection: substitution / parameter substitution /
    # double default on the covered leg, Art.193 benefit gate, EL blend.
    # The pre-blend Vasicek weight is stashed first — it is the CR7/CR7-A
    # "RWEA without substitution effects" hypothetical
    perf = perf.with_column("_rw_pre_subst", S.col("risk_weight"))
    perf, el_expr = _irb_guarantee_adjust(
        perf, pack, spark, frozenset(crm.exposures.columns)
    )
    perf = _el_columns(perf, el_expr, pool_b_extras=True)

    # defaulted bypasses Vasicek (CRR Art.153(1)(ii)/154(1)(i), CRE31.3):
    # A-IRB (own BEEL supplied): K = max(0, LGD − BEEL), no MA, no 1.06;
    # F-IRB: K = 0 — capital is held through provisions
    dflt = exp.where(S.col("pd_floored") >= 1.0)
    k_dflt = S.when(
        S.col("el_be").isNotNull(),
        S.greatest(S.col("lgd_floored") - S.col("el_be"), S.lit(0.0)),
    ).otherwise(S.lit(0.0))
    # decomposition carriers on the defaulted leg: PD is pinned at 1
    # (no floor consulted), the Vasicek quantities (R, b) never exist,
    # and K is the Art.153(1)(ii) max(0, LGD − E·L_BE) — sealed from
    # the same expression that priced the row. One batched projection:
    # irb_risk_weight reuses risk_weight's expression object (identical
    # arithmetic DAG, bit-equal to reading the chained column)
    _rw_dflt = k_dflt * 12.5
    dflt = dflt.with_columns(
        {
            "risk_weight": _rw_dflt,
            "rw_source": S.when(
                S.col("el_be").isNotNull(), "irb_defaulted_airb"
            ).otherwise("irb_defaulted_firb"),
            "irb_pd_original": S.col("pd"),
            "irb_pd_floored": S.col("pd_floored"),
            "irb_lgd_original": S.col("lgd"),
            "irb_lgd_floor": S.col("_lgd_floor_in"),
            "irb_lgd_floored": S.col("lgd_floored"),
            "irb_lgd_type": S.when(
                S.col("el_be").isNotNull(), "modelled"
            ).otherwise("supervisory"),
            "irb_maturity_m": S.col("m_eff"),
            "irb_capital_k": k_dflt,
            "irb_risk_weight": _rw_dflt,
        }
    )
    dflt = _el_columns(
        dflt,
        S.coalesce("el_be", S.col("lgd_floored")) * S.col("ead_after_crm"),
        pool_b_extras=True,
    )

    # defaulted rows never substitute — the hypothetical equals the actual
    dflt = dflt.with_column("_rw_pre_subst", S.col("risk_weight"))

    def _finish(df):
        # routing provenance: which IRB variant the permission stage
        # granted (airb/firb), else the bundle-level permission flag
        irb_reason = S.concat(
            S.lit("irb_permission_"),
            S.coalesce(S.col("irb_subapproach"), S.lit("granted")),
        )
        _sme_f, _infra_f, _sf = _supporting_factor_exprs(pack, threshold_scale)
        # one batched projection; supporting_factor_benefit inlines the
        # exact rwa_before_sf/rwa expressions (identical DAG, bit-equal)
        df = df.with_columns(
            {
                "approach": S.lit("IRB"),
                "approach_reason": irb_reason,
                "rwa_before_sf": S.col("ead_after_crm") * S.col("risk_weight"),
                "rwa": S.col("ead_after_crm") * S.col("risk_weight") * _sf,
                "rwa_pre_crm_substitution": S.col("ead_after_crm")
                * S.col("_rw_pre_subst")
                * _sf,
                # supporting-factor decomposition on the IRB branch (CRR
                # Art.501/501a apply per RWEA regardless of approach — ref
                # irb/calculator.py:168 SupportingFactorCalculator)
                "sme_supporting_factor": _sme_f,
                "infra_supporting_factor": _infra_f,
                "supporting_factor_benefit": (
                    S.col("ead_after_crm") * S.col("risk_weight")
                )
                - (S.col("ead_after_crm") * S.col("risk_weight") * _sf),
            }
        )
        df = _param_cols(
            df,
            pd_col=S.col("pd_floored"),
            lgd_col=S.col("lgd_floored"),
            m_col=S.col("m_eff"),
        )
        df = _apply_pma(df, pack, pma)
        return df.select(*_RESULT_COLS)

    return CalcOutput(results=_finish(perf).df.unionByName(_finish(dflt).df))


def run_secsa(crm: CRMOutput, pack: RulePack) -> CalcOutput:
    """SEC-SA branch for securitisation pool rows.

    Pool-grain rows (no tranche attributes) take the flat distillation
    RW = max(floor, 12.5·K_SA·p) (ref engine/aggregator/_securitisation.py
    declares the framework out of scope; the routing/floor shape is real).
    Tranche-grain rows (attachment/detachment present, emitted by
    run_securitisation when the bundle carries securitisation_tranches)
    take the FULL SSFA closed form (BCBS CRE41 / CRR Art.261-262,
    functions/secsa.py) — beyond the reference. Pure exp/arithmetic, so
    the branch stays inside whole-stage codegen."""
    from rwa_calculator_spark.functions.secsa import ssfa_rw_v

    exp = _calc_entry(crm, S.col("exposure_class") == "securitisation")

    def ssfa(attach, detach, w, k, p):
        return S.kernel(
            lambda *v: ssfa_rw_v(*v, pack.scalar("secsa_floor_rw")),
            attach,
            detach,
            w,
            k,
            p,
        )

    flat_rw = S.greatest(
        pack.sql_lit("secsa_floor_rw"),
        pack.sql_lit("secsa_ksa") * S.lit(12.5) * pack.sql_lit("secsa_p"),
    )
    carried = frozenset(crm.exposures.columns)
    rw, rw_src, approach_col = flat_rw, S.lit("sec_sa"), S.lit("SEC-SA")
    if "attachment" in carried:  # plan gate: pool grain renders no SSFA
        # STS pools take the halved supervisory p (CRR Art.262(1));
        # column-valued so STS and non-STS tranches share one plan
        p_sa = S.when(S.col("is_sts"), pack.sql_lit("secsa_p_sts")).otherwise(
            pack.sql_lit("secsa_p")
        )
        tranche = S.col("attachment").isNotNull()
        rw_sa = ssfa(
            S.col("attachment"),
            S.col("detachment"),
            S.coalesce("w_delinquent", S.lit(0.0)),
            pack.sql_lit("secsa_ksa"),
            p_sa,
        )
        rw = S.when(tranche, rw_sa).otherwise(flat_rw)
        rw_src = S.when(tranche, "sec_sa_ssfa").otherwise(rw_src)
    # Art.92(3) floor base: SEC-IRBA rows floor against their SEC-SA
    # equivalent, so the SA-side RW is kept regardless of routing
    sa_equiv_rw = rw
    if "attachment" in carried and "k_irb" in carried:  # plan gate, as above
        # SEC-IRBA (CRR Art.259): same SSFA closed form with the pool's own
        # K_IRB and the supervisory p-formula
        # p = max(floor, A + B/N + C·K_IRB + D·LGD + E·M_T); K_IRB already
        # reflects pool quality, so W does not re-adjust. It needs the
        # tranche grain: a pool row carrying K_IRB alone prices flat SEC-SA.
        irba = tranche & S.col("k_irb").isNotNull()
        p_irba = S.greatest(
            pack.sql_lit("secirba_p_floor"),
            pack.sql_lit("secirba_coef_a")
            + pack.sql_lit("secirba_coef_b") / S.col("pool_n")
            + pack.sql_lit("secirba_coef_c") * S.col("k_irb")
            + pack.sql_lit("secirba_coef_d") * S.col("pool_lgd")
            + pack.sql_lit("secirba_coef_e") * S.col("pool_maturity"),
        )
        rw_irba = ssfa(
            S.col("attachment"), S.col("detachment"), S.lit(0.0), S.col("k_irb"), p_irba
        )
        rw = S.when(irba, rw_irba).otherwise(rw)
        rw_src = S.when(irba, "sec_irba_ssfa").otherwise(rw_src)
        approach_col = S.when(irba, "SEC-IRBA").otherwise(approach_col)
    exp = exp.with_columns(
        {
            "approach": approach_col,
            "risk_weight": rw,
            "rw_source": rw_src,
            "rwa_before_sf": S.col("ead_after_crm") * rw,
            "rwa": S.col("ead_after_crm") * rw,
        }
    )
    exp = _el_columns(exp, S.lit(0.0))
    exp = _param_cols(exp)
    exp = exp.with_columns(
        {
            "rwa_sa_equivalent": S.col("ead_after_crm") * sa_equiv_rw,
            "rwa_pre_crm_substitution": S.col("rwa"),
        }
    )
    return CalcOutput(results=exp.select(*_RESULT_COLS).df)


def run_slotting(
    crm: CRMOutput, pack: RulePack, threshold_scale: float = 1.0
) -> CalcOutput:
    """Specialised-lending supervisory slotting: exposures of counterparties
    in the specialised_lending table take the slot-category RW from the
    rulepack, with the table's EL rate feeding expected loss
    (CRR Art.153(5)/158(6); ref engine/slotting/)."""
    spark = crm.exposures.sparkSession
    exp = _calc_entry(crm, S.col("is_specialised"))
    # Art.153(5) Table A keys on (category, maturity band, HVCRE): the
    # preferential short row applies below 2.5y remaining maturity;
    # unknown maturity conservatively takes the long row. Joining on the
    # full key matters — a category-only join against the 20-row table
    # fans every slotted exposure out 4×.
    exp = exp.with_column(
        "_sl_short",
        S.coalesce(S.col("effective_maturity") < S.lit(2.5), S.lit(False)),
    ).with_column("_sl_hvcre", S.coalesce("is_hvcre", S.lit(False)))
    slot_rw = pack.dim(
        spark,
        "slotting_rw",
        "slot_category AS _sl_cat_t, is_short AS _sl_short_t,"
        " is_hvcre AS _sl_hvcre_t, rw, el_rate",
    )
    exp = exp.join(
        slot_rw,
        (S.col("slot_category") == S.col("_sl_cat_t"))
        & (S.col("_sl_short") == S.col("_sl_short_t"))
        & (S.col("_sl_hvcre") == S.col("_sl_hvcre_t")),
        "left",
    ).drop("_sl_cat_t", "_sl_short_t", "_sl_hvcre_t").with_column(
        "risk_weight",
        S.when(S.col("is_defaulted"), S.lit(0.0)).otherwise(
            S.coalesce("rw", pack.sql_lit("unrated_corp_rw"))
        ),
    )
    # SL decomposition (ref :3042-3045): the category's assigned weight
    # under its own name (sl_type/sl_project_phase ride through as input
    # carriers where the bundle declares them). All read pre-chain columns
    # (risk_weight landed in the previous projection) — one batched call
    exp = exp.with_columns(
        {
            "exposure_class": S.lit("specialised"),
            "approach": S.lit("SLOTTING"),
            "approach_reason": S.lit("slotting_category_assigned"),
            "rw_source": S.when(
                S.col("is_defaulted"), "slotting_defaulted"
            ).otherwise("slotting"),
            "rwa_before_sf": S.col("ead_after_crm") * S.col("risk_weight"),
            "rwa": S.col("ead_after_crm") * S.col("risk_weight"),
            "sl_risk_weight": S.col("risk_weight"),
        }
    )
    # CRR Art.501/501a on the slotting branch (ref slotting/calculator.py
    # :146 _apply_supporting_factors — infrastructure project finance in
    # slotting qualifies for the 0.75 factor; B3.1 disables both)
    _sme_f, _infra_f, _sf = _supporting_factor_exprs(pack, threshold_scale)
    # one batched projection: supporting_factor_benefit inlines the exact
    # post-factor rwa expression (identical arithmetic DAG, bit-equal to
    # reading the chained column)
    _rwa_sf = S.col("rwa") * _sf
    exp = exp.with_columns(
        {
            "rwa": _rwa_sf,
            "sme_supporting_factor": _sme_f,
            "infra_supporting_factor": _infra_f,
            "supporting_factor_benefit": S.col("rwa_before_sf") - _rwa_sf,
        }
    )
    exp = _el_columns(
        exp, S.coalesce("el_rate", S.lit(0.0)) * S.col("ead_after_crm")
    )
    # carry the maturity the band keyed on (Pillar 3 CR10 splits every
    # category into <2.5y / ≥2.5y rows on exactly this input)
    exp = _param_cols(exp, m_col=S.col("effective_maturity").cast("double"))
    exp = exp.with_columns(
        {
            "rwa_sa_equivalent": S.col("rwa"),
            "rwa_pre_crm_substitution": S.col("rwa"),
        }
    )
    return CalcOutput(results=exp.select(*_RESULT_COLS).df)


def _equity_pd_lgd(equity: DataFrame, pack: RulePack) -> DataFrame:
    """CRR Art.155(3) PD/LGD equity approach (ref engine/equity/
    calculator.py _apply_equity_weights_pd_lgd): the corporate Vasicek K
    formula with the Art.165 supervisory parameters — PD floored at 0.40%
    for exchange-traded / 1.25% for all other equity, LGD 65% for
    sufficiently-diversified private equity else 90%, M fixed at 5 years
    — times the Art.153(1) scaling, with a ×1.5 risk-weight scaling where
    the firm lacks Art.178 default-definition data, and the Art.155(3)
    cap EL·12.5 + RWEA ≤ EAD·12.5 clamped at zero. The risk_weight
    column stays uncapped (the reference discloses it that way); only
    rwa is capped."""
    mv = S.coalesce("market_value", S.lit(0.0))
    listed = S.coalesce("is_exchange_traded", S.lit(False))
    pe_div = S.coalesce("is_diversified_pe", S.lit(False))
    has_dd = S.coalesce("has_default_definition_info", S.lit(False))
    eq = Projection(equity).with_column(
        "_pd_eq",
        S.when(listed, pack.sql_lit("equity_pdlgd_pd_floor_listed")).otherwise(
            pack.sql_lit("equity_pdlgd_pd_floor_other")
        ),
    ).with_column(
        "_lgd_eq",
        S.when(pe_div, pack.sql_lit("equity_pdlgd_lgd_diversified")).otherwise(
            pack.sql_lit("equity_pdlgd_lgd_other")
        ),
    )
    eq = with_normal_ppf(eq, "_pd_eq", "_g_eq")
    eq = eq.with_column("_r_eq", S.kernel(correlation_v, S.col("_pd_eq")))
    eq = with_irb_k_r(eq, "_pd_eq", "_lgd_eq", "_g_eq", "_r_eq", "_k_eq")
    rw = (
        (
            (
                S.col("_k_eq")
                * S.kernel(
                    maturity_adj_v, S.col("_pd_eq"), pack.sql_lit("equity_pdlgd_maturity")
                )
            )
            * S.lit(12.5)
        )
        * pack.sql_lit("irb_scaling_factor")
    ) * S.when(has_dd, S.lit(1.0)).otherwise(pack.sql_lit("equity_pdlgd_no_dd_scaling"))
    el = (S.col("_pd_eq") * S.col("_lgd_eq")) * mv
    eq = eq.with_column("_rw_eq", rw).with_column("_el_eq", el)
    rwa_cap = S.greatest((mv * S.lit(12.5)) - (S.col("_el_eq") * S.lit(12.5)), S.lit(0.0))
    rwa = S.least(S.col("_rw_eq") * mv, rwa_cap)
    ledger = {
        "exposure_class": S.lit("equity"),
        "approach": S.lit("EQUITY"),
        "drawn_amount": mv,
        "undrawn_amount": S.lit(0.0),
        "ead": mv,
        "ead_after_crm": mv,
        "provision_allocated": S.lit(0.0),
        "collateral_value": S.lit(0.0),
        "g_coverage": S.lit(0.0),
        "risk_weight": S.col("_rw_eq"),
        "rw_source": S.lit("equity_pd_lgd"),
        "rwa_before_sf": rwa,
        "rwa": rwa,
        "expected_loss": S.col("_el_eq"),
        "el_shortfall": S.col("_el_eq"),
        "el_excess": S.lit(0.0),
        "ccf": S.null("double"),
        "pd_used": S.col("_pd_eq"),
        "lgd_used": S.col("_lgd_eq"),
        "maturity_used": pack.sql_lit("equity_pdlgd_maturity"),
        "rwa_sa_equivalent": rwa,
        "rwa_pre_crm_substitution": rwa,
        "equity_type": S.lit("pd_lgd"),
        "equity_risk_weight": S.col("_rw_eq"),
        "equity_higher_risk": S.col("_rw_eq") >= S.lit(4.0),
    }
    return (
        eq.with_columns(ledger)
        .select("exposure_reference", "counterparty_reference", *ledger)
        .df
    )


def run_equity(
    equity: DataFrame, pack: RulePack, reporting_date: str | None = None
) -> CalcOutput:
    """Equity holdings, regime-aware.

    CRR: IRB simple risk-weight method (Art.155(2); ref
    engine/equity/calculator.py:760-762) — diversified PE 190%,
    exchange-traded 290%, other 370%, EL 0.8%/0.8%/2.4% (Art.158(7)) —
    with non-trading-book short positions netted against longs in the
    same stock first (Art.155(2); ref calculator.py:829
    _net_short_positions) — or, for rows electing it via `use_pd_lgd`,
    the Art.155(3) PD/LGD approach (_equity_pd_lgd), which bypasses both
    netting and the transitional floor (ref calculator.py:249-251).
    B3.1: IRB equity removed (PS1/26 Art.133) — SA 250% standard,
    400% speculative unlisted, no EL charge; the PD/LGD election is
    ignored (ref calculator.py: "the equity_pd_lgd flag is ignored
    under Basel 3.1"), and the PRA Rules 4.1-4.10 transitional RW floor
    phases the weights in from 2027 (ref calculator.py:1023
    _apply_transitional_floor + rulebook/packs/b31.py:740 schedules).
    """
    equity = (
        Projection(equity)
        .with_columns(calc_edge_defaults(equity.columns, _EQUITY_CARRIERS))
        .df
    )
    if pack.scalar("equity_irb_available") >= 1.0:
        elect = S.coalesce("use_pd_lgd", S.lit(False))
        simple_out = _equity_simple(equity.where((~elect).sql), pack, reporting_date)
        # the PD/LGD leg carries no netting/transitional columns (it
        # bypasses both) — the union fills them null
        out = simple_out.unionByName(
            _equity_pd_lgd(equity.where(elect.sql), pack), allowMissingColumns=True
        )
    else:
        out = _equity_simple(equity, pack, reporting_date)
    return CalcOutput(results=_provenance_cols(out, "EQUITY").select(*_RESULT_COLS).df)


# the equity-holdings carriers of CALC_EDGE (the holdings frame is no CRM
# edge: it conforms to these alone)
_EQUITY_CARRIERS = (
    "is_diversified_pe",
    "has_default_definition_info",
    "is_speculative",
    "is_explicitly_hedged",
    "business_age_years",
    "equity_subtype",
    "use_pd_lgd",
    "position_value",
    "issuer_reference",
)


def _net_short_ead(equity: DataFrame) -> Projection:
    """CRR Art.155(2) non-trading-book net-short netting (ref
    engine/equity/calculator.py:829-894 _net_short_positions): an
    explicitly-hedged (≥1y) short may offset longs in the SAME individual
    stock. Net long per issuer = max(0, Σ signed position_value) over the
    eligible rows, redistributed pro-rata to each row's gross long value;
    absorbed shorts (and longs in a net-short group) collapse to 0.
    Ineligible rows keep the absolute-value market_value chain. Adds
    `_eq_ead`."""
    mv = S.coalesce("market_value", S.lit(0.0))
    hedged = S.coalesce("is_explicitly_hedged", S.lit(False))
    eligible = (
        S.col("issuer_reference").isNotNull()
        & S.col("position_value").isNotNull()
        & hedged
    )
    signed = S.coalesce("position_value", S.lit(0.0))
    gross_long = S.when(eligible & (signed > 0), signed).otherwise(S.lit(0.0))
    net_long = S.greatest(
        S.over(S.call("sum", S.when(eligible, signed).otherwise(S.lit(0.0))), "issuer_reference"),
        S.lit(0.0),
    )
    gross_long_iss = S.over(S.call("sum", gross_long), "issuer_reference")
    share = S.when(gross_long_iss > 0, gross_long / gross_long_iss).otherwise(
        S.lit(0.0)
    )
    # the window step applies on its own: the ledger step reads _eq_ead
    return Projection(
        Projection(equity)
        .with_column("_eq_ead", S.when(eligible, net_long * share).otherwise(mv))
        .df
    )


def _equity_transitional_schedule(
    pack: RulePack, reporting_date: str | None
) -> tuple[float, float] | None:
    """Resolve the PRA Rules 4.2/4.3 transitional (std, higher-risk) RWs
    for the reporting date — driver-side O(1) over the pack Schedule rows
    (ref rulebook/packs/b31.py:740-761). None when the Feature is off,
    no date was supplied, or the date precedes the first step (the
    reference's explicit "no transition → skip" contract)."""
    if reporting_date is None:
        return None
    entry = pack.scalars.get("equity_transitional")
    if entry is None or float(entry.value) < 1.0:
        return None
    rows = sorted(pack.tables["equity_transitional_rw"][1])
    hit = [r for r in rows if str(r[0]) <= reporting_date]
    if not hit:
        return None
    _, std_rw, hr_rw = hit[-1]
    return float(std_rw), float(hr_rw)


def _equity_simple(
    equity: DataFrame, pack: RulePack, reporting_date: str | None
) -> DataFrame:
    # Art.155(2) net-short netting is IRB-Simple machinery: the PD/LGD
    # branch bypasses it (ref calculator.py:249-251) and the B3.1 SA
    # weights fn never calls it (ref calculator.py:775 — the call sits
    # inside _apply_equity_weights_irb_simple only)
    if pack.scalar("equity_irb_available") >= 1.0:
        equity = _net_short_ead(equity)
    else:
        equity = Projection(equity).with_column(
            "_eq_ead", S.coalesce("market_value", S.lit(0.0))
        )
    listed = S.coalesce("is_exchange_traded", S.lit(False))
    pe_div = S.coalesce("is_diversified_pe", S.lit(False))
    spec = S.coalesce("is_speculative", S.lit(False))
    if pack.scalar("equity_irb_available") >= 1.0:
        rw = (
            S.when(pe_div, pack.sql_lit("equity_pe_diversified_rw"))
            .when(listed, pack.sql_lit("equity_exchange_traded_rw"))
            .otherwise(pack.sql_lit("equity_other_rw"))
        )
        el_rate = S.when(pe_div | listed, pack.sql_lit("equity_el_standard")).otherwise(
            pack.sql_lit("equity_el_other")
        )
        src = S.lit("equity_irb_simple")
    else:
        rw = S.when(spec, pack.sql_lit("equity_speculative_rw")).otherwise(
            pack.sql_lit("equity_standard_rw")
        )
        el_rate = S.lit(0.0)
        src = S.lit("equity_sa")
    # PRA Rules 4.1-4.10 transitional floor (B3.1 pack Feature + date
    # schedule; ref calculator.py:1023-1127): final RW = max(assigned,
    # transitional), with the higher-risk leg for speculative or young
    # unlisted PE (Art.133(4); null business age is conservative) and the
    # Rule 4.2/4.3 carve-outs (central-bank holdings, subordinated debt)
    # floored at 0. Under CRR the Feature is off and this is a no-op.
    trans = _equity_transitional_schedule(pack, reporting_date)
    if trans is not None:
        std_rw, hr_rw = trans
        age_hr = S.col("business_age_years").isNull() | (
            S.col("business_age_years") < 5.0
        )
        is_hr = spec | (pe_div & ~listed & age_hr)
        sub = S.lower(S.coalesce("equity_subtype", S.lit("")))
        excluded = sub.isin("central_bank", "subordinated_debt")
        trans_rw = (
            S.when(excluded, S.lit(0.0))
            .when(is_hr, S.lit(hr_rw))
            .otherwise(S.lit(std_rw))
        )
        rw = S.greatest(rw, trans_rw)
        # B3.1 has no IRB equity approaches, so the COREP OF 07.00 label
        # is always the SA transitional leg (ref calculator.py:1111-1119)
        trans_approach = S.lit("sa_transitional")
        hr_flag = is_hr
    else:
        trans_rw = S.null("double")
        trans_approach = S.null("string")
        hr_flag = None
    mv = S.col("_eq_ead")
    ledger = {
        "exposure_class": S.lit("equity"),
        "approach": S.lit("EQUITY"),
        "drawn_amount": mv,
        "undrawn_amount": S.lit(0.0),
        "ead": mv,
        "ead_after_crm": mv,
        "provision_allocated": S.lit(0.0),
        "collateral_value": S.lit(0.0),
        "g_coverage": S.lit(0.0),
        "risk_weight": rw,
        "rw_source": src,
        "rwa_before_sf": mv * rw,
        "rwa": mv * rw,
        "expected_loss": mv * el_rate,
        "el_shortfall": mv * el_rate,
        "el_excess": S.lit(0.0),
        "ccf": S.null("double"),
        "pd_used": S.null("double"),
        "lgd_used": S.null("double"),
        "maturity_used": S.null("double"),
        "rwa_sa_equivalent": mv * rw,
        "rwa_pre_crm_substitution": mv * rw,
        # equity decomposition (ref :3042-3045): WHICH category priced the
        # holding, its weight under its own name, and the higher-risk flag
        # (≥400% — speculative/venture under either regime)
        "equity_type": (
            S.when(pe_div, "diversified_pe")
            .when(listed, "exchange_traded")
            .otherwise("other")
            if pack.scalar("equity_irb_available") >= 1.0
            else S.when(spec, "speculative").otherwise("standard")
        ),
        "equity_risk_weight": rw,
        # when the transitional machinery ran, the higher-risk flag is the
        # Art.133(4) determination it used (ref calculator.py:1125);
        # otherwise the ≥400% heuristic stands
        "equity_higher_risk": hr_flag if hr_flag is not None else rw >= S.lit(4.0),
        # COREP OF 07.00 rows 0371-0374 annotation + the resolved floor
        # value itself (ref calculator.py:1110-1126 equity_transitional_
        # approach carrier)
        "equity_transitional_approach": trans_approach,
        "equity_transitional_rw": trans_rw,
    }
    return (
        equity.with_columns(ledger)
        .select("exposure_reference", "counterparty_reference", *ledger)
        .df
    )
