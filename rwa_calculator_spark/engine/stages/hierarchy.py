"""Hierarchy stage: unify exposure sources (loans + contingents + synthetic
facility-undrawn rows), enrich with counterparty attributes, resolve the org
hierarchy, derive ratings, attach lending groups, convert FX
(ref engine/stages/hierarchy/*: unify.py diagonal_relaxed concat, enrich.py
left joins + lending groups, graph.py walks, ratings.py Art.138,
facility_undrawn.py; fx conversion per engine/pipeline.py:271-285).

Scale posture: the exposure union is columnar and shuffle-free; all
dimension work (counterparties, ratings, lending groups, fx, facilities)
happens on dimension-sized frames and pre-joins into ONE combined broadcast
dim, so the fact table pays a single broadcast hash probe; hierarchy
resolution is the iterative broadcast-join from operators/graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import HierarchyOutput, RawBundle
from rwa_calculator_spark.engine.rulepack import CRR_PACK, RulePack
from rwa_calculator_spark.engine.stages.facility import facility_undrawn_exposures
from rwa_calculator_spark.engine.stages.ratings import (
    resolve_external_cqs,
    resolve_internal_pd,
)
from rwa_calculator_spark.operators.graph import org_walk as build_org_walk


def _fx_factor(df: DataFrame, fx_rates: DataFrame | None):
    """Multiplicative conversion factor to reporting currency: joins the
    broadcast fx dim on the exposure's currency column when both exist,
    else 1.0. Unknown/missing currency converts at 1.0 (reporting ccy)."""
    if fx_rates is None or "currency" not in df.columns:
        return df.withColumn("_fx", F.lit(1.0))
    fx = fx_rates.select(
        F.col("currency").alias("_fx_ccy"), F.col("rate_to_reporting").alias("_fx_rate")
    )
    return df.join(
        F.broadcast(fx), df.currency == F.col("_fx_ccy"), "left"
    ).withColumn("_fx", F.coalesce("_fx_rate", F.lit(1.0))).drop("_fx_ccy", "_fx_rate")


def convert_monetary(df: DataFrame | None, fx_rates: DataFrame | None, cols: tuple[str, ...]) -> DataFrame | None:
    """Load-time FX conversion of the named monetary columns (ref
    engine/stages/fx/conversion.py — the reference converts ALL five
    monetary frames: loans/contingents/facilities are handled inline in
    run_hierarchy; collateral market values, provision amounts, guarantee
    amounts and equity market values convert through this helper before
    run_crm / run_equity consume them). Frames without a currency column
    are already in reporting currency and pass through untouched."""
    if df is None or fx_rates is None or "currency" not in df.columns:
        return df
    df = _fx_factor(df, fx_rates)
    present = [c for c in cols if c in df.columns]
    if present:
        df = df.withColumns({c: F.col(c) * F.col("_fx") for c in present})
    return df.drop("_fx")


def run_hierarchy(
    raw: RawBundle,
    pack: RulePack = CRR_PACK,
    extra_exposures: list[DataFrame] | None = None,
    org_walk: DataFrame | None = None,
) -> HierarchyOutput:
    """extra_exposures: already-shaped synthetic frames (CCR netting sets,
    SFT netting sets, securitisation pools) unioned into the ledger before
    enrichment — ref engine/stages/hierarchy/unify.py:107 diagonal concat
    of every exposure source. org_walk: the walk over raw.org_mappings
    (operators/graph.org_walk) when the caller already built one."""
    loans_src = _fx_factor(raw.loans, raw.fx_rates)
    loan_cols = [
        F.col("loan_reference").alias("exposure_reference"),
        F.lit("loan").alias("exposure_type"),
        "counterparty_reference",
        (F.coalesce("drawn_amount", F.lit(0.0)) * F.col("_fx")).alias("drawn_amount"),
        F.lit(0.0).alias("undrawn_amount"),
        F.lit(None).cast("string").alias("risk_bucket"),
        F.coalesce(F.col("is_defaulted"), F.lit(False)).alias("is_defaulted"),
        F.col("pd"),
        F.col("lgd"),
        F.col("effective_maturity"),
    ]
    # A-IRB best-estimate EL rides along when supplied (defaulted treatment,
    # ref engine/irb/adjustments.py apply_defaulted_treatment)
    if "el_be" in raw.loans.columns:
        loan_cols.append(F.col("el_be"))
    # Art.113(6) carrier set by resolve_scope rides into the unified ledger
    if "intragroup_zero_rw_eligible" in raw.loans.columns:
        loan_cols.append(F.col("intragroup_zero_rw_eligible"))
    # denomination currency rides along for the Art.114(4) EU domestic-
    # currency sovereign test (the AMOUNT converts to reporting ccy above;
    # the test is on the denomination, CRR Art.141)
    if "currency" in raw.loans.columns:
        loan_cols.append(F.col("currency"))
    # Art.129 covered-bond instrument flag + the BOND's own CQS (distinct
    # from the issuer's counterparty CQS; ref engine/sa/covered_bond.py)
    if "is_covered_bond" in raw.loans.columns:
        loan_cols.append(F.col("is_covered_bond"))
        loan_cols.append(
            (
                F.col("cb_cqs").cast("int")
                if "cb_cqs" in raw.loans.columns
                else F.lit(None).cast("int")
            ).alias("cb_cqs")
        )
    # B3.1 post-base SA adjustment carriers (PS1/26 Art.123B currency
    # mismatch + Art.110A due diligence; ref engine/sa/rw_adjustments.py)
    # ride along when supplied
    for opt in (
        "borrower_income_currency",
        "is_hedged",
        "hedge_coverage_ratio",
        "is_revolving",
        "facility_limit",
        "due_diligence_override_rw",
        # real-estate carriers: the loader-declared RE class route plus the
        # PS1/26 Art.124E-124I banded / loan-split treatment inputs (ref
        # engine/sa/b31_risk_weight_tables.py)
        "is_property_secured",
        "ltv",
        "is_income_producing",
        "is_commercial_re",
        "is_junior_lien",
        "is_adc",
        "is_presold",
        "is_other_re",
        "prior_charge_ltv",
        # identity / audit passthroughs (ref CALCULATION_OUTPUT_SCHEMA
        # book_code :2888, original_maturity_date :2943) and the CRR
        # Art.159(1)(c)/(d) Pool-B components entering EL shortfall (ref
        # data/schemas.py:405-413 — null, never 0, when unreported)
        "book_code",
        "original_maturity_date",
        "ava_amount",
        "other_own_funds_reductions",
        # CRR Art.195/219 on-balance-sheet netting: the agreement that
        # lets a negative-drawn (deposit) loan net its positive-drawn
        # siblings — consumed by run_crm's netting kernel
        "netting_agreement_reference",
        # Art.162 maturity-chain inputs (ref engine/irb/transforms.py
        # _build_maturity_exprs): the explicit one-day carve-out flag,
        # the trade-finance derivation inputs, and the B3.1 revolving
        # termination date
        "has_one_day_maturity_floor",
        "is_short_term_trade_lc",
        "residual_maturity_years",
        "facility_termination_date",
        # PS1/26 Art.120(2) Table 4 short-term window input (contingents
        # already carry it for the Annex I OC split)
        "original_maturity_years",
        # CRR Art.123 (CRR2 F68) / PS1/26 Art.123(4): payroll/pension-
        # secured retail loan product flag (35% RW branch)
        "is_payroll_loan",
        # Art.112 Table A2 rows 3-4 classification inputs: PS1/26 Art.128
        # particularly-high-risk items (VC/PE/speculative immovable) and
        # Art.133A subordinated debt
        "is_high_risk",
        "is_subordinated_debt",
        # F-IRB supervisory LGD routing inputs (ref engine/irb/transforms.py
        # apply_firb_lgd): instrument seniority and the Art.161(1)(e)/(f)/(g)
        # purchased-receivables sub-type (senior/subordinated/dilution_risk)
        "seniority",
        "purchased_receivables_subtype",
        # CRR Art.306(1)(c) client-cleared trade flag (ref ccr/ccp.py)
        "is_client_cleared",
        # Art.235(3) funding-currency limb (ref sa/rw_adjustments.py
        # funding_currency_expr — null-PERMISSIVE fallback to denomination)
        "funding_currency",
    ):
        if opt in raw.loans.columns:
            loan_cols.append(F.col(opt))
    loans = loans_src.select(*loan_cols)
    frames = [loans]
    if raw.contingents is not None:
        cont_src = _fx_factor(raw.contingents, raw.fx_rates)
        cont_cols = [
            F.col("contingent_reference").alias("exposure_reference"),
            F.lit("contingent").alias("exposure_type"),
            "counterparty_reference",
            F.lit(0.0).alias("drawn_amount"),
            (F.coalesce("nominal_amount", F.lit(0.0)) * F.col("_fx")).alias(
                "undrawn_amount"
            ),
            F.col("risk_bucket"),
            F.coalesce(F.col("is_defaulted"), F.lit(False)).alias("is_defaulted"),
            F.col("pd"),
            F.col("lgd"),
            F.col("effective_maturity"),
        ]
        # CCF refinement carriers (CRR Art.166(8) F-IRB split, Annex I
        # original-maturity OC split; ref engine/ccf.py) ride along
        for opt in (
            "is_obs_commitment",
            "is_short_term_trade_lc",
            "original_maturity_years",
            "book_code",
            "original_maturity_date",
            "has_one_day_maturity_floor",
            "residual_maturity_years",
            "facility_termination_date",
            # PS1/26 Table A1 Row 4(b) / Art.166E(5) CCF override inputs
            # (ref engine/ccf.py _apply_uk_residential_mortgage_ccf /
            # _apply_purchased_receivable_ccf)
            "is_uk_residential_mortgage_commitment",
            "is_purchased_receivable_commitment",
            "is_revolving",
        ):
            if opt in raw.contingents.columns:
                cont_cols.append(F.col(opt))
        frames.append(cont_src.select(*cont_cols))
    if raw.facilities is not None and raw.facility_mappings is not None:
        fac_src = _fx_factor(raw.facilities, raw.fx_rates).withColumn(
            "limit", F.col("limit") * F.col("_fx")
        )
        frames.append(
            facility_undrawn_exposures(
                fac_src,
                loans_src.withColumn(
                    "drawn_amount", F.coalesce("drawn_amount", F.lit(0.0)) * F.col("_fx")
                ),
                (
                    _fx_factor(raw.contingents, raw.fx_rates).withColumn(
                        "nominal_amount",
                        F.coalesce("nominal_amount", F.lit(0.0)) * F.col("_fx"),
                    )
                    if raw.contingents is not None
                    else None
                ),
                raw.facility_mappings,
                pack,
            )
        )
    frames.extend(extra_exposures or [])
    exposures = frames[0]
    for f in frames[1:]:
        exposures = exposures.unionByName(f, allowMissingColumns=True)

    # attach the direct parent facility so facility-level provisions can
    # cascade (ref engine/crm/provisions.py facility beneficiaries; ADVICE
    # r2: unified exposures never carried parent_facility_reference)
    if raw.facility_mappings is not None:
        fmap = (
            raw.facility_mappings.where(F.col("child_type") != "facility")
            .select(
                F.col("child_reference").alias("exposure_reference"),
                "parent_facility_reference",
            )
            .dropDuplicates(["exposure_reference"])
        )
        exposures = exposures.join(F.broadcast(fmap), "exposure_reference", "left")
        # facility-path provenance carriers (ref CALCULATION_OUTPUT_SCHEMA
        # data/schemas.py:2912-2918 + engine/stages/hierarchy/graph.py
        # :180-305): per parent facility, the ordered ancestor chain
        # (parent first → root last, incl. the parent itself), its root and
        # its depth below root. Computed once on the SMALL facility dim via
        # the iterative broadcast closure, then broadcast-joined back to
        # the exposure grain — the exposure fact never shuffles.
        from rwa_calculator_spark.operators.graph import ancestor_closure_iterative

        fac_edges = (
            raw.facility_mappings.where(F.col("child_type") == "facility")
            .select(
                F.col("child_reference").alias("child"),
                F.col("parent_facility_reference").alias("parent"),
            )
            .dropDuplicates(["child"])
        )
        per_fac = (
            ancestor_closure_iterative(fac_edges)
            .dropDuplicates(["descendant", "ancestor", "depth"])
            .groupBy("descendant")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("depth", "ancestor"))),
                    lambda s: s.ancestor,
                ).alias("_fac_chain"),
            )
            .select(
                F.col("descendant").alias("_pf_key"),
                F.col("_fac_chain"),
            )
            # materialise the tiny per-facility chain eagerly (facility-dim
            # sized): the closure's 10-round union-join plan would
            # otherwise ride inside EVERY downstream stage's Catalyst tree
            # (the reference's resolver is likewise eager, graph.py:287)
            .localCheckpoint()
        )
        exposures = exposures.join(
            F.broadcast(per_fac),
            exposures.parent_facility_reference == F.col("_pf_key"),
            "left",
        ).drop("_pf_key")
        _has_parent = F.col("parent_facility_reference").isNotNull()
        # fallback chain for a parent not in the facility-edge graph (flat
        # book, or mappings that only declare exposure→facility rows):
        # 1-element [parent], identical to the reference's legacy
        # single-level behaviour (ref graph.py:301 fallback note)
        chain = F.when(
            _has_parent,
            F.coalesce(F.col("_fac_chain"), F.array(F.col("parent_facility_reference"))),
        )
        # every entry reads the local `chain` expression, not the new
        # columns — one batched projection
        exposures = exposures.withColumns(
            {
                "exposure_has_parent": _has_parent,
                "ancestor_facilities": chain,
                "root_facility_reference": F.when(
                    _has_parent, F.element_at(chain, -1)
                ),
                # levels from root (0 = top): an exposure sitting directly
                # under the root facility is 1 below it
                "facility_hierarchy_depth": F.when(_has_parent, F.size(chain))
                .otherwise(F.lit(0))
                .cast("int"),
                # full path root → … → parent → exposure
                "facility_hierarchy_path": F.when(
                    _has_parent,
                    F.concat(
                        F.reverse(chain), F.array(F.col("exposure_reference"))
                    ),
                ).otherwise(F.array(F.col("exposure_reference"))),
            }
        ).drop("_fac_chain")

    # One combined counterparty dimension: every lookup (attributes,
    # slotting, resolved hierarchy, derived ratings, lending group) keys on
    # counterparty_reference, so they pre-join on the SMALL side and the
    # fact table pays ONE broadcast hash probe per row instead of five.
    dim_cols = [
        F.col("counterparty_reference"),
        F.col("entity_type"),
        (
            F.col("country")
            if "country" in raw.counterparties.columns
            else F.lit(None).cast("string")
        ).alias("country"),
        F.col("cqs").cast("int").alias("cqs"),
        # kept NULLABLE: Art.123A(1)(b)(iii) distinguishes an explicit
        # False (disqualifies a non-SME) from an absent attestation (KEEPS
        # qualification — ref attributes.py fill_null(True) at the limb);
        # every candidate/reason consumer treats null as falsy already
        F.col("is_managed_as_retail").cast("boolean").alias("is_managed_as_retail"),
        F.coalesce("annual_revenue", F.lit(0.0)).alias("annual_revenue"),
        F.coalesce("has_irb_permission", F.lit(False)).alias("has_irb_permission"),
        (
            F.coalesce("is_infrastructure", F.lit(False))
            if "is_infrastructure" in raw.counterparties.columns
            else F.lit(False)
        ).alias("is_infrastructure"),
    ]
    # Art.121 sovereign-derived (CRR) / SCRA grade (B3.1) carriers for the
    # unrated-institution RW path — column-gated so bundles without them
    # keep their exact plan shape
    if "sovereign_cqs" in raw.counterparties.columns:
        dim_cols.append(F.col("sovereign_cqs").cast("int").alias("sovereign_cqs"))
    # CRR Art.137 ECA/MEIP score for unrated sovereigns (Table 9) and the
    # Art.116(5) third-country-PSE Treasury-equivalence flag (null =
    # permissive — an unflagged jurisdiction prices normally)
    if "eca_meip_score" in raw.counterparties.columns:
        dim_cols.append(F.col("eca_meip_score").cast("int").alias("eca_meip_score"))
    if "pse_jurisdiction_equivalent" in raw.counterparties.columns:
        dim_cols.append(F.col("pse_jurisdiction_equivalent"))
    if "scra_grade" in raw.counterparties.columns:
        dim_cols.append(F.col("scra_grade"))
    # IRB correlation-routing carriers (CRR Art.153(2)/154): retail
    # sub-portfolio (mortgage / qrre / other) and the large-financial flag
    if "retail_subtype" in raw.counterparties.columns:
        dim_cols.append(F.col("retail_subtype"))
    # QRRE transactor/revolver split (BCBS CRE30.55 — transactors floor
    # PD at 0.05%, revolvers at 0.10%; absent carrier = revolver floor)
    if "is_qrre_transactor" in raw.counterparties.columns:
        dim_cols.append(F.col("is_qrre_transactor"))
    # PS1/26 Art.122(6)/(8) investment-grade assessment input for unrated
    # corporates (active only under the firm's PRA permission; ref
    # risk_weights.py cp_is_investment_grade)
    if "is_investment_grade" in raw.counterparties.columns:
        dim_cols.append(F.col("is_investment_grade"))
    # PS1/26 Art.120(2B)/122(3): the obligor carries a DEDICATED short-term
    # ECAI assessment (Tables 4A / 6A route; the producer flags only
    # obligors whose exposures satisfy the maturity rule — ref
    # HierarchyResolver._apply_short_term_rating_override)
    if "has_short_term_ecai" in raw.counterparties.columns:
        dim_cols.append(F.col("has_short_term_ecai"))
    if "is_large_financial" in raw.counterparties.columns:
        dim_cols.append(
            F.coalesce("is_large_financial", F.lit(False)).alias("is_large_financial")
        )
    # CRR Art.306(1) qualifying-CCP flag (ref ccr/ccp.py is_qccp) — drives
    # the 2%/4% trade-exposure override in run_sa; absent = non-qualifying
    if "is_qccp" in raw.counterparties.columns:
        dim_cols.append(F.coalesce("is_qccp", F.lit(False)).alias("is_qccp"))
    # B3.1 Art.161(1)(a)/(aa) FSE split input for the F-IRB supervisory
    # LGD (ref transforms.py apply_firb_lgd cp_is_financial_sector_entity)
    # — also consumed by the Art.147A A-IRB restriction in permissions
    if "is_financial_sector_entity" in raw.counterparties.columns:
        dim_cols.append(
            F.coalesce("is_financial_sector_entity", F.lit(False)).alias(
                "is_financial_sector_entity"
            )
        )
    # PS1/26 Art.139(2B) inferred-rating disapplication input for the SA
    # specialised-lending routing (ref risk_weights.py:973-991)
    if "external_rating_is_issue_specific" in raw.counterparties.columns:
        dim_cols.append(F.col("external_rating_is_issue_specific"))
    # Art.124L counterparty-type inputs (ref schemas.py:604/:616): the
    # balance-sheet total feeds the CRR Art.4(1)(128D) SME size test's
    # second limb (turnover is already in the dim), and the registered
    # social-housing flag drives the Art.124L(c) residual floor
    if "total_assets" in raw.counterparties.columns:
        dim_cols.append(F.coalesce("total_assets", F.lit(0.0)).alias("total_assets"))
    if "is_social_housing" in raw.counterparties.columns:
        dim_cols.append(
            F.coalesce("is_social_housing", F.lit(False)).alias("is_social_housing")
        )
    # PS1/26 Art.124E(1)(b) three-property re-route input (ref
    # schemas.py:615; consumed by the calculators RE block)
    if "qualifying_property_count" in raw.counterparties.columns:
        dim_cols.append(
            F.col("qualifying_property_count").cast("int").alias(
                "qualifying_property_count"
            )
        )
    dim = raw.counterparties.select(*dim_cols)

    if raw.specialised_lending is not None:
        sl_cols = ["counterparty_reference", "slot_category"]
        # HVCRE sub-class rides along for the Art.153(5) HVCRE slotting rows
        if "is_hvcre" in raw.specialised_lending.columns:
            sl_cols.append("is_hvcre")
        # SA specialised-lending carriers (PS1/26 Art.122A-122B type +
        # project phase; ref schemas.py:964/:2528) ride along when supplied
        for opt in ("sl_type", "sl_project_phase"):
            if opt in raw.specialised_lending.columns:
                sl_cols.append(opt)
        sl = raw.specialised_lending.select(*sl_cols)
        dim = dim.join(sl, "counterparty_reference", "left")
    else:
        dim = dim.withColumn("slot_category", F.lit(None).cast("string"))
    dim = dim.withColumn("is_specialised", F.col("slot_category").isNotNull())

    if raw.org_mappings is not None:
        # iterative resolution: every round re-joins the STATIC broadcast
        # edge table — cheaper than pointer jumping here, whose per-round
        # self-join re-broadcasts a growing unmaterialised plan (use
        # resolve_ultimate_parent_pointer_jumping only over materialised
        # maps with depth ≫ 10). Validation hands over the walk it built
        # for DQ013 over the same edges; without validation it is built here.
        if org_walk is None:
            org_walk = build_org_walk(raw.org_mappings)
        up = org_walk.select(
            F.col("node").alias("counterparty_reference"),
            F.col("ultimate_parent").alias("group_reference"),
            # ledger carrier (ref CALCULATION_OUTPUT_SCHEMA
            # counterparty_hierarchy_depth) — the resolver tracks it anyway;
            # null for self-rooted counterparties (no org edge)
            F.col("depth").alias("hierarchy_depth"),
        )
        # `up` ends at the resolver's checkpointed RDD, whose size statistics
        # are unknown (defaultSizeInBytes) — the planner therefore SMJ-
        # shuffles BOTH dim-sized lanes (2 Exchanges + 2 Sorts in every
        # engine query's prefix). It is org-graph-node grain, the same size
        # class as `direct` below: broadcast explicitly (guide §3.1 — hint
        # when the estimate is known-wrong).
        dim = dim.join(F.broadcast(up), "counterparty_reference", "left")
        # direct-parent carriers (ref CALCULATION_OUTPUT_SCHEMA
        # counterparty_has_parent / parent_counterparty_reference): the
        # obligor's IMMEDIATE org parent, distinct from the resolved apex
        # one row per child is the stage's input contract (validate's DQ004
        # dedup enforces it upstream, and the iterative resolver's hop join
        # already depends on it — duplicate edges would row-explode there
        # first), so no defensive dropDuplicates: it forced a SortAggregate
        # exchange on the dim lane that the contract makes redundant
        direct = raw.org_mappings.select(
            F.col("child_reference").alias("counterparty_reference"),
            F.col("parent_reference").alias("parent_counterparty_reference"),
        )
        # counterparty-dim-sized: broadcast explicitly (same intent as the
        # apex join) so the plan never SMJ-shuffles the dim lane at scale
        dim = dim.join(F.broadcast(direct), "counterparty_reference", "left").withColumn(
            "counterparty_has_parent",
            F.col("parent_counterparty_reference").isNotNull(),
        )
    else:
        dim = dim.withColumns(
            {
                "group_reference": F.lit(None).cast("string"),
                "hierarchy_depth": F.lit(None).cast("int"),
                "parent_counterparty_reference": F.lit(None).cast("string"),
                "counterparty_has_parent": F.lit(False),
            }
        )

    if raw.ratings is not None:
        # Art.138 second-best external CQS REPLACES the supplied cqs column
        # (external ratings never inherit); internal PD inherits from the
        # ultimate parent and backstops exposure-level PD downstream.
        ext = resolve_external_cqs(raw.ratings)
        dim = (
            dim.drop("cqs")
            .join(ext, "counterparty_reference", "left")
            # the resolved external CQS both REPLACES the supplied cqs and
            # stays under its own name as the ledger's external_cqs audit
            # carrier (ref schemas.py:2905 external_cqs)
            .withColumn("cqs", F.col("external_cqs"))
        )
        ups = dim.select(
            "counterparty_reference",
            F.coalesce("group_reference", "counterparty_reference").alias("group_reference"),
        )
        ipd = resolve_internal_pd(raw.ratings, ups)
        dim = dim.join(ipd, "counterparty_reference", "left")
    else:
        dim = dim.withColumns(
            {
                "internal_pd": F.lit(None).cast("double"),
                "model_id": F.lit(None).cast("string"),
            }
        )

    if raw.lending_mappings is not None:
        # membership = children + parents-as-members (CRR Art.4(1)(39));
        # unmapped counterparties stay null → classify falls back to the
        # obligor's own aggregate (group-of-one)
        lg = raw.lending_mappings.select(
            F.col("parent_counterparty_reference").alias("lending_group_reference"),
            F.col("child_counterparty_reference").alias("counterparty_reference"),
        ).unionByName(
            raw.lending_mappings.select(
                F.col("parent_counterparty_reference").alias("lending_group_reference"),
                F.col("parent_counterparty_reference").alias("counterparty_reference"),
            )
        ).dropDuplicates(["counterparty_reference"])
        dim = dim.join(lg, "counterparty_reference", "left")
    # no lending_mappings → the column is absent and classify aggregates
    # over the org group (round-1 behaviour, oracle-pinned)

    enriched = exposures.join(F.broadcast(dim), "counterparty_reference", "left")
    # exposures may reference counterparties absent from the dim (or with no
    # org edge): their group defaults to themselves, matching the reference
    enriched = enriched.withColumns(
        {
            "group_reference": F.coalesce(
                "group_reference", "counterparty_reference"
            ),
            "is_specialised": F.coalesce("is_specialised", F.lit(False)),
            # synthetic rows (pools) and unknown obligors default to SA
            "has_irb_permission": F.coalesce("has_irb_permission", F.lit(False)),
            "pd": F.coalesce("pd", "internal_pd"),
        }
    ).drop("internal_pd")

    return HierarchyOutput(exposures=enriched)
