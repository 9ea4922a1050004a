"""Input validation stage: a declarative DQ check registry evaluated in one
pass per input table, feeding the pipeline error channel (ref
data/schemas.py:2335 COLUMN_VALUE_CONSTRAINTS, contracts/validation.py:742,767
anti-join orphan detection, engine/pipeline.py:255-269 DQ011 non-finite
scrub, engine/orchestrator.py:174-191 halt="immediate"/"merged" semantics).

Every check is one `Check` row in `_CHECKS`: (table, code, severity, grain,
SQL expression, key SQL, message). A check whose columns are absent from a
supplied frame is skipped — the registry follows the tolerant-carrier
convention and never makes a column required. The grain says how offending
rows become error rows:

- ``row``: one error per offending input row, multiplicity kept;
- ``distinct``: one error per distinct offending value (the error channel
  stays dimension-sized however many rows offend);
- ``keyed``: one error per key whose summed expression exceeds 1 — a
  summand of 1 is the duplicate-key check (DQ004), the allocation share
  the over-allocation check (DQ007);
- ``fk``: one error per distinct key absent from a dimension (DQ002
  counterparties, DQ005 collateral items and exposures).

The evaluator renders every check of a table into ONE ``selectExpr`` — an
``inline`` over an array of ``CASE WHEN <expr> THEN named_struct(...)``
— so each table is scanned once and the SQL text is built once, not as
Column objects. All tables feed ONE shared ``groupBy``: counting restores
the row grain's multiplicity, grouping is the distinct grain, the sum is the
keyed grain. The fk rows then meet one existence (anti) join per referenced
dimension. The joins carry no broadcast hint: the planner broadcasts a
dimension as small as today's on its own statistics, and at 100 TB scale a
counterparty or exposure dimension is too large to ship to every executor,
so the choice is left to the planner.

Scrub rule: DQ011 tests the PRE-scrub values (a flag taken before the
scrub); every other check tests the scrubbed values, so a NaN pd raises
DQ011 and no DQ006, and a -inf drawn_amount DQ011 and no DQ012.

The org-edge dedup is checkpointed once with its edge count: DQ004 edge
warnings and the DQ013 depth-cap/cycle walk both read the checkpoint, and
the walk is returned so the hierarchy stage reuses it instead of building
a second one.
Errors merge onto AggregatedOutput.errors; halt="immediate" makes
run_pipeline raise PipelineHalt on the first error instead (the one
deliberate driver-side action in the pipeline, documented at the call
site).
"""

from __future__ import annotations

from dataclasses import fields, replace
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import RawBundle
from rwa_calculator_spark.operators.graph import org_walk

_NUMERIC_SCRUB_COLS = ("drawn_amount", "nominal_amount", "pd", "lgd", "effective_maturity", "el_be")


class PipelineHalt(RuntimeError):
    """Raised under halt='immediate' when validation/scope errors exist."""


class Check(NamedTuple):
    # a RawBundle field, or `org_walk`: the org hierarchy walk
    # (operators/graph.resolve_ultimate_parent_iterative) over the deduped
    # org edges
    table: str
    code: str
    severity: str
    grain: str  # row | distinct | keyed | fk
    # row/distinct: the offending-row predicate; keyed: the per-row summand;
    # fk: the dimension the key must exist in (see `_dimensions`)
    expr: str
    key: str
    message: str
    # columns the check reads ("!c": runs only when c is ABSENT)
    needs: tuple[str, ...] = ()


def _row(table, code, expr, key, message, needs, severity="warning") -> Check:
    return Check(table, code, severity, "row", expr, key, message, needs)


def _domain(table, column, values, message=None, code="DQ003", severity="warning") -> Check:
    allowed = ", ".join(f"'{v}'" for v in values)
    return Check(
        table, code, severity, "distinct",
        f"{column} IS NOT NULL AND {column} NOT IN ({allowed})", column,
        message or f"{table}.{column} outside the valid domain", (column,),
    )


def _exposure_checks(table: str, ref: str) -> list[Check]:
    """Checks shared by the two exposure tables (ref contracts/validation.py
    VALID_* probability/ratio domains, _validate_effective_maturity_range)."""
    m = "effective_maturity"
    return [
        # `_nonfinite` is the pre-scrub flag the evaluator adds
        _row(table, "DQ011", "_nonfinite", ref,
             f"non-finite value in {table} scrubbed to null", ("_nonfinite",)),
        Check(table, "DQ002", "warning", "fk", "counterparties", "counterparty_reference",
              f"{table} reference a counterparty absent from the registry"),
        # DQ006: PD and LGD in [0, 1], M positive — an out-of-range parameter
        # silently floors/caps downstream, so the DQ row is its only trace
        _row(table, "DQ006", "NOT (pd BETWEEN 0.0 AND 1.0)", ref,
             f"{table}: pd outside [0,1]", ("pd",)),
        _row(table, "DQ006", "NOT (lgd BETWEEN 0.0 AND 1.0)", ref,
             f"{table}: lgd outside [0,1]", ("lgd",)),
        _row(table, "DQ006", f"{m} <= 0.0", ref,
             f"{table}: non-positive effective_maturity", (m,)),
        # DQ014 Art.162(3): M is clipped to [1d, 5y] downstream
        _row(table, "DQ014", f"{m} > 5.0", ref,
             f"{table} effective_maturity above the Art.162(3) 5-year cap "
             "(clipped downstream)", (m,)),
    ]


_COVERAGE_OUT_OF_RANGE = "coverage_pct IS NOT NULL AND NOT (coverage_pct BETWEEN 0.0 AND 1.0)"


def _unit_interval_open_right(col: str) -> str:
    return f"{col} IS NOT NULL AND NOT ({col} >= 0.0 AND {col} < 1.0)"


#: The declarative categorical-domain registry (ref data/schemas.py:2335
#: COLUMN_VALUE_CONSTRAINTS, built from the VALID_* sets at :1868-2333).
#: The domains are the published value sets for the columns THIS engine
#: consumes; model_permissions.approach uses this engine's registry labels
#: (permissions.py), the rest are the reference's sets verbatim.
_VALUE_DOMAINS = (
    # counterparties (VALID_SCRA_GRADES; VALID_CCR_COUNTERPARTY_TYPES —
    # the Art.274(2) alpha carve-out discriminator)
    _domain("counterparties", "scra_grade", ("A", "A_ENHANCED", "B", "C")),
    _domain(
        "counterparties", "counterparty_type",
        ("financial", "non_financial", "pension_scheme", "pension_default_comp"),
    ),
    # exposure tables (VALID_SENIORITY)
    _domain("loans", "seniority", ("senior", "subordinated")),
    _domain("contingents", "seniority", ("senior", "subordinated")),
    _domain("facilities", "seniority", ("senior", "subordinated")),
    # PS1/26 Art.161(1)(e)/(f)/(g) purchased-receivables F-IRB LGD
    # sub-types (VALID_PURCHASED_RECEIVABLES_SUBTYPES, ref schemas.py)
    _domain(
        "loans", "purchased_receivables_subtype",
        ("senior", "subordinated", "dilution_risk"),
    ),
    # guarantees (VALID_PROTECTION_TYPES, VALID_BENEFICIARY_TYPES,
    # VALID_LOOK_THROUGH_ELECTIONS — PS1/26 Art.191A(2)(e)(i))
    _domain("guarantees", "protection_type", ("guarantee", "credit_derivative")),
    _domain(
        "guarantees", "beneficiary_type",
        ("counterparty", "loan", "facility", "contingent", "guarantee"),
    ),
    _domain("guarantees", "look_through_election", ("none", "funded_only", "both")),
    # provisions (VALID_PROVISION_TYPES)
    _domain("provisions", "provision_type", ("scra", "gcra")),
    _domain(
        "provisions", "beneficiary_type",
        ("counterparty", "loan", "facility", "contingent", "guarantee"),
    ),
    # ratings (VALID_RATING_TYPES, VALID_RATING_SCOPE_TYPES)
    _domain("ratings", "rating_type", ("internal", "external")),
    _domain("ratings", "scope_type", ("facility", "loan", "contingent")),
    # equity (VALID_EQUITY_TYPES)
    _domain(
        "equity_exposures", "equity_type",
        (
            "central_bank", "subordinated_debt", "listed", "exchange_traded",
            "government_supported", "unlisted", "speculative", "private_equity",
            "private_equity_diversified", "ciu", "other",
        ),
    ),
    # CIU (VALID_CIU_APPROACHES, Art.132)
    _domain("ciu_holdings", "ciu_approach", ("look_through", "mandate_based", "fallback")),
    # model permissions — THIS engine's registry labels
    # (engine/stages/permissions.py) + the Art.150/148 ppu_reason basis
    # (VALID_PPU_REASONS)
    _domain("model_permissions", "approach", ("AIRB", "FIRB", "SLOTTING", "SA")),
    _domain(
        "model_permissions", "ppu_reason",
        (
            "art_150_1_a", "art_150_1_b", "art_150_1_c", "art_150_1_d",
            "art_150_1_e", "art_150_1_f", "art_150_1_g", "art_150_1_h",
            "art_150_1_i", "art_150_1_j", "art_148_rollout",
        ),
    ),
    # securitisation allocations (VALID_SECURITISATION_EXPOSURE_TYPES,
    # VALID_TRANSFER_TYPES — Art.244/245)
    _domain("securitisation_allocations", "exposure_type", ("loan", "contingent", "facility")),
    _domain("securitisation_allocations", "transfer_type", ("traditional", "synthetic")),
    # collateral side columns (VALID_PROPERTY_TYPES, VALID_ISSUER_TYPES,
    # VALID_VALUATION_TYPES — collateral_type itself is DQ009 below)
    _domain("collateral", "property_type", ("residential", "commercial", "adc")),
    _domain("collateral", "issuer_type", ("sovereign", "pse", "corporate", "securitisation")),
    _domain("collateral", "valuation_type", ("market", "indexed", "independent")),
)

_CHECKS: tuple[Check, ...] = (
    *_exposure_checks("loans", "loan_reference"),
    *_exposure_checks("contingents", "contingent_reference"),
    # --- DQ003 value domains (ref contracts/validation.py VALID_* sets) ---
    # the full classifier ladder incl. the Art.115 RGLA values run_classify
    # supports (rgla_sovereign → CGCB ladder, rgla → institution treatment)
    _domain(
        "counterparties", "entity_type",
        ("corporate", "individual", "institution", "sovereign", "rgla", "rgla_sovereign"),
        "entity_type outside the valid domain",
    ),
    _row("counterparties", "DQ003", "cqs IS NOT NULL AND NOT (cqs BETWEEN 0 AND 6)",
         "counterparty_reference", "cqs outside 0-6", ("cqs",)),
    _domain(
        "contingents", "risk_bucket",
        ("full_risk", "medium_risk", "medium_low_risk", "low_risk"),
        "risk_bucket outside the CCF domain",
    ),
    # the guarantee key is exposure_reference on single-level books,
    # beneficiary_reference on multi-level (cascade) books
    _row("guarantees", "DQ003", _COVERAGE_OUT_OF_RANGE, "exposure_reference",
         "guarantee coverage_pct outside [0,1]", ("coverage_pct", "exposure_reference")),
    _row("guarantees", "DQ003", _COVERAGE_OUT_OF_RANGE, "beneficiary_reference",
         "guarantee coverage_pct outside [0,1]", ("coverage_pct", "!exposure_reference")),
    *_VALUE_DOMAINS,
    # --- DQ004 duplicate keys (ref engine/stages/hierarchy/graph.py:437-488
    # first-row-wins edge dedup with DQ004 warnings); the org edges read
    # the dedup's edge count `_n` -----------------------------------------
    Check("loans", "DQ004", "warning", "keyed", "1", "loan_reference",
          "duplicate loan_reference rows (amounts will double-count)", ("loan_reference",)),
    _row("org_mappings", "DQ004", "_n > 1", "child_reference",
         "duplicate org hierarchy edge; deterministic first edge kept", ()),
    # --- DQ013 hierarchy depth cap / cycle (ref graph.py:559-576 cycle
    # guard + truncated flag — the reference emits a DQ warning per
    # truncated walk; the iterative resolver's flag otherwise dies inside
    # run_hierarchy) -------------------------------------------------------
    _row("org_walk", "DQ013", "truncated", "node",
         "org hierarchy walk hit the depth cap or a cycle; "
         "ultimate parent truncated at the cap", ()),
    # --- DQ005 orphan CRM links: a link naming an unknown item or exposure
    # silently vanishes in CRM's inner joins ------------------------------
    Check("collateral_links", "DQ005", "warning", "fk", "collateral", "collateral_reference",
          "collateral link references an item absent from the collateral table"),
    Check("collateral_links", "DQ005", "warning", "fk", "exposures", "exposure_reference",
          "collateral link references an unknown exposure"),
    # --- DQ012 negative principal (warning; CRM clips downstream per the
    # Art.111 greatest(drawn,0) basis) -------------------------------------
    _row("loans", "DQ012", "drawn_amount < 0", "loan_reference",
         "negative drawn_amount", ("drawn_amount",)),
    _row("contingents", "DQ012", "nominal_amount < 0", "contingent_reference",
         "negative nominal_amount", ("nominal_amount",)),
    # --- DQ007 securitisation allocation domain: each slice in (0, 1] and
    # the per-exposure total ≤ 1 — an over-allocated exposure would leave
    # the retained share negative (ref engine/securitisation/allocator.py
    # retained = 1 − Σ allocation_pct) ------------------------------------
    _row("securitisation_allocations", "DQ007",
         "allocation_pct IS NOT NULL AND NOT (allocation_pct > 0.0 AND allocation_pct <= 1.0)",
         "exposure_reference", "allocation_pct outside (0,1]", ("allocation_pct",)),
    Check("securitisation_allocations", "DQ007", "error", "keyed", "allocation_pct",
          "exposure_reference", "allocations exceed 100% of the exposure", ("allocation_pct",)),
    # --- DQ008 CCR/SFT/settlement domains (ref contracts/validation.py trade
    # domains): SA-CCR asset classes must be supervisory-factor-mapped, SFT
    # legs 'lent'|'collateral' (an unknown leg drops out of the netting),
    # haircuts in [0, 1); negative CSA terms flip the Art.275(2) RC floor's
    # sign; negative settlement inputs silently band to no charge ---------
    _domain("trades", "asset_class", ("ir", "fx", "credit", "equity", "commodity"),
            "asset_class outside the SA-CCR supervisory-factor domain", "DQ008"),
    _row("sft_trades", "DQ008", "leg IS NOT NULL AND leg NOT IN ('lent', 'collateral')",
         "netting_set_reference", "sft leg outside {lent, collateral} — row will not net",
         ("leg",)),
    _row("sft_trades", "DQ008", _unit_interval_open_right("haircut"), "netting_set_reference",
         "sft haircut outside [0,1)", ("leg", "haircut")),
    _row("margin_agreements", "DQ008", "threshold < 0.0", "netting_set_reference",
         "margin agreement: negative threshold", ("threshold",)),
    _row("margin_agreements", "DQ008", "mta < 0.0", "netting_set_reference",
         "margin agreement: negative mta", ("mta",)),
    _row("margin_agreements", "DQ008", "remargin_days <= 0.0", "netting_set_reference",
         "margin agreement: non-positive remargin_days", ("remargin_days",)),
    _row("ccr_collateral", "DQ008", _unit_interval_open_right("haircut"),
         "netting_set_reference", "ccr collateral haircut outside [0,1)", ("haircut",)),
    _row("failed_trades", "DQ008", "amount < 0.0", "trade_reference",
         "failed trade: negative amount", ("amount",)),
    _row("failed_trades", "DQ008", "days_late < 0", "trade_reference",
         "failed trade: negative days_late", ("days_late",)),
    # --- DQ009 slotting / collateral categorical domains ------------------
    _row("specialised_lending", "DQ009",
         "slot_category IS NOT NULL AND slot_category NOT IN "
         "('strong', 'good', 'satisfactory', 'weak', 'default')",
         "counterparty_reference", "slot_category outside the Art.153(5) category set",
         ("slot_category",), severity="error"),
    _domain(
        "collateral", "collateral_type",
        (
            "cash", "gold", "govt_bond", "corp_bond", "securitisation",
            "equity_main", "equity_other", "real_estate", "life_insurance",
            "third_party_deposit",
        ),
        "collateral_type outside the eligible-collateral domain "
        "(unknown types take the conservative fallback haircut)",
        "DQ009",
    ),
    # --- DQ015 securitisation tranche structure: an inverted tranche makes
    # the SSFA thickness non-positive and the closed form divides by it
    # (functions/secsa.py) -------------------------------------------------
    _row("securitisation_tranches", "DQ015",
         "NOT (attachment BETWEEN 0.0 AND 1.0) OR NOT (detachment BETWEEN 0.0 AND 1.0) "
         "OR detachment <= attachment",
         "concat_ws('/', pool_reference, tranche_reference)",
         "tranche attachment/detachment outside [0,1] or D ≤ A",
         ("attachment", "detachment"), severity="error"),
)


def _sql_str(s: str | None) -> str:
    if s is None:
        return "CAST(NULL AS STRING)"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _applies(check: Check, columns: list[str]) -> bool:
    return all(
        (c[1:] not in columns) if c.startswith("!") else (c in columns)
        for c in check.needs
    )


def _struct_sql(check: Check) -> str:
    """One check as a CASE WHEN producing its pre-aggregation row."""
    fk = check.expr if check.grain == "fk" else None
    value = f"CAST({check.expr} AS DOUBLE)" if check.grain == "keyed" else "CAST(NULL AS DOUBLE)"
    cond = check.expr if check.grain in ("row", "distinct") else "TRUE"
    return (
        f"CASE WHEN {cond} THEN named_struct("
        f"'_grain', {_sql_str(check.grain)}, '_fk', {_sql_str(fk)}, "
        f"'code', {_sql_str(check.code)}, 'severity', {_sql_str(check.severity)}, "
        f"'key', CAST({check.key} AS STRING), 'message', {_sql_str(check.message)}, "
        f"'_v', {value}) END"
    )


def _scrub(df: DataFrame | None) -> tuple[DataFrame | None, DataFrame | None]:
    """(scrubbed frame, frame the checks read): non-finite numerics become
    null; the checked frame carries `_nonfinite`, taken before the scrub."""
    if df is None:
        return None, None
    present = [c for c in _NUMERIC_SCRUB_COLS if c in df.columns]
    if not present:
        return df, df
    zero, inf, null = F.lit(0.0), F.lit(float("inf")), F.lit(None).cast("double")
    scrub, any_bad = {}, None
    for c in present:
        col = F.col(c)
        v = F.coalesce(col, zero)
        bad = F.isnan(v) | (F.abs(v) == inf)
        scrub[c] = F.when(bad, null).otherwise(col)
        any_bad = bad if any_bad is None else (any_bad | bad)
    # withColumns evaluates every expression over its input frame, so
    # `_nonfinite` sees the pre-scrub values
    return df.withColumns(scrub), df.withColumns({**scrub, "_nonfinite": any_bad})


def _dimensions(raw: RawBundle) -> dict[str, list[tuple[DataFrame, str]]]:
    """Dimension name → (frame, key column) sources of its keys."""
    dims = {
        "counterparties": [(raw.counterparties, "counterparty_reference")],
        "collateral": [(raw.collateral, "collateral_reference")],
        "exposures": [
            (raw.loans, "loan_reference"),
            (raw.contingents, "contingent_reference"),
        ],
    }
    return {
        name: [(f, k) for f, k in sources if f is not None]
        for name, sources in dims.items()
        if any(f is not None for f, _ in sources)
    }


class Validated(NamedTuple):
    raw: RawBundle  # scrubbed bundle, org edges deduplicated
    errors: DataFrame  # in ERRORS_SCHEMA
    org_walk: DataFrame | None  # the org walk DQ013 read (None: no org edges)


def run_validation(raw: RawBundle) -> Validated:
    """Scrub non-finite numerics, dedup the org edges and evaluate the check
    registry."""
    # the frames the checks read: the bundle's own, except where validation
    # derives one (the pre-scrub flag, the org-edge dedup, the org walk)
    frames = {f.name: getattr(raw, f.name) for f in fields(raw)}
    loans, frames["loans"] = _scrub(raw.loans)
    contingents, frames["contingents"] = _scrub(raw.contingents)

    # --- org hierarchy edges: dedup to one parent per child so the closure
    # cannot row-explode (Spark has no input-order 'first' without an order
    # column — the deterministic winner is min(parent_reference); ref keeps
    # first by input order, SURVEY §7.2 hard-part 2). localCheckpoint: the
    # edge table is dimension-sized and the iterative hierarchy resolver
    # re-reads it ~10×/run — without truncation the dedup groupBy
    # re-executes every round (measured +0.3-0.5 s on the bench pipelines
    # at sf0.1). The edge count `_n` rides the checkpoint for DQ004.
    org_mappings = raw.org_mappings
    if org_mappings is not None:
        frames["org_mappings"] = (
            org_mappings.groupBy("child_reference")
            .agg(
                F.count("*").alias("_n"),
                F.min("parent_reference").alias("parent_reference"),
            )
            .localCheckpoint(eager=False)
        )
        org_mappings = frames["org_mappings"].select("child_reference", "parent_reference")
        frames["org_walk"] = org_walk(org_mappings)

    # --- every registry check: one inline per table, one shared groupBy --
    dims = _dimensions(raw)
    structs: dict[str, list[str]] = {}
    referenced = set()  # the dimensions an applied fk check reads
    for check in _CHECKS:
        frame = frames.get(check.table)
        if frame is None or not _applies(check, frame.columns):
            continue
        if check.grain == "fk":
            if check.expr not in dims:
                continue
            referenced.add(check.expr)
        structs.setdefault(check.table, []).append(_struct_sql(check))
    pending = None
    for table, sqls in structs.items():
        rows = frames[table].selectExpr(
            f"inline(filter(array({', '.join(sqls)}), x -> x IS NOT NULL))"
        )
        pending = rows if pending is None else pending.unionByName(rows)
    # (loans always carry the DQ002 check, so `pending` is never None)
    grouped = pending.groupBy("_grain", "_fk", "code", "severity", "key", "message").agg(
        F.expr("count(1) AS _n"), F.expr("sum(_v) AS _sum")
    )
    for name in sorted(referenced):
        keys = None
        for f, k in dims[name]:
            ks = f.selectExpr(f"CAST({k} AS STRING) AS _dk")
            keys = ks if keys is None else keys.unionByName(ks)
        grouped = grouped.join(keys, F.expr(f"_fk = '{name}' AND key = _dk"), "left_anti")
    errors = grouped.where("_grain <> 'keyed' OR _sum > 1").selectExpr(
        "inline(array_repeat(named_struct('code', code, 'severity', severity, "
        "'stage', 'validate', 'key', key, 'message', message), "
        "IF(_grain = 'row', CAST(_n AS INT), 1)))"
    )
    return Validated(
        replace(raw, loans=loans, contingents=contingents, org_mappings=org_mappings),
        errors,
        frames.get("org_walk"),
    )
