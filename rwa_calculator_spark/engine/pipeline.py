"""Pipeline orchestration (ref engine/pipeline.py + orchestrator.py:
fold a context through the fixed stage list, materialising each edge).

Spark differences, deliberately (SURVEY §4):
- no eager stage-edge collect — Spark has no plan-depth crash. The one
  reused edge, the post-CRM / RE-split exposures that feed every
  calculator branch, always goes through a width-aware localCheckpoint
  (``localcheckpoint_folded``). That reproduces the reference's
  re-computation-avoidance win (−31.5% runtime, docs/perf/baseline)
  without serialising anything to the driver, and is timed as its own
  ``barrier`` stage;
- the SA/IRB branch split is two filters over one checkpointed parent —
  the reference's collect_all([sa, irb, slotting]) becomes 'checkpoint the
  parent, let every branch read it'.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import AggregatedOutput, CRMOutput, RawBundle
from rwa_calculator_spark.engine.rulepack import CRR_PACK, RulePack
from rwa_calculator_spark.engine.stages.aggregate import run_aggregate
from rwa_calculator_spark.engine.stages.calculators import (
    run_equity,
    run_irb,
    run_sa,
    run_slotting,
)
from rwa_calculator_spark.engine.stages.classify import run_classify
from rwa_calculator_spark.engine.stages.crm import run_crm
from rwa_calculator_spark.engine.stages.hierarchy import convert_monetary, run_hierarchy
from rwa_calculator_spark.operators import checkpoint


@dataclass(frozen=True)
class PipelineConfig:
    pack: RulePack = CRR_PACK
    # Multi-entity scope (ref engine/stages/scope/resolver.py): when set and
    # the bundle carries reporting_entities + book_entity_mappings, the
    # pipeline filters every exposure frame to the entity's membership set
    # before hierarchy. basis: "consolidated" | "sub-consolidated" (same
    # population) | "individual" (entity alone, intragroup kept).
    reporting_entity: str | None = None
    reporting_basis: str = "consolidated"
    # Input validation (ref contracts/validation.py + orchestrator halt
    # semantics): "off" skips; "merged" (default) scrubs + collects error
    # rows onto AggregatedOutput.errors; "immediate" additionally raises
    # PipelineHalt when any error exists (one deliberate driver action).
    validation: str = "merged"
    # CRM method selection (CRR Art.191A; ref contracts/config.py
    # collateral method): "comprehensive" = FCCM EAD reduction (default);
    # "simple" = Art.222 FCSM risk-weight substitution, no EAD reduction.
    collateral_method: str = "comprehensive"
    # PS1/26 Art.153(5A)/154(4A)/158(6A) post-model adjustment ELECTIONS
    # (ref contracts/config.py PostModelAdjustmentsConfig): additive
    # fractions of post-mortgage-floor RWEA (general PMA, unrecognised
    # exposures) and of EL. Regulatory gate + the 10% mortgage RW floor
    # are PACK data; these three are firm choices, defaulting to zero.
    pma_rwa_scalar: float = 0.0
    pma_el_scalar: float = 0.0
    # Identification block (ref CALCULATION_OUTPUT_SCHEMA :2881-2882):
    # run id + timestamp sealed onto every ledger row. Caller-supplied —
    # api.py passes its run-registry id; null (never fabricated) when the
    # pipeline runs outside a registered run.
    run_id: str | None = None
    run_timestamp: str | None = None
    pma_unrecognised_scalar: float = 0.0
    # Reporting date ("YYYY-MM-DD") for date-scheduled pack rules — today
    # only the PRA Rules 4.2/4.3 equity transitional RW phase-in (ref
    # contracts/config.py reporting_date). None = schedules do not fire.
    reporting_date: str | None = None
    # CRR Art.162(1) second sentence / Art.143: the firm's election to use
    # the FIXED F-IRB supervisory maturity (2.5y) instead of the per-
    # exposure Art.162(2) derivation. CRR-only (pack feature); default off
    # = date-derived M unchanged (ref contracts/config.py
    # firb_fixed_maturity, engine/irb/transforms.py
    # _apply_firb_fixed_supervisory_maturity).
    firb_fixed_maturity: bool = False
    # PS1/26 Art.122(6)/(8): the firm's PRA permission to risk-weight
    # unrated corporates by investment-grade assessment (IG 65% / non-IG
    # 135%). Off = all unrated corporates take Art.122(2) 100% (ref
    # contracts/config.py use_investment_grade_assessment). B3.1-only
    # (the scalars are pack data); ignored under the CRR.
    use_investment_grade_assessment: bool = False
    # PS1/26 Art.123A(1)(b)(ii) / CRE20.66 retail granularity limb (0.2%
    # single-obligor share of the regulatory-retail portfolio). Default off
    # — the reference's own enforce_retail_granularity suppression under
    # CRE20.66's national discretion; flip on to route over-concentrated
    # obligors out of regulatory retail. Pack-gated (B3.1 only).
    enforce_retail_granularity: bool = False
    # Opt-in audit-cache sink (ref observability/audit_cache.py): a
    # cross-cutting diagnostics side-effect called with (name, frame) at
    # existing hook points. None (default) = no-op. The sink materialises
    # each intermediate (one Spark write job), so enabling it trades run
    # time for drilldown; the sink itself must swallow failures — a
    # diagnostics side-effect never perturbs a run.
    audit_sink: "Callable[[str, DataFrame], None] | None" = None
    # Incremental stage-edge progress hook (ref ui/app/progress.py +
    # engine/materialise.py EdgeEvents): called (stage_name, wall_ms) as
    # each stage's plan finishes building, WHILE the run is in flight —
    # the REST layer streams these to /jobs/{id}/events. Must never raise
    # (wrapped defensively at the call site); None = no-op.
    progress: "Callable[[str, float], None] | None" = None


def run_pipeline(raw: RawBundle, config: PipelineConfig | None = None) -> AggregatedOutput:
    config = config or PipelineConfig()

    # --- validation: non-finite scrub + orphan FKs (ref pipeline.py:255-269
    # DQ011, contracts/validation.py anti-join orphans) --------------------
    all_errors = None
    walk = None  # the org walk, built once: by validation, else by hierarchy
    if config.validation != "off":
        from rwa_calculator_spark.engine.stages.validate import (
            PipelineHalt,
            run_validation,
        )

        raw, all_errors, walk = run_validation(raw)
        if config.validation == "immediate":
            first = all_errors.limit(1).collect()
            if first:
                r = first[0]
                raise PipelineHalt(f"{r.code} [{r.stage}] {r.key}: {r.message}")

    # --- scope: filter to the reporting entity's membership set (first
    # stage, as in the reference registry.py:47) --------------------------
    scope_errors = None
    if (
        config.reporting_entity is not None
        and raw.reporting_entities is not None
        and raw.book_entity_mappings is not None
    ):
        from rwa_calculator_spark.engine.stages.scope import resolve_scope

        raw, scope_errors = resolve_scope(
            raw, config.reporting_entity, config.reporting_basis, pack=config.pack
        )

    # EUR/reporting rate sync for EUR-based CRR monetary thresholds (ref
    # engine/fx_rate_sync.py + thresholds.py "the FX seam": CRR thresholds
    # = EUR base × rate, B3.1 native — the rate is a market input read
    # from fx_rates, a bounded one-row driver lookup)
    threshold_scale = 1.0
    if (
        raw.fx_rates is not None
        and "thresholds_fx_derived" in config.pack.scalars
        and config.pack.scalar("thresholds_fx_derived") >= 1.0
    ):
        eur = (
            raw.fx_rates.where(F.col("currency") == "EUR")
            .select("rate_to_reporting")
            .limit(1)
            .collect()
        )
        if eur and eur[0][0] is not None:
            threshold_scale = float(eur[0][0])

    # FX-convert every monetary side frame before any stage consumes it
    # (ref engine/stages/fx/conversion.py five-frame conversion; loans /
    # contingents / facility limits convert inline in run_hierarchy)
    if raw.fx_rates is not None:
        raw = replace(
            raw,
            collateral=convert_monetary(raw.collateral, raw.fx_rates, ("market_value",)),
            provisions=convert_monetary(raw.provisions, raw.fx_rates, ("amount",)),
            guarantees=convert_monetary(
                raw.guarantees, raw.fx_rates, ("guarantee_amount", "amount")
            ),
            equity_exposures=convert_monetary(
                raw.equity_exposures, raw.fx_rates, ("market_value",)
            ),
        )

    # --- securitisation: retained shares stay, pools become synthetic
    # exposures (ref engine/stages/securitisation.py, registry position 2) -
    pools = None
    if raw.securitisation_allocations is not None:
        from rwa_calculator_spark.engine.stages.securitisation import run_securitisation

        raw, pools = run_securitisation(raw, config.pack)

    # --- CCR / SFT netting-set EADs as synthetic exposure rows ------------
    extra = [] if pools is None else [pools]
    wwr_errors = None
    if raw.trades is not None:
        from rwa_calculator_spark.engine.stages.ccr_sft import ccr_exposures, wwr_gate

        trades, wwr_errors = wwr_gate(raw.trades)
        extra.append(
            ccr_exposures(
                trades,
                config.pack,
                margin_agreements=raw.margin_agreements,
                ccr_collateral=raw.ccr_collateral,
            )
        )
    if raw.sft_trades is not None:
        from rwa_calculator_spark.engine.stages.ccr_sft import sft_exposures

        extra.append(sft_exposures(raw.sft_trades, config.pack))

    # per-stage plan-build wall-ms (the reference's per-edge EdgeEvent
    # wall-ms, engine/materialise.py:74-98; here the driver-side Catalyst
    # cost per stage — execution cost lands on the seal-edge manifest
    # events)
    import time as _time

    timings: dict[str, float] = {}

    def _mark(name: str, t0: float) -> None:
        timings[name] = round((_time.perf_counter() - t0) * 1e3, 1)
        if config.progress is not None:
            try:
                config.progress(name, timings[name])
            except Exception:  # noqa: BLE001 — progress is observability,
                pass  # never allowed to perturb a run

    _t = _time.perf_counter()
    h = run_hierarchy(raw, config.pack, extra_exposures=extra or None, org_walk=walk)
    _mark("hierarchy", _t)
    if config.audit_sink is not None:
        config.audit_sink("unified_exposures", h.exposures)
    _t = _time.perf_counter()
    classified = run_classify(
        h,
        config.pack,
        threshold_scale=threshold_scale,
        enforce_retail_granularity=config.enforce_retail_granularity,
    )
    _mark("classify", _t)

    # --- model-permission approach routing (ref classify/permissions.py +
    # approach.py: per-model AIRB/FIRB/slotting grants with SA-precedence
    # PPU carve-out, FIRB LGD clearing, B3.1 Art.147A restrictions) -------
    perm_errors = None
    if raw.model_permissions is not None:
        from rwa_calculator_spark.engine.bundles import ClassifiedOutput
        from rwa_calculator_spark.engine.stages.permissions import (
            apply_model_permissions,
        )

        routed, perm_errors = apply_model_permissions(
            classified.exposures, raw.model_permissions, config.pack
        )
        classified = ClassifiedOutput(exposures=routed)

    if config.audit_sink is not None:
        config.audit_sink("classified_exposures", classified.exposures)
    _t = _time.perf_counter()
    crm = run_crm(
        raw, classified, config.pack, collateral_method=config.collateral_method
    )
    _mark("crm", _t)
    if config.audit_sink is not None:
        config.audit_sink("post_crm_exposures", crm.exposures)

    # --- RE split: secured tranche vs unsecured remainder (ref
    # engine/stages/re_split/splitter.py:323, between CRM and calculators) -
    from rwa_calculator_spark.engine.stages.re_split import run_re_split

    _t = _time.perf_counter()
    crm = run_re_split(crm, raw, config.pack)
    _mark("re_split", _t)

    # width-aware barrier: constant contract carriers (lit-fills for absent
    # CRM frames) don't transit the checkpoint — they re-attach as literals
    # so Catalyst folds them into every calculator branch (a book with no
    # guarantees pays zero guarantee-pricing work). Looked up through the
    # module so a tracer that wraps the attribute sees the barrier.
    _t = _time.perf_counter()
    crm = CRMOutput(
        exposures=checkpoint.localcheckpoint_folded(crm.exposures, eager=False)
    )
    _mark("barrier", _t)

    _t = _time.perf_counter()
    branches = [
        run_sa(
            crm,
            config.pack,
            threshold_scale=threshold_scale,
            use_ig_assessment=config.use_investment_grade_assessment,
        ),
        run_irb(
            crm,
            config.pack,
            pma=(
                config.pma_rwa_scalar,
                config.pma_el_scalar,
                config.pma_unrecognised_scalar,
            ),
            firb_fixed_maturity=config.firb_fixed_maturity,
            reporting_date=config.reporting_date,
            threshold_scale=threshold_scale,
        ),
    ]
    if pools is not None:
        from rwa_calculator_spark.engine.stages.calculators import run_secsa

        branches.append(run_secsa(crm, config.pack))
    if raw.specialised_lending is not None:
        branches.append(
            run_slotting(crm, config.pack, threshold_scale=threshold_scale)
        )
    if raw.equity_exposures is not None:
        branches.append(
            run_equity(
                raw.equity_exposures,
                config.pack,
                reporting_date=config.reporting_date,
            )
        )
    if raw.ciu_holdings is not None:
        from rwa_calculator_spark.engine.stages.ciu_settlement import run_ciu

        branches.append(run_ciu(raw.ciu_holdings, config.pack))
    if raw.failed_trades is not None:
        from rwa_calculator_spark.engine.stages.ciu_settlement import run_settlement

        branches.append(run_settlement(raw.failed_trades, config.pack))

    _mark("calculators", _t)

    errors = None
    for frame in (all_errors, scope_errors, wwr_errors, perm_errors):
        if frame is None:
            continue
        errors = frame if errors is None else errors.unionByName(frame)
    _t = _time.perf_counter()
    out = run_aggregate(
        *branches,
        pack=config.pack,
        errors=errors,
        run_id=config.run_id,
        run_timestamp=config.run_timestamp,
    )
    _mark("aggregate", _t)
    return replace(out, stage_wall_ms=timings)
