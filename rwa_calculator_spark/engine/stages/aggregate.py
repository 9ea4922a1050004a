"""Aggregator stage: recombine approach branches, apply the output floor,
produce summaries (ref engine/aggregator/{aggregator,_floor,_summaries}.py).

The floor is the reference's exact shape: portfolio scalar agg → cross-join
(broadcast, 1 row) back onto every exposure → pro-rata uplift. Summaries are
plain grouped sums; conservation (each summary partitions the ledger total)
is pinned by tests.

Everything downstream of the ledger — the summaries (`summary_by`) and the
ledger-derived IRB007 warning (`ledger_warnings`) — is a function of a ledger
frame that `AggregatedOutput` applies on first access: to the in-flight
ledger for plan queries, to the sealed ledger's parquet re-scan in the
results cache (api.py). `run_aggregate` itself builds only the ledger, so
sealing builds and computes the calculator DAG once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import AggregatedOutput, CalcOutput
from rwa_calculator_spark.engine.rulepack import RulePack
from rwa_calculator_spark.functions.exact import scaled_sum


def run_aggregate(
    *branches: CalcOutput,
    pack: RulePack,
    errors=None,
    run_id: str | None = None,
    run_timestamp: str | None = None,
) -> AggregatedOutput:
    """Recombine any number of calculator branches (SA/IRB/slotting/equity —
    the reference's diagonal_relaxed concat of result frames,
    aggregator.py:134,150)."""
    results = branches[0].results
    for b in branches[1:]:
        results = results.unionByName(b.results, allowMissingColumns=True)

    alpha = pack.scalar("output_floor_alpha")
    # pre-floor RWA stays on the ledger (ref floor_impact frame,
    # aggregator/_floor.py) — the attribution waterfall and the transitional
    # floor schedule both read it back out
    results = results.withColumn("rwa_pre_floor", F.col("rwa"))
    if alpha <= 0.0:
        # floor provenance carriers exist on EVERY regime's ledger so
        # reporting queries (CMS2 col d, CR8 drivers) never column-gate
        results = results.withColumns(
            {"floor_uplift": F.lit(1.0), "floor_applied": F.lit(False)}
        )
    if alpha > 0.0:
        # Art.92(3) output floor: floor the modelled total at alpha × the
        # standardised-equivalent total. Every branch carries
        # rwa_sa_equivalent (IRB rows re-weighted through the REAL SA
        # ladder in run_irb — no flat proxy), so the floor base is the
        # genuine dual-framework number the reference computes with its
        # second pipeline run.
        tot = results.agg(
            scaled_sum(F.col("rwa"), 2).alias("modelled_total"),
            scaled_sum(
                F.coalesce("rwa_sa_equivalent", F.col("rwa")), 2
            ).alias("std_total"),
        )
        results = results.crossJoin(F.broadcast(tot)).withColumn(
            "floor_uplift",
            # degenerate zero-modelled book: a pro-rata uplift has no base
            # to scale (0 × anything = 0), so the ratio coalesces to 1.0
            # instead of NULL-poisoning every rwa on the ledger; the
            # reference's pro-rata allocation shares the same singularity
            F.coalesce(
                F.greatest(
                    F.col("modelled_total"), F.lit(alpha) * F.col("std_total")
                )
                / F.nullif(F.col("modelled_total"), F.lit(0.0)),
                F.lit(1.0),
            ),
        )
        # both expressions read floor_uplift from the INPUT frame — merging
        # them into one projection is semantics-preserving
        results = results.withColumns(
            {
                "rwa": F.col("rwa") * F.col("floor_uplift"),
                "floor_applied": F.col("floor_uplift") > 1.0,
            }
        ).drop("modelled_total", "std_total")

    # output-floor decomposition under the reference's own column names
    # (ref CALCULATION_OUTPUT_SCHEMA :3055-3063): the pre-floor RWA, the
    # floor percentage and per-row floored base, whether the floor bound,
    # the uplift it added, the final figure and the implied effective
    # weight — pure aliases/arithmetic over carriers this stage already
    # computes, so reference-trained readers find the exact names
    # every expression below reads only columns that exist BEFORE this block
    # (rwa, rwa_pre_floor, rwa_sa_equivalent, floor_applied, ead_after_crm) —
    # one withColumns projection instead of an 11-deep withColumn chain
    # (each link re-analysed the full ~160-column plan)
    results = results.withColumns(
        {
            "rwa_before_floor": F.col("rwa_pre_floor"),
            "sa_equivalent_rwa": F.col("rwa_sa_equivalent"),
            "output_floor_pct": F.lit(alpha),
            "output_floor_rwa": F.lit(alpha)
            * F.coalesce("rwa_sa_equivalent", F.col("rwa_pre_floor")),
            "floor_binding": F.col("floor_applied"),
            "floor_impact": F.col("rwa") - F.col("rwa_pre_floor"),
            "final_rwa": F.col("rwa"),
            "risk_weight_effective": F.col("rwa")
            / F.nullif(F.col("ead_after_crm"), F.lit(0.0)),
            # run-level regime stamp (ref CALCULATION_OUTPUT_SCHEMA
            # basel_version): which rule set priced this ledger
            "basel_version": F.lit(pack.regime),
            # identification block (ref :2881-2882): the caller-supplied run
            # id and timestamp — null, never fabricated, when the caller
            # runs the pipeline outside a registered run (api.py supplies
            # both)
            "calculation_run_id": F.lit(run_id).cast("string"),
            "calculation_timestamp": F.lit(run_timestamp).cast("timestamp"),
        }
    )
    return AggregatedOutput(results=results, pack=pack, upstream_errors=errors)


def ledger_warnings(results: DataFrame, pack: RulePack) -> DataFrame | None:
    """The ledger-derived warnings (IRB007) over a ledger frame, in
    ERRORS_SCHEMA; None when the pack or the ledger's columns rule the
    check out."""
    # CRR Art.164(4) retail-RE PORTFOLIO LGD floor check (ref
    # engine/aggregator/_lgd_floor_check.py check_retail_re_portfolio_lgd_
    # floors): the A-IRB retail-mortgage book, minus central-government-
    # guaranteed legs, split residential/commercial; each sub-portfolio's
    # EAD-weighted-average own-estimate LGD below its floor (10% / 15%)
    # raises ONE IRB007 warning onto the error channel. CRR-only (B3.1's
    # per-exposure airb_lgd_floor already floors each row); warning-only —
    # the reference never reprices here. Fully distributed: one groupBy
    # over <=2 bucket keys, the warning rows built AS a frame (no collect).
    if (
        pack.scalar("crr_retail_re_portfolio_lgd_floor") >= 1.0
        and {"exposure_class", "irb_lgd_original", "ead_after_crm"}
        <= set(results.columns)
    ):
        cols = set(results.columns)
        _sub = (
            F.col("retail_subtype")
            if "retail_subtype" in cols
            else F.lit(None).cast("string")
        )
        # own-estimate LGD = the supplied figure the IRB branch priced
        # (ledger irb_lgd_original; irb_lgd_type 'modelled' excludes the
        # F-IRB supervisory fallback)
        _own_lgd = F.col("irb_lgd_original").isNotNull()
        if "irb_lgd_type" in cols:
            _own_lgd = _own_lgd & (
                F.coalesce(F.col("irb_lgd_type"), F.lit("")) == "modelled"
            )
        _cgov_g = F.lit(False)
        if {"is_guaranteed", "post_crm_exposure_class_guaranteed"} <= cols:
            _cgov_g = F.coalesce(F.col("is_guaranteed"), F.lit(False)) & (
                F.col("post_crm_exposure_class_guaranteed") == "sovereign"
            )
        _pop = (
            (F.col("exposure_class") == "retail")
            & (_sub == "mortgage")
            & (F.coalesce(F.col("approach"), F.lit("")) == "IRB")
            & _own_lgd
            & ~_cgov_g
        )
        _bucket = (
            F.when(
                F.coalesce(
                    F.col("is_commercial_re")
                    if "is_commercial_re" in cols
                    else F.lit(False),
                    F.lit(False),
                ),
                "commercial",
            ).otherwise("residential")
        )
        _per = (
            results.where(_pop)
            .groupBy(_bucket.alias("_b"))
            .agg(
                scaled_sum(
                    F.col("irb_lgd_original") * F.col("ead_after_crm"), 2
                ).alias(
                    "_lgd_ead"
                ),
                scaled_sum(F.col("ead_after_crm"), 2).alias("_ead"),
                F.count("*").alias("_n"),
            )
            .where(F.col("_ead") > 0.0)
            .withColumns(
                {
                    "_avg": F.col("_lgd_ead") / F.col("_ead"),
                    "_floor": F.when(
                        F.col("_b") == "commercial",
                        pack.lit("retail_commercial_re_portfolio_lgd_floor"),
                    ).otherwise(
                        pack.lit("retail_residential_re_portfolio_lgd_floor")
                    ),
                }
            )
        )
        _warn = _per.where(F.col("_avg") < F.col("_floor")).select(
            F.lit("IRB007").alias("code"),
            F.lit("warning").alias("severity"),
            F.lit("aggregate").alias("stage"),
            F.col("_b").alias("key"),
            F.concat(
                F.lit(
                    "CRR Art.164(4) retail-RE portfolio EW-avg LGD below"
                    " floor: "
                ),
                F.round(F.col("_avg"), 6).cast("string"),
                F.lit(" < "),
                F.col("_floor").cast("string"),
                F.lit(" over "),
                F.col("_n").cast("string"),
                F.lit(" exposures (EAD "),
                F.col("_ead").cast("string"),
                F.lit(")"),
            ).alias("message"),
        )
        return _warn
    return None


def summary_by(results: DataFrame, key: str | None = None) -> DataFrame:
    """Exposure count, EAD and RWA totals of a ledger frame per `key`, or
    over the whole ledger (the portfolio total) when `key` is None."""
    figures = (
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("total_ead"),
        scaled_sum(F.col("rwa"), 2).alias("total_rwa"),
    )
    return results.agg(*figures) if key is None else results.groupBy(key).agg(*figures)
