"""CIU look-through and settlement-risk pipeline branches (ref
engine/sa/ lookthrough + engine/stages/settlement — both previously
standalone queries; the reference feeds them through scope + aggregation
into the unified results, which run_pipeline now mirrors).

CIU (CRR Art.132a look-through): each fund holding becomes a result row
risk-weighted by its OWN underlying class — sovereign/institution/
corporate via the sa_rw table at the holding's CQS (unrated fallback),
equity via the regime's equity weights. Mandate-based fallback for unknown
classes takes the conservative 1250%-capped other weight (distilled to
unrated 100% here — the shape, not the full Art.132(2) ladder).

Settlement (CRR Art.378): failed trades ≥5 business days late charge
capital by days-late band (8%/50%/75%/100% of price difference — amount
here), carried as RWEA ×12.5 so the portfolio summary stays additive.

Scale posture: both inputs are fact-sized; each branch is one broadcast
lookup join plus row expressions — no shuffle beyond the final summary
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import CalcOutput
from rwa_calculator_spark.engine.rulepack import RulePack
from rwa_calculator_spark.functions import sqltext as S
from rwa_calculator_spark.functions.sqltext import Projection

_ZERO_LEDGER = {
    "provision_allocated": 0.0,
    "collateral_value": 0.0,
    "g_coverage": 0.0,
    "expected_loss": 0.0,
    "el_shortfall": 0.0,
    "el_excess": 0.0,
    # haircut-decomposition carriers: 0.0 like every CRM-fed branch, so the
    # gross − quality − fx − mismatch ≡ collateral_value identity holds on
    # the WHOLE unified ledger, never a spurious null bucket
    "collateral_value_gross": 0.0,
    "haircut_quality": 0.0,
    "haircut_fx": 0.0,
    "haircut_maturity_mismatch": 0.0,
}


def _ledger(df: DataFrame, risk_type: str = "CREDIT") -> DataFrame:
    from rwa_calculator_spark.engine.stages.calculators import (
        _RESULT_COLS,
        _provenance_cols,
    )

    fills = {c: S.lit(v) for c, v in _ZERO_LEDGER.items()}
    # SA-family and substitution-free: both hypotheticals are the actual
    fills["rwa_sa_equivalent"] = fills["rwa_pre_crm_substitution"] = S.col("rwa")
    ledger = _provenance_cols(Projection(df).with_columns(fills).df, risk_type)
    # every ledger column still absent is a null double
    absent = {c: S.null("double") for c in _RESULT_COLS if c not in ledger.columns}
    return ledger.with_columns(absent).select(*_RESULT_COLS).df


def run_ciu(ciu_holdings: DataFrame, pack: RulePack) -> CalcOutput:
    """ciu_holdings: (fund_reference, holding_reference, underlying_class,
    value[, holding_cqs][, counterparty_reference])."""
    spark = ciu_holdings.sparkSession
    h = ciu_holdings
    if "counterparty_reference" not in h.columns:
        h = h.withColumn("counterparty_reference", F.lit(None).cast("string"))
    hcqs = (
        F.coalesce(F.col("holding_cqs").cast("int"), F.lit(0))
        if "holding_cqs" in h.columns
        else F.lit(0)
    )
    rw_table = pack.table_df(spark, "sa_rw").select(
        F.col("exposure_class").alias("_u_class"),
        F.col("cqs").alias("_u_cqs"),
        F.col("rw").alias("_u_rw"),
    )
    if pack.scalar("equity_irb_available") >= 1.0:
        eq_rw = pack.lit("equity_other_rw")
    else:
        eq_rw = pack.lit("equity_standard_rw")
    h = h.withColumn("_hcqs", hcqs).join(
        F.broadcast(rw_table),
        (F.col("underlying_class") == F.col("_u_class")) & (F.col("_hcqs") == F.col("_u_cqs")),
        "left",
    )
    # CRR Art.132(2): where neither look-through nor the mandate-based
    # approach is possible, the FALL-BACK is a 1250% risk weight. Carrier-
    # gated on is_mandate_known — a fund whose class is unknown AND whose
    # mandate cannot bound the risk takes 12.5, not the 100% mandate proxy
    unknown_class = (F.col("underlying_class") != "equity") & F.col(
        "_u_rw"
    ).isNull()
    if "is_mandate_known" in h.columns:
        fallback_1250 = unknown_class & ~F.coalesce(
            F.col("is_mandate_known"), F.lit(False)
        )
    else:
        fallback_1250 = F.lit(False)
    rw = (
        F.when(F.col("underlying_class") == "equity", eq_rw)
        .when(F.col("_u_rw").isNotNull(), F.col("_u_rw"))
        .when(fallback_1250, F.lit(12.5))
        .otherwise(pack.lit("unrated_corp_rw"))
    )
    val = F.coalesce("value", F.lit(0.0))
    out = h.select(
        F.concat(F.col("fund_reference"), F.lit("_CIU_"), F.col("holding_reference")).alias(
            "exposure_reference"
        ),
        "counterparty_reference",
        F.lit("ciu").alias("exposure_class"),
        F.lit("CIU-LTA").alias("approach"),
        val.alias("ead"),
        val.alias("ead_after_crm"),
        rw.alias("risk_weight"),
        F.when(F.col("underlying_class") == "equity", F.lit("ciu_equity"))
        .when(F.col("_u_rw").isNotNull(), F.lit("ciu_lookthrough"))
        .when(fallback_1250, F.lit("ciu_fallback_1250"))
        .otherwise(F.lit("ciu_mandate"))
        .alias("rw_source"),
        (val * rw).alias("rwa_before_sf"),
        (val * rw).alias("rwa"),
    )
    return CalcOutput(results=_ledger(out))


# CRR Art.378 Table 1: capital factor by business-days-after-due-date band.
_SETTLEMENT_BANDS = (
    (5, 15, 0.08, "d5_15"),
    (16, 30, 0.5, "d16_30"),
    (31, 45, 0.75, "d31_45"),
)


def run_settlement(failed_trades: DataFrame, pack: RulePack) -> CalcOutput:
    """failed_trades: (trade_reference, counterparty_reference, amount,
    days_late). Trades <5 days late carry no charge and emit no row."""
    t = failed_trades.where(F.col("days_late") >= 5)
    factor = F.lit(None).cast("double")
    band = F.lit(None).cast("string")
    for lo, hi, f_, name in _SETTLEMENT_BANDS:
        factor = F.when(F.col("days_late").between(lo, hi), F.lit(f_)).otherwise(factor)
        band = F.when(F.col("days_late").between(lo, hi), F.lit(name)).otherwise(band)
    factor = F.coalesce(factor, F.lit(1.0))
    band = F.coalesce(band, F.lit("d46_plus"))
    amt = F.coalesce("amount", F.lit(0.0))
    out = t.select(
        F.concat(F.col("trade_reference"), F.lit("_STL")).alias("exposure_reference"),
        "counterparty_reference",
        F.lit("settlement").alias("exposure_class"),
        F.lit("SETTLEMENT").alias("approach"),
        amt.alias("ead"),
        amt.alias("ead_after_crm"),
        (factor * 12.5).alias("risk_weight"),
        F.concat(F.lit("settlement_"), band).alias("rw_source"),
        (amt * factor * 12.5).alias("rwa_before_sf"),
        (amt * factor * 12.5).alias("rwa"),
    )
    return CalcOutput(results=_ledger(out, risk_type="SETTLEMENT"))
