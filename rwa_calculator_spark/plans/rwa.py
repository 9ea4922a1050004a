"""End-to-end RWA pipeline as driver-checked queries.

The star schema is mapped deterministically onto the engine's input bundle
(customers→counterparties, orders→loans, lineitem→contingents, a derived
org hierarchy), then the REAL engine stages run — hierarchy → classify →
CRM(CCF) → SA/IRB → aggregate — and the oracle SQL re-derives the whole
computation independently in DuckDB. This is the reference's acceptance-test
shape (SURVEY §5.3: an independent engine computes the same numbers),
applied to the entire pipeline rather than single operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.bundles import RawBundle
from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
from rwa_calculator_spark.engine.rulepack import CRR_PACK
from rwa_calculator_spark.functions.exact import scaled_sum, sql_scaled_sum
from rwa_calculator_spark.functions.irb import (
    sql_capital_k_r,
    sql_correlation,
    sql_correlation_other_retail,
    sql_maturity_adj,
    sql_sme_size_adjustment,
)
from rwa_calculator_spark.functions.stats import sql_acklam_raw, sql_halley_step
from rwa_calculator_spark.plans.registry import query
from rwa_calculator_spark.sources.star import load_table
from rwa_calculator_spark.utils import release_cached_blocks


def _star_bundle(spark: SparkSession, sf_dir: str, irb: bool) -> RawBundle:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")

    entity = (
        F.when(F.col("c_mktsegment") == "FURNITURE", "individual")
        .when(F.col("c_mktsegment") == "BUILDING", "institution")
        .when(F.col("c_mktsegment") == "HOUSEHOLD", "sovereign")
        .otherwise("corporate")
    )
    # nation is dimension-sized: the country carrier (COREP C09 geography
    # axis) joins broadcast on the counterparty dim, never the fact table
    cps = c.join(
        F.broadcast(n.select("n_nationkey", "n_name")),
        c.c_nationkey == F.col("n_nationkey"),
        "left",
    ).select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        entity.alias("entity_type"),
        F.col("n_name").alias("country"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        (F.col("c_mktsegment") == "FURNITURE").alias("is_managed_as_retail"),
        (F.col("c_acctbal") * 10000.0).alias("annual_revenue"),
        (F.lit(irb) & (F.col("c_custkey") % 3 == 0)).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        ((F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 13 == 0)).alias("is_defaulted"),
        ((1 + F.col("o_orderkey") % 200).cast("double") / F.lit(1000.0)).alias("pd"),
        (F.lit(0.25) + (F.col("o_orderkey") % 3).cast("double") * 0.15).alias("lgd"),
        (F.lit(1.0) + (F.col("o_orderkey") % 9).cast("double") / 2.0).alias("effective_maturity"),
    )
    cont = (
        li.where(F.col("l_linenumber") == 1)
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("K"), F.col("l_orderkey")).alias("contingent_reference"),
            F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
            F.col("l_extendedprice").alias("nominal_amount"),
            F.when(F.col("l_returnflag") == "A", "full_risk")
            .when(F.col("l_returnflag") == "N", "medium_risk")
            .otherwise("medium_low_risk")
            .alias("risk_bucket"),
            F.lit(False).alias("is_defaulted"),
            F.lit(None).cast("double").alias("pd"),
            F.lit(None).cast("double").alias("lgd"),
            F.lit(None).cast("double").alias("effective_maturity"),
        )
    )
    org = c.where(F.col("c_custkey") >= 7).select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("child_reference"),
        F.concat(F.lit("CP"), F.floor(F.col("c_custkey") / 7).cast("long")).alias(
            "parent_reference"
        ),
    )
    return RawBundle(counterparties=cps, loans=loans, contingents=cont, org_mappings=org)


# Shared oracle CTEs: the star→bundle mapping + hierarchy + classify + EAD.
_SQL_BASE = """
    WITH RECURSIVE cps AS (
        SELECT c_custkey AS cp_key,
               CASE WHEN c_mktsegment = 'FURNITURE' THEN 'individual'
                    WHEN c_mktsegment = 'BUILDING' THEN 'institution'
                    WHEN c_mktsegment = 'HOUSEHOLD' THEN 'sovereign'
                    ELSE 'corporate' END AS entity_type,
               n.n_name AS country,
               CAST(c_custkey % 7 AS INTEGER) AS cqs,
               (c_mktsegment = 'FURNITURE') AS is_managed_as_retail,
               c_acctbal * 10000.0 AS annual_revenue,
               ({irb_flag}) AS has_irb_permission
        FROM customer LEFT JOIN nation n ON c_nationkey = n.n_nationkey
    ), edges AS (
        SELECT c_custkey AS child, c_custkey // 7 AS parent FROM customer WHERE c_custkey >= 7
    ), walk AS (
        SELECT child AS node, parent AS anc, 1 AS depth FROM edges
        UNION ALL
        SELECT w.node, e.parent, w.depth + 1 FROM walk w JOIN edges e ON w.anc = e.child
    ), up AS (
        SELECT node, anc AS group_key FROM walk
        QUALIFY row_number() OVER (PARTITION BY node ORDER BY depth DESC) = 1
    ), loans AS (
        SELECT 'L' || o_orderkey AS exposure_reference, o_custkey AS cp_key,
               o_totalprice AS drawn_amount, CAST(0.0 AS DOUBLE) AS undrawn_amount,
               CAST(NULL AS VARCHAR) AS risk_bucket,
               (o_orderstatus = 'F' AND o_orderkey % 13 = 0) AS is_defaulted,
               CAST(1 + o_orderkey % 200 AS DOUBLE) / 1000.0 AS pd,
               0.25 + CAST(o_orderkey % 3 AS DOUBLE) * 0.15 AS lgd,
               1.0 + CAST(o_orderkey % 9 AS DOUBLE) / 2.0 AS m
        FROM orders
    ), conts AS (
        SELECT 'K' || l.l_orderkey AS exposure_reference, o.o_custkey AS cp_key,
               CAST(0.0 AS DOUBLE) AS drawn_amount, l.l_extendedprice AS undrawn_amount,
               CASE WHEN l.l_returnflag = 'A' THEN 'full_risk'
                    WHEN l.l_returnflag = 'N' THEN 'medium_risk'
                    ELSE 'medium_low_risk' END AS risk_bucket,
               FALSE AS is_defaulted,
               CAST(NULL AS DOUBLE) AS pd, CAST(NULL AS DOUBLE) AS lgd,
               CAST(NULL AS DOUBLE) AS m
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_linenumber = 1
    ), exposures AS (
        SELECT * FROM loans UNION ALL SELECT * FROM conts
    ), enriched AS (
        SELECT e.*, c.entity_type, c.country, c.cqs, c.is_managed_as_retail,
               c.annual_revenue, c.has_irb_permission,
               coalesce(u.group_key, e.cp_key) AS group_key
        FROM exposures e
        JOIN cps c ON e.cp_key = c.cp_key
        LEFT JOIN up u ON e.cp_key = u.node
    ), grouped AS (
        SELECT *,
               sum(CAST(round((drawn_amount + undrawn_amount) * 100.0, 0) AS BIGINT))
                   OVER (PARTITION BY group_key) / CAST(100 AS DOUBLE) AS group_exposure,
               sum(CAST(round(drawn_amount * 100.0, 0) AS BIGINT))
                   OVER (PARTITION BY group_key) / CAST(100 AS DOUBLE) AS group_drawn
        FROM enriched
    ), classified AS (
        SELECT *,
               CASE WHEN entity_type = 'sovereign' THEN 'sovereign'
                    WHEN entity_type = 'institution' THEN 'institution'
                    WHEN (entity_type = 'individual' OR is_managed_as_retail)
                         AND group_exposure <= 1000000.0 THEN 'retail'
                    ELSE 'corporate' END AS exposure_class
        FROM grouped
    ), with_ead AS (
        SELECT *,
               drawn_amount + coalesce(hc.ccf, 1.0) * undrawn_amount AS ead
        FROM classified
        LEFT JOIN (VALUES ('full_risk', CAST(1.0 AS DOUBLE)), ('medium_risk', CAST(0.5 AS DOUBLE)),
                          ('medium_low_risk', CAST(0.2 AS DOUBLE)), ('low_risk', CAST(0.0 AS DOUBLE)))
               AS hc(bucket, ccf) ON classified.risk_bucket = hc.bucket
    )
"""

# CRR2 Art.501 tiered SME factor, blended over the group drawn amount —
# identical float op order to the engine expression in run_sa
_SQL_SME_SF = """CASE WHEN {p}exposure_class = 'corporate' AND {p}annual_revenue > 0
                         AND {p}annual_revenue <= 50000000
                         AND NOT {p}is_defaulted
                    THEN CASE WHEN {p}group_drawn > 0
                         THEN (least({p}group_drawn, 2500000.0) * 0.7619
                               + greatest({p}group_drawn - 2500000.0, 0.0) * 0.85)
                              / {p}group_drawn
                         ELSE 0.7619 END
                    ELSE 1.0 END"""

_SQL_SA_RW = """(VALUES
    ('sovereign', 1, CAST(0.0 AS DOUBLE)), ('sovereign', 2, CAST(0.2 AS DOUBLE)),
    ('sovereign', 3, CAST(0.5 AS DOUBLE)), ('sovereign', 4, CAST(1.0 AS DOUBLE)),
    ('sovereign', 5, CAST(1.0 AS DOUBLE)), ('sovereign', 6, CAST(1.5 AS DOUBLE)),
    ('sovereign', 0, CAST(1.0 AS DOUBLE)),
    ('institution', 1, CAST(0.2 AS DOUBLE)), ('institution', 2, CAST(0.5 AS DOUBLE)),
    ('institution', 3, CAST(0.5 AS DOUBLE)), ('institution', 4, CAST(1.0 AS DOUBLE)),
    ('institution', 5, CAST(1.0 AS DOUBLE)), ('institution', 6, CAST(1.5 AS DOUBLE)),
    ('institution', 0, CAST(0.5 AS DOUBLE)),
    ('corporate', 1, CAST(0.2 AS DOUBLE)), ('corporate', 2, CAST(0.5 AS DOUBLE)),
    ('corporate', 3, CAST(1.0 AS DOUBLE)), ('corporate', 4, CAST(1.0 AS DOUBLE)),
    ('corporate', 5, CAST(1.5 AS DOUBLE)), ('corporate', 6, CAST(1.5 AS DOUBLE)),
    ('corporate', 0, CAST(1.0 AS DOUBLE))
) AS rwt(rw_class, rw_cqs, rw)"""

# Basel 3.1 ladder (PRA PS1/26 Art.120 Table 3 / Art.122(2) Table 6:
# institution CQS2 30% + unrated 40%, corporate CQS3 75%) — mirrors the
# engine's _SA_RW_ROWS_B31
_SQL_SA_RW_B31 = """(VALUES
    ('sovereign', 1, CAST(0.0 AS DOUBLE)), ('sovereign', 2, CAST(0.2 AS DOUBLE)),
    ('sovereign', 3, CAST(0.5 AS DOUBLE)), ('sovereign', 4, CAST(1.0 AS DOUBLE)),
    ('sovereign', 5, CAST(1.0 AS DOUBLE)), ('sovereign', 6, CAST(1.5 AS DOUBLE)),
    ('sovereign', 0, CAST(1.0 AS DOUBLE)),
    ('institution', 1, CAST(0.2 AS DOUBLE)), ('institution', 2, CAST(0.3 AS DOUBLE)),
    ('institution', 3, CAST(0.5 AS DOUBLE)), ('institution', 4, CAST(1.0 AS DOUBLE)),
    ('institution', 5, CAST(1.0 AS DOUBLE)), ('institution', 6, CAST(1.5 AS DOUBLE)),
    ('institution', 0, CAST(0.4 AS DOUBLE)),
    ('corporate', 1, CAST(0.2 AS DOUBLE)), ('corporate', 2, CAST(0.5 AS DOUBLE)),
    ('corporate', 3, CAST(0.75 AS DOUBLE)), ('corporate', 4, CAST(1.0 AS DOUBLE)),
    ('corporate', 5, CAST(1.5 AS DOUBLE)), ('corporate', 6, CAST(1.5 AS DOUBLE)),
    ('corporate', 0, CAST(1.0 AS DOUBLE))
) AS rwt(rw_class, rw_cqs, rw)"""



@query(
    "rwa_pipeline_sa",
    oracle=_SQL_BASE.format(irb_flag="FALSE") + f"""
    , with_rw AS (
        SELECT w.*,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS risk_weight,
               {_SQL_SME_SF.format(p='w.')} AS sf
        FROM with_ead w
        LEFT JOIN {_SQL_SA_RW}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    )
    SELECT exposure_class, count(*) AS n_exposures,
           {sql_scaled_sum('ead', 2)} AS total_ead,
           {sql_scaled_sum('(ead * risk_weight) * sf', 2)} AS total_rwa
    FROM with_rw GROUP BY exposure_class
    """,
    tags=("rwa", "pipeline"),
    bench=True,
)
def rwa_pipeline_sa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SA pipeline through the engine (hierarchy → classify → CCF →
    SA RW chain → summaries), oracle re-derived end-to-end in DuckDB."""
    release_cached_blocks(spark)  # bound the one-session cached footprint
    bundle = _star_bundle(spark, sf_dir, irb=False)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    return out.summary_by_class


# Asset-class-routed IRB correlation (CRR Art.153(4)/154, mirroring
# engine/stages/calculators.run_irb): retail takes the other-retail curve
# (no subtype carrier in the star bundle) and NO maturity adjustment;
# corporates subtract the SME size adjustment when 0 < sales ≤ €50m.
_SQL_R_ROUTED = f"""CASE WHEN exposure_class = 'retail'
        THEN {{other_retail}}
        ELSE ({{corp}} - CASE WHEN exposure_class = 'corporate'
                              AND annual_revenue > 0.0
                              AND annual_revenue <= 50000000.0
                         THEN {{sme_adj}} ELSE 0.0 END)
   END""".format(
    other_retail=sql_correlation_other_retail("pd_f"),
    corp=sql_correlation("pd_f"),
    sme_adj=sql_sme_size_adjustment("(annual_revenue / 1000000.0)"),
)

_SQL_MA_ROUTED = (
    "CASE WHEN exposure_class = 'retail' THEN 1.0 ELSE "
    + sql_maturity_adj("pd_f", "m_eff")
    + " END"
)

# SA+IRB routing core shared by rwa_pipeline_irb and pillar3_ov1 — ends at
# `unioned` (approach, exposure_class, ead, rwa per row)
_SQL_IRB_CORE = f"""
    , routed AS (
        SELECT *,
               CASE WHEN is_defaulted THEN 1.0
                    ELSE greatest(coalesce(pd, 1.0), 0.0003) END AS pd_f,
               greatest(coalesce(lgd, 0.45), 0.0) AS lgd_f,
               least(greatest(coalesce(m, 2.5), 1.0), 5.0) AS m_eff,
               ({_SQL_SME_SF.format(p='')}) AS sf
        FROM with_ead
    ), sa_branch AS (
        SELECT w.exposure_reference, w.exposure_class, w.ead,
               ((w.ead * (CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END))
                * w.sf) AS rwa
        FROM routed w
        LEFT JOIN {_SQL_SA_RW}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
        WHERE NOT w.has_irb_permission
    ), irb_perf AS (
        SELECT *, {sql_acklam_raw('pd_f')} AS x0 FROM routed
        WHERE has_irb_permission AND pd_f < 1.0
    ), irb_g AS (
        SELECT exposure_reference, exposure_class, annual_revenue, ead,
               pd_f, lgd_f, m_eff, sf,
               {sql_halley_step('x0', 'pd_f')} AS g_pd
        FROM irb_perf
    ), irb_r AS (
        SELECT *, {_SQL_R_ROUTED} AS r_routed FROM irb_g
    ), irb_k AS (
        SELECT exposure_reference, exposure_class, ead, sf,
               {sql_capital_k_r('pd_f', 'lgd_f', 'g_pd', 'r_routed')} AS k,
               {_SQL_MA_ROUTED} AS ma
        FROM irb_r
    ), irb_branch AS (
        -- CRR Art.501 applies per RWEA regardless of approach (engine
        -- run_irb applies the same most-beneficial factor post-Vasicek)
        SELECT exposure_reference, exposure_class, ead,
               ead * (((k * ma) * 12.5) * 1.06) * sf AS rwa FROM irb_k
        UNION ALL
        SELECT exposure_reference, exposure_class, ead, ead * 0.0 AS rwa FROM routed
        WHERE has_irb_permission AND pd_f >= 1.0
    ), unioned AS (
        SELECT 'SA' AS approach, * FROM sa_branch
        UNION ALL
        SELECT 'IRB' AS approach, * FROM irb_branch
    )
"""


@query(
    "rwa_pipeline_irb",
    oracle=_SQL_BASE.format(irb_flag="c_custkey % 3 = 0") + _SQL_IRB_CORE + f"""
    SELECT approach, count(*) AS n_exposures,
           {sql_scaled_sum('ead', 2)} AS total_ead,
           {sql_scaled_sum('rwa', 2)} AS total_rwa
    FROM unioned GROUP BY approach
    """,
    tags=("rwa", "pipeline", "tolerant"),
    bench=True,
)
def rwa_pipeline_irb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SA+IRB pipeline with approach routing and the staged IRB K
    formula, summarised by approach; oracle mirrors every stage in SQL."""
    release_cached_blocks(spark)  # bound the one-session cached footprint
    bundle = _star_bundle(spark, sf_dir, irb=True)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    return out.summary_by_approach


@query(
    "pillar3_ov1",
    oracle=_SQL_BASE.format(irb_flag="c_custkey % 3 = 0") + _SQL_IRB_CORE + f"""
    , by_approach AS (
        SELECT CASE approach WHEN 'SA' THEN 'credit_risk_sa'
               ELSE 'credit_risk_irb' END AS row_label,
               {sql_scaled_sum('rwa', 2)} AS rwea
        FROM unioned GROUP BY approach
    )
    SELECT row_label, rwea, round(rwea * 0.08, 2) AS own_funds_req FROM by_approach
    UNION ALL
    SELECT 'total', sum(rwea), round(sum(rwea) * 0.08, 2) FROM by_approach
    """,
    tags=("rwa", "reporting"),
)
def pillar3_ov1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 OV1-style overview-of-RWEA disclosure: RWEA by risk
    category (credit risk SA / IRB here) with the 8% own-funds requirement
    column and a total row (EBA ITS OV1 template shape; ref the reference's
    Pillar 3 report generators alongside reporting/). Derived from the SAME
    pipeline ledger the COREP cells read — one source of truth."""
    release_cached_blocks(spark)  # bound the one-session cached footprint
    bundle = _star_bundle(spark, sf_dir, irb=True)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    by_app = out.summary_by_approach.select(
        F.when(F.col("approach") == "SA", "credit_risk_sa")
        .otherwise("credit_risk_irb")
        .alias("row_label"),
        F.col("total_rwa").alias("rwea"),
    )
    rows = by_app.select(
        "row_label", "rwea", F.round(F.col("rwea") * 0.08, 2).alias("own_funds_req")
    )
    total = by_app.agg(F.sum("rwea").alias("rwea")).select(
        F.lit("total").alias("row_label"),
        "rwea",
        F.round(F.col("rwea") * 0.08, 2).alias("own_funds_req"),
    )
    return rows.unionByName(total)


_CCR_SFT_CTES = f"""
    WITH RECURSIVE cps AS (
        SELECT c_custkey AS cp_key,
               CASE WHEN c_mktsegment = 'FURNITURE' THEN 'individual'
                    WHEN c_mktsegment = 'BUILDING' THEN 'institution'
                    WHEN c_mktsegment = 'HOUSEHOLD' THEN 'sovereign'
                    ELSE 'corporate' END AS entity_type,
               CAST(c_custkey % 7 AS INTEGER) AS cqs,
               (c_mktsegment = 'FURNITURE') AS is_managed_as_retail,
               c_acctbal * 10000.0 AS annual_revenue
        FROM customer
    ), edges AS (
        SELECT c_custkey AS child, c_custkey // 7 AS parent FROM customer WHERE c_custkey >= 7
    ), walk AS (
        SELECT child AS node, parent AS anc, 1 AS depth FROM edges
        UNION ALL
        SELECT w.node, e.parent, w.depth + 1 FROM walk w JOIN edges e ON w.anc = e.child
    ), up AS (
        SELECT node, anc AS group_key FROM walk
        QUALIFY row_number() OVER (PARTITION BY node ORDER BY depth DESC) = 1
    ), loans AS (
        SELECT 'L' || o_orderkey AS exposure_reference, o_custkey AS cp_key,
               o_totalprice * (CASE WHEN o_orderkey % 10 = 0 THEN 0.75 ELSE 1.0 END)
                   AS drawn_amount,
               CAST(0.0 AS DOUBLE) AS undrawn_amount,
               CAST(NULL AS VARCHAR) AS risk_bucket,
               (o_orderstatus = 'F' AND o_orderkey % 13 = 0) AS is_defaulted,
               'loan' AS etype
        FROM orders
    ), conts AS (
        SELECT 'K' || l.l_orderkey AS exposure_reference, o.o_custkey AS cp_key,
               CAST(0.0 AS DOUBLE) AS drawn_amount, l.l_extendedprice AS undrawn_amount,
               CASE WHEN l.l_returnflag = 'A' THEN 'full_risk'
                    WHEN l.l_returnflag = 'N' THEN 'medium_risk'
                    ELSE 'medium_low_risk' END AS risk_bucket,
               FALSE AS is_defaulted, 'contingent' AS etype
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_linenumber = 1
    ), ccr_trades AS (
        SELECT 'NS' || l.l_orderkey AS ns, o.o_custkey AS cp_key,
               l.l_extendedprice * (1 - l.l_discount) - 30000.0 AS mtm,
               l.l_quantity * 1000.0 AS notional,
               CASE l.l_returnflag WHEN 'A' THEN 'ir' WHEN 'N' THEN 'fx'
                    ELSE 'credit' END AS asset_class,
               CAST(CASE l.l_returnflag WHEN 'A' THEN 0.005 WHEN 'N' THEN 0.04
                    ELSE 0.05 END AS DOUBLE) AS sf
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_linenumber <= 2
    ), ccr_class AS (
        SELECT ns, asset_class, max(cp_key) AS cp_key,
               {sql_scaled_sum('mtm', 2)} AS class_mtm,
               {sql_scaled_sum('sf * notional', 2)} AS class_addon
        FROM ccr_trades GROUP BY ns, asset_class
    ), ccr_set AS (
        SELECT ns, max(cp_key) AS cp_key,
               {sql_scaled_sum('class_mtm', 2)} AS set_mtm,
               {sql_scaled_sum('class_addon', 2)} AS aggregate_addon
        FROM ccr_class GROUP BY ns
    ), ccr AS (
        SELECT ns || '_CCR' AS exposure_reference, cp_key,
               1.4 * (greatest(set_mtm, 0.0) + aggregate_addon) AS drawn_amount,
               CAST(0.0 AS DOUBLE) AS undrawn_amount,
               CAST(NULL AS VARCHAR) AS risk_bucket, FALSE AS is_defaulted,
               'ccr' AS etype
        FROM ccr_set
    ), sft_legs AS (
        SELECT 'SS' || o_orderkey AS ns, o_custkey AS cp_key,
               o_totalprice AS lent, CAST(0.0 AS DOUBLE) AS received_adj
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT 'SS' || o_orderkey, o_custkey, CAST(0.0 AS DOUBLE),
               (o_totalprice * 0.6) * (1 - CAST(CASE o_orderpriority
                    WHEN '1-URGENT' THEN 0.005 WHEN '2-HIGH' THEN 0.02
                    ELSE 0.04 END AS DOUBLE))
        FROM orders WHERE o_orderkey % 5 = 0
    ), sft AS (
        SELECT ns || '_SFT' AS exposure_reference, max(cp_key) AS cp_key,
               greatest({sql_scaled_sum('lent', 2)} - {sql_scaled_sum('received_adj', 2)},
                        0.0) AS drawn_amount,
               CAST(0.0 AS DOUBLE) AS undrawn_amount,
               CAST(NULL AS VARCHAR) AS risk_bucket, FALSE AS is_defaulted,
               'sft' AS etype
        FROM sft_legs GROUP BY ns
    ), pools AS (
        SELECT 'SEC_P' || (o_orderkey % 7) AS exposure_reference,
               CAST(NULL AS BIGINT) AS cp_key,
               {sql_scaled_sum('o_totalprice * 0.25', 2)} AS drawn_amount,
               CAST(0.0 AS DOUBLE) AS undrawn_amount,
               CAST(NULL AS VARCHAR) AS risk_bucket, FALSE AS is_defaulted,
               'securitisation_pool' AS etype
        FROM orders WHERE o_orderkey % 10 = 0
        GROUP BY o_orderkey % 7
    ), exposures AS (
        SELECT * FROM loans UNION ALL SELECT * FROM conts
        UNION ALL SELECT * FROM ccr UNION ALL SELECT * FROM sft
        UNION ALL SELECT * FROM pools
    ), enriched AS (
        SELECT e.*, c.entity_type, c.cqs, c.is_managed_as_retail, c.annual_revenue,
               coalesce(u.group_key, e.cp_key) AS group_key
        FROM exposures e
        LEFT JOIN cps c ON e.cp_key = c.cp_key
        LEFT JOIN up u ON e.cp_key = u.node
    ), grouped AS (
        SELECT *,
               sum(CAST(round((drawn_amount + undrawn_amount) * 100.0, 0) AS BIGINT))
                   OVER (PARTITION BY group_key) / CAST(100 AS DOUBLE) AS group_exposure,
               sum(CAST(round(drawn_amount * 100.0, 0) AS BIGINT))
                   OVER (PARTITION BY group_key) / CAST(100 AS DOUBLE) AS group_drawn
        FROM enriched
    ), classified AS (
        SELECT *,
               CASE WHEN etype = 'securitisation_pool' THEN 'securitisation'
                    WHEN entity_type = 'sovereign' THEN 'sovereign'
                    WHEN entity_type = 'institution' THEN 'institution'
                    WHEN (entity_type = 'individual' OR is_managed_as_retail)
                         AND group_exposure <= 1000000.0 THEN 'retail'
                    ELSE 'corporate' END AS exposure_class
        FROM grouped
    ), with_ead AS (
        SELECT c.*, drawn_amount + coalesce(hc.ccf, 1.0) * undrawn_amount AS ead
        FROM classified c
        LEFT JOIN (VALUES ('full_risk', CAST(1.0 AS DOUBLE)), ('medium_risk', CAST(0.5 AS DOUBLE)),
                          ('medium_low_risk', CAST(0.2 AS DOUBLE)), ('low_risk', CAST(0.0 AS DOUBLE)))
               AS hc(bucket, ccf) ON c.risk_bucket = hc.bucket
    ), with_rw AS (
        SELECT w.*,
               CASE WHEN w.exposure_class = 'securitisation'
                         THEN greatest(0.15, 0.08 * 12.5 * 1.0)
                    WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS risk_weight,
               {_SQL_SME_SF.format(p='w.')} AS sf,
               CASE WHEN w.exposure_class = 'securitisation' THEN 'SEC-SA'
                    ELSE 'SA' END AS approach
        FROM with_ead w
        LEFT JOIN {_SQL_SA_RW}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    )
"""

_CCR_SFT_ORACLE = _CCR_SFT_CTES + f"""
    SELECT approach, count(*) AS n_exposures,
           {sql_scaled_sum('ead', 2)} AS total_ead,
           {sql_scaled_sum('(ead * risk_weight) * sf', 2)} AS total_rwa
    FROM with_rw GROUP BY approach
    """


def _ccr_sft_pipeline(spark: SparkSession, sf_dir: str):
    """Shared star-mapped bundle with CCR trades + SFT legs + allocations,
    run through the full pipeline (used by rwa_pipeline_ccr_sft and the
    CCR reporting queries — same mapping, same oracle CTEs)."""
    from dataclasses import replace as dc_replace

    bundle = _star_bundle(spark, sf_dir, irb=False)
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    trades = (
        li.where(F.col("l_linenumber") <= 2)
        .join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.concat(F.lit("T"), F.col("l_orderkey"), F.lit("_"), F.col("l_linenumber")).alias(
                "trade_reference"
            ),
            F.concat(F.lit("NS"), F.col("l_orderkey")).alias("netting_set_reference"),
            F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount")) - 30000.0).alias("mtm"),
            (F.col("l_quantity") * 1000.0).alias("notional"),
            F.when(F.col("l_returnflag") == "A", "ir")
            .when(F.col("l_returnflag") == "N", "fx")
            .otherwise("credit")
            .alias("asset_class"),
        )
    )
    sel = o.where(F.col("o_orderkey") % 5 == 0)
    hc = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 0.005)
        .when(F.col("o_orderpriority") == "2-HIGH", 0.02)
        .otherwise(0.04)
        .cast("double")
    )
    lent_leg = sel.select(
        F.concat(F.lit("SS"), F.col("o_orderkey")).alias("netting_set_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.lit("lent").alias("leg"),
        F.col("o_totalprice").alias("value"),
        F.lit(None).cast("double").alias("haircut"),
    )
    coll_leg = sel.select(
        F.concat(F.lit("SS"), F.col("o_orderkey")).alias("netting_set_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.lit("collateral").alias("leg"),
        (F.col("o_totalprice") * 0.6).alias("value"),
        hc.alias("haircut"),
    )
    allocs = o.where(F.col("o_orderkey") % 10 == 0).select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.concat(F.lit("P"), F.col("o_orderkey") % 7).alias("pool_reference"),
        F.lit(0.25).alias("allocation_pct"),
    )
    bundle = dc_replace(
        bundle,
        trades=trades,
        sft_trades=lent_leg.unionByName(coll_leg),
        securitisation_allocations=allocs,
    )
    return run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))


@query(
    "rwa_pipeline_ccr_sft",
    oracle=_CCR_SFT_ORACLE,
    tags=("rwa", "pipeline", "ccr"),
)
def rwa_pipeline_ccr_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline with CCR trades, SFTs and securitisation allocations in
    the BUNDLE (ref engine/registry.py:46-58 — the stages fold into the
    ledger, not standalone queries): SA-CCR netting-set EADs and SFT FCCM
    exposures enter as synthetic rows, allocated loan slices leave the book
    and return as SEC-SA pool rows. The oracle re-derives every stage —
    two-level add-on aggregation, leg netting, retained-share reduction —
    and the by-approach summary."""
    release_cached_blocks(spark)  # bound the one-session cached footprint
    return _ccr_sft_pipeline(spark, sf_dir).summary_by_approach


@query(
    "dual_framework_delta",
    oracle=_SQL_BASE.format(irb_flag="FALSE") + f"""
    , with_rw AS (
        SELECT w.*,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS risk_weight,
               {_SQL_SME_SF.format(p='w.')} AS sf_crr
        FROM with_ead w
        LEFT JOIN {_SQL_SA_RW}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    ), b31_ead AS (
        SELECT c.*, drawn_amount + coalesce(hc.ccf, 1.0) * undrawn_amount AS ead_b31
        FROM classified c
        LEFT JOIN (VALUES ('full_risk', CAST(1.0 AS DOUBLE)), ('medium_risk', CAST(0.5 AS DOUBLE)),
                          ('medium_low_risk', CAST(0.4 AS DOUBLE)), ('low_risk', CAST(0.1 AS DOUBLE)))
               AS hc(bucket, ccf) ON c.risk_bucket = hc.bucket
    ), b31_rw AS (
        SELECT w.exposure_class, w.ead_b31,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    -- PS1/26 Art.122(11): unrated corporate SME 85%
                    WHEN w.exposure_class = 'corporate' AND coalesce(w.cqs, 0) = 0
                         AND w.annual_revenue > 0
                         AND w.annual_revenue < 50000000.0 THEN 0.85
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS risk_weight
        FROM b31_ead w
        LEFT JOIN {_SQL_SA_RW_B31}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    ), crr AS (
        SELECT exposure_class, {sql_scaled_sum('(ead * risk_weight) * sf_crr', 2)} AS rwa_crr
        FROM with_rw GROUP BY exposure_class
    ), b31 AS (
        SELECT exposure_class, {sql_scaled_sum('(ead_b31 * risk_weight) * 1.0', 2)} AS rwa_b31
        FROM b31_rw GROUP BY exposure_class
    )
    SELECT coalesce(c.exposure_class, b.exposure_class) AS exposure_class,
           c.rwa_crr, b.rwa_b31,
           round(coalesce(b.rwa_b31, 0.0) - coalesce(c.rwa_crr, 0.0), 2) AS delta
    FROM crr c FULL OUTER JOIN b31 b ON c.exposure_class = b.exposure_class
    """,
    tags=("rwa", "comparison"),
)
def dual_framework_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-framework comparison: the full pipeline run under BOTH regime
    packs (CRR vs Basel 3.1), per-class results full-joined on a coalesced
    key with delta attribution (ref analysis/comparison.py DualFrameworkRunner,
    :337,504 — the reference's regime-delta workflow). The visible deltas at
    this slice are the removed SME supporting factor and the divergent B3.1
    CCFs (other commitments 20%→40%, UCC 0%→10%; BCBS CRE20.94-101)."""
    release_cached_blocks(spark)  # bound the one-session cached footprint
    from rwa_calculator_spark.engine.rulepack import B31_PACK

    bundle = _star_bundle(spark, sf_dir, irb=False)
    # sequential materialisation of the class-grain summaries (≤ dozens of
    # rows) with a cache release between the two regime runs — peak heap
    # holds one checkpointed pipeline, not two. The B31 plan is built only
    # AFTER the release: unpersisting a checkpoint-marked-but-
    # unmaterialised RDD truncates its lineage irrecoverably.
    crr = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    c = crr.summary_by_class.select(
        "exposure_class", F.col("total_rwa").alias("rwa_crr")
    )
    c_rows = c.collect()
    release_cached_blocks(spark)
    b31 = run_pipeline(bundle, PipelineConfig(pack=B31_PACK))
    b = b31.summary_by_class.select(
        F.col("exposure_class").alias("b_class"), F.col("total_rwa").alias("rwa_b31")
    )
    b_rows = b.collect()
    release_cached_blocks(spark)
    c = spark.createDataFrame(c_rows, c.schema)
    b = spark.createDataFrame(b_rows, b.schema)
    j = c.join(b, c.exposure_class == F.col("b_class"), "full")
    return j.select(
        F.coalesce("exposure_class", "b_class").alias("exposure_class"),
        "rwa_crr",
        "rwa_b31",
        F.round(
            F.coalesce("rwa_b31", F.lit(0.0)) - F.coalesce("rwa_crr", F.lit(0.0)), 2
        ).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Capital-impact analysis (ref analysis/attribution.py, comparison.py,
# transition.py) — both oracles re-derive the dual-regime pipeline in SQL.

# CRR side of the attribution: SA with the tiered SME factor, IRB with the
# Art.153(1) 1.06 scaling; per-class sums carry the scaled-IRB bucket the
# scaling driver reads.
_SQL_CRR_ATTR = f"""
    , c_routed AS (
        SELECT *,
               CASE WHEN is_defaulted THEN 1.0
                    ELSE greatest(coalesce(pd, 1.0), 0.0003) END AS pd_f,
               greatest(coalesce(lgd, 0.45), 0.0) AS lgd_f,
               least(greatest(coalesce(m, 2.5), 1.0), 5.0) AS m_eff,
               ({_SQL_SME_SF.format(p='')}) AS sf
        FROM with_ead
    ), c_sa AS (
        SELECT w.exposure_class,
               ((w.ead * (CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END))
                * w.sf) AS rwa,
               (w.ead * (CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END)) AS rwa_before_sf,
               FALSE AS is_scaled
        FROM c_routed w
        LEFT JOIN {_SQL_SA_RW}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
        WHERE NOT w.has_irb_permission
    ), c_irb_perf AS (
        SELECT *, {sql_acklam_raw('pd_f')} AS x0 FROM c_routed
        WHERE has_irb_permission AND pd_f < 1.0
    ), c_irb_g AS (
        SELECT exposure_class, annual_revenue, ead, pd_f, lgd_f, m_eff, sf,
               {sql_halley_step('x0', 'pd_f')} AS g_pd
        FROM c_irb_perf
    ), c_irb_r AS (
        SELECT *, {_SQL_R_ROUTED} AS r_routed FROM c_irb_g
    ), c_irb_k AS (
        SELECT exposure_class, ead, sf,
               {sql_capital_k_r('pd_f', 'lgd_f', 'g_pd', 'r_routed')} AS k,
               {_SQL_MA_ROUTED} AS ma
        FROM c_irb_r
    ), c_irb AS (
        -- Art.501 binds cross-approach: the IRB arm carries the factor on
        -- rwa while rwa_before_sf keeps the unfactored figure (the
        -- supporting-factor attribution driver reads their difference)
        SELECT exposure_class, ead * (((k * ma) * 12.5) * 1.06) * sf AS rwa,
               ead * (((k * ma) * 12.5) * 1.06) AS rwa_before_sf,
               TRUE AS is_scaled
        FROM c_irb_k
        UNION ALL
        SELECT exposure_class, ead * 0.0, ead * 0.0, FALSE FROM c_routed
        WHERE has_irb_permission AND pd_f >= 1.0
    ), c_all AS (
        SELECT * FROM c_sa UNION ALL SELECT * FROM c_irb
    ), c_cls AS (
        SELECT exposure_class,
               {sql_scaled_sum('rwa', 2)} AS rwa_crr,
               {sql_scaled_sum('rwa_before_sf', 2)} AS rwa_before_sf_crr,
               {sql_scaled_sum('CASE WHEN is_scaled THEN rwa ELSE 0.0 END', 2)}
                   AS rwa_irb_scaled
        FROM c_all GROUP BY exposure_class
    )
"""

# B3.1 side: divergent CCFs, PD floor 0.0005, LGD floor 0.25, no supporting
# factor, no 1.06; carries the SA-equivalent per row (the Art.92(3) floor
# base) and ends at the pre-floor union + portfolio totals.
_SQL_B31_SIDE = f"""
    , b_ead AS (
        SELECT c.*, drawn_amount + coalesce(hc.ccf, 1.0) * undrawn_amount AS ead
        FROM classified c
        LEFT JOIN (VALUES ('full_risk', CAST(1.0 AS DOUBLE)), ('medium_risk', CAST(0.5 AS DOUBLE)),
                          ('medium_low_risk', CAST(0.4 AS DOUBLE)), ('low_risk', CAST(0.1 AS DOUBLE)))
               AS hc(bucket, ccf) ON c.risk_bucket = hc.bucket
    ), b_routed AS (
        SELECT *,
               CASE WHEN is_defaulted THEN 1.0
                    ELSE greatest(coalesce(pd, 1.0), 0.0005) END AS pd_f,
               -- PS1/26 Art.161(5)/164(4) class-routed A-IRB LGD floors:
               -- retail (no subtype carrier => retail_other) 30%, else 25%
               greatest(coalesce(lgd, 0.45),
                        CASE WHEN exposure_class = 'retail'
                             THEN 0.30 ELSE 0.25 END) AS lgd_f,
               least(greatest(coalesce(m, 2.5), 1.0), 5.0) AS m_eff
        FROM b_ead
    ), b_rw AS (
        SELECT w.*,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS sa_rw
        FROM b_routed w
        LEFT JOIN {_SQL_SA_RW_B31}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    ), b_sa AS (
        -- the SA branch additionally prices the Art.122(11) unrated-SME
        -- 85% (run_sa override); the IRB arm's SA-equivalent keeps the
        -- plain ladder, matching the engine's run_irb floor base
        SELECT 'SA' AS approach, exposure_class,
               (ead * (CASE WHEN exposure_class = 'corporate'
                            AND coalesce(cqs, 0) = 0 AND annual_revenue > 0
                            AND annual_revenue < 50000000.0
                            AND NOT is_defaulted
                       THEN 0.85 ELSE sa_rw END)) AS rwa,
               (ead * (CASE WHEN exposure_class = 'corporate'
                            AND coalesce(cqs, 0) = 0 AND annual_revenue > 0
                            AND annual_revenue < 50000000.0
                            AND NOT is_defaulted
                       THEN 0.85 ELSE sa_rw END)) AS sa_equiv
        FROM b_rw WHERE NOT has_irb_permission
    ), b_irb_perf AS (
        SELECT *, {sql_acklam_raw('pd_f')} AS x0 FROM b_rw
        WHERE has_irb_permission AND pd_f < 1.0
    ), b_irb_g AS (
        SELECT exposure_class, annual_revenue, ead, sa_rw, pd_f, lgd_f, m_eff,
               {sql_halley_step('x0', 'pd_f')} AS g_pd
        FROM b_irb_perf
    ), b_irb_r AS (
        SELECT *, {_SQL_R_ROUTED} AS r_routed FROM b_irb_g
    ), b_irb_k AS (
        SELECT exposure_class, ead, sa_rw,
               {sql_capital_k_r('pd_f', 'lgd_f', 'g_pd', 'r_routed')} AS k,
               {_SQL_MA_ROUTED} AS ma
        FROM b_irb_r
    ), b_irb AS (
        SELECT 'IRB' AS approach, exposure_class, ead * ((k * ma) * 12.5) AS rwa,
               ead * sa_rw AS sa_equiv
        FROM b_irb_k
        UNION ALL
        SELECT 'IRB', exposure_class, ead * 0.0, ead * sa_rw FROM b_rw
        WHERE has_irb_permission AND pd_f >= 1.0
    ), b_all AS (
        SELECT * FROM b_sa UNION ALL SELECT * FROM b_irb
    ), b_tot AS (
        SELECT {sql_scaled_sum('rwa', 2)} AS modelled_total,
               {sql_scaled_sum('sa_equiv', 2)} AS std_total
        FROM b_all
    )
"""

_SQL_B31_FLOORED = f"""
    , b_floored AS (
        SELECT approach, exposure_class, sa_equiv, rwa AS rwa_pre_floor,
               rwa * (greatest(modelled_total, 0.725 * std_total)
                      / nullif(modelled_total, 0.0)) AS rwa
        FROM b_all, b_tot
    ), b_cls AS (
        SELECT exposure_class,
               {sql_scaled_sum('rwa', 2)} AS rwa_b31,
               {sql_scaled_sum('rwa_pre_floor', 2)} AS rwa_pre_floor_b31
        FROM b_floored GROUP BY exposure_class
    )
"""


@query(
    "capital_attribution_waterfall",
    oracle=_SQL_BASE.format(irb_flag="c_custkey % 3 = 0")
    + _SQL_CRR_ATTR
    + _SQL_B31_SIDE
    + _SQL_B31_FLOORED
    + """
    SELECT c.exposure_class, c.rwa_crr, b.rwa_b31,
           b.rwa_b31 - c.rwa_crr AS delta,
           c.rwa_irb_scaled * (1.0 / 1.06 - 1.0) AS scaling_impact,
           c.rwa_before_sf_crr - c.rwa_crr AS supporting_factor_impact,
           b.rwa_b31 - b.rwa_pre_floor_b31 AS output_floor_impact,
           (((b.rwa_b31 - c.rwa_crr) - c.rwa_irb_scaled * (1.0 / 1.06 - 1.0))
            - (c.rwa_before_sf_crr - c.rwa_crr))
           - (b.rwa_b31 - b.rwa_pre_floor_b31) AS methodology_impact
    FROM c_cls c JOIN b_cls b ON c.exposure_class = b.exposure_class
    """,
    tags=("rwa", "comparison", "analysis", "tolerant"),
)
def capital_attribution_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRR→Basel 3.1 capital-impact attribution: the reference's 4-driver
    waterfall (scaling-factor removal, supporting-factor removal, output
    floor, methodology residual; ref analysis/comparison.py:197-533,
    attribution.py:40) per exposure class, over TWO full engine runs of the
    same bundle. Drivers sum to the per-class delta by construction."""
    release_cached_blocks(spark)  # bound the one-session cached footprint
    from rwa_calculator_spark.engine.analysis import capital_attribution
    from rwa_calculator_spark.engine.rulepack import B31_PACK

    bundle = _star_bundle(spark, sf_dir, irb=True)
    # sequential=True: the registry's peak-memory query in the driver's
    # single shared session — each regime's class-grain aggregate is
    # materialised (≤ dozens of rows) with a cache release in between, so
    # peak heap holds ONE checkpointed pipeline, not two (a 1g-heap
    # session OOMed here when both lineages stayed live)
    return capital_attribution(
        lambda: run_pipeline(bundle, PipelineConfig(pack=CRR_PACK)),
        lambda: run_pipeline(bundle, PipelineConfig(pack=B31_PACK)),
        sequential=True,
    )


@query(
    "floor_transition_schedule",
    oracle=_SQL_BASE.format(irb_flag="c_custkey % 3 = 0")
    + _SQL_B31_SIDE
    + """
    SELECT s.year, s.floor_alpha, t.modelled_total, t.std_total,
           greatest(t.modelled_total, s.floor_alpha * t.std_total) AS rwa_floored,
           greatest(s.floor_alpha * t.std_total - t.modelled_total, 0.0) AS floor_addon,
           s.floor_alpha * t.std_total > t.modelled_total AS floor_binding
    FROM b_tot t, (VALUES (CAST(2027 AS INTEGER), CAST(0.60 AS DOUBLE)),
                          (CAST(2028 AS INTEGER), CAST(0.65 AS DOUBLE)),
                          (CAST(2029 AS INTEGER), CAST(0.70 AS DOUBLE)),
                          (CAST(2030 AS INTEGER), CAST(0.725 AS DOUBLE)))
         AS s(year, floor_alpha)
    ORDER BY s.year
    """,
    tags=("rwa", "analysis", "tolerant"),
)
def floor_transition_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-floor phase-in timeline (PRA PS1/26 Art.92(5): 60%→72.5%,
    2027-2030; ref analysis/transition.py TransitionalScheduleRunner): one
    B3.1 engine run, the floor re-applied per transitional year from the
    ledger's pre-floor modelled and SA-equivalent totals."""
    release_cached_blocks(spark)  # bound the one-session cached footprint
    from rwa_calculator_spark.engine.analysis import floor_transition_schedule as fts
    from rwa_calculator_spark.engine.rulepack import B31_PACK

    bundle = _star_bundle(spark, sf_dir, irb=True)
    b31 = run_pipeline(bundle, PipelineConfig(pack=B31_PACK))
    return fts(spark, b31, sequential=True)


_SQL_CR45_RW = f"""
    , with_rw AS (
        SELECT w.*,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS risk_weight,
               {_SQL_SME_SF.format(p='w.')} AS sf
        FROM with_ead w
        LEFT JOIN {_SQL_SA_RW}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    )
"""


@query(
    "pillar3_cr4",
    oracle=_SQL_BASE.format(irb_flag="FALSE") + _SQL_CR45_RW + f"""
    SELECT exposure_class,
           {sql_scaled_sum('drawn_amount', 2)} AS gross_on_bs,
           {sql_scaled_sum('undrawn_amount', 2)} AS gross_off_bs,
           {sql_scaled_sum('ead', 2)} AS ead_post,
           {sql_scaled_sum('(ead * risk_weight) * sf', 2)} AS rwea,
           round(({sql_scaled_sum('(ead * risk_weight) * sf', 2)})
                 / ({sql_scaled_sum('ead', 2)}), 10) AS rw_density
    FROM with_rw GROUP BY exposure_class
    """,
    tags=("rwa", "reporting"),
)
def pillar3_cr4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR4 — SA exposure and CRM effects (ref
    reporting/pillar3/cr4.py; CRR Art.444(e), COREP Annex II C07.00
    ¶40-43): per exposure class, gross on/off-balance exposure before
    CF/CCF and CRM (the ledger's new drawn/undrawn carriers), the
    post-CCF/CRM exposure value, RWEA, and the RW density e/(c+d). Runs
    the REAL SA pipeline and aggregates the audit ledger."""
    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=False)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    r = out.results
    rwea = scaled_sum(F.col("rwa"), 2)
    ead_post = scaled_sum(F.col("ead_after_crm"), 2)
    return r.groupBy("exposure_class").agg(
        scaled_sum(F.col("drawn_amount"), 2).alias("gross_on_bs"),
        scaled_sum(F.col("undrawn_amount"), 2).alias("gross_off_bs"),
        ead_post.alias("ead_post"),
        rwea.alias("rwea"),
        F.round(rwea / ead_post, 10).alias("rw_density"),
    )


@query(
    "pillar3_cr5",
    oracle=_SQL_BASE.format(irb_flag="FALSE") + _SQL_CR45_RW + f"""
    SELECT exposure_class,
           CASE CAST(round(risk_weight * 100.0, 0) AS INTEGER)
                WHEN 0 THEN 'rw_0' WHEN 20 THEN 'rw_20' WHEN 50 THEN 'rw_50'
                WHEN 75 THEN 'rw_75' WHEN 100 THEN 'rw_100'
                WHEN 150 THEN 'rw_150' ELSE 'rw_other' END AS rw_band,
           count(*) AS n_exposures,
           {sql_scaled_sum('ead', 2)} AS ead
    FROM with_rw GROUP BY 1, 2
    """,
    tags=("rwa", "reporting"),
)
def pillar3_cr5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR5 — SA post-CCF/post-CRM exposure values allocated to
    risk-weight bands (ref reporting/pillar3/cr5.py — band columns on the
    derived rw bucket; CRR Art.444(e)). Long form (class, band) so the
    result is pivot-free and deterministic; bands key on the ledger's
    pre-supporting-factor risk weight exactly as the reference bands on
    the pre-multiplier RW."""
    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=False)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    r = out.results
    band = (
        F.when(F.round(F.col("risk_weight") * 100.0, 0) == 0, "rw_0")
        .when(F.round(F.col("risk_weight") * 100.0, 0) == 20, "rw_20")
        .when(F.round(F.col("risk_weight") * 100.0, 0) == 50, "rw_50")
        .when(F.round(F.col("risk_weight") * 100.0, 0) == 75, "rw_75")
        .when(F.round(F.col("risk_weight") * 100.0, 0) == 100, "rw_100")
        .when(F.round(F.col("risk_weight") * 100.0, 0) == 150, "rw_150")
        .otherwise("rw_other")
    )
    return r.groupBy("exposure_class", band.alias("rw_band")).agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("ead"),
    )


# CR6 PD-band ladder (Pillar 3 CR6 "PD scale" rows; ref
# reporting/pillar3/cr6.py and corep/pd_scale.py): thresholds in decimal PD
_CR6_BANDS = (
    ("pd_0.00_0.15", 0.0, 0.0015),
    ("pd_0.15_0.25", 0.0015, 0.0025),
    ("pd_0.25_0.50", 0.0025, 0.005),
    ("pd_0.50_0.75", 0.005, 0.0075),
    ("pd_0.75_2.50", 0.0075, 0.025),
    ("pd_2.50_10.0", 0.025, 0.10),
    ("pd_10.0_100", 0.10, 1.0),
)


def _cr6_band_sql() -> str:
    whens = " ".join(
        f"WHEN pd_f >= {lo!r} AND pd_f < {hi!r} THEN '{name}'"
        for name, lo, hi in _CR6_BANDS
    )
    return f"CASE WHEN pd_f >= 1.0 THEN 'pd_default' {whens} ELSE 'pd_default' END"


def _cr6_band_col():
    c = F.when(F.col("pd_used") >= 1.0, "pd_default")
    for name, lo, hi in _CR6_BANDS:
        c = c.when((F.col("pd_used") >= lo) & (F.col("pd_used") < hi), name)
    return c.otherwise("pd_default")


@query(
    "pillar3_cr6",
    oracle=_SQL_BASE.format(irb_flag="c_custkey % 3 = 0") + _SQL_IRB_CORE + f"""
    , cr6_r AS (
        SELECT *, {_SQL_R_ROUTED} AS r_routed FROM irb_g
    ), cr6_k AS (
        SELECT exposure_class, ead, pd_f, lgd_f, sf,
               {sql_capital_k_r('pd_f', 'lgd_f', 'g_pd', 'r_routed')} AS k,
               {_SQL_MA_ROUTED} AS ma
        FROM cr6_r
    ), cr6_rows AS (
        -- Art.501 binds cross-approach (engine ledger rwa carries it)
        SELECT exposure_class, ead, pd_f, lgd_f,
               ead * (((k * ma) * 12.5) * 1.06) * sf AS rwa
        FROM cr6_k
        UNION ALL
        SELECT exposure_class, ead, 1.0 AS pd_f, lgd_f, ead * 0.0 AS rwa
        FROM routed WHERE has_irb_permission AND pd_f >= 1.0
    ), banded AS (
        SELECT exposure_class, {_cr6_band_sql()} AS pd_band,
               ead, pd_f, lgd_f, rwa
        FROM cr6_rows
    )
    SELECT exposure_class, pd_band,
           count(*) AS n_obligors,
           {sql_scaled_sum('ead', 2)} AS ead_total,
           round(({sql_scaled_sum('pd_f * ead', 2)})
                 / ({sql_scaled_sum('ead', 2)}), 10) AS pd_avg_w,
           round(({sql_scaled_sum('lgd_f * ead', 2)})
                 / ({sql_scaled_sum('ead', 2)}), 10) AS lgd_avg_w,
           {sql_scaled_sum('rwa', 2)} AS rwea,
           round(({sql_scaled_sum('rwa', 2)})
                 / ({sql_scaled_sum('ead', 2)}), 10) AS rw_density
    FROM banded GROUP BY 1, 2
    """,
    tags=("rwa", "reporting"),
)
def pillar3_cr6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR6 — IRB exposures by PD scale (ref
    reporting/pillar3/cr6.py + corep/pd_scale.py; CRR Art.452(g)): per
    (class, PD band), obligor count, EAD, EAD-weighted average PD and
    LGD, RWEA and density — aggregated from the REAL IRB pipeline run's
    audit ledger (pd_used/lgd_used are the floored parameters the kernel
    actually consumed; defaulted obligors band to 'pd_default')."""
    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=True)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    r = out.results.where(F.col("approach") == "IRB")
    ead = scaled_sum(F.col("ead_after_crm"), 2)
    rwea = scaled_sum(F.col("rwa"), 2)
    return r.groupBy("exposure_class", _cr6_band_col().alias("pd_band")).agg(
        F.count("*").alias("n_obligors"),
        ead.alias("ead_total"),
        F.round(
            scaled_sum(F.col("pd_used") * F.col("ead_after_crm"), 2) / ead, 10
        ).alias("pd_avg_w"),
        F.round(
            scaled_sum(F.col("lgd_used") * F.col("ead_after_crm"), 2) / ead, 10
        ).alias("lgd_avg_w"),
        rwea.alias("rwea"),
        F.round(rwea / ead, 10).alias("rw_density"),
    )


# ---------------------------------------------------------------------------
# Cross-template tie-outs (ref reporting/tieouts.py)
# ---------------------------------------------------------------------------

# DuckDB expressions for each curated tie's two sides, over the CTEs built in
# _tieouts_oracle_sql(). Generated from the SAME TIE_OUTS data the Spark query
# evaluates, so the spec and the oracle cannot drift apart.
_TIE_EXPRS = {
    "total_rwea_c02_vs_ov1": (
        "(SELECT rwa FROM tot)",
        "(SELECT rwa FROM sa_app) + (SELECT rwa FROM irb_app)",
    ),
    "credit_risk_rollup_c02": (
        "(SELECT rwa FROM tot)",
        "(SELECT rwa FROM sa_app) + (SELECT rwa FROM irb_app)",
    ),
    "sa_rwea_c07_vs_c02": (
        "(SELECT rwa FROM sa_cls)",
        "(SELECT rwa FROM sa_app)",
    ),
    "irb_rwea_c08_01_vs_c02": (
        "(SELECT rwa FROM irb_cls)",
        "(SELECT rwa FROM irb_app)",
    ),
    "irb_rwea_c08_01_vs_ov1": (
        "(SELECT rwa FROM irb_cls)",
        "(SELECT rwa FROM irb_app)",
    ),
    # full-row-set C 02.00 identities (round 7): integer-cent partition
    # sums — the class rows are a fixed-point partition of their of-which
    # row, so both sides reduce to the same BIGINT cent total
    "sa_class_rows_partition_c02": (
        "(SELECT sa_c / 100.0 FROM c02c)",
        "(SELECT sa_c / 100.0 FROM c02c)",
    ),
    "airb_class_rows_partition_c02": (
        "(SELECT irb_c / 100.0 FROM c02c) + 0.0",
        "(SELECT irb_c / 100.0 FROM c02c)",
    ),
    "own_funds_requirement_8pct": (
        "(SELECT ((sa_c + irb_c) / 100.0) * 0.08 FROM c02c)",
        "(SELECT ((sa_c + irb_c) / 100.0) * 0.08 FROM c02c)",
    ),
}


def _tieouts_oracle_sql() -> str:
    from rwa_calculator_spark.reporting_tieouts import TIE_OUTS

    selects = []
    for tie in TIE_OUTS:
        lhs, rhs = _TIE_EXPRS[tie.name]
        selects.append(
            f"SELECT '{tie.name}' AS tie_name, '{tie.lhs_label}' AS lhs_label, "
            f"'{tie.rhs_label}' AS rhs_label, {lhs} AS lhs, {rhs} AS rhs, "
            f"CAST({tie.atol!r} AS DOUBLE) AS atol, CAST({tie.rtol!r} AS DOUBLE) AS rtol"
        )
    body = "\n        UNION ALL\n        ".join(selects)
    return (
        _SQL_BASE.format(irb_flag="c_custkey % 3 = 0")
        + _SQL_IRB_CORE
        + f"""
    , per_app AS (
        SELECT approach, {sql_scaled_sum('rwa', 2)} AS rwa
        FROM unioned GROUP BY approach
    ), tot AS (
        SELECT {sql_scaled_sum('rwa', 2)} AS rwa FROM unioned
    ), per_cls AS (
        SELECT approach, exposure_class, {sql_scaled_sum('rwa', 2)} AS rwa
        FROM unioned GROUP BY 1, 2
    ), cls_sum AS (
        SELECT approach,
               sum(CAST(round(rwa * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE) AS rwa
        FROM per_cls GROUP BY approach
    ), sa_app AS (SELECT rwa FROM per_app WHERE approach = 'SA'
    ), irb_app AS (SELECT rwa FROM per_app WHERE approach = 'IRB'
    ), sa_cls AS (SELECT rwa FROM cls_sum WHERE approach = 'SA'
    ), irb_cls AS (SELECT rwa FROM cls_sum WHERE approach = 'IRB'
    ), c02c AS (
        SELECT sum(CASE WHEN approach = 'SA'
                        THEN CAST(floor(rwa * 100.0 + 0.5) AS BIGINT)
                        ELSE 0 END) AS sa_c,
               sum(CASE WHEN approach = 'IRB'
                        THEN CAST(floor(rwa * 100.0 + 0.5) AS BIGINT)
                        ELSE 0 END) AS irb_c
        FROM unioned
    ), ties AS (
        {body}
    )
    SELECT tie_name,
           CASE WHEN abs(lhs - rhs) <= atol + rtol * greatest(abs(lhs), abs(rhs))
                THEN 'tie' ELSE 'break' END AS status,
           lhs_label, rhs_label, lhs, rhs
    FROM ties
    """
    )


@query(
    "report_tieouts",
    oracle=_tieouts_oracle_sql(),
    tags=("rwa", "reporting"),
)
def report_tieouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-template consistency over the REAL pipeline run (ref
    reporting/tieouts.py check_cross_template_consistency): the C 02.00
    roll-up, the C 07.00 / C 08.01 class sheets and the OV1 rows are
    generated through three INDEPENDENT aggregation paths over the sealed
    ledger (portfolio scalar agg, by-approach summary, by-(approach, class)
    re-aggregation), then the curated tie pairs are asserted within the
    golden tolerance. Accumulate-don't-throw: every tie is reported as a
    row with status tie/break/skipped, never an exception."""
    from rwa_calculator_spark.reporting_tieouts import (
        check_cross_template_consistency,
        findings_frame,
    )

    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=True)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    # Three independently-generated template aggregates (all driver-sized
    # by design — O(#classes) scalars, never exposure rows):
    total = out.portfolio.collect()[0]["total_rwa"]  # C 02.00 [0010]
    per_app = {
        r["approach"]: r["total_rwa"] for r in out.summary_by_approach.collect()
    }
    per_cls = (
        out.results.groupBy("approach", "exposure_class")
        .agg(scaled_sum(F.col("rwa"), 2).alias("rwa"))
        .collect()
    )
    corep: dict[str, float] = {"C02.00|total": total}
    if "SA" in per_app:
        corep["C02.00|sa"] = per_app["SA"]
    if "IRB" in per_app:
        corep["C02.00|irb"] = per_app["IRB"]
    # the FULL C 02.00 row set (round 7): class-row partition identities
    # and the Art.92 8% requirement foot inside the template itself.
    # Integer-cent re-sums so the ties are exact by construction.
    from rwa_calculator_spark.plans.corep_c08 import (
        _C02_AIRB_SECTION_REFS,
        _C02_SA_SECTION_REFS,
        c02_row_values,
    )

    c02 = c02_row_values(out.results)
    for ref in ("0010", "0040", "0060", "0220", "0240", "0300"):
        corep[f"C02.00|row|{ref}"] = c02[ref]
    corep["C02.00|sa_class_sum"] = (
        sum(int(round(c02[ref] * 100)) for ref in _C02_SA_SECTION_REFS) / 100.0
    )
    corep["C02.00|airb_class_sum"] = (
        sum(int(round(c02[ref] * 100)) for ref in _C02_AIRB_SECTION_REFS) / 100.0
    )
    for r in per_cls:
        sheet = "C07.00" if r["approach"] == "SA" else "C08.01"
        corep[f"{sheet}|{r['exposure_class']}"] = r["rwa"]
    pillar3: dict[str, float] = {}
    if "SA" in per_app:
        pillar3["OV1|credit_risk_sa"] = per_app["SA"]
    if "IRB" in per_app:
        pillar3["OV1|credit_risk_irb"] = per_app["IRB"]
    if "SA" in per_app and "IRB" in per_app:
        pillar3["OV1|total"] = per_app["SA"] + per_app["IRB"]
    findings = check_cross_template_consistency(corep, pillar3)
    return findings_frame(spark, findings)


# ---------------------------------------------------------------------------
# Parallel-run reconciliation over the component registry (ref
# analysis/recon_registry.py + reconciliation.py)
# ---------------------------------------------------------------------------

_RECON_ORACLE = _SQL_BASE.format(irb_flag="FALSE") + f"""
    , with_rw AS (
        SELECT w.*,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS risk_weight,
               {_SQL_SME_SF.format(p='w.')} AS sf
        FROM with_ead w
        LEFT JOIN {_SQL_SA_RW}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    ), ours AS (
        SELECT exposure_reference, exposure_class, 'SA' AS approach, ead,
               (ead * risk_weight) * sf AS rwa,
               CAST(substr(exposure_reference, 2) AS BIGINT) AS key_num
        FROM with_rw
    ), legacy AS (
        SELECT exposure_reference,
               ead AS legacy_ead,
               rwa + CASE WHEN key_num % 10 = 3 THEN 0.05 ELSE 0.0 END AS legacy_rwa,
               CASE WHEN key_num % 31 = 0 THEN 'misc'
                    ELSE upper(exposure_class) END AS legacy_class,
               lower(approach) AS legacy_approach
        FROM ours WHERE key_num % 97 <> 0
        UNION ALL
        SELECT 'X' || n_nationkey, 1000.0 + n_nationkey, 800.0,
               'corporate', 'sa'
        FROM nation
    ), j AS (
        SELECT o.exposure_reference AS lk, l.exposure_reference AS rk,
               o.ead AS l_ead, o.rwa AS l_rwa,
               o.exposure_class AS l_class, o.approach AS l_app,
               l.legacy_ead, l.legacy_rwa, l.legacy_class, l.legacy_approach
        FROM ours o FULL OUTER JOIN legacy l
          ON o.exposure_reference = l.exposure_reference
    ), detail AS (
        SELECT 'ead' AS component,
               CASE WHEN lk IS NULL THEN 'missing_ours'
                    WHEN rk IS NULL THEN 'missing_theirs'
                    WHEN abs(l_ead - legacy_ead) <= 0.01 THEN 'exact'
                    ELSE 'break' END AS bucket,
               l_ead - legacy_ead AS diff
        FROM j
        UNION ALL
        SELECT 'rwa',
               CASE WHEN lk IS NULL THEN 'missing_ours'
                    WHEN rk IS NULL THEN 'missing_theirs'
                    WHEN abs(l_rwa - legacy_rwa) <= 0.01 THEN 'exact'
                    WHEN abs(l_rwa - legacy_rwa)
                         <= 1e-05 * greatest(abs(l_rwa), abs(legacy_rwa))
                         THEN 'tolerance'
                    ELSE 'break' END,
               l_rwa - legacy_rwa
        FROM j
        UNION ALL
        SELECT 'exposure_class',
               CASE WHEN lk IS NULL THEN 'missing_ours'
                    WHEN rk IS NULL THEN 'missing_theirs'
                    WHEN upper(trim(l_class)) = upper(trim(legacy_class))
                         THEN 'exact'
                    ELSE 'break' END,
               CAST(NULL AS DOUBLE)
        FROM j
        UNION ALL
        SELECT 'approach',
               CASE WHEN lk IS NULL THEN 'missing_ours'
                    WHEN rk IS NULL THEN 'missing_theirs'
                    WHEN upper(trim(l_app)) = upper(trim(legacy_approach))
                         THEN 'exact'
                    ELSE 'break' END,
               CAST(NULL AS DOUBLE)
        FROM j
    )
    SELECT component, bucket, count(*) AS n,
           sum(CAST(round(abs(coalesce(diff, 0.0)) * 100.0, 0) AS BIGINT))
               / CAST(100 AS DOUBLE) AS total_abs_diff
    FROM detail GROUP BY 1, 2
"""


@query(
    "parallel_run_recon",
    oracle=_RECON_ORACLE,
    tags=("rwa", "analysis"),
)
def parallel_run_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel-run reconciliation through the component REGISTRY (ref
    analysis/recon_registry.py ReconcilableComponent / LegacyColumnMapping,
    reconciliation.py): the engine's audit ledger is reconciled against a
    simulated legacy calculator whose output diverges deterministically —
    dropped rows (missing_theirs), extra rows (missing_ours), an additive
    RWA drift bucketed exact/tolerance/break by the component's tolerances,
    case-different categorical labels that normalised equality must accept,
    and a flipped class it must flag. Returns the component × bucket
    summary; the full detail/worklist frames back the REST reconcile
    surface."""
    from rwa_calculator_spark.operators.recon_registry import (
        COMPONENT_REGISTRY,
        LegacyColumnMapping,
        reconcile_parallel_run,
        select_legacy,
        select_ours,
    )

    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=False)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    ours = out.results
    keyn = F.substring(F.col("exposure_reference"), 2, 18).cast("long")
    legacy = ours.where(keyn % 97 != 0).select(
        "exposure_reference",
        F.col("ead_after_crm").alias("legacy_ead"),
        (
            F.col("rwa")
            + F.when(keyn % 10 == 3, F.lit(0.05)).otherwise(F.lit(0.0))
        ).alias("legacy_rwa"),
        F.when(keyn % 31 == 0, "misc")
        .otherwise(F.upper(F.col("exposure_class")))
        .alias("legacy_class"),
        F.lower(F.col("approach")).alias("legacy_approach"),
    )
    extras = load_table(spark, sf_dir, "nation").select(
        F.concat(F.lit("X"), F.col("n_nationkey")).alias("exposure_reference"),
        (F.lit(1000.0) + F.col("n_nationkey")).alias("legacy_ead"),
        F.lit(800.0).alias("legacy_rwa"),
        F.lit("corporate").alias("legacy_class"),
        F.lit("sa").alias("legacy_approach"),
    )
    legacy = legacy.unionByName(extras)
    mapping = LegacyColumnMapping(
        {
            "legacy_ead": "ead",
            "legacy_rwa": "rwa",
            "legacy_class": "exposure_class",
            "legacy_approach": "approach",
        }
    )
    comps = [
        COMPONENT_REGISTRY[n]
        for n in ("ead", "rwa", "exposure_class", "approach")
    ]
    res = reconcile_parallel_run(
        select_ours(ours, comps, ["exposure_reference"]),
        select_legacy(legacy, mapping, ["exposure_reference"]),
        ["exposure_reference"],
        comps,
    )
    return res.summary


# ---------------------------------------------------------------------------
# Pillar 3 CR9 (IRB PD back-testing) + CR10 (slotting / CRR equity) —
# completing the CR family (OV1/CR4/CR5/CR6 above; ref
# reporting/pillar3/cr9.py, cr10.py)
# ---------------------------------------------------------------------------

@query(
    "pillar3_cr9",
    oracle=_SQL_BASE.format(irb_flag="c_custkey % 3 = 0") + f"""
    , routed AS (
        SELECT *,
               CASE WHEN is_defaulted THEN 1.0
                    ELSE greatest(coalesce(pd, 1.0), 0.0003) END AS pd_f
        FROM with_ead
    ), banded AS (
        SELECT cp_key, exposure_class, ead, pd_f, {_cr6_band_sql()} AS pd_band
        FROM routed WHERE has_irb_permission
    )
    SELECT exposure_class, pd_band,
           count(*) AS n_rows,
           count(DISTINCT cp_key) AS n_obligors,
           count(DISTINCT CASE WHEN pd_f >= 1.0 THEN cp_key END) AS n_defaulted,
           round((CAST(count(DISTINCT CASE WHEN pd_f >= 1.0 THEN cp_key END)
                       AS DOUBLE) * 100.0)
                 / count(DISTINCT cp_key), 10) AS default_rate_pct,
           {sql_scaled_sum('ead', 2)} AS ead_total,
           round((({sql_scaled_sum('pd_f * ead', 2)}) / ({sql_scaled_sum('ead', 2)}))
                 * 100.0, 8) AS pd_ewa_pct,
           round((({sql_scaled_sum('pd_f', 9)}) / count(*)) * 100.0, 8) AS pd_mean_pct
    FROM banded GROUP BY 1, 2
    """,
    tags=("rwa", "reporting"),
)
def pillar3_cr9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR9 — IRB PD back-testing by exposure class × PD band (ref
    reporting/pillar3/cr9.py; CRR Art.452(h)): distinct-obligor count,
    distinct defaulted obligors (post-floor PD at 100% — the CR9 "all
    defaulted exposures in the 100% bucket" rule), the point-in-time
    default-rate proxy d/c×100, EAD, EAD-weighted and arithmetic average
    PD ×100 — single-run proxies exactly as the reference discloses them
    when no prior-period carriers are supplied."""
    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=True)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    r = out.results.where(F.col("approach") == "IRB")
    ead = scaled_sum(F.col("ead_after_crm"), 2)
    n_def = F.countDistinct(
        F.when(F.col("pd_used") >= 1.0, F.col("counterparty_reference"))
    )
    n_obl = F.countDistinct("counterparty_reference")
    return r.groupBy("exposure_class", _cr6_band_col().alias("pd_band")).agg(
        F.count("*").alias("n_rows"),
        n_obl.alias("n_obligors"),
        n_def.alias("n_defaulted"),
        F.round((n_def.cast("double") * 100.0) / n_obl, 10).alias("default_rate_pct"),
        ead.alias("ead_total"),
        F.round(
            (scaled_sum(F.col("pd_used") * F.col("ead_after_crm"), 2) / ead) * 100.0, 8
        ).alias("pd_ewa_pct"),
        F.round(
            (scaled_sum(F.col("pd_used"), 9) / F.count(F.lit(1))) * 100.0, 8
        ).alias("pd_mean_pct"),
    )


_CR10_ORACLE = """
    WITH loans AS (
        SELECT o_orderkey AS ok, o_custkey AS ck, o_totalprice AS drawn,
               1.0 + CAST(o_orderkey % 9 AS DOUBLE) / 2.0 AS m
        FROM orders
    ), sl AS (
        SELECT *,
               CASE CAST(ck % 5 AS INTEGER) WHEN 0 THEN 'strong' WHEN 1 THEN 'good'
                    WHEN 2 THEN 'satisfactory' WHEN 3 THEN 'weak'
                    ELSE 'default' END AS cat,
               (m < 2.5) AS short
        FROM loans
    ), rwel AS (
        SELECT *,
               CASE WHEN short THEN
                    CASE cat WHEN 'strong' THEN 0.5 WHEN 'good' THEN 0.7
                         WHEN 'satisfactory' THEN 1.15 WHEN 'weak' THEN 2.5
                         ELSE 0.0 END
               ELSE
                    CASE cat WHEN 'strong' THEN 0.7 WHEN 'good' THEN 0.9
                         WHEN 'satisfactory' THEN 1.15 WHEN 'weak' THEN 2.5
                         ELSE 0.0 END
               END AS rw,
               CASE WHEN short THEN
                    CASE cat WHEN 'strong' THEN 0.0 WHEN 'good' THEN 0.004
                         WHEN 'satisfactory' THEN 0.028 WHEN 'weak' THEN 0.08
                         ELSE 0.5 END
               ELSE
                    CASE cat WHEN 'strong' THEN 0.004 WHEN 'good' THEN 0.008
                         WHEN 'satisfactory' THEN 0.028 WHEN 'weak' THEN 0.08
                         ELSE 0.5 END
               END AS el_rate
        FROM sl
    ), slot_rows AS (
        SELECT 'CR10_SL' AS sheet,
               cat || CASE WHEN short THEN '_lt2.5y' ELSE '_ge2.5y' END AS row_name,
               drawn AS ead, drawn * rw AS rwa, el_rate * drawn AS el
        FROM rwel
    ), eq AS (
        SELECT c_custkey AS ck,
               (CAST(c_custkey % 100 AS DOUBLE) + 1.0) * 1000.0 AS mv
        FROM customer WHERE c_custkey % 3 = 0
    ), eq_rows AS (
        SELECT 'CR10_5' AS sheet,
               CASE WHEN ck % 5 = 0 THEN 'equity_pe_diversified'
                    WHEN ck % 4 = 0 THEN 'equity_exchange_traded'
                    ELSE 'equity_other' END AS row_name,
               mv AS ead,
               mv * (CASE WHEN ck % 5 = 0 THEN 1.9 WHEN ck % 4 = 0 THEN 2.9
                          ELSE 3.7 END) AS rwa,
               mv * (CASE WHEN ck % 5 = 0 OR ck % 4 = 0 THEN 0.008
                          ELSE 0.024 END) AS el
        FROM eq
    ), unioned AS (
        SELECT * FROM slot_rows UNION ALL SELECT * FROM eq_rows
    )
    SELECT sheet, row_name, count(*) AS n_exposures,
           sum(CAST(round(ead * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE) AS ead,
           sum(CAST(round(rwa * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE) AS rwea,
           sum(CAST(round(el * 100.0, 0) AS BIGINT)) / CAST(100 AS DOUBLE) AS el_amt
    FROM unioned GROUP BY 1, 2
"""


@query("pillar3_cr10", oracle=_CR10_ORACLE, tags=("rwa", "reporting"))
def pillar3_cr10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR10 — specialised lending under the slotting approach and
    CRR Art.155(2) simple-RW equity (ref reporting/pillar3/cr10.py): the
    official grid splits EVERY supervisory category (Default included)
    into <2.5y / ≥2.5y remaining-maturity rows; the CR10.5 sheet carries
    the three simple-RW equity buckets. Runs the REAL pipeline (slotting
    branch keyed on category × maturity band, equity branch regime-aware)
    and labels rows from the ledger's (band, risk-weight) key."""
    release_cached_blocks(spark)
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cps = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.lit("corporate").alias("entity_type"),
        (F.col("c_custkey") % 7).cast("int").alias("cqs"),
        F.lit(False).alias("is_managed_as_retail"),
        F.lit(0.0).alias("annual_revenue"),
        F.lit(False).alias("has_irb_permission"),
    )
    loans = o.select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("loan_reference"),
        F.concat(F.lit("CP"), F.col("o_custkey")).alias("counterparty_reference"),
        F.col("o_totalprice").alias("drawn_amount"),
        F.lit(False).alias("is_defaulted"),
        F.lit(None).cast("double").alias("pd"),
        F.lit(None).cast("double").alias("lgd"),
        (F.lit(1.0) + (F.col("o_orderkey") % 9).cast("double") / F.lit(2.0)).alias(
            "effective_maturity"
        ),
    )
    sl = c.select(
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        F.when(F.col("c_custkey") % 5 == 0, "strong")
        .when(F.col("c_custkey") % 5 == 1, "good")
        .when(F.col("c_custkey") % 5 == 2, "satisfactory")
        .when(F.col("c_custkey") % 5 == 3, "weak")
        .otherwise("default")
        .alias("slot_category"),
    )
    eq = c.where(F.col("c_custkey") % 3 == 0).select(
        F.concat(F.lit("E"), F.col("c_custkey")).alias("exposure_reference"),
        F.concat(F.lit("CP"), F.col("c_custkey")).alias("counterparty_reference"),
        (((F.col("c_custkey") % 100).cast("double")) + F.lit(1.0)).alias("_mv_base"),
        (F.col("c_custkey") % 4 == 0).alias("is_exchange_traded"),
        (F.col("c_custkey") % 5 == 0).alias("is_diversified_pe"),
    ).withColumn("market_value", F.col("_mv_base") * F.lit(1000.0)).drop("_mv_base")
    out = run_pipeline(
        RawBundle(
            counterparties=cps, loans=loans, specialised_lending=sl,
            equity_exposures=eq,
        ),
        PipelineConfig(pack=CRR_PACK),
    )
    r = out.results
    short = F.col("maturity_used") < 2.5
    slot_label = (
        F.when(short & (F.col("risk_weight") == 0.5), "strong")
        .when(short & (F.col("risk_weight") == 0.7), "good")
        .when(~short & (F.col("risk_weight") == 0.7), "strong")
        .when(~short & (F.col("risk_weight") == 0.9), "good")
        .when(F.col("risk_weight") == 1.15, "satisfactory")
        .when(F.col("risk_weight") == 2.5, "weak")
        .otherwise("default")
    )
    slot_agg = (
        r.where(F.col("approach") == "SLOTTING")
        .groupBy(
            F.lit("CR10_SL").alias("sheet"),
            F.concat(
                slot_label,
                F.when(short, F.lit("_lt2.5y")).otherwise(F.lit("_ge2.5y")),
            ).alias("row_name"),
        )
        .agg(
            F.count("*").alias("n_exposures"),
            scaled_sum(F.col("ead_after_crm"), 2).alias("ead"),
            scaled_sum(F.col("rwa"), 2).alias("rwea"),
            scaled_sum(F.col("expected_loss"), 2).alias("el_amt"),
        )
    )
    eq_label = (
        F.when(F.col("risk_weight") == 1.9, "equity_pe_diversified")
        .when(F.col("risk_weight") == 2.9, "equity_exchange_traded")
        .otherwise("equity_other")
    )
    eq_agg = (
        r.where(F.col("approach") == "EQUITY")
        .groupBy(F.lit("CR10_5").alias("sheet"), eq_label.alias("row_name"))
        .agg(
            F.count("*").alias("n_exposures"),
            scaled_sum(F.col("ead_after_crm"), 2).alias("ead"),
            scaled_sum(F.col("rwa"), 2).alias("rwea"),
            scaled_sum(F.col("expected_loss"), 2).alias("el_amt"),
        )
    )
    return slot_agg.unionByName(eq_agg)


# ---------------------------------------------------------------------------
# Pillar 3 CCR3 — SA-CCR EAD by risk-weight band (ref reporting/pillar3/
# ccr.py CCR3 + corep/c34.py C34.01: the CCR disclosures read the synthetic
# netting-set rows off the SAME unified ledger; FCCM SFTs are EXCLUDED —
# an SFT uses Art.220-223, not the Art.274 approach these templates
# analyse, and reports on C07.00 instead)
# ---------------------------------------------------------------------------

_CCR3_BAND_SQL = """CASE CAST(round(risk_weight * 100.0, 0) AS INTEGER)
    WHEN 0 THEN 'rw_0' WHEN 20 THEN 'rw_20' WHEN 50 THEN 'rw_50'
    WHEN 75 THEN 'rw_75' WHEN 100 THEN 'rw_100' WHEN 150 THEN 'rw_150'
    ELSE 'rw_other' END"""

_CCR3_ORACLE = _CCR_SFT_CTES + f"""
    , ccr_rows AS (
        SELECT *, (ead * risk_weight) * sf AS rwa,
               {_CCR3_BAND_SQL} AS rw_band
        FROM with_rw WHERE etype = 'ccr'
    )
    SELECT coalesce(rw_band, 'total') AS rw_band,
           count(*) AS n_netting_sets,
           {sql_scaled_sum('ead', 2)} AS ead_ccr,
           {sql_scaled_sum('rwa', 2)} AS rwea
    FROM ccr_rows GROUP BY ROLLUP(rw_band)
    """


@query("pillar3_ccr3", oracle=_CCR3_ORACLE, tags=("rwa", "reporting", "ccr"))
def pillar3_ccr3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CCR3 — SA-CCR exposures by risk-weight band, plus the
    CCR1-style Total row in one ROLLUP pass (ref reporting/pillar3/ccr.py:
    band cells sum EAD over the synthetic ``_CCR`` netting-set rows of the
    unified ledger; SFT FCCM rows are excluded by the same rule the
    reference applies). Runs the REAL pipeline with CCR trades and SFTs in
    the bundle so the exclusion is load-bearing, not vacuous."""
    release_cached_blocks(spark)
    out = _ccr_sft_pipeline(spark, sf_dir)
    r = out.results.where(F.col("exposure_reference").endswith("_CCR"))
    rw_cents = F.round(F.col("risk_weight") * 100.0, 0).cast("int")
    band = (
        F.when(rw_cents == 0, "rw_0")
        .when(rw_cents == 20, "rw_20")
        .when(rw_cents == 50, "rw_50")
        .when(rw_cents == 75, "rw_75")
        .when(rw_cents == 100, "rw_100")
        .when(rw_cents == 150, "rw_150")
        .otherwise("rw_other")
    )
    agg = r.rollup(band.alias("rw_band")).agg(
        F.count("*").alias("n_netting_sets"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("ead_ccr"),
        scaled_sum(F.col("rwa"), 2).alias("rwea"),
    )
    return agg.select(
        F.coalesce("rw_band", F.lit("total")).alias("rw_band"),
        "n_netting_sets",
        "ead_ccr",
        "rwea",
    )
