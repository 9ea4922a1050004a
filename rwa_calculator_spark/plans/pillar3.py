"""Round-4 Pillar 3 / COREP reporting surface as driver-checked queries:
CR7 (credit-derivative effects), CR8 (RWA flow statement), CMS1/CMS2
(modelled vs standardised comparison), SA/IRB scope sheets, and the COREP
C 09.01 geographical breakdown — each aggregating the REAL pipeline's audit
ledger, with the whole computation re-derived independently in DuckDB.

Reference modules: reporting/pillar3/cr7.py:159, cr8.py:140, cms1.py,
cms2.py, sa_scope.py, irb_scope.py; reporting/corep/c09.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK
from rwa_calculator_spark.functions.exact import scaled_sum, sql_scaled_sum
from rwa_calculator_spark.plans.registry import query
from rwa_calculator_spark.plans.rwa import (
    _CCR_SFT_CTES,
    _ccr_sft_pipeline,
    _SQL_B31_FLOORED,
    _SQL_B31_SIDE,
    _SQL_BASE,
    _SQL_IRB_CORE,
    _SQL_SA_RW,
    _SQL_SME_SF,
    _star_bundle,
)
from rwa_calculator_spark.sources.star import load_table
from rwa_calculator_spark.utils import release_cached_blocks

_IRB_FLAG = "c_custkey % 3 = 0"

#: The EXPLICIT counterparty-credit-risk risk-type set (ref
#: reporting/pillar3/cms1.py:88-95 _CCR_RISK_TYPES): CMS1/OF02 row 0020
#: keys on membership, never on NOT-CREDIT — a complement would sweep
#: securitisation/equity/settlement books into the CCR row.
_CCR_RISK_TYPES = ("CCR_DERIVATIVE", "CCR_SFT", "CCR_DEFAULT_FUND")


def _irb_run(spark: SparkSession, sf_dir: str, pack=CRR_PACK):
    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=True)
    return run_pipeline(bundle, PipelineConfig(pack=pack))


# ---------------------------------------------------------------------------
# Shared guarantee fixture (CR7 / CR7-A / CRM-substitution router use the
# SAME protection book, SQL and Spark — one definition, no lockstep copies)
# ---------------------------------------------------------------------------

# Unfunded protection: every 6th loan guaranteed 50% by a
# sovereign/institution (CQS 1-3) — the Art.235 SA-substitution route of
# the guarantee treatment (no guarantor_pd carrier).
_GTEES_SQL = """
    , gtees AS (
        SELECT 'L' || o_orderkey AS exposure_reference,
               0.5 AS g_coverage,
               CASE WHEN o_orderkey % 2 = 0 THEN 'sovereign'
                    ELSE 'institution' END AS g_class,
               CAST(1 + o_orderkey % 3 AS INTEGER) AS g_cqs
        FROM orders WHERE o_orderkey % 6 = 0
    )
"""

#: Guarantor SA risk weights for the fixture's (class, CQS 1-3) domain.
_G_RW_SQL = """(VALUES
            ('sovereign', 1, CAST(0.0 AS DOUBLE)), ('sovereign', 2, CAST(0.2 AS DOUBLE)),
            ('sovereign', 3, CAST(0.5 AS DOUBLE)),
            ('institution', 1, CAST(0.2 AS DOUBLE)), ('institution', 2, CAST(0.5 AS DOUBLE)),
            ('institution', 3, CAST(0.5 AS DOUBLE))
        ) AS grw(gc, gq, rw)"""


def _star_gtees(o: DataFrame) -> DataFrame:
    """The same protection book as _GTEES_SQL, in bundle shape."""
    return o.where(F.col("o_orderkey") % 6 == 0).select(
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
        F.lit(0.5).alias("coverage_pct"),
        F.when(F.col("o_orderkey") % 2 == 0, "sovereign")
        .otherwise("institution")
        .alias("guarantor_class"),
        (1 + F.col("o_orderkey") % 3).cast("int").alias("guarantor_cqs"),
    )


# ---------------------------------------------------------------------------
# CR7 — effect of credit derivatives on RWEAs
# ---------------------------------------------------------------------------

_CR7_ORACLE = _SQL_BASE.format(irb_flag=_IRB_FLAG) + _SQL_IRB_CORE + _GTEES_SQL + f"""
    , irb_rw AS (
        SELECT exposure_reference, exposure_class, ead, sf,
               ((k * ma) * 12.5) * 1.06 AS rw
        FROM irb_k
    ), irb_guar AS (
        -- Art.501 binds cross-approach: both legs carry the factor,
        -- mirroring the engine's post-substitution rwa = ead * rw * sf
        SELECT r.exposure_class,
               r.ead * r.rw * r.sf AS rwa_pre,
               r.ead * (CASE WHEN coalesce(g.g_coverage, 0.0) > 0
                                  AND grw.rw IS NOT NULL AND grw.rw < r.rw
                             THEN (1 - g.g_coverage) * r.rw + g.g_coverage * grw.rw
                             ELSE r.rw END) * r.sf AS rwa_post
        FROM irb_rw r
        LEFT JOIN gtees g ON r.exposure_reference = g.exposure_reference
        LEFT JOIN {_G_RW_SQL} ON g.g_class = grw.gc AND coalesce(g.g_cqs, 0) = grw.gq
        UNION ALL
        SELECT exposure_class, ead * 0.0, ead * 0.0 FROM routed
        WHERE has_irb_permission AND pd_f >= 1.0
    )
    SELECT exposure_class AS row_label,
           {sql_scaled_sum('rwa_pre', 2)} AS rwea_pre_cd,
           {sql_scaled_sum('rwa_post', 2)} AS rwea_post_cd
    FROM irb_guar GROUP BY exposure_class
    UNION ALL
    SELECT 'total_irb', {sql_scaled_sum('rwa_pre', 2)}, {sql_scaled_sum('rwa_post', 2)}
    FROM irb_guar
    """


@query("pillar3_cr7", oracle=_CR7_ORACLE, tags=("rwa", "reporting", "tolerant"))
def pillar3_cr7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR7 — effect of credit derivatives on RWEAs (ref
    reporting/pillar3/cr7.py:100-123 build_cr7_spec; CRR Art.453(j), PS1/26
    Annex XXII): rows key the ORIGIN approach × the obligor's applied class
    (substitution moves a→b columns, never rows — cr7.py:13-16), distilled
    here to the IRB book per applied class plus the all-IRB total row, over
    a book carrying real unfunded protection. Column a is the GENUINE
    pre-credit-derivative RWEA: the ledger's rwa_pre_crm_substitution
    carrier (the pre-guarantee-blend Vasicek figure) — the carrier the
    reference RECORDS as its F7 follow-up and whose absence forced its
    a = b approximation (cr7.py:16-21, cr7a.py:36-41). Column b is the
    actual post-substitution RWEA; a − b is the Art.453(j) CD relief."""
    from dataclasses import replace as dc_replace

    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=True)
    bundle = dc_replace(bundle, guarantees=_star_gtees(load_table(spark, sf_dir, "orders")))
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    r = out.results.where(F.col("approach") == "IRB")
    pre = scaled_sum(F.col("rwa_pre_crm_substitution"), 2)
    post = scaled_sum(F.col("rwa"), 2)
    per_class = r.groupBy(F.col("exposure_class").alias("row_label")).agg(
        pre.alias("rwea_pre_cd"), post.alias("rwea_post_cd")
    )
    total = r.agg(pre.alias("rwea_pre_cd"), post.alias("rwea_post_cd")).select(
        F.lit("total_irb").alias("row_label"), "rwea_pre_cd", "rwea_post_cd"
    )
    return per_class.unionByName(total)


# ---------------------------------------------------------------------------
# CR8 — RWEA flow statement (IRB non-slotting)
# ---------------------------------------------------------------------------

# The prior-period ledger is an EXTERNAL saved-run input in the reference
# (cr8.py:140 generate_cr8(irb_data, prior_irb_data)); here it is
# synthesised deterministically from the current run so DuckDB can
# re-derive it: exposures with key % 17 == 0 are current-period
# originations (absent from the prior book); the surviving book's prior
# RWA drifts by a ±2% per-key factor (parameter migration); key % 23 rows
# changed rating model between the runs (row 4); key % 5 rows' reporting-
# currency translation rate moved 2% (row 7) — so every computable CR8
# driver row is exercised and driver-checked.
_CR8_ORACLE = _SQL_BASE.format(irb_flag=_IRB_FLAG) + _SQL_IRB_CORE + f"""
    , irb_rows AS (
        SELECT CAST(substring(exposure_reference, 2) AS BIGINT) AS k,
               {sql_scaled_sum('rwa', 2)} AS rwa
        FROM unioned WHERE approach = 'IRB'
        GROUP BY exposure_reference
    ), marked AS (
        SELECT rwa, (k % 17 = 0) AS is_new,
               rwa * (1.0 + (CAST(k % 5 AS DOUBLE) - 2.0) / 100.0) AS prior_rwa,
               (k % 23 = 0) AS model_moved,
               1.0 + CAST(k % 7 AS DOUBLE) / 100.0 AS f_c,
               (1.0 + CAST(k % 7 AS DOUBLE) / 100.0)
                   * (CASE WHEN k % 5 = 0 THEN 1.02 ELSE 1.0 END) AS f_p
        FROM irb_rows
    ), s AS (
        SELECT {sql_scaled_sum('rwa', 2)} AS closing,
               {sql_scaled_sum('CASE WHEN NOT is_new THEN prior_rwa ELSE 0.0 END', 2)}
                   AS opening,
               {sql_scaled_sum('CASE WHEN is_new THEN rwa ELSE 0.0 END', 2)}
                   AS asset_size,
               {sql_scaled_sum(
                   'CASE WHEN NOT is_new AND model_moved'
                   ' THEN rwa - prior_rwa ELSE 0.0 END', 2)}
                   AS model_updates,
               {sql_scaled_sum(
                   'CASE WHEN NOT is_new AND NOT model_moved'
                   ' THEN (rwa / f_c) * (f_c - f_p) ELSE 0.0 END', 2)}
                   AS fx,
               {sql_scaled_sum(
                   'CASE WHEN NOT is_new AND NOT model_moved'
                   ' THEN (rwa / f_c) * f_p - prior_rwa ELSE 0.0 END', 2)}
                   AS asset_quality
        FROM marked
    )
    SELECT '1' AS row_ref, 'opening_rwea' AS flow_driver, opening AS rwea FROM s
    UNION ALL SELECT '2', 'asset_size', asset_size FROM s
    UNION ALL SELECT '3', 'asset_quality', asset_quality FROM s
    UNION ALL SELECT '4', 'model_updates', model_updates FROM s
    UNION ALL SELECT '5', 'methodology', CAST(NULL AS DOUBLE) FROM s
    UNION ALL SELECT '6', 'acquisitions_disposals', CAST(NULL AS DOUBLE) FROM s
    UNION ALL SELECT '7', 'fx_movements', fx FROM s
    UNION ALL SELECT '8', 'other',
              (((((closing - opening) - asset_size) - asset_quality)
                - model_updates) - fx) FROM s
    UNION ALL SELECT '9', 'closing_rwea', closing FROM s
    """


@query("pillar3_cr8", oracle=_CR8_ORACLE, tags=("rwa", "reporting", "tolerant"))
def pillar3_cr8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR8 — RWEA flow statement for the IRB (non-slotting) book
    (ref reporting/pillar3/cr8.py:140 generate_cr8 + irb_non_slotting_
    population at :77; CRR Art.438(h), PS1/26 Annex XXII §11). Rows 1/9 are
    the prior/current period sums and row 8 the signed residual — the
    reference's exact cell semantics. Rows 2 (asset size) and 3 (asset
    quality), which the reference leaves null for want of exposure-level
    period-over-period lineage (cr8.py:22-24), ARE computed here via the
    full-outer-join attribution in reporting_flow.rwa_flow_statement: the
    prior frame is at exposure grain, so current-only rows are new
    business, prior-only rows disposals, and matched-row deltas parameter
    drift. Rows 4 (model updates — matched rows whose sealed model_id
    changed between runs take their whole delta) and 7 (FX — the exact
    RWA = RWA_local × fx two-factor split on same-model matched rows) are
    computed from the round-5 model_id/fx_rate lineage carriers; rows 5-6
    stay honestly null (no rulebook-version or perimeter carriers)."""
    from rwa_calculator_spark.reporting_flow import rwa_flow_statement

    out = _irb_run(spark, sf_dir)
    # collapse to exposure grain first — the reference collapses sub-rows
    # to the reconciliation grain before its full join
    # (analysis/reconciliation.py, SURVEY §3.3); the star testdata's
    # duplicate line-1 pairs otherwise fan out and trip the flow
    # statement's grain guard
    k = F.col("_k")
    fx_c = F.lit(1.0) + (k % 7).cast("double") / F.lit(100.0)
    cur = (
        out.results.where(F.col("approach") == "IRB")
        .groupBy("exposure_reference")
        .agg(scaled_sum(F.col("rwa"), 2).alias("rwa"))
        .withColumn(
            "_k", F.expr("CAST(substring(exposure_reference, 2) AS BIGINT)")
        )
    )
    prior = cur.where(~(k % 17 == 0)).select(
        "exposure_reference",
        (
            F.col("rwa")
            * (F.lit(1.0) + ((k % 5).cast("double") - F.lit(2.0)) / F.lit(100.0))
        ).alias("rwa"),
        F.concat(
            F.lit("M"),
            F.when(k % 23 == 0, (k + 1) % 3).otherwise(k % 3),
        ).alias("model_id"),
        (fx_c * F.when(k % 5 == 0, F.lit(1.02)).otherwise(F.lit(1.0))).alias(
            "fx_rate"
        ),
    )
    cur = cur.select(
        "exposure_reference",
        "rwa",
        F.concat(F.lit("M"), k % 3).alias("model_id"),
        fx_c.alias("fx_rate"),
    )
    return rwa_flow_statement(cur, prior)


# ---------------------------------------------------------------------------
# CMS1 / CMS2 — modelled vs standardised RWEA comparison (Basel 3.1 only)
# ---------------------------------------------------------------------------

_B31_CHAIN = _SQL_BASE.format(irb_flag=_IRB_FLAG) + _SQL_B31_SIDE + _SQL_B31_FLOORED

_CMS1_ORACLE = _B31_CHAIN + f"""
    , m AS (
        SELECT {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN rwa ELSE 0.0 END", 2)} AS a,
               {sql_scaled_sum("CASE WHEN approach <> 'IRB' THEN rwa ELSE 0.0 END", 2)} AS b,
               {sql_scaled_sum('sa_equiv', 2)} AS d
        FROM b_floored
    )
    SELECT '0010' AS row_ref, a AS rwea_modelled, b AS rwea_std,
           a + b AS rwea_total, d AS rwea_full_sa FROM m
    UNION ALL SELECT '0020', 0.0, 0.0, 0.0, 0.0 FROM m
    UNION ALL SELECT '0080', a, b, a + b, d FROM m
    """


@query("pillar3_cms1", oracle=_CMS1_ORACLE, tags=("rwa", "reporting", "tolerant"))
def pillar3_cms1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CMS1 — modelled vs standardised RWEA by risk type, Basel 3.1
    only (ref reporting/pillar3/cms1.py build_cms1_spec; PS1/26
    Art.456(1)(a), Annex II). Column semantics follow the reference's
    recorded decisions: column a is the MODELLED population (IRB-family
    approaches), column b its COMPLEMENT — never an SA allow-list, so an
    unrecognised approach label lands in b rather than dropping out of both
    (cms1.py:18-25, the recorded CCR-leg fix); column c = a + b (the
    columns partition each row); column d re-prices the row's WHOLE
    population through the SA ladder (the ledger's rwa_sa_equivalent — the
    Art.92(3) floor base, cms1.py:26-33). Rows: 0010 credit risk (risk_type
    CREDIT), 0020 CCR — keyed on the EXPLICIT CCR risk-type set, never its
    complement (a complement would sweep securitisation/equity/settlement
    books into the CCR row); BOUND and zero-filling on a book with no CCR
    legs (cms1.py:40-41, 88-95); 0080 total over the WHOLE book — other
    risk types enter only the total, mirroring the reference's fixed
    out-of-scope middle rows. a/b sum the POST-output-floor rwa."""
    out = _irb_run(spark, sf_dir, pack=B31_PACK)
    r = out.results
    is_m = F.col("approach") == "IRB"
    is_credit = F.col("risk_type") == "CREDIT"
    is_ccr = F.col("risk_type").isin(*_CCR_RISK_TYPES)
    s = r.agg(
        scaled_sum(F.when(is_credit & is_m, F.col("rwa")).otherwise(0.0), 2).alias("a"),
        scaled_sum(F.when(is_credit & ~is_m, F.col("rwa")).otherwise(0.0), 2).alias("b"),
        scaled_sum(F.when(is_credit, F.col("rwa_sa_equivalent")).otherwise(0.0), 2).alias("d"),
        scaled_sum(F.when(is_ccr & is_m, F.col("rwa")).otherwise(0.0), 2).alias("ccr_a"),
        scaled_sum(F.when(is_ccr & ~is_m, F.col("rwa")).otherwise(0.0), 2).alias("ccr_b"),
        scaled_sum(F.when(is_ccr, F.col("rwa_sa_equivalent")).otherwise(0.0), 2).alias("ccr_d"),
        scaled_sum(F.when(is_m, F.col("rwa")).otherwise(0.0), 2).alias("tot_a"),
        scaled_sum(F.when(~is_m, F.col("rwa")).otherwise(0.0), 2).alias("tot_b"),
        scaled_sum(F.col("rwa_sa_equivalent"), 2).alias("tot_d"),
    ).collect()[0]  # O(1) scalars — driver-sized by design
    rows = [
        ("0010", s.a, s.b, s.a + s.b, s.d),
        ("0020", s.ccr_a, s.ccr_b, s.ccr_a + s.ccr_b, s.ccr_d),
        ("0080", s.tot_a, s.tot_b, s.tot_a + s.tot_b, s.tot_d),
    ]
    return spark.createDataFrame(
        rows,
        "row_ref string, rwea_modelled double, rwea_std double, "
        "rwea_total double, rwea_full_sa double",
    )


_CMS2_ORACLE = _B31_CHAIN + f"""
    SELECT exposure_class AS row_label,
           {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN rwa ELSE 0.0 END", 2)}
               AS rwea_modelled,
           {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN sa_equiv ELSE 0.0 END", 2)}
               AS sa_of_modelled,
           {sql_scaled_sum('rwa', 2)} AS rwea_total,
           {sql_scaled_sum('sa_equiv', 2)} AS rwea_full_sa
    FROM b_floored GROUP BY exposure_class
    UNION ALL
    SELECT 'total',
           {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN rwa ELSE 0.0 END", 2)},
           {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN sa_equiv ELSE 0.0 END", 2)},
           {sql_scaled_sum('rwa', 2)},
           {sql_scaled_sum('sa_equiv', 2)}
    FROM b_floored
    """


@query("pillar3_cms2", oracle=_CMS2_ORACLE, tags=("rwa", "reporting", "tolerant"))
def pillar3_cms2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CMS2 — modelled vs standardised RWEA by asset class, Basel
    3.1 only (ref reporting/pillar3/cms2.py; PS1/26 Art.456(1)(b)). Rows
    key the ORIGINATION exposure_class (cms2.py:12-17 — substitution moves
    no row); column a sums the modelled approaches' actual (floored) RWA
    within the class, column b their SA-equivalent (the "SA recomputation
    of exposures reported in column a" — same population, never
    re-bucketed), column c the class's WHOLE actual RWA across all
    approaches (the recorded fix: an approach allow-list here dropped
    equity rows and under-stated the total, cms2.py:22-28), column d the
    full-SA re-pricing of the whole class (the per-class floor base). The
    total row re-aggregates from exposure grain, not from the class rows —
    fixed-point sums make the two identical, which tests/test_reporting
    asserts as a conservation property."""
    out = _irb_run(spark, sf_dir, pack=B31_PACK)
    r = out.results
    is_m = F.col("approach") == "IRB"
    aggs = [
        scaled_sum(F.when(is_m, F.col("rwa")).otherwise(0.0), 2).alias("rwea_modelled"),
        scaled_sum(F.when(is_m, F.col("rwa_sa_equivalent")).otherwise(0.0), 2).alias(
            "sa_of_modelled"
        ),
        scaled_sum(F.col("rwa"), 2).alias("rwea_total"),
        scaled_sum(F.col("rwa_sa_equivalent"), 2).alias("rwea_full_sa"),
    ]
    per_class = r.groupBy(F.col("exposure_class").alias("row_label")).agg(*aggs)
    total = r.agg(*aggs).select(
        F.lit("total").alias("row_label"),
        "rwea_modelled",
        "sa_of_modelled",
        "rwea_total",
        "rwea_full_sa",
    )
    return per_class.unionByName(total)


_OF02_ORACLE = _B31_CHAIN + f"""
    , m AS (
        SELECT {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN rwa_pre_floor ELSE 0.0 END", 2)} AS a,
               {sql_scaled_sum("CASE WHEN approach <> 'IRB' THEN rwa_pre_floor ELSE 0.0 END", 2)} AS b,
               {sql_scaled_sum('sa_equiv', 2)} AS s
        FROM b_floored
    )
    SELECT '0010' AS row_ref, a AS utrea_modelled, b AS utrea_std,
           a + b AS utrea_total, s AS strea FROM m
    UNION ALL SELECT '0020', 0.0, 0.0, 0.0, 0.0 FROM m
    UNION ALL SELECT '0080', a, b, a + b, s FROM m
    """


@query("corep_of02", oracle=_OF02_ORACLE, tags=("rwa", "reporting", "tolerant"))
def corep_of02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COREP OF 02.01 — output-floor comparison, Basel 3.1 only (ref
    reporting/corep/of02.py; PS1/26 Art.92 ¶2A/3A, Annex II §1.3.2).
    Columns PARTITION the book (the reference's recorded 2026-07-14 fix:
    column 0020 is the COMPLEMENT of the modelled set, never an SA
    allow-list — before it, both columns summed the whole ledger and 0030
    reported 2.18× the book): 0010 = Σ PRE-floor RWA of the modelled
    approaches (the ledger's rwa_pre_floor carrier — the mirror image of
    the "rwa is already post-floor" trap, of02.py:36-40), 0020 = the
    complement's own pre-floor RWA, 0030 (U-TREA) = their sum, 0040
    (S-TREA) = Σ rwa_sa_equivalent over the row's WHOLE population. Rows
    0010 credit-excl-CCR / 0020 CCR (keyed on the EXPLICIT CCR risk-type
    set, never its complement — of02.py's own recorded trap; zero-filling
    bound row) / 0080 total over the WHOLE book (other risk types enter
    only the total, mirroring the fixed out-of-scope middle rows)."""
    out = _irb_run(spark, sf_dir, pack=B31_PACK)
    r = out.results
    is_m = F.col("approach") == "IRB"
    is_credit = F.col("risk_type") == "CREDIT"
    is_ccr = F.col("risk_type").isin(*_CCR_RISK_TYPES)
    s = r.agg(
        scaled_sum(
            F.when(is_credit & is_m, F.col("rwa_pre_floor")).otherwise(0.0), 2
        ).alias("a"),
        scaled_sum(
            F.when(is_credit & ~is_m, F.col("rwa_pre_floor")).otherwise(0.0), 2
        ).alias("b"),
        scaled_sum(
            F.when(is_credit, F.col("rwa_sa_equivalent")).otherwise(0.0), 2
        ).alias("s"),
        scaled_sum(
            F.when(is_ccr & is_m, F.col("rwa_pre_floor")).otherwise(0.0), 2
        ).alias("ca"),
        scaled_sum(
            F.when(is_ccr & ~is_m, F.col("rwa_pre_floor")).otherwise(0.0), 2
        ).alias("cb"),
        scaled_sum(
            F.when(is_ccr, F.col("rwa_sa_equivalent")).otherwise(0.0), 2
        ).alias("cs"),
        scaled_sum(F.when(is_m, F.col("rwa_pre_floor")).otherwise(0.0), 2).alias(
            "tot_a"
        ),
        scaled_sum(F.when(~is_m, F.col("rwa_pre_floor")).otherwise(0.0), 2).alias(
            "tot_b"
        ),
        scaled_sum(F.col("rwa_sa_equivalent"), 2).alias("tot_s"),
    ).collect()[0]  # O(1) scalars — driver-sized by design
    rows = [
        ("0010", s.a, s.b, s.a + s.b, s.s),
        ("0020", s.ca, s.cb, s.ca + s.cb, s.cs),
        ("0080", s.tot_a, s.tot_b, s.tot_a + s.tot_b, s.tot_s),
    ]
    return spark.createDataFrame(
        rows,
        "row_ref string, utrea_modelled double, utrea_std double, "
        "utrea_total double, strea double",
    )


# ---------------------------------------------------------------------------
# SA / IRB scope sheets
# ---------------------------------------------------------------------------

_SA_SCOPE_ORACLE = _CCR_SFT_CTES + f"""
    SELECT exposure_class,
           count(*) AS n_exposures,
           {sql_scaled_sum('drawn_amount', 2)} AS gross_on_bs,
           {sql_scaled_sum('undrawn_amount', 2)} AS gross_off_bs,
           {sql_scaled_sum('ead', 2)} AS ead_post,
           {sql_scaled_sum('(ead * risk_weight) * sf', 2)} AS rwea
    FROM with_rw
    WHERE approach = 'SA' AND etype NOT IN ('ccr', 'sft')
    GROUP BY exposure_class
    """


@query("pillar3_sa_scope", oracle=_SA_SCOPE_ORACLE, tags=("rwa", "reporting"))
def pillar3_sa_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 SA credit-risk scope sheet (ref
    reporting/pillar3/sa_scope.py sa_credit_risk_population; CRR
    Art.444(e) vs Art.439): the CR4/CR5 population EXCLUDES the
    counterparty-credit-risk synthetic legs — SA-CCR netting sets and FCCM
    SFT rows — which are disclosed in the CCR-series templates instead
    (sa_scope.py:8-17: the deliberate mirror-image of COREP C 07.00, which
    INCLUDES them). The exclusion keys the ledger's risk_type
    discriminator, never the approach label — under CRR the CCR legs carry
    approach 'standardised' and an approach filter would no-op exactly
    where it matters (the reference's recorded CMS1 trap, cms1.py:88-95).
    Securitisation pool rows leave via their SEC-SA approach."""
    release_cached_blocks(spark)
    out = _ccr_sft_pipeline(spark, sf_dir)
    r = out.results.where(
        (F.col("approach") == "SA") & (F.col("risk_type") == "CREDIT")
    )
    return r.groupBy("exposure_class").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("drawn_amount"), 2).alias("gross_on_bs"),
        scaled_sum(F.col("undrawn_amount"), 2).alias("gross_off_bs"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("ead_post"),
        scaled_sum(F.col("rwa"), 2).alias("rwea"),
    )


_C07_ORACLE = _CCR_SFT_CTES + f"""
    SELECT CASE WHEN etype = 'ccr' THEN 'ccr_derivatives'
                WHEN etype = 'sft' THEN 'ccr_sft'
                ELSE exposure_class END AS row_label,
           count(*) AS n_exposures,
           {sql_scaled_sum('drawn_amount + undrawn_amount', 2)} AS original_exposure,
           {sql_scaled_sum('ead', 2)} AS ead_post,
           {sql_scaled_sum('(ead * risk_weight) * sf', 2)} AS rwea
    FROM with_rw
    WHERE approach = 'SA'
    GROUP BY 1
    """


@query("corep_c07", oracle=_C07_ORACLE, tags=("rwa", "reporting"))
def corep_c07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COREP C 07.00 — SA credit and counterparty credit risk (ref
    reporting/corep/c07.py, 1,613 LoC; COREP Annex II ¶40-43). The
    deliberate MIRROR-IMAGE of the Pillar 3 SA scope sheet
    (sa_scope.py:8-17): C 07.00 INCLUDES the CCR legs by risk_type —
    Annex II rows 0090-0130 break derivatives and SFTs out as their own
    rows within the SA template, where CR4/CR5 exclude them entirely.
    Each template owns its own recorded basis; a shared scope constant is
    how one template's population would leak into the other. Rows: the
    Art.112 exposure classes for the credit book plus the
    ccr_derivatives / ccr_sft breakout rows (keyed on the ledger's
    risk_type discriminator, never the approach label); columns: original
    exposure pre-CF/CCF (the gross carriers), post-CCF/CRM exposure
    value, RWEA."""
    release_cached_blocks(spark)
    out = _ccr_sft_pipeline(spark, sf_dir)
    r = out.results.where(F.col("approach") == "SA")
    row_label = (
        F.when(F.col("risk_type") == "CCR_DERIVATIVE", "ccr_derivatives")
        .when(F.col("risk_type") == "CCR_SFT", "ccr_sft")
        .otherwise(F.col("exposure_class"))
    )
    return r.groupBy(row_label.alias("row_label")).agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("drawn_amount") + F.col("undrawn_amount"), 2).alias(
            "original_exposure"
        ),
        scaled_sum(F.col("ead_after_crm"), 2).alias("ead_post"),
        scaled_sum(F.col("rwa"), 2).alias("rwea"),
    )


_IRB_SCOPE_ORACLE = _SQL_BASE.format(irb_flag=_IRB_FLAG) + _SQL_IRB_CORE + f"""
    , scope_gross AS (
        SELECT exposure_class,
               count(*) AS n_exposures,
               {sql_scaled_sum('drawn_amount', 2)} AS gross_on_bs,
               {sql_scaled_sum('undrawn_amount', 2)} AS gross_off_bs
        FROM routed WHERE has_irb_permission GROUP BY exposure_class
    ), scope_rwea AS (
        SELECT exposure_class,
               {sql_scaled_sum('ead', 2)} AS ead_post,
               {sql_scaled_sum('rwa', 2)} AS rwea
        FROM unioned WHERE approach = 'IRB' GROUP BY exposure_class
    )
    SELECT g.exposure_class, g.n_exposures, g.gross_on_bs, g.gross_off_bs,
           r.ead_post, r.rwea
    FROM scope_gross g JOIN scope_rwea r ON g.exposure_class = r.exposure_class
    """


@query("pillar3_irb_scope", oracle=_IRB_SCOPE_ORACLE, tags=("rwa", "reporting", "tolerant"))
def pillar3_irb_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 IRB scope sheet (ref reporting/pillar3/irb_scope.py): the
    CR6/CR7/CR8 population — obligors routed to the IRB approaches — per
    applied class with the gross on/off-balance split (the ledger's
    pre-CF/CCF drawn/undrawn carriers), post-CRM EAD and RWEA. The same
    sealed-ledger population CR6 bands by PD and CR8 flows
    period-over-period, so the three templates cannot disagree on scope."""
    out = _irb_run(spark, sf_dir)
    r = out.results.where(F.col("approach") == "IRB")
    return r.groupBy("exposure_class").agg(
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("drawn_amount"), 2).alias("gross_on_bs"),
        scaled_sum(F.col("undrawn_amount"), 2).alias("gross_off_bs"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("ead_post"),
        scaled_sum(F.col("rwa"), 2).alias("rwea"),
    )


_C0807_ORACLE = _SQL_BASE.format(irb_flag=_IRB_FLAG) + _SQL_IRB_CORE + f"""
    , scope AS (
        SELECT exposure_class,
               {sql_scaled_sum('ead', 2)} AS ead_total,
               {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN ead ELSE 0.0 END", 2)}
                   AS ead_irb
        FROM unioned GROUP BY exposure_class
        UNION ALL
        SELECT 'total', {sql_scaled_sum('ead', 2)},
               {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN ead ELSE 0.0 END", 2)}
        FROM unioned
    )
    SELECT exposure_class AS row_label, ead_total, ead_irb,
           round(ead_irb / nullif(ead_total, 0.0), 10) AS pct_irb,
           round((ead_total - ead_irb) / nullif(ead_total, 0.0), 10) AS pct_sa_ppu
    FROM scope
    """


@query("corep_c08_07", oracle=_C0807_ORACLE, tags=("rwa", "reporting", "tolerant"))
def corep_c08_07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COREP C 08.07 — IRB scope of use (ref reporting/corep/c08_07.py;
    CRR Art.148/150, PS1/26 Annex II §3.3.10.2). The population is the
    FULL ledger — SA enters every denominator (c08_07.py:10-12) — keyed by
    the raw origination exposure_class with a whole-population total row.
    Columns are DPM FRACTIONS, not 0-100 percentages (c08_07.py:27-28):
    pct_irb = IRB-treated EAD share, pct_sa_ppu = the permanent-partial-use
    complement (no is_under_irb_rollout carrier in this bundle, so the
    roll-out column is empty and PPU keeps the whole SA share — the
    reference's documented absent-carrier behaviour, c08_07.py:29-35)."""
    out = _irb_run(spark, sf_dir)
    r = out.results
    ead_total = scaled_sum(F.col("ead_after_crm"), 2)
    ead_irb = scaled_sum(
        F.when(F.col("approach").isin("IRB", "SLOTTING"), F.col("ead_after_crm")).otherwise(
            0.0
        ),
        2,
    )
    per_class = r.groupBy(F.col("exposure_class").alias("row_label")).agg(
        ead_total.alias("ead_total"), ead_irb.alias("ead_irb")
    )
    total = r.agg(ead_total.alias("ead_total"), ead_irb.alias("ead_irb")).select(
        F.lit("total").alias("row_label"), "ead_total", "ead_irb"
    )
    scope = per_class.unionByName(total)
    return scope.select(
        "row_label",
        "ead_total",
        "ead_irb",
        F.round(F.col("ead_irb") / F.nullif(F.col("ead_total"), F.lit(0.0)), 10).alias(
            "pct_irb"
        ),
        F.round(
            (F.col("ead_total") - F.col("ead_irb"))
            / F.nullif(F.col("ead_total"), F.lit(0.0)),
            10,
        ).alias("pct_sa_ppu"),
    )


# ---------------------------------------------------------------------------
# Pillar 3 CR7-A — extent of the use of CRM techniques
# ---------------------------------------------------------------------------

# Funded + unfunded protection over the SA star book: every 4th loan is
# collateralised 1:1 (supplied 10% haircut — share 1.0, no mismatch, so the
# allocation is exactly mv × 0.9), every 6th carries a guarantee (the
# crm-substitution mapping). Both effects then flow into the ledger rwa.
_CR7A_ORACLE = _SQL_BASE.format(irb_flag="FALSE") + f"""
    , coll AS (
        SELECT 'L' || o_orderkey AS exposure_reference,
               ((o_totalprice * 0.3) * (1 - 0.1)) * (1 - 0.0) AS allocated
        FROM orders WHERE o_orderkey % 4 = 0
    ){_GTEES_SQL}
    , crm AS (
        SELECT e.*,
               coalesce(c.allocated, 0.0) AS collateral_value,
               greatest(e.ead - coalesce(c.allocated, 0.0), 0.0) AS ead_after,
               coalesce(g.g_coverage, 0.0) AS g_coverage,
               g.g_class, g.g_cqs
        FROM with_ead e
        LEFT JOIN coll c ON e.exposure_reference = c.exposure_reference
        LEFT JOIN gtees g ON e.exposure_reference = g.exposure_reference
    ), rw AS (
        SELECT w.*,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS own_rw,
               grw.rw AS g_rw,
               {_SQL_SME_SF.format(p='w.')} AS sf
        FROM crm w
        LEFT JOIN {_SQL_SA_RW}
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
        LEFT JOIN {_G_RW_SQL} ON w.g_class = grw.gc AND coalesce(w.g_cqs, 0) = grw.gq
    ), ledger AS (
        SELECT exposure_class, ead_after, collateral_value, g_coverage,
               ((ead_after * (g_coverage * least(own_rw, coalesce(g_rw, own_rw))
                              + (1 - g_coverage) * own_rw)) * sf) AS rwa,
               ((ead_after * own_rw) * sf) AS rwa_pre
        FROM rw
    )
    SELECT exposure_class,
           {sql_scaled_sum('ead_after', 2)} AS ead_post,
           round(({sql_scaled_sum('least(collateral_value, ead_after)', 2)})
                 / ({sql_scaled_sum('ead_after', 2)}) * 100.0, 10) AS fcp_financial_pct,
           round(({sql_scaled_sum('g_coverage * ead_after', 2)})
                 / ({sql_scaled_sum('ead_after', 2)}) * 100.0, 10) AS ufcp_guarantee_pct,
           {sql_scaled_sum('rwa_pre', 2)} AS rwea_without_subst,
           {sql_scaled_sum('rwa', 2)} AS rwea_with_subst
    FROM ledger GROUP BY exposure_class
    """


@query("pillar3_cr7a", oracle=_CR7A_ORACLE, tags=("rwa", "reporting"))
def pillar3_cr7a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR7-A — extent of the use of CRM techniques (ref
    reporting/pillar3/cr7a.py; CRR Art.453(g), PS1/26 Annex XXII). Rows key
    the obligor's applied class "without taking into account any
    substitution effects" (cr7a.py:20-25); column a is the row's EAD; the
    funded-collateral percentage divides the per-LEG-capped allocation sum
    by the row EAD ×100 — capping the summed numerator instead would let an
    over-collateralised leg subsidise an under-collateralised one
    (cr7a.py:27-33, the recorded per-leg-cap decision); the guarantee
    column carries no cap in either instruction set and stays uncapped
    (cr7a.py:33-35). Column m (RWEA without substitution) reads the
    ledger's rwa_pre_crm_substitution carrier — the reference records
    exactly this carrier as the missing piece forcing its m = n
    approximation ("the m-side needs a pre-substitution RWA carrier",
    cr7a.py:36-41); column n is the actual post-substitution RWEA. Every
    figure is a pure aggregation of the audit ledger's CRM carriers
    (collateral_value, g_coverage, ead_after_crm, rwa)."""
    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=False)
    o = load_table(spark, sf_dir, "orders")
    coll = o.where(F.col("o_orderkey") % 4 == 0).select(
        F.concat(F.lit("COL"), F.col("o_orderkey")).alias("collateral_reference"),
        (F.col("o_totalprice") * 0.3).alias("market_value"),
        F.lit(0.1).alias("haircut"),
        F.lit(False).alias("currency_mismatch"),
    )
    links = o.where(F.col("o_orderkey") % 4 == 0).select(
        F.concat(F.lit("COL"), F.col("o_orderkey")).alias("collateral_reference"),
        F.concat(F.lit("L"), F.col("o_orderkey")).alias("exposure_reference"),
    )
    from dataclasses import replace as dc_replace

    bundle = dc_replace(
        bundle, collateral=coll, collateral_links=links, guarantees=_star_gtees(o)
    )
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    r = out.results
    ead = scaled_sum(F.col("ead_after_crm"), 2)
    return r.groupBy("exposure_class").agg(
        ead.alias("ead_post"),
        F.round(
            scaled_sum(F.least("collateral_value", "ead_after_crm"), 2) / ead * 100.0,
            10,
        ).alias("fcp_financial_pct"),
        F.round(
            scaled_sum(F.col("g_coverage") * F.col("ead_after_crm"), 2) / ead * 100.0,
            10,
        ).alias("ufcp_guarantee_pct"),
        scaled_sum(F.col("rwa_pre_crm_substitution"), 2).alias("rwea_without_subst"),
        scaled_sum(F.col("rwa"), 2).alias("rwea_with_subst"),
    )


# ---------------------------------------------------------------------------
# COREP CRM substitution — cross-class inflow/outflow router
# ---------------------------------------------------------------------------

_CRM_SUBST_ORACLE = _SQL_BASE.format(irb_flag="FALSE") + f"""
    , with_rw AS (
        SELECT w.*,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS own_rw
        FROM with_ead w
        LEFT JOIN (VALUES
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
        ) AS rwt(rw_class, rw_cqs, rw)
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    ){_GTEES_SQL}
    , legs AS (
        SELECT r.exposure_class, g.g_class,
               g.g_coverage * r.ead AS covered,
               (g.g_coverage > 0 AND coalesce(grw.rw, r.own_rw) < r.own_rw)
                   AS beneficial
        FROM with_rw r
        JOIN gtees g ON r.exposure_reference = g.exposure_reference
        LEFT JOIN {_G_RW_SQL}
          ON g.g_class = grw.gc AND g.g_cqs = grw.gq
    ), outflows AS (
        SELECT exposure_class,
               {sql_scaled_sum('CASE WHEN beneficial THEN covered ELSE 0.0 END', 2)}
                   AS outflow
        FROM legs GROUP BY exposure_class
    ), inflows AS (
        SELECT g_class AS exposure_class,
               {sql_scaled_sum('CASE WHEN beneficial THEN covered ELSE 0.0 END', 2)}
                   AS inflow
        FROM legs GROUP BY g_class
    )
    SELECT coalesce(o.exposure_class, i.exposure_class) AS exposure_class,
           coalesce(o.outflow, 0.0) AS outflow,
           coalesce(i.inflow, 0.0) AS inflow,
           coalesce(i.inflow, 0.0) - coalesce(o.outflow, 0.0) AS net
    FROM outflows o FULL OUTER JOIN inflows i
      ON o.exposure_class = i.exposure_class
    """


@query("corep_crm_substitution", oracle=_CRM_SUBST_ORACLE, tags=("rwa", "reporting"))
def corep_crm_substitution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COREP CRM-substitution inflow/outflow router (ref
    reporting/corep/crm_substitution.py — the cross-template router feeding
    C 07.00 col 0100 / C 08.01 col 0080; CRR Art.235/236, COREP Annex II
    "Exposures stemming from possible in- and outflows from and to other
    templates shall be taken into account"). The inflow map is computed
    ONCE over the WHOLE sealed population — the reference's retired defect
    was each template deriving its own map from its approach-filtered
    slice, so a substitution crossing the SA/IRB boundary outflowed on one
    template and inflowed on NEITHER (crm_substitution.py:19-31). The
    routing key is the ledger's guarantor destination class (`g_class`,
    the new provenance carrier); same-class migrations are INCLUDED
    (Annex II: "inflows and outflows within the same exposure classes …
    shall also be considered" — gating on a class CHANGE shrinks the
    return, the reference's reproduced rgla→rgla bug). A covered leg
    counts only when substitution actually bound (the '+guarantee'
    rw_source marker = the beneficial gate). Σ inflows ≡ Σ outflows by
    construction — the conservation the router makes impossible to break."""
    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=False)
    from dataclasses import replace as dc_replace

    bundle = dc_replace(
        bundle, guarantees=_star_gtees(load_table(spark, sf_dir, "orders"))
    )
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    r = out.results
    covered = F.col("g_coverage") * F.col("ead_after_crm")
    beneficial = F.col("rw_source").contains("+guarantee")
    legs = r.where(F.col("g_class").isNotNull()).select(
        "exposure_class",
        "g_class",
        F.when(beneficial, covered).otherwise(0.0).alias("moved"),
    )
    outflows = legs.groupBy("exposure_class").agg(
        scaled_sum(F.col("moved"), 2).alias("outflow")
    )
    inflows = legs.groupBy(F.col("g_class").alias("in_class")).agg(
        scaled_sum(F.col("moved"), 2).alias("inflow")
    )
    j = outflows.join(inflows, outflows.exposure_class == inflows.in_class, "full")
    return j.select(
        F.coalesce("exposure_class", "in_class").alias("exposure_class"),
        F.coalesce("outflow", F.lit(0.0)).alias("outflow"),
        F.coalesce("inflow", F.lit(0.0)).alias("inflow"),
        (F.coalesce("inflow", F.lit(0.0)) - F.coalesce("outflow", F.lit(0.0))).alias(
            "net"
        ),
    )


# ---------------------------------------------------------------------------
# COREP C 09.01 — geographical breakdown
# ---------------------------------------------------------------------------

_C09_RW = f"""
    , with_rw AS (
        SELECT w.*,
               CASE WHEN w.is_defaulted THEN 1.5
                    WHEN w.exposure_class = 'retail' THEN 0.75
                    WHEN rwt.rw IS NOT NULL THEN rwt.rw
                    ELSE 1.0 END AS risk_weight,
               CASE WHEN w.exposure_class = 'corporate' AND w.annual_revenue > 0
                         AND w.annual_revenue <= 50000000
                         AND NOT w.is_defaulted
                    THEN CASE WHEN w.group_drawn > 0
                         THEN (least(w.group_drawn, 2500000.0) * 0.7619
                               + greatest(w.group_drawn - 2500000.0, 0.0) * 0.85)
                              / w.group_drawn
                         ELSE 0.7619 END
                    ELSE 1.0 END AS sf
        FROM with_ead w
        LEFT JOIN (VALUES
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
        ) AS rwt(rw_class, rw_cqs, rw)
          ON w.exposure_class = rwt.rw_class AND coalesce(w.cqs, 0) = rwt.rw_cqs
    )
"""

_C09_ORACLE = _SQL_BASE.format(irb_flag="FALSE") + _C09_RW + f"""
    SELECT coalesce(country, 'UNKNOWN') AS sheet, exposure_class,
           count(*) AS n_exposures,
           {sql_scaled_sum('ead', 2)} AS ead,
           {sql_scaled_sum('(ead * risk_weight) * sf', 2)} AS rwea
    FROM with_rw GROUP BY 1, 2
    UNION ALL
    SELECT 'TOTAL', exposure_class, count(*),
           {sql_scaled_sum('ead', 2)},
           {sql_scaled_sum('(ead * risk_weight) * sf', 2)}
    FROM with_rw GROUP BY 2
    """


@query("corep_c09", oracle=_C09_ORACLE, tags=("rwa", "reporting"))
def corep_c09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COREP C 09.01 — geographical breakdown of exposures by obligor
    country (ref reporting/corep/c09.py — the reference's largest template,
    1,368 LoC: one sheet per counterparty country plus the TOTAL sheet it
    emits first, which the validation evaluator's eba_GA:x1 all-geographies
    member addresses; reporting/validations/evaluate.py:104-131). The
    ledger's new `country` carrier (obligor residence, joined broadcast on
    the counterparty dim at hierarchy time) is the sheet axis; each sheet
    reports per-class exposure count, post-CRM EAD and RWEA. The TOTAL
    sheet re-aggregates from exposure grain — fixed-point sums make
    Σ country sheets ≡ TOTAL bit-for-bit, the v8732_m identity."""
    release_cached_blocks(spark)
    bundle = _star_bundle(spark, sf_dir, irb=False)
    out = run_pipeline(bundle, PipelineConfig(pack=CRR_PACK))
    r = out.results
    aggs = [
        F.count("*").alias("n_exposures"),
        scaled_sum(F.col("ead_after_crm"), 2).alias("ead"),
        scaled_sum(F.col("rwa"), 2).alias("rwea"),
    ]
    per_country = r.groupBy(
        F.coalesce("country", F.lit("UNKNOWN")).alias("sheet"),
        "exposure_class",
    ).agg(*aggs)
    total = r.groupBy("exposure_class").agg(*aggs).select(
        F.lit("TOTAL").alias("sheet"), "exposure_class", "n_exposures", "ead", "rwea"
    )
    return per_country.unionByName(total)


# ---------------------------------------------------------------------------
# Pillar 3 CR6-A — scope of the use of IRB and SA approaches
# ---------------------------------------------------------------------------

_CR6A_ORACLE = _SQL_BASE.format(irb_flag=_IRB_FLAG) + _SQL_IRB_CORE + f"""
    , scope6a AS (
        SELECT exposure_class AS row_label,
               {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN ead ELSE 0.0 END", 2)}
                   AS ead_irb_a,
               {sql_scaled_sum('ead', 2)} AS ead_total_b
        FROM unioned GROUP BY exposure_class
        UNION ALL
        SELECT 'total',
               {sql_scaled_sum("CASE WHEN approach = 'IRB' THEN ead ELSE 0.0 END", 2)},
               {sql_scaled_sum('ead', 2)}
        FROM unioned
    )
    SELECT row_label, ead_irb_a, ead_total_b,
           CASE WHEN ead_total_b > 0
                THEN round((ead_total_b - ead_irb_a) / ead_total_b * 100.0, 10)
           END AS pct_sa_c,
           CASE WHEN ead_total_b > 0
                THEN round(ead_irb_a / ead_total_b * 100.0, 10)
           END AS pct_irb_d,
           0.0 AS pct_rollout_e
    FROM scope6a
    """


@query("pillar3_cr6a", oracle=_CR6A_ORACLE, tags=("rwa", "reporting", "tolerant"))
def pillar3_cr6a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pillar 3 CR6-A — scope of the use of IRB and SA approaches (ref
    reporting/pillar3/cr6a.py:1-193 build_cr6a_spec; CRR Art.452(b),
    PS1/26 Annex XXII UK CR6-A). Rows key the ORIGINATION exposure class
    over the FULL ledger — deliberately not the applied basis, so an
    SA-treated defaulted corporate stays on the Corporates scope row
    (cr6a.py:10-19, the recorded keying decision). Column a = EAD on the
    IRB-family approaches (slotting included in the family,
    cr6a.py:66-68 — vacuous on this bundle, which routes no slotting);
    column b = EAD across ALL approaches; c/d are the SA/IRB percentage
    pair (the SA share is exactly b − a — the approach subsets PARTITION
    the row, cr6a.py:71-84, null on an empty row rather than 0/0); e is
    the recorded constant 0.0 (roll-out plans are not pipeline data,
    cr6a.py:87-89). The Total row spans the whole population."""
    out = _irb_run(spark, sf_dir)
    r = out.results
    a = scaled_sum(
        F.when(
            F.col("approach").isin("IRB", "SLOTTING"), F.col("ead_after_crm")
        ).otherwise(0.0),
        2,
    )
    b = scaled_sum(F.col("ead_after_crm"), 2)
    per_class = r.groupBy(F.col("exposure_class").alias("row_label")).agg(
        a.alias("ead_irb_a"), b.alias("ead_total_b")
    )
    total = r.agg(a.alias("ead_irb_a"), b.alias("ead_total_b")).select(
        F.lit("total").alias("row_label"), "ead_irb_a", "ead_total_b"
    )
    scope = per_class.unionByName(total)
    bt = F.col("ead_total_b")
    return scope.select(
        "row_label",
        "ead_irb_a",
        "ead_total_b",
        F.when(bt > 0, F.round((bt - F.col("ead_irb_a")) / bt * 100.0, 10)).alias(
            "pct_sa_c"
        ),
        F.when(bt > 0, F.round(F.col("ead_irb_a") / bt * 100.0, 10)).alias(
            "pct_irb_d"
        ),
        F.lit(0.0).alias("pct_rollout_e"),
    )
