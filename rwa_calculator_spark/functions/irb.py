"""IRB capital formulas (Basel supervisory formula), backend-generic.

Re-expresses the reference's pure-expression IRB kernel
(ref engine/irb/formulas.py:571-925: `_correlation_expr_from_pd`,
`_polars_capital_k_expr`, maturity adjustment) through the same V-node
generator as functions/stats.py, so the Spark plan and the DuckDB oracle
run identical arithmetic. All constants that are pure functions of other
constants (e.g. 1 − e⁻⁵⁰) are folded in Python so both engines see the
same literal.

Formulas (public Basel III / CRR):
  w  = (1 − e^(−50·PD)) / (1 − e^(−50))
  R  = 0.12·w + 0.24·(1 − w)                      (corporate correlation)
  b  = (0.11852 − 0.05478·ln PD)²                  (maturity slope)
  MA = (1 + (M − 2.5)·b) / (1 − 1.5·b)
  K  = LGD·Φ( (G(PD) + √R·G(0.999)) / √(1−R) ) − PD·LGD
  RWA = K · MA · 12.5 · EAD
"""

from __future__ import annotations

import math

from pyspark.sql import Column

from rwa_calculator_spark.functions.stats import (
    G_999,
    SparkB,
    SqlB,
    V,
    _exp,
    _ln,
    _sqrt,
    _where,
    norm_cdf_v,
)

_DENOM_50 = 1.0 - math.exp(-50.0)  # folded constant, identical both engines
PD_FLOOR = 0.0003  # CRR Art. 160 corporate PD floor (ref engine/irb/formulas.py:191-205)


def pd_floor_v(pd: V) -> V:
    return _where(pd < PD_FLOOR, V(pd.b, pd.b.lit(PD_FLOOR)), pd)


def correlation_v(pd: V) -> V:
    w = (1.0 - _exp(-50.0 * pd)) / _DENOM_50
    return 0.12 * w + 0.24 * (1.0 - w)


_DENOM_35 = 1.0 - math.exp(-35.0)  # other-retail correlation decay

#: Asset-class correlations without a PD-driven term (CRR Art.154(3)/(4)).
R_RETAIL_MORTGAGE = 0.15
R_RETAIL_QRRE = 0.04
#: CRR Art.153(2): ×1.25 correlation multiplier for large regulated
#: financial-sector entities and all unregulated financial entities.
FI_CORRELATION_MULTIPLIER = 1.25


def correlation_other_retail_v(pd: V) -> V:
    """Other-retail correlation (CRR Art.154(1)): 0.03–0.16 with a
    35-decay, vs the corporate 0.12–0.24 with a 50-decay."""
    w = (1.0 - _exp(-35.0 * pd)) / _DENOM_35
    return 0.03 * w + 0.16 * (1.0 - w)


def sme_size_adjustment_v(sales_m: V) -> V:
    """CRR Art.153(4) firm-size adjustment SUBTRACTED from the corporate
    correlation for obligors with annual sales S ≤ €50m:
    0.04·(1 − (S−5)/45), S floored at €5m. Sales unknown → treat as 50
    (zero adjustment) — gate at the caller."""
    s = _where(sales_m < 5.0, V(sales_m.b, sales_m.b.lit(5.0)), sales_m)
    return 0.04 * (1.0 - (s - 5.0) / 45.0)


def capital_k_r_v(pd: V, lgd: V, g_pd: V, r: V) -> V:
    """K given a caller-supplied correlation R (asset-class routed)."""
    arg = (g_pd + _sqrt(r) * G_999) / _sqrt(1.0 - r)
    return lgd * norm_cdf_v(arg) - pd * lgd


def maturity_b_v(pd: V) -> V:
    t = V(pd.b, pd.b.lit(0.11852)) - 0.05478 * _ln(pd)
    return t * t


def maturity_adj_v(pd: V, m: V) -> V:
    b = maturity_b_v(pd)
    return (1.0 + (m - 2.5) * b) / (1.0 - 1.5 * b)


def capital_k_v(pd: V, lgd: V, g_pd: V) -> V:
    """K given a precomputed G(PD) (so the SQL oracle can stage it in a CTE)."""
    r = correlation_v(pd)
    arg = (g_pd + _sqrt(r) * G_999) / _sqrt(1.0 - r)
    return lgd * norm_cdf_v(arg) - pd * lgd


# --- Spark Column surface --------------------------------------------------


def irb_maturity_adj(pd: Column, m: Column) -> Column:
    return maturity_adj_v(V(SparkB, pd), V(SparkB, m)).v


def irb_pd_floor(pd: Column) -> Column:
    return pd_floor_v(V(SparkB, pd)).v


# --- Spark SQL-text surface (functions/sqltext.py) ----------------------


def with_irb_k(frame, pd: str = "pd", lgd: str = "lgd", g_pd: str = "g_pd", out: str = "k"):
    """Staged K: correlation and the Φ argument become real projection
    columns (leaf references downstream), keeping every expression tree
    small while computing bit-identical values to `capital_k_v` — column
    staging never rounds. CollapseProject won't re-inline them because they
    are non-cheap and multiply-referenced. `frame` is a DataFrame or a
    pending `sqltext.Projection` (the result is the same kind); every
    expression is SQL text. Φ itself routes through the generated-Java
    kernel when available (bit-identical — see functions/jvm_kernel.py) so
    the stage stays inside whole-stage codegen even when fused with the
    Φ⁻¹ producer."""
    from rwa_calculator_spark.functions.sqltext import Projection, col, kernel

    proj = Projection.of(frame).with_column("_irb_r", kernel(correlation_v, col(pd)))
    with_irb_k_r(proj, pd, lgd, g_pd, "_irb_r", out).drop("_irb_r")
    return proj if isinstance(frame, Projection) else proj.df


def with_irb_k_r(
    frame, pd: str = "pd", lgd: str = "lgd", g_pd: str = "g_pd",
    r: str = "r", out: str = "k",
):
    """Staged K with a caller-supplied correlation column (asset-class
    routed R — CRR Art.153(4)/154). Same staging discipline as
    `with_irb_k`; identical values when `r` equals the corporate curve."""
    from rwa_calculator_spark.functions.jvm_kernel import CDF_FN, ensure_jvm_kernel
    from rwa_calculator_spark.functions.sqltext import Projection, call, col, kernel, lit, sqrt

    proj = Projection.of(frame)
    arg = (col(g_pd) + sqrt(col(r)) * lit(G_999)) / sqrt(lit(1.0) - col(r))
    if ensure_jvm_kernel(proj.spark):
        proj.with_column(out, col(lgd) * call(CDF_FN, arg) - col(pd) * col(lgd))
    else:
        # the staged Φ repeats its argument ~20×: stage it as a column
        proj.with_column("_irb_arg", arg)
        phi = kernel(norm_cdf_v, col("_irb_arg"))
        proj.with_column(out, col(lgd) * phi - col(pd) * col(lgd)).drop("_irb_arg")
    return proj if isinstance(frame, Projection) else proj.df


# --- DuckDB SQL surface ----------------------------------------------------


def sql_capital_k(pd: str, lgd: str, g_pd: str) -> str:
    return capital_k_v(V(SqlB, pd), V(SqlB, lgd), V(SqlB, g_pd)).v


def sql_capital_k_r(pd: str, lgd: str, g_pd: str, r: str) -> str:
    """K given a correlation SQL fragment (asset-class routed R)."""
    return capital_k_r_v(V(SqlB, pd), V(SqlB, lgd), V(SqlB, g_pd), V(SqlB, r)).v


def sql_correlation(pd: str) -> str:
    return correlation_v(V(SqlB, pd)).v


def sql_correlation_other_retail(pd: str) -> str:
    return correlation_other_retail_v(V(SqlB, pd)).v


def sql_sme_size_adjustment(sales_m: str) -> str:
    return sme_size_adjustment_v(V(SqlB, sales_m)).v


def sql_maturity_adj(pd: str, m: str) -> str:
    return maturity_adj_v(V(SqlB, pd), V(SqlB, m)).v


def sql_pd_floor(pd: str) -> str:
    return pd_floor_v(V(SqlB, pd)).v
