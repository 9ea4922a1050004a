"""Normal CDF / inverse-CDF as pure Column expressions.

The reference used a native Polars plugin (`polars-normal-stats`, ref
engine/irb/stats_backend.py:13-44) for Φ and Φ⁻¹ in the IRB capital formula.
Spark has no built-in either; a Python UDF would break whole-stage codegen
on the hottest path (1M rows ≈ 300 ms in the reference, BASELINE.md). So we
build both as closed-form expressions:

- Φ via W. J. Cody's rational Chebyshev approximation of erf/erfc
  (Math. Comp. 23, 1969; the netlib CALERF coefficients) — ~1e-16 relative.
- Φ⁻¹ via P. Acklam's rational approximation (~1.15e-9) plus one Halley
  refinement step using the Cody Φ — ~machine precision. The reference pins
  G(0.999)=3.0902323061678132 (ref engine/irb/formulas.py:52); we match it.

Everything is generated from ONE coefficient table through three backends —
Spark Column, DuckDB SQL text, and plain Python floats — so the engine, the
oracle, and the test harness execute the *same arithmetic* (the only
cross-engine divergence left is exp/ln libm last-ulp noise; queries round
accordingly). Staying expression-level keeps the whole IRB pipeline inside
WholeStageCodegen at 100 TB (SURVEY §2.9, §7.2 hard-part 4).
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- backends --------------------------------------------------------------


class SparkB:
    @staticmethod
    def lit(v):
        return F.lit(float(v))

    null = staticmethod(lambda: F.lit(None).cast("double"))
    add = staticmethod(lambda a, b: a + b)
    sub = staticmethod(lambda a, b: a - b)
    mul = staticmethod(lambda a, b: a * b)
    div = staticmethod(lambda a, b: a / b)
    neg = staticmethod(lambda a: -a)
    exp = staticmethod(F.exp)
    ln = staticmethod(F.log)
    sqrt = staticmethod(F.sqrt)
    abs = staticmethod(F.abs)
    and_ = staticmethod(lambda a, b: a & b)
    le = staticmethod(lambda a, b: a <= b)
    lt = staticmethod(lambda a, b: a < b)
    gt = staticmethod(lambda a, b: a > b)

    @staticmethod
    def where(c, a, b):
        return F.when(c, a).otherwise(b)


class SqlB:
    @staticmethod
    def lit(v):
        return repr(float(v))

    null = staticmethod(lambda: "CAST(NULL AS DOUBLE)")
    add = staticmethod(lambda a, b: f"({a} + {b})")
    sub = staticmethod(lambda a, b: f"({a} - {b})")
    mul = staticmethod(lambda a, b: f"({a} * {b})")
    div = staticmethod(lambda a, b: f"({a} / {b})")
    neg = staticmethod(lambda a: f"(- {a})")
    exp = staticmethod(lambda a: f"exp({a})")
    ln = staticmethod(lambda a: f"ln({a})")
    sqrt = staticmethod(lambda a: f"sqrt({a})")
    abs = staticmethod(lambda a: f"abs({a})")
    and_ = staticmethod(lambda a, b: f"({a} AND {b})")
    le = staticmethod(lambda a, b: f"({a} <= {b})")
    lt = staticmethod(lambda a, b: f"({a} < {b})")
    gt = staticmethod(lambda a, b: f"({a} > {b})")

    @staticmethod
    def where(c, a, b):
        return f"(CASE WHEN {c} THEN {a} ELSE {b} END)"


class SparkSqlB(SqlB):
    """Spark-SQL text backend: like SqlB but literals carry the D suffix so
    they parse as DOUBLE (plain decimal literals are DECIMAL in Spark SQL).
    Emitting one F.expr(<string>) instead of thousands of py4j Column calls
    cuts plan-construction time for the big kernels from seconds to ~ms —
    the Catalyst expressions are identical either way."""

    @staticmethod
    def lit(v):
        return repr(float(v)) + "D"


class PyB:
    """Eager float backend — for constants and scipy-free validation.
    Only valid for inputs where every branch payload is finite."""

    @staticmethod
    def lit(v):
        return float(v)

    null = staticmethod(lambda: float("nan"))
    add = staticmethod(lambda a, b: a + b)
    sub = staticmethod(lambda a, b: a - b)
    mul = staticmethod(lambda a, b: a * b)
    neg = staticmethod(lambda a: -a)

    @staticmethod
    def div(a, b):
        # IEEE semantics: unselected CASE branches still evaluate eagerly here.
        if b == 0.0:
            return math.inf if a > 0 else (-math.inf if a < 0 else math.nan)
        return a / b

    @staticmethod
    def exp(a):
        try:
            return math.exp(a)
        except OverflowError:
            return math.inf
    ln = staticmethod(math.log)
    sqrt = staticmethod(math.sqrt)
    abs = staticmethod(abs)
    and_ = staticmethod(lambda a, b: a and b)
    le = staticmethod(lambda a, b: a <= b)
    lt = staticmethod(lambda a, b: a < b)
    gt = staticmethod(lambda a, b: a > b)

    @staticmethod
    def where(c, a, b):
        return a if c else b


class V:
    """Backend-polymorphic value node."""

    __slots__ = ("b", "v")

    def __init__(self, b, v):
        self.b, self.v = b, v

    def _c(self, o):
        return o.v if isinstance(o, V) else self.b.lit(o)

    def __add__(self, o):
        return V(self.b, self.b.add(self.v, self._c(o)))

    __radd__ = __add__

    def __sub__(self, o):
        return V(self.b, self.b.sub(self.v, self._c(o)))

    def __rsub__(self, o):
        return V(self.b, self.b.sub(self._c(o), self.v))

    def __mul__(self, o):
        return V(self.b, self.b.mul(self.v, self._c(o)))

    __rmul__ = __mul__

    def __truediv__(self, o):
        return V(self.b, self.b.div(self.v, self._c(o)))

    def __rtruediv__(self, o):
        return V(self.b, self.b.div(self._c(o), self.v))

    def __neg__(self):
        return V(self.b, self.b.neg(self.v))

    def __le__(self, o):
        return self.b.le(self.v, self._c(o))

    def __lt__(self, o):
        return self.b.lt(self.v, self._c(o))

    def __gt__(self, o):
        return self.b.gt(self.v, self._c(o))


def _exp(x: V) -> V:
    return V(x.b, x.b.exp(x.v))


def _ln(x: V) -> V:
    return V(x.b, x.b.ln(x.v))


def _sqrt(x: V) -> V:
    return V(x.b, x.b.sqrt(x.v))


def _abs(x: V) -> V:
    return V(x.b, x.b.abs(x.v))


def _where(c, a: V, b: V) -> V:
    return V(a.b, a.b.where(c, a.v, b.v))


def _horner(z: V, coeffs) -> V:
    """coeffs[0]*z^(n-1) + ... + coeffs[-1] evaluated Horner-style."""
    return reduce(lambda acc, c: acc * z + c, coeffs[1:], V(z.b, z.b.lit(coeffs[0])))


# --- Cody erf/erfc coefficients (netlib CALERF) ----------------------------

_ERF_A = [
    1.85777706184603153e-1, 3.16112374387056560e0, 1.13864154151050156e2,
    3.77485237685302021e2, 3.20937758913846947e3,
]
_ERF_B = [1.0, 2.36012909523441209e1, 2.44024637934444173e2, 1.28261652607737228e3, 2.84423683343917062e3]
_ERF_C = [
    2.15311535474403846e-8, 5.64188496988670089e-1, 8.88314979438837594e0,
    6.61191906371416295e1, 2.98635138197400131e2, 8.81952221241769090e2,
    1.71204761263407058e3, 2.05107837782607147e3, 1.23033935479799725e3,
]
_ERF_D = [
    1.0, 1.57449261107098347e1, 1.17693950891312499e2, 5.37181101862009858e2,
    1.62138957456669019e3, 3.29079923573345963e3, 4.36261909014324716e3,
    3.43936767414372164e3, 1.23033935480374942e3,
]
_ERF_P = [
    1.63153871373020978e-2, 3.05326634961232344e-1, 3.60344899949804439e-1,
    1.25781726111229246e-1, 1.60837851487422766e-2, 6.58749161529837803e-4,
]
_ERF_Q = [
    1.0, 2.56852019228982242e0, 1.87295284992346047e0, 5.27905102951428412e-1,
    6.05183413124413191e-2, 2.33520497626869185e-3,
]
_SQRPI = 5.6418958354775628695e-1  # 1/sqrt(pi)
_INV_SQRT2 = 0.7071067811865476
_SQRT_2PI = 2.5066282746310002


def _erfc_pos(v: V) -> V:
    """erfc(v) for v > 0.46875 (Cody regions 2 and 3)."""
    ez = _exp(-(v * v))
    r2 = ez * _horner(v, _ERF_C) / _horner(v, _ERF_D)
    z = 1.0 / (v * v)
    r = z * _horner(z, _ERF_P) / _horner(z, _ERF_Q)
    r3 = ez * (V(v.b, v.b.lit(_SQRPI)) - r) / v
    zero = V(v.b, v.b.lit(0.0))
    return _where(v <= 4.0, r2, _where(v < 26.5, r3, zero))


def norm_cdf_v(x: V) -> V:
    """Φ(x) = 0.5 * erfc(-x/√2)."""
    u = -x * _INV_SQRT2
    au = _abs(u)
    z = u * u
    erf_small = u * _horner(z, _ERF_A) / _horner(z, _ERF_B)
    half = V(x.b, x.b.lit(0.5))
    one = V(x.b, x.b.lit(1.0))
    return _where(
        au <= 0.46875,
        half * (one - erf_small),
        _where(u > 0.0, half * _erfc_pos(u), one - half * _erfc_pos(-u)),
    )


# --- Acklam inverse normal -------------------------------------------------

_ACK_A = [
    -3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
    1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00,
]
_ACK_B = [
    -5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
    6.680131188771972e01, -1.328068155288572e01, 1.0,
]
_ACK_C = [
    -7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
    -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00,
]
_ACK_D = [
    7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
    3.754408661907416e00, 1.0,
]
_P_LOW = 0.02425


def acklam_raw_v(p: V) -> V:
    """Acklam's rational Φ⁻¹ approximation (no refinement), p ∈ (0,1)."""
    ql = _sqrt(-2.0 * _ln(p))
    x_low = _horner(ql, _ACK_C) / _horner(ql, _ACK_D)
    qc = p - 0.5
    r = qc * qc
    x_cen = (_horner(r, _ACK_A) * qc) / _horner(r, _ACK_B)
    qu = _sqrt(-2.0 * _ln(1.0 - p))
    x_up = -(_horner(qu, _ACK_C) / _horner(qu, _ACK_D))
    return _where(
        p < _P_LOW, x_low, _where(p <= 1.0 - _P_LOW, x_cen, x_up)
    )


def halley_step_v(x: V, p: V) -> V:
    """One Halley refinement of x ≈ Φ⁻¹(p): machine-precision result.

    The error term e = Φ(x) − p is computed through the *small* tail on each
    side (upper tail via Φ(−x)) so it keeps full relative precision — the
    naive (1 − small) − p form cancels to ~1e-16 absolute and leaves a
    ~6e-14 residual in the 0.999 quantile, missing the reference's pinned
    G(0.999) (ref engine/irb/formulas.py:52)."""
    e = _where(
        p > 0.5,
        (1.0 - p) - norm_cdf_v(-x),  # = Φ(x) − p, via the upper tail
        norm_cdf_v(x) - p,
    )
    u = e * _SQRT_2PI * _exp((x * x) / 2.0)
    return x - u / (1.0 + x * u / 2.0)


def norm_ppf_v(p: V) -> V:
    null = V(p.b, p.b.null())
    inside = p.b.and_(p > 0.0, p < 1.0)
    refined = halley_step_v(acklam_raw_v(p), p)
    return _where(inside, refined, null)


# --- public API ------------------------------------------------------------


def normal_cdf(col: Column) -> Column:
    return norm_cdf_v(V(SparkB, col)).v


def normal_ppf(col: Column) -> Column:
    """Single-expression Φ⁻¹. For large plans prefer `with_normal_ppf`:
    the Halley step embeds Φ(±x₀), which textually repeats its argument
    ~17× across the Cody branches — inlining the whole Acklam tree there
    multiplies Catalyst analysis cost."""
    return norm_ppf_v(V(SparkB, col)).v


def with_normal_ppf(frame, p: str, out: str):
    """Φ⁻¹ of column `p` into column `out`, as SQL text.

    `frame` is a DataFrame or a pending `sqltext.Projection`; the result is
    the same kind (a Projection gains the column as one more step).

    Fast path: the generated-Java kernel (functions/jvm_kernel.py) when it
    registers on this session — a tiny codegen'd callsite instead of the
    64 KB-overflowing fused expression tree, bit-identical values (pinned by
    tests/test_jvm_kernel.py). Fallback: staged Acklam+Halley — the seed
    becomes a projection column so every downstream expression tree stays
    small. Both paths are bit-identical to `normal_ppf` (column staging
    never rounds; the parsed expressions are the same Catalyst nodes)."""
    from rwa_calculator_spark.functions.jvm_kernel import PPF_FN, ensure_jvm_kernel
    from rwa_calculator_spark.functions.sqltext import Projection, call, col, kernel, when

    proj = Projection.of(frame)
    if ensure_jvm_kernel(proj.spark):
        proj.with_column(out, call(PPF_FN, p))
    else:
        proj.with_column("_ppf_x0", kernel(acklam_raw_v, col(p)))
        refined = kernel(halley_step_v, col("_ppf_x0"), col(p))
        proj.with_column(out, when((col(p) > 0.0) & (col(p) < 1.0), refined))
        proj.drop("_ppf_x0")
    return proj if isinstance(frame, Projection) else proj.df


def spark_expr_normal_cdf(var: str) -> Column:
    """Φ as a single parsed SQL expression over a simple column reference."""
    return F.expr(norm_cdf_v(V(SparkSqlB, var)).v)


def sql_normal_cdf(var: str) -> str:
    """DuckDB expression for Φ(var). `var` should be a simple column ref
    (it is textually repeated ~20×)."""
    return norm_cdf_v(V(SqlB, var)).v


def sql_acklam_raw(var: str) -> str:
    return acklam_raw_v(V(SqlB, var)).v


def sql_halley_step(x_var: str, p_var: str) -> str:
    return halley_step_v(V(SqlB, x_var), V(SqlB, p_var)).v


def sql_normal_ppf(var: str) -> str:
    """Single-expression Φ⁻¹ for SQL. Large (nested refinement) — prefer the
    CTE decomposition (sql_acklam_raw + sql_halley_step) in oracle queries."""
    return norm_ppf_v(V(SqlB, var)).v


def py_normal_cdf(x: float) -> float:
    return norm_cdf_v(V(PyB, float(x))).v


def py_normal_ppf(p: float) -> float:
    if not (0.0 < p < 1.0):
        return float("nan")
    return halley_step_v(acklam_raw_v(V(PyB, float(p))), V(PyB, float(p))).v


G_999 = py_normal_ppf(0.999)  # reference pins 3.0902323061678132
