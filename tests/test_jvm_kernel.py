"""Generated-Java Φ/Φ⁻¹ kernel: registration, bit-identity with the
pure-Column path, and the whole-stage-codegen compile guarantee that was
round 5's one `weak` finding (fused per-row chain overflowing janino's
64 KB method limit → interpreted fallback; docs/perf/round5-bench-note.md).

Reference comparable: the reference ships Φ/Φ⁻¹ as a compiled native
extension (ref engine/irb/stats_backend.py:13-44) for exactly this reason.
"""

from __future__ import annotations

import shutil
import struct

import pytest
from pyspark.sql import functions as F

from rwa_calculator_spark.functions import jvm_kernel
from rwa_calculator_spark.functions.jvm_kernel import (
    CDF_FN,
    PPF_FN,
    ensure_jvm_kernel,
    java_source,
)

pytestmark = pytest.mark.skipif(
    shutil.which("javac") is None, reason="no JDK compiler in environment"
)


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def _kernel_unavailable(mp: pytest.MonkeyPatch) -> None:
    """The javac / ADD JAR failure path: callers take the staged SQL."""
    mp.setattr(jvm_kernel, "ensure_jvm_kernel", lambda spark: False)


@pytest.fixture()
def pure_column_env(monkeypatch):
    _kernel_unavailable(monkeypatch)


def test_registers_on_vanilla_session(spark):
    assert ensure_jvm_kernel(spark) is True
    # idempotent and memoised
    assert ensure_jvm_kernel(spark) is True
    assert spark.catalog.functionExists(PPF_FN)
    assert spark.catalog.functionExists(CDF_FN)


def test_generated_source_is_flat_ssa():
    src = java_source()
    # every statement is a small local; no statement longer than ~200 chars
    lines = [ln for ln in src.splitlines() if ln.strip().startswith("double v")]
    assert len(lines) > 100
    assert max(len(ln) for ln in lines) < 200


def test_ppf_bit_identity_with_pure_column(spark):
    assert ensure_jvm_kernel(spark)
    vals = [0.0003 + k / 997.0 * 0.999 for k in range(300)]
    vals += [1e-300, 1e-12, 0.02425, 0.024249999, 0.0242500001, 0.5,
             0.975, 0.97575, 0.999, 1 - 1e-12, 1 - 2.3e-16,
             0.0, 1.0, -0.5, 2.0, None]
    df = spark.createDataFrame([(v,) for v in vals], "p double")
    from rwa_calculator_spark.functions.stats import with_normal_ppf

    jvm = with_normal_ppf(df, "p", "g").collect()
    with pytest.MonkeyPatch.context() as mp:
        _kernel_unavailable(mp)
        pure = with_normal_ppf(df, "p", "g").collect()
    for a, b in zip(jvm, pure):
        assert (a.g is None) == (b.g is None), a.p
        if a.g is not None:
            assert _bits(a.g) == _bits(b.g), (a.p, a.g, b.g)


def test_cdf_bit_identity_with_pure_column(spark):
    assert ensure_jvm_kernel(spark)
    xs = [-40.0, -8.0, -3.4, -0.5, -1e-9, 0.0, 0.468, 0.46875, 0.469,
          0.5, 1.96, 3.999, 4.0, 4.0001, 8.0, 26.4, 26.5, 27.0, 40.0]
    xs += [-6.0 + k * 0.1 for k in range(121)]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    from rwa_calculator_spark.functions.stats import normal_cdf

    a = df.selectExpr(f"{CDF_FN}(x) AS c").collect()
    b = df.select(normal_cdf(F.col("x")).alias("c")).collect()
    for u, v in zip(a, b):
        assert _bits(u.c) == _bits(v.c), u


def test_g999_pin(spark):
    assert ensure_jvm_kernel(spark)
    got = spark.sql(f"SELECT {PPF_FN}(0.999D) AS g").collect()[0].g
    # the reference pins 3.0902323061678132 (ref engine/irb/formulas.py:52);
    # Spark's StrictMath-based evaluation agrees to the last ulp
    assert abs(got - 3.0902323061678132) < 1e-12


def test_irb_chain_compiles_under_wscg(spark):
    """The round-5 weak, closed: with codegen fallback DISABLED (compile
    failure would raise instead of silently interpreting), the per-row
    Φ⁻¹ → K → MA chain executes — i.e. no generated method overflows
    janino's 64 KB limit anymore."""
    assert ensure_jvm_kernel(spark)
    from rwa_calculator_spark.functions.irb import irb_maturity_adj, with_irb_k
    from rwa_calculator_spark.functions.stats import with_normal_ppf

    base = spark.range(10_000).select(
        (F.lit(0.0003) + (F.col("id") % 997).cast("double") / 5000.0).alias("pd"),
        (F.lit(0.05) + (F.col("id") % 89).cast("double") / 100.0).alias("lgd"),
        (F.lit(1.0) + (F.col("id") % 9).cast("double") / 2.0).alias("m"),
    )
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df = with_normal_ppf(base, "pd", "g_pd")
        df = with_irb_k(df, "pd", "lgd", "g_pd", "k")
        df = df.withColumn("ma", irb_maturity_adj(F.col("pd"), F.col("m")))
        n = df.select((F.col("k") * F.col("ma") * 12.5).alias("rw")).count()
        assert n == 10_000
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def test_kernel_falls_back_when_disabled(spark, pure_column_env):
    """Without the kernel (javac or ADD JAR failed) Φ⁻¹ routes through the
    staged pure-Column path (no registered-function reference in the
    plan)."""
    from rwa_calculator_spark.functions.stats import with_normal_ppf

    df = spark.createDataFrame([(0.01,)], "p double")
    out = with_normal_ppf(df, "p", "g")
    assert PPF_FN not in out._jdf.queryExecution().analyzed().toString()
    assert out.collect()[0].g is not None
