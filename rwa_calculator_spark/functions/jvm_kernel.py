"""JVM-side Φ / Φ⁻¹ kernel: the scale path for per-row normal stats.

Why this exists (round-5 verdict, pinned in docs/perf/round5-bench-note.md):
the pure-Column Acklam+Halley Φ⁻¹ chain, fused by whole-stage codegen with
its downstream K/MA consumers, generates a single Java method that overflows
janino's 64 KB limit — Spark logs "Code grows beyond 64 KB" and silently
falls back to INTERPRETED expression evaluation (2.4 s/M rows vs the
reference's 0.30 s/M; ref docs/development/benchmarks.md:220, where Φ/Φ⁻¹
come from a compiled C library, ref engine/irb/stats_backend.py:13-44).
`spark.sql.codegen.methodSplitThreshold` does not help: the consume chain
cannot be split by janino at that point.

The fix mirrors the reference's own architecture — put the transcendental
kernel in compiled native(-to-the-engine) code: we emit a tiny Java class
whose `cdf`/`ppf` static methods are generated FROM THE SAME V-node
coefficient tables as the Spark-Column and DuckDB-SQL backends
(functions/stats.py), compile it once with javac against the pyspark jars,
cache the jar under `<repo>/.build/`, and register the two methods as Java
UDFs (`normal_ppf_jvm`, `normal_cdf_jvm`). The UDF callsite is a few dozen
bytes of generated code, so the surrounding stage compiles under
whole-stage codegen, and the kernel itself is JIT-compiled Java running the
exact arithmetic of the Column path (same op tree, same java.lang.Math —
bit-identical outputs, pinned by tests/test_jvm_kernel.py).

Generation uses an SSA (one statement per op) Java backend, so the emitted
method is a flat sequence of `double vN = ...;` locals — a few KB, far under
any JVM method limit — and shared subtrees in the V-node DAG become plain
variable reuse. Java ternaries select the same payload a lazy CASE would;
the unselected branches evaluate eagerly but IEEE double arithmetic never
traps (divide-by-zero → ±Inf, log(neg) → NaN), so values are identical.

Everything degrades gracefully: if javac is missing, compilation fails, or
registration is rejected, callers fall back to the pure-Column staged path
(still oracle-exact, just slower per-row; tests/test_jvm_kernel.py pins the
two bit-identical by making `ensure_jvm_kernel` report False).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import threading
import zipfile

from rwa_calculator_spark.functions.stats import V, acklam_raw_v, halley_step_v, norm_cdf_v

_BUILD_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".build",
)
_LOCK = threading.Lock()
#: per-SparkSession registration outcome, keyed by id() of the live session
#: object (entries die with the session; a recycled id re-probes the catalog,
#: which is authoritative).
_SESSION_OK: dict[int, bool] = {}

PPF_FN = "normal_ppf_jvm"
CDF_FN = "normal_cdf_jvm"
_CLASS = "rwacalc.RwaKernel"


class JavaSSAB:
    """Java statement-emitting backend for the V-node generator.

    Every arithmetic op lands in its own `double vN = ...;` local, so the
    generated method body is flat and small regardless of how deeply the
    formula nests, and a V value reused twice is computed once. Comparisons
    and conjunctions stay inline (they are only ever consumed by `where`).
    """

    def __init__(self) -> None:
        self.stmts: list[str] = []
        self._n = 0

    def _var(self, expr: str) -> str:
        name = f"v{self._n}"
        self._n += 1
        self.stmts.append(f"double {name} = {expr};")
        return name

    def lit(self, v):
        return self._var(repr(float(v)))

    def null(self):
        # Only reachable through out-of-domain gates the UDF wrapper already
        # guards; NaN keeps the body primitive-typed.
        return self._var("Double.NaN")

    def add(self, a, b):
        return self._var(f"{a} + {b}")

    def sub(self, a, b):
        return self._var(f"{a} - {b}")

    def mul(self, a, b):
        return self._var(f"{a} * {b}")

    def div(self, a, b):
        return self._var(f"{a} / {b}")

    def neg(self, a):
        return self._var(f"- {a}")

    # Spark's own math expressions evaluate exp/log through StrictMath so
    # results are platform-reproducible; mirror that exactly or last-ulp
    # noise breaks bit-identity with the pure-Column path. sqrt/abs are
    # correctly-rounded by IEEE in plain Math.
    def exp(self, a):
        return self._var(f"java.lang.StrictMath.exp({a})")

    def ln(self, a):
        return self._var(f"java.lang.StrictMath.log({a})")

    def sqrt(self, a):
        return self._var(f"java.lang.Math.sqrt({a})")

    def abs(self, a):
        return self._var(f"java.lang.Math.abs({a})")

    def and_(self, a, b):
        return f"({a} && {b})"

    def le(self, a, b):
        return f"({a} <= {b})"

    def lt(self, a, b):
        return f"({a} < {b})"

    def gt(self, a, b):
        return f"({a} > {b})"

    def where(self, c, a, b):
        return self._var(f"{c} ? {a} : {b}")


def _java_method(name: str, param: str, build) -> str:
    b = JavaSSAB()
    out = build(V(b, param))
    body = "\n    ".join(b.stmts)
    return (
        f"  public static double {name}(double {param}) {{\n"
        f"    {body}\n"
        f"    return {out.v};\n"
        f"  }}\n"
    )


def java_source() -> str:
    """The full generated source of rwacalc.RwaKernel."""
    cdf = _java_method("cdf", "x", norm_cdf_v)
    ppf = _java_method("ppf", "p", lambda p: halley_step_v(acklam_raw_v(p), p))
    return (
        "// GENERATED by rwa_calculator_spark.functions.jvm_kernel — do not edit.\n"
        "// Same coefficient tables / op tree as functions/stats.py (Cody erf,\n"
        "// Acklam ppf + one Halley step); see that module for provenance.\n"
        "package rwacalc;\n"
        "import org.apache.spark.sql.api.java.UDF1;\n"
        "public final class RwaKernel {\n"
        "  private RwaKernel() {}\n"
        f"{cdf}"
        f"{ppf}"
        "  public static final class Cdf implements UDF1<Double, Double> {\n"
        "    public Cdf() {}\n"
        "    @Override public Double call(Double x) {\n"
        "      return x == null ? null : Double.valueOf(cdf(x.doubleValue()));\n"
        "    }\n"
        "  }\n"
        "  public static final class Ppf implements UDF1<Double, Double> {\n"
        "    public Ppf() {}\n"
        "    @Override public Double call(Double p) {\n"
        "      if (p == null) return null;\n"
        "      double x = p.doubleValue();\n"
        "      if (!(x > 0.0 && x < 1.0)) return null;\n"
        "      return Double.valueOf(ppf(x));\n"
        "    }\n"
        "  }\n"
        "}\n"
    )


def build_kernel_jar() -> str:
    """Compile (once) and return the path to the kernel jar.

    Content-addressed by source hash, so edits to the generators invalidate
    the cache automatically. Raises on any toolchain failure — callers catch.
    """
    src = java_source()
    tag = hashlib.sha256(src.encode()).hexdigest()[:12]
    jar = os.path.join(_BUILD_DIR, f"rwakernel-{tag}.jar")
    if os.path.exists(jar):
        return jar
    with _LOCK:
        if os.path.exists(jar):
            return jar
        import pyspark

        spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        work = tempfile.mkdtemp(prefix="rwakernel-")
        try:
            src_path = os.path.join(work, "RwaKernel.java")
            with open(src_path, "w") as f:
                f.write(src)
            classes = os.path.join(work, "classes")
            os.makedirs(classes)
            subprocess.run(
                ["javac", "-cp", spark_jars + "/*", "-d", classes, src_path],
                check=True,
                capture_output=True,
            )
            os.makedirs(_BUILD_DIR, exist_ok=True)
            tmp_jar = os.path.join(work, "rwakernel.jar")
            with zipfile.ZipFile(tmp_jar, "w") as z:
                for p in sorted(glob.glob(classes + "/**/*.class", recursive=True)):
                    z.write(p, os.path.relpath(p, classes))
            os.replace(tmp_jar, jar)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return jar


def ensure_jvm_kernel(spark) -> bool:
    """Register the JVM kernel UDFs on this session (idempotent).

    Returns True when `normal_ppf_jvm` / `normal_cdf_jvm` are callable and
    smoke-verified (Φ⁻¹(0.5) is exactly 0.0 through Acklam central branch +
    Halley with zero residual). Any failure returns False and callers take
    the pure-Column path. Works on vanilla sessions (the driver's): the jar
    lands via SQL ``ADD JAR`` at runtime, no launch-time classpath needed.
    """
    key = id(spark)
    cached = _SESSION_OK.get(key)
    if cached is not None:
        return cached
    ok = False
    try:
        from pyspark.sql.types import DoubleType

        if not spark.catalog.functionExists(PPF_FN):
            jar = build_kernel_jar()
            spark.sql("ADD JAR '" + jar.replace("'", "''") + "'")
            spark.udf.registerJavaFunction(PPF_FN, _CLASS + "$Ppf", DoubleType())
            spark.udf.registerJavaFunction(CDF_FN, _CLASS + "$Cdf", DoubleType())
        row = spark.sql(
            f"SELECT {PPF_FN}(0.5D) AS p, {CDF_FN}(0.0D) AS c"
        ).collect()[0]
        ok = row.p == 0.0 and row.c == 0.5
    except Exception:
        ok = False
    _SESSION_OK[key] = ok
    return ok
