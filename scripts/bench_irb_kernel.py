"""Kernel-basis IRB micro-bench: the 1M-row in-memory comparable for
BASELINE.md's "IRB K formula (pure expressions) ~300 ms @ 1M rows"
(ref docs/development/benchmarks.md:220).

The registered `irb_capital_k` bench figure includes parquet scan + session
overhead and uses dictionary evaluation over the banded master scale — the
scale-correct production shape, but not the kernel-only measure the
reference's number is. This script isolates the kernel over an in-memory
1M-row frame (cached and counted before timing) with a noop sink, in the
shapes that matter:

- ``per_row``        — the per-row Φ⁻¹ → K → MA chain as the production
  helpers now build it: the generated-Java kernel (functions/jvm_kernel.py)
  carries Φ/Φ⁻¹, so the stage compiles under whole-stage codegen (no janino
  64 KB overflow) and the kernel is JIT-compiled Java — bit-identical
  values to the pure-Column path.
- ``per_row_pure_column`` — the round-5 shape (the staged SQL path taken
  when javac or ``ADD JAR`` fails, forced here by patching
  ``jvm_kernel.ensure_jvm_kernel`` to report False): the
  fused whole-stage-codegen method exceeds janino's limits, Spark falls
  back to INTERPRETED expression evaluation, and the figure records that
  fallback cost (the honest number for the expression-only path).
- ``per_row_no_wscg`` — the pure-Column chain with whole-stage codegen off:
  per-operator codegen with method splitting compiles, roughly halving
  the interpreted figure.
- ``banded``          — the PRODUCTION shape (engine/stages/calculators.py
  run_irb): Φ⁻¹ dictionary-evaluated over the distinct PD master scale
  (997 bands here — real books carry dozens), K + MA per-row. Pays one
  distinct + broadcast join-back.
- ``kma_per_row``     — K + MA + Φ per-row with g_pd already banded: the
  per-row compute the production pipeline actually pays after the
  dictionary.
- ``pump_floor``      — a trivial projection over the same cache: the
  row-pump floor everything above includes.

Usage:  python scripts/bench_irb_kernel.py [rows] [runs]
Prints one JSON line with the median of each variant.
Findings are pinned in docs/perf/round5-bench-note.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _median_of(fn, runs: int) -> tuple[float, list[float]]:
    fn()  # JIT/codegen warm-up, excluded
    timings = sorted(fn() for _ in range(runs))
    return timings[len(timings) // 2], [round(t, 4) for t in timings]


@contextmanager
def _kernel_unavailable():
    """Run the staged pure-SQL Φ/Φ⁻¹ path, as on a host without javac."""
    from rwa_calculator_spark.functions import jvm_kernel

    real = jvm_kernel.ensure_jvm_kernel
    jvm_kernel.ensure_jvm_kernel = lambda spark: False
    try:
        yield
    finally:
        jvm_kernel.ensure_jvm_kernel = real


def _timed(thunk):
    def run() -> float:
        t0 = time.perf_counter()
        thunk()
        return time.perf_counter() - t0

    return run


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from rwa_calculator_spark.functions.irb import irb_maturity_adj, with_irb_k
    from rwa_calculator_spark.functions.stats import with_normal_ppf
    from rwa_calculator_spark.operators.dictionary import dictionary_apply

    def build_base(spark):
        base = (
            spark.range(rows)
            .select(
                (F.lit(0.0003) + (F.col("id") % 997).cast("double") / 5000.0).alias(
                    "pd"
                ),
                (F.lit(0.05) + (F.col("id") % 89).cast("double") / 100.0).alias("lgd"),
                (F.lit(1.0) + (F.col("id") % 9).cast("double") / 2.0).alias("m"),
            )
            .cache()
        )
        assert base.count() == rows
        return base

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def full_chain(base):
        df = with_normal_ppf(base, "pd", "g_pd")
        df = with_irb_k(df, "pd", "lgd", "g_pd", "k")
        df = df.withColumn("ma", irb_maturity_adj(F.col("pd"), F.col("m")))
        noop(df.select((F.col("k") * F.col("ma") * 12.5).alias("rw")))

    out: dict = {
        "metric": "irb_kernel_1m_wall_sec",
        "unit": "sec",
        "rows": rows,
        "baseline_sec": 0.3,
        "variants": {},
    }

    def session(**conf):
        b = (
            SparkSession.builder.master("local[32]")
            .config("spark.sql.shuffle.partitions", "32")
            .appName("irb-kernel-bench")
        )
        for k, v in conf.items():
            b = b.config(k, v)
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # default session: per-row (JVM kernel), pure-column fallback, banded,
    # kma, floor
    spark = session()
    base = build_base(spark)
    med, ts = _median_of(_timed(lambda: full_chain(base)), runs)
    out["variants"]["per_row"] = {"median": round(med, 4), "runs": ts}

    with _kernel_unavailable():
        med, ts = _median_of(_timed(lambda: full_chain(base)), runs)
        out["variants"]["per_row_pure_column"] = {"median": round(med, 4), "runs": ts}

    def banded():
        df = dictionary_apply(base, ["pd"], lambda d: with_normal_ppf(d, "pd", "g_pd"))
        df = with_irb_k(df, "pd", "lgd", "g_pd", "k")
        df = df.withColumn("ma", irb_maturity_adj(F.col("pd"), F.col("m")))
        noop(df.select((F.col("k") * F.col("ma") * 12.5).alias("rw")))

    med, ts = _median_of(_timed(banded), runs)
    out["variants"]["banded"] = {"median": round(med, 4), "runs": ts}

    pre = dictionary_apply(base, ["pd"], lambda d: with_normal_ppf(d, "pd", "g_pd")).cache()
    pre.count()

    def kma():
        df = with_irb_k(pre, "pd", "lgd", "g_pd", "k")
        df = df.withColumn("ma", irb_maturity_adj(F.col("pd"), F.col("m")))
        noop(df.select((F.col("k") * F.col("ma") * 12.5).alias("rw")))

    med, ts = _median_of(_timed(kma), runs)
    out["variants"]["kma_per_row"] = {"median": round(med, 4), "runs": ts}

    med, ts = _median_of(
        _timed(lambda: noop(base.select((F.col("pd") + F.col("lgd")).alias("x")))),
        runs,
    )
    out["variants"]["pump_floor"] = {"median": round(med, 4), "runs": ts}
    spark.stop()

    # separate session: pure-Column chain, whole-stage codegen off
    # (per-operator codegen compiles where the fused method cannot)
    spark = session(**{"spark.sql.codegen.wholeStage": "false"})
    base = build_base(spark)
    with _kernel_unavailable():
        med, ts = _median_of(_timed(lambda: full_chain(base)), runs)
        out["variants"]["per_row_no_wscg"] = {"median": round(med, 4), "runs": ts}
    spark.stop()

    out["value"] = out["variants"]["per_row"]["median"]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
