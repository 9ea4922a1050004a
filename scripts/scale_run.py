#!/usr/bin/env python
"""Large-scale pipeline run: generate an N-counterparty synthetic bundle to
parquet (numpy → pyarrow part files, seed 42 — the reference's benchmark
generator shape at tests/benchmarks/data_generators.py), then time the full
SA+IRB pipeline reading those parquet inputs.

Usage: python scripts/scale_run.py [n_cp] [workdir]
Reference targets (docs/development/benchmarks.md): 1M < 120 s (SA only),
10M < 20 min.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ENTITY_TYPES = np.array(["corporate", "individual", "institution", "sovereign", "corporate"])
ENTITY_P = np.array([0.35, 0.30, 0.15, 0.10, 0.10])
CHUNK = 1_000_000


def generate(n_cp: int, out: str) -> None:
    t0 = time.perf_counter()
    for name in ("counterparties", "loans", "contingents"):
        os.makedirs(os.path.join(out, name), exist_ok=True)
    for ci, lo in enumerate(range(0, n_cp, CHUNK)):
        n = min(CHUNK, n_cp - lo)
        rng = np.random.default_rng(42 + ci)
        keys = np.arange(lo, lo + n)
        cp_ref = np.char.add("CP", keys.astype(str))
        entity = ENTITY_TYPES[rng.choice(len(ENTITY_TYPES), size=n, p=ENTITY_P)]
        pq.write_table(
            pa.table(
                {
                    "counterparty_reference": cp_ref,
                    "entity_type": entity,
                    "cqs": rng.integers(0, 7, size=n).astype("int32"),
                    "is_managed_as_retail": (entity == "individual") & (rng.random(n) < 0.9),
                    "annual_revenue": np.round(rng.lognormal(16, 1.5, size=n), 2),
                    "has_irb_permission": rng.random(n) < 0.3,
                }
            ),
            os.path.join(out, "counterparties", f"part-{ci:04d}.parquet"),
        )
        nl = n * 2
        lk = rng.integers(0, n, size=nl)
        pq.write_table(
            pa.table(
                {
                    "loan_reference": np.char.add("L", (keys[0] * 2 + np.arange(nl)).astype(str)),
                    "counterparty_reference": cp_ref[lk],
                    "drawn_amount": np.round(rng.lognormal(11, 1.2, size=nl), 2),
                    "is_defaulted": rng.random(nl) < 0.03,
                    "pd": np.round(np.clip(rng.beta(1, 60, size=nl), 1e-5, 0.99), 6),
                    "lgd": np.round(rng.uniform(0.1, 0.8, size=nl), 4),
                    "effective_maturity": np.round(rng.uniform(0.5, 6.0, size=nl), 2),
                }
            ),
            os.path.join(out, "loans", f"part-{ci:04d}.parquet"),
        )
        ck = rng.integers(0, n, size=n)
        pq.write_table(
            pa.table(
                {
                    "contingent_reference": np.char.add("K", (keys[0] + np.arange(n)).astype(str)),
                    "counterparty_reference": cp_ref[ck],
                    "nominal_amount": np.round(rng.lognormal(11, 1.0, size=n), 2),
                    "risk_bucket": np.array(
                        ["full_risk", "medium_risk", "medium_low_risk", "low_risk"]
                    )[rng.integers(0, 4, size=n)],
                    "is_defaulted": rng.random(n) < 0.01,
                    "pd": np.full(n, np.nan),
                    "lgd": np.full(n, np.nan),
                    "effective_maturity": np.full(n, np.nan),
                }
            ),
            os.path.join(out, "contingents", f"part-{ci:04d}.parquet"),
        )
    print(f"generate: {time.perf_counter() - t0:.1f}s")


def main() -> None:
    n_cp = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/scale_{n_cp}"
    if not os.path.exists(os.path.join(out, "counterparties")):
        generate(n_cp, out)

    from pyspark.sql import functions as F

    from rwa_calculator_spark.engine.bundles import RawBundle
    from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
    from rwa_calculator_spark.functions.exact import scaled_sum
    from rwa_calculator_spark.session import build_session

    # local mode: the driver JVM IS the cluster — size it for the ledger
    # (10M cps → 30M-exposure checkpointed edges; 8g default OOMs)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = build_session(app_name="rwa-scale-run")
    bundle = RawBundle(
        counterparties=spark.read.parquet(os.path.join(out, "counterparties")),
        loans=spark.read.parquet(os.path.join(out, "loans")),
        contingents=spark.read.parquet(os.path.join(out, "contingents")),
    )
    for attempt in range(2):
        t0 = time.perf_counter()
        result = run_pipeline(bundle, PipelineConfig())
        agg = result.results.agg(
            F.count("*").alias("n"), scaled_sum(F.col("rwa"), 2).alias("rwa")
        ).collect()[0]
        wall = time.perf_counter() - t0
        print(
            f"run {attempt + 1}: n_cp={n_cp} exposures={agg['n']} "
            f"rwa={agg['rwa']:.2f} wall={wall:.1f}s"
        )
        from rwa_calculator_spark.utils import release_cached_blocks

        release_cached_blocks(spark)


if __name__ == "__main__":
    main()
