"""Pipeline-grain property tests (ref tests/properties/
test_conservation.py:1-25 — every summary partitions the flat ledger
total — and test_monotonicity.py:1-31 — perturbation ladders stated on
OWN FUNDS, run end-to-end through the pipeline, not on the kernel).

Each Hypothesis example generates a bundle (seeded, so shrinking is
meaningful), runs the FULL ``run_pipeline``, and asserts a portfolio-level
invariant. Examples are deliberately few (a pipeline run costs ~1 s);
breadth comes from the generated bundle varying entity mix, defaults,
PD/LGD bands and collateral coverage per example — the reference's
strategy at the same layer.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from rwa_calculator_spark.engine.bundles import RawBundle
from rwa_calculator_spark.engine.pipeline import PipelineConfig, run_pipeline
from rwa_calculator_spark.engine.rulepack import B31_PACK, CRR_PACK

_SETTINGS = dict(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _bundle(spark, seed: int, n_cp: int = 60, collateral_frac: float = 0.0,
            pd_scale: float = 1.0, lgd_shift: float = 0.0, amount_scale: float = 1.0,
            corporate_only: bool = False):
    rng = np.random.default_rng(seed)
    cp_ref = [f"CP{i:05d}" for i in range(n_cp)]
    entity = (
        np.full(n_cp, "corporate")
        if corporate_only
        else np.array(["corporate", "individual", "institution", "sovereign"])[
            rng.integers(0, 4, size=n_cp)
        ]
    )
    cps = pd.DataFrame(
        {
            "counterparty_reference": cp_ref,
            "entity_type": entity,
            "cqs": rng.integers(0, 7, size=n_cp).astype("int32"),
            "is_managed_as_retail": (entity == "individual"),
            "annual_revenue": np.where(corporate_only, 60_000_000.0,
                                       np.round(rng.uniform(0, 8e7, n_cp), 2)),
            "has_irb_permission": rng.random(n_cp) < 0.4,
        }
    )
    n_loans = n_cp * 2
    loans = pd.DataFrame(
        {
            "loan_reference": [f"L{i:06d}" for i in range(n_loans)],
            "counterparty_reference": np.array(cp_ref)[rng.integers(0, n_cp, n_loans)],
            # scale AFTER rounding: round(λx, 2) ≠ λ·round(x, 2) — rounding
            # a pre-scaled draw injects ±half-cent noise per loan that sums
            # to ~0.3 on this book, exactly the 1e-9 tolerance the
            # homogeneity test asserts (λ = 2 is a power of two, so the
            # post-round multiply is exact in binary and the property holds
            # bit-for-bit)
            "drawn_amount": np.round(rng.uniform(1_000, 2_000_000, n_loans), 2)
            * amount_scale,
            "is_defaulted": rng.random(n_loans) < 0.05,
            "pd": np.round(
                np.clip(rng.uniform(0.0005, 0.2, n_loans) * pd_scale, 1e-5, 0.999), 6
            ),
            "lgd": np.round(
                np.clip(rng.uniform(0.1, 0.7, n_loans) + lgd_shift, 0.0, 1.0), 4
            ),
            "effective_maturity": np.round(rng.uniform(1.0, 5.0, n_loans), 2),
        }
    )
    collateral = links = None
    if collateral_frac > 0:
        n_coll = max(1, int(n_loans * 0.5))
        collateral = spark.createDataFrame(
            pd.DataFrame(
                {
                    "collateral_reference": [f"COL{i:05d}" for i in range(n_coll)],
                    "market_value": np.round(
                        loans["drawn_amount"].iloc[:n_coll].values * collateral_frac, 2
                    ),
                    "haircut": np.round(rng.uniform(0.0, 0.3, n_coll), 4),
                    "currency_mismatch": rng.random(n_coll) < 0.3,
                }
            )
        )
        links = spark.createDataFrame(
            pd.DataFrame(
                {
                    "collateral_reference": [f"COL{i:05d}" for i in range(n_coll)],
                    "exposure_reference": loans["loan_reference"].iloc[:n_coll].values,
                }
            )
        )
    return RawBundle(
        counterparties=spark.createDataFrame(cps),
        loans=spark.createDataFrame(loans),
        collateral=collateral,
        collateral_links=links,
    )


def _totals(out):
    p = out.portfolio.collect()[0]
    return p.total_ead, p.total_rwa


def _own_funds(out) -> float:
    return _totals(out)[1] * 0.08


# ---------------------------------------------------------------------------
# Conservation: every summary partitions the ledger total (bit-exact —
# fixed-point sums make partition order irrelevant)
# ---------------------------------------------------------------------------


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_conservation_summaries_partition_the_portfolio(spark, seed):
    out = run_pipeline(_bundle(spark, seed), PipelineConfig(pack=CRR_PACK))
    ead_p, rwa_p = _totals(out)
    by_class = out.summary_by_class.collect()
    by_approach = out.summary_by_approach.collect()
    assert sum(r.total_rwa for r in by_class) == pytest.approx(rwa_p, abs=1e-6)
    assert sum(r.total_ead for r in by_class) == pytest.approx(ead_p, abs=1e-6)
    assert sum(r.total_rwa for r in by_approach) == pytest.approx(rwa_p, abs=1e-6)
    assert sum(r.total_ead for r in by_approach) == pytest.approx(ead_p, abs=1e-6)
    n = out.results.count()
    assert sum(r.n_exposures for r in by_class) == n
    assert sum(r.n_exposures for r in by_approach) == n


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_conservation_ledger_rwa_equals_summaries(spark, seed):
    """The flat ledger re-aggregated by ANY grouping reproduces the
    summaries — the reference's conservation statement at exposure grain."""
    from pyspark.sql import functions as F

    from rwa_calculator_spark.functions.exact import scaled_sum

    out = run_pipeline(_bundle(spark, seed + 7), PipelineConfig(pack=CRR_PACK))
    re_agg = {
        r.exposure_class: r.rwa
        for r in out.results.groupBy("exposure_class")
        .agg(scaled_sum(F.col("rwa"), 2).alias("rwa"))
        .collect()
    }
    for row in out.summary_by_class.collect():
        assert re_agg[row.exposure_class] == pytest.approx(row.total_rwa, abs=1e-9)


# ---------------------------------------------------------------------------
# Monotonicity on own funds (the reference states ladders on own funds,
# not RWEA — test_monotonicity.py:1-31)
# ---------------------------------------------------------------------------


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_own_funds_monotonic_in_pd(spark, seed):
    base = run_pipeline(
        _bundle(spark, seed, pd_scale=1.0), PipelineConfig(pack=CRR_PACK)
    )
    worse = run_pipeline(
        _bundle(spark, seed, pd_scale=1.5), PipelineConfig(pack=CRR_PACK)
    )
    assert _own_funds(worse) >= _own_funds(base) - 1e-6


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_own_funds_monotonic_in_lgd(spark, seed):
    base = run_pipeline(_bundle(spark, seed), PipelineConfig(pack=CRR_PACK))
    worse = run_pipeline(
        _bundle(spark, seed, lgd_shift=0.15), PipelineConfig(pack=CRR_PACK)
    )
    assert _own_funds(worse) >= _own_funds(base) - 1e-6


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_own_funds_monotonic_in_collateral(spark, seed):
    """More collateral coverage never increases own funds (FCCM only
    reduces E*; haircuts bound the benefit, never flip its sign)."""
    bare = run_pipeline(
        _bundle(spark, seed, collateral_frac=0.0), PipelineConfig(pack=CRR_PACK)
    )
    covered = run_pipeline(
        _bundle(spark, seed, collateral_frac=0.6), PipelineConfig(pack=CRR_PACK)
    )
    assert _own_funds(covered) <= _own_funds(bare) + 1e-6


@given(seed=st.integers(0, 10_000))
@example(seed=9903)
@settings(**_SETTINGS)
def test_homogeneity_on_threshold_free_book(spark, seed):
    """Scaling every amount by λ scales RWA by λ — on a corporate-only,
    over-revenue-cap book where no retail threshold or SME tier can bend
    the line (they deliberately break homogeneity elsewhere).

    Compared on the unrounded ledger: ``portfolio.total_rwa`` sums
    cent-rounded rows, and Σround(2x) ≠ 2·Σround(x) (seed 9903 misses
    by rel 1.26e-9). Doubling every amount doubles each row's rwa exactly
    in binary floating point, so the exactly rounded sums must agree."""

    def _ledger_rwa(out) -> float:
        return math.fsum(r.rwa for r in out.results.select("rwa").collect())

    base = run_pipeline(
        _bundle(spark, seed, corporate_only=True, amount_scale=1.0),
        PipelineConfig(pack=CRR_PACK),
    )
    doubled = run_pipeline(
        _bundle(spark, seed, corporate_only=True, amount_scale=2.0),
        PipelineConfig(pack=CRR_PACK),
    )
    assert _ledger_rwa(doubled) == pytest.approx(2.0 * _ledger_rwa(base), rel=1e-9)


@given(seed=st.integers(0, 10_000))
@settings(**_SETTINGS)
def test_b31_floor_identity(spark, seed):
    """Art.92(3): floored total ≡ max(modelled, 72.5% × S-TREA), where
    S-TREA re-derives from the ledger's own rwa_sa_equivalent column."""
    from pyspark.sql import functions as F

    from rwa_calculator_spark.functions.exact import scaled_sum

    out = run_pipeline(_bundle(spark, seed), PipelineConfig(pack=B31_PACK))
    agg = out.results.agg(
        scaled_sum(F.col("rwa_pre_floor"), 2).alias("modelled"),
        scaled_sum(F.col("rwa_sa_equivalent"), 2).alias("std"),
    ).collect()[0]
    _, rwa_total = _totals(out)
    assert rwa_total == pytest.approx(
        max(agg.modelled, 0.725 * agg.std), rel=1e-9, abs=1e-4
    )
    # the uplift flag agrees with the identity
    flags = {r.floor_applied for r in out.results.select("floor_applied").collect()}
    assert flags == ({True} if 0.725 * agg.std > agg.modelled else {False})
