"""Vector similarity primitives over array<float> embedding columns.

Dot products are zip_with/aggregate folds seeded with the first product —
the exact left-associated addition order of the DuckDB oracle's unrolled
chain (bit-identical, verified over every corpus pair at all SFs), in a
4-node expression instead of a 255-node tree. The round-9 optimization
profile measured the unrolled chain at ~2× the fold's cost at 64-dim
(255 virtual expression evals per row vs one tight loop) and the giant
trees also bloated plan/codegen size in every similarity query.

LSH hyperplanes are pseudo-random literals derived from md5 in *Python* at
plan-build time, so both engines see identical constants (the rulepack
compile-to-literals pattern, SURVEY §1.1).

The Spark side renders as SQL text (`functions.sqltext`): the fold's
lambdas take fixed parameter names, where pyspark's Python lambdas are
named from a JVM-global counter (``x_9``, then ``x_21``), so two builds of
one query print the same optimized plan. Inputs are SQL references to the
array columns (``"embedding"``, ``"a.embedding"``).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

from rwa_calculator_spark.functions import sqltext as S

EMBED_DIM = 64


def _fold_sum(z: S.Expr, n: int) -> S.Expr:
    """Σ z[i] seeded with z[1]: the left-associated chain order."""
    return S.aggregate(
        S.call("slice", z, S.lit(2), S.lit(n - 1)),
        S.call("element_at", z, S.lit(1)),
        lambda acc, x: acc + x,
    )


def spark_dot(a: str, b: str, dim: int = EMBED_DIM) -> Column:
    """Left-associated dot product as a zip_with/aggregate fold.

    Bit-identical to the unrolled chain ``(a0·b0 + a1·b1) + …`` (the fold
    is seeded with the FIRST product, so the addition order is exactly the
    chain's — verified exhaustively over every corpus pair at all three
    SFs), but ~2× faster at 64-dim and a 4-node expression instead of a
    255-node tree: the unrolled form pays one virtual getItem/cast eval
    per term in the row-oriented evaluator, while the fold runs a tight
    loop over the zipped array (guide §1.2 per-task work)."""
    z = S.zip_with(S.expr(a), S.expr(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.expr(_fold_sum(z, dim).sql)


def sql_dot(a: str, b: str, dim: int = EMBED_DIM) -> str:
    out = f"({a}[1]::DOUBLE * {b}[1]::DOUBLE)"
    for i in range(2, dim + 1):
        out = f"({out} + ({a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE))"
    return out


def hyperplane(j: int, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane coefficients in [-1, 1]."""
    return [
        (int(hashlib.md5(f"h{j}:{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000) / 1000.0
        for i in range(dim)
    ]


def _projection(v: str, coeffs: list[float]) -> S.Expr:
    """Same fold rewrite as spark_dot (coeffs become an array literal);
    seeded with the first product so addition order matches the unrolled
    chain bit-for-bit."""
    z = S.zip_with(
        S.array(*[S.lit(c) for c in coeffs]), S.expr(v), lambda c, x: c * x.cast("double")
    )
    return _fold_sum(z, len(coeffs))


def sql_projection(v: str, coeffs: list[float]) -> str:
    out = f"({coeffs[0]!r} * {v}[1]::DOUBLE)"
    for i, c in enumerate(coeffs[1:], start=2):
        out = f"({out} + ({c!r} * {v}[{i}]::DOUBLE))"
    return out


def spark_lsh_bucket(v: str, n_planes: int, dim: int = EMBED_DIM) -> Column:
    bucket = None
    for j in range(n_planes):
        bit = S.when(_projection(v, hyperplane(j, dim)) > 0, S.lit(1 << j)).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return F.expr(bucket.cast("long").sql)


def sql_lsh_bucket(v: str, n_planes: int, dim: int = EMBED_DIM) -> str:
    bits = [
        f"(CASE WHEN {sql_projection(v, hyperplane(j, dim))} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    ]
    return "(" + " + ".join(bits) + ")::BIGINT"
