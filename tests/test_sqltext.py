"""The SQL-text renderer (`functions/sqltext.py`) must build what the
Column API builds: every literal parses to the bits ``F.lit`` produces,
and a merged `Projection` keeps ``withColumns`` semantics."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from rwa_calculator_spark.functions import sqltext as S

_VALUES = [
    0.1,
    1.06,
    1e-300,
    5e-324,
    -0.0,
    0.0,
    -2.5,
    1e16,
    2**31,
    2**53 + 1,
    -(2**31),
    -7,
    0,
    True,
    False,
    "it's",
    "a''b'",
    "",
]


def _bits(v):
    return struct.pack(">d", v) if isinstance(v, float) else v


def test_rendered_literals_equal_f_lit_bit_for_bit(spark):
    base = spark.range(1)
    names = [f"v{i}" for i in range(len(_VALUES))]
    want = base.select(*[F.lit(v).alias(n) for v, n in zip(_VALUES, names)])
    got = S.select_sql(base, [f"{S.lit(v).sql} AS {n}" for v, n in zip(_VALUES, names)])
    assert got.dtypes == want.dtypes
    w, g = want.first(), got.first()
    for n, v in zip(names, _VALUES):
        assert _bits(g[n]) == _bits(w[n]) == _bits(v), n


def test_double_literals_parse_as_double_not_decimal(spark):
    got = S.select_sql(spark.range(1), [f"{S.lit(0.1).sql} * 3 AS x"])
    assert got.dtypes == [("x", "double")]
    assert got.first().x == 0.1 * 3


@pytest.mark.parametrize("v", [float("nan"), float("inf"), float("-inf"), "a\\b", "a\0b"])
def test_unspellable_literals_are_refused(v):
    assert S.sql_literal(v) is None
    with pytest.raises(ValueError):
        S.lit(v)


def test_case_when_and_functions_match_the_column_api(spark):
    df = spark.createDataFrame(
        [(1.0, "a", None), (None, "b", 2.0), (3.0, None, 0.5)], "x double, s string, y double"
    )
    s = S.when(S.col("x") > 2, "big").when(S.col("s") == "a", S.col("s")).otherwise(
        S.concat(S.lit("o:"), S.coalesce("s", S.lit("?")))
    )
    c = F.when(F.col("x") > 2, "big").when(F.col("s") == "a", F.col("s")).otherwise(
        F.concat(F.lit("o:"), F.coalesce("s", F.lit("?")))
    )
    n = S.greatest(S.coalesce("x", S.lit(0.0)), "y") / S.nullif(S.col("y"), S.lit(0.0))
    m = F.greatest(F.coalesce("x", F.lit(0.0)), "y") / F.nullif(F.col("y"), F.lit(0.0))
    got = S.Projection(df).with_columns({"c": s, "n": n, "b": ~S.col("x").isNull()}).df
    want = df.withColumns({"c": c, "n": m, "b": ~F.col("x").isNull()})
    assert got.collect() == want.collect()
    assert got.dtypes == want.dtypes


def test_lambdas_render_with_fixed_names(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "a array<double>")
    t = S.transform("a", lambda x: x * 2)
    agg = S.aggregate("a", S.struct(g=S.lit(0.0)), lambda acc, x: S.struct(g=acc["g"] + x))
    assert t.sql == "transform(`a`, x -> (x * 2))"
    row = S.Projection(df).with_columns({"t": t, "g": agg["g"]}).df.first()
    assert row.t == [2.0, 4.0, 6.0] and row.g == 6.0


def test_projection_keeps_with_columns_semantics(spark):
    df = spark.createDataFrame([(1, 10)], "a int, b int")
    p = S.Projection(df)
    p.with_columns({"c": S.col("a") + 1})  # new: later steps read it laterally
    p.with_columns({"d": S.col("c") * 2, "a": S.col("a") + 100})  # a replaced in place
    p.with_columns({"e": S.col("a")})  # reads the replaced a → a new step
    p.with_columns({"c": S.col("c") + S.col("d")})  # redefines c → a new step
    p.drop("b")
    out = p.df
    want = (
        df.withColumn("c", F.col("a") + 1)
        .withColumns({"d": F.col("c") * 2, "a": F.col("a") + 100})
        .withColumn("e", F.col("a"))
        .withColumn("c", F.col("c") + F.col("d"))
        .drop("b")
    )
    assert out.columns == want.columns
    assert out.collect() == want.collect()


def test_projection_merges_independent_steps_into_one_select(spark):
    df = spark.createDataFrame([(1, 10)], "a int, b int")
    calls = []
    real = S.select_sql

    def counting(d, exprs):
        calls.append(exprs)
        return real(d, exprs)

    S.select_sql = counting
    try:
        p = S.Projection(df)
        p.with_column("c", S.col("a") + 1).with_column("d", S.col("c") * 2)
        p.with_column("e", S.col("d") + S.col("b")).select("a", "c", "d", "e")
        row = p.df.first()
    finally:
        S.select_sql = real
    assert len(calls) == 1
    assert (row.a, row.c, row.d, row.e) == (1, 2, 4, 14)
