"""Schema contract shim.

Re-expresses the reference's `ColumnSpec(dtype, default, required)` +
`ensure_columns` + edge-`conform` machinery (reference:
data/column_spec.py:33-126, contracts/edges.py) on Spark DataFrames:

- missing optional columns are injected as typed literals (defaults),
- present columns are cast to the declared type,
- `conform` projects to exactly the contract's columns (dropping scratch),
  which in Spark doubles as column pruning for everything upstream.

All of this is pure `select` — Catalyst folds the literals, so a contract
costs nothing at 100 TB. The projection is rendered as SQL text and
applied as one `selectExpr` whose list crosses to the JVM as one string
(`functions.sqltext.select_sql`): building it from Column objects costs
three to four py4j round trips per column (lit, cast, alias, list
element), which on a ~200-carrier edge is hundreds of driver calls per
use (`operators/localrel.py` applies the same idea to literal tables).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from rwa_calculator_spark.functions.sqltext import Expr, quote, select_sql, sql_literal


@dataclass(frozen=True)
class ColumnSpec:
    dtype: T.DataType
    default: Any = None
    required: bool = False


def _cast_sql(name: str, spec: ColumnSpec, present: bool) -> str:
    value = quote(name) if present else sql_literal(spec.default)
    if value is None:
        raise ValueError(f"default of {name!r} has no SQL literal form: {spec.default!r}")
    return f"CAST({value} AS {spec.dtype.simpleString()})"


def ensure_columns(df: DataFrame, specs: Mapping[str, ColumnSpec]) -> DataFrame:
    """Cast present columns; inject absent optional columns with their typed
    default; raise on absent required columns (reference
    data/column_spec.py:51-67 semantics). Contract columns come first, in
    contract order, then the frame's other columns."""
    present = df.columns
    missing_required = [c for c, s in specs.items() if s.required and c not in present]
    if missing_required:
        raise ValueError(f"missing required columns: {missing_required}")
    exprs = [
        f"{_cast_sql(name, spec, name in present)} AS {quote(name)}"
        for name, spec in specs.items()
    ]
    passthrough = [c for c in present if c not in specs]
    if len(passthrough) == len(present):
        return select_sql(df, exprs + ["*"])
    return select_sql(df, exprs + [quote(c) for c in passthrough])


def absent_defaults(present, specs: Mapping[str, ColumnSpec]) -> dict[str, Expr]:
    """The typed default of every spec column missing from `present`, as
    a SQL expression (no cast of the present ones)."""
    return {n: Expr(_cast_sql(n, s, False)) for n, s in specs.items() if n not in present}


def conform(df: DataFrame, specs: Mapping[str, ColumnSpec]) -> DataFrame:
    """Seal a stage edge: ensure + project to exactly the contract columns
    in contract order (reference contracts/edges.py `EdgeContract.conform`)."""
    return ensure_columns(df, specs).select(*specs.keys())
