"""Dictionary-style evaluation of expensive scalar expressions.

When an expensive pure function (Φ⁻¹/K here; any heavy deterministic
expression in general) is driven by low-cardinality inputs — banded PDs,
rating grades, lookup-derived parameters — evaluating it per fact row wastes
the cluster: compute it once per DISTINCT input combination and broadcast-
join the results back. Values are bit-identical to per-row evaluation (same
expression, same inputs), so oracle parity is preserved; the fact-side cost
drops from O(rows × expr) to O(rows) join probes plus O(distinct × expr).

The reference gets this for free from Polars' tiny single-machine data; at
100 TB it is the difference between evaluating a 500-op expression 10^12
times and 10^3 times.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rwa_calculator_spark.functions.sqltext import Projection, quote, select_sql


def dictionary_apply(
    frame: "DataFrame | Projection",
    keys: Sequence[str],
    transform: Callable[[Projection], Projection],
):
    """Apply `transform` (adds derived columns to a pending projection) to
    the distinct key combos, then broadcast-join the derived columns back
    onto `frame` (a DataFrame or a pending `sqltext.Projection`; the
    result is the same kind).

    Join keys may be doubles: both sides carry the *same* computed values,
    so equality is exact. Keys must be non-null (guard upstream)."""
    proj = Projection.of(frame)
    df, keys = proj.df, list(keys)
    dims = transform(Projection(select_sql(df, [quote(k) for k in keys]).distinct(), keys))
    out = df.join(F.broadcast(dims.df), on=keys, how="left")
    if not isinstance(frame, Projection):
        return out
    # a USING join puts the keys first
    rest = [c for c in proj.columns + dims.columns if c not in keys]
    return Projection(out, keys + rest)
