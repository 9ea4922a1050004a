"""Width-aware localCheckpoint: keep constant columns OUT of the barrier.

A stage edge that gets localCheckpointed materialises every output column
into serialized InternalRows — including columns the optimizer already
knows are constants (the CRM stage lit-fills its carriers when their
source frame is absent: no guarantees frame → ``g_coverage = 0.0``,
``g_class = NULL``, …). Carriers no stage emits never reach the barrier:
each calculator branch fills them after it from the declared calculator
edge (``contracts.schemas.CALC_EDGE``). Serialising a constant per row is
pure waste, and
worse, the barrier HIDES the constant from Catalyst: downstream pricing
branches like ``F.when(g_coverage > 0, …)`` read an opaque checkpointed
attribute instead of folding to ``false`` at plan time.

``localcheckpoint_folded`` splits the frame's foldable output columns off,
checkpoints only the data-bearing core, and re-attaches the constants as
literal expressions after the barrier. Results are bit-identical (a
foldable, deterministic expression has one value for every row) while

- the barrier serialises fewer bytes per row, and
- Catalyst constant-folds the re-attached literals into every downstream
  plan — whole calculator branches prune away on books that don't carry
  the relevant CRM frames (exactly what you want at 100 TB: a book with
  no guarantees should not pay one instruction of guarantee pricing).

The reference's native engine gets the same effect implicitly — its
stage outputs are typed frames where absent inputs never materialise a
column at all (ref engine/materialise.py stage-edge seal) — Spark's
row-barrier semantics need the explicit split.

Caveat: the re-attached constants are visible to ConstantFolding again —
exactly Spark's semantics on a NON-checkpointed frame. A downstream
partial function over a constant column (ANSI ``cast('' AS BIGINT)`` on a
literal filler row the filter would have excluded) now fails at PLAN time
instead of being masked by the barrier's opacity. That code was broken
without the barrier too: make partial functions total (``try_cast``, a
``when`` guard) rather than relying on a materialisation boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def split_foldable_output(df: DataFrame) -> tuple[DataFrame, dict[str, "F.Column"]]:
    """Partition ``df``'s output columns into (data-bearing frame, constant
    columns). A column is constant when the OPTIMIZED plan's top-level
    Project aliases it to a foldable, deterministic expression (after
    ConstantFolding that is a ``Literal`` or a cast of one). Returns the
    frame without those columns plus ``{name: literal Column}`` rebuilt
    from the folded expression's SQL, cast to the contract dtype so the
    re-attached column's type matches the original exactly.

    Conservative by construction: any introspection surprise (non-Project
    top node, un-parseable SQL round-trip) keeps the column in the frame —
    the split is an optimisation, never a semantic gate."""
    consts: dict[str, F.Column] = {}
    try:
        opt = df._jdf.queryExecution().optimizedPlan()
        if opt.getClass().getSimpleName() != "Project":
            return df, consts
        fields = {f.name: f for f in df.schema.fields}
        pl = opt.projectList()
        for i in range(pl.size()):
            alias = pl.apply(i)
            if alias.getClass().getSimpleName() != "Alias":
                continue
            child = alias.child()
            if not (child.foldable() and child.deterministic()):
                continue
            name = alias.name()
            field = fields.get(name)
            if field is None:
                continue
            try:
                sql = child.sql()
                # non-finite doubles print bare ("NaN", "Infinity") and do
                # NOT round-trip through the SQL parser as literals — keep
                # them in the frame rather than risk a mis-resolution
                if "NaN" in sql or "Infinity" in sql:
                    continue
                col = F.expr(sql).cast(field.dataType)
            except Exception:  # noqa: BLE001 — un-round-trippable SQL: keep
                continue
            consts[name] = col
    except Exception:  # noqa: BLE001 — introspection is best-effort
        return df, {}
    if not consts:
        return df, consts
    return df.drop(*consts.keys()), consts


def localcheckpoint_folded(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)`` that constant columns don't transit.

    Splits foldable output columns off, checkpoints the narrow core, then
    re-attaches the constants as literals and restores the original column
    order. Schema and values are bit-identical to a plain localCheckpoint;
    the constants stay visible to Catalyst downstream of the barrier."""
    order = df.columns
    narrow, consts = split_foldable_output(df)
    out = narrow.localCheckpoint(eager=eager)
    if consts:
        out = out.withColumns(consts).select(*order)
    return out
