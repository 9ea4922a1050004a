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

The split reads the optimized plan's top project list in one round trip
(its JSON, parsed in Python) and re-attaches the constants as SQL text in
one ``selectExpr``: walking the list through py4j cost ~700 calls per
barrier on the benchmark book, and rebuilding the literals as Columns
~370 more.

Caveat: the re-attached constants are visible to ConstantFolding again —
exactly Spark's semantics on a NON-checkpointed frame. A downstream
partial function over a constant column (ANSI ``cast('' AS BIGINT)`` on a
literal filler row the filter would have excluded) now fails at PLAN time
instead of being masked by the barrier's opacity. That code was broken
without the barrier too: make partial functions total (``try_cast``, a
``when`` guard) rather than relying on a materialisation boundary.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from rwa_calculator_spark.functions.sqltext import quote, select_sql, sql_literal

_LITERAL = "org.apache.spark.sql.catalyst.expressions.Literal"
_ALIAS = "org.apache.spark.sql.catalyst.expressions.Alias"
_PROJECT = "org.apache.spark.sql.catalyst.plans.logical.Project"
_INTEGRAL = ("tinyint", "smallint", "integer", "long")


def _literal_sql(node: dict, dtype: str) -> str | None:
    """SQL text for a plan-JSON ``Literal`` node, cast to the contract
    dtype; None when the value has no exact text form (NaN/±Infinity,
    decimals, dates, non-empty collections, escaped strings)."""
    value, vtype = node.get("value"), node.get("dataType")
    if value is None:
        text = "NULL"
    elif vtype == "double" or vtype == "float":
        text = sql_literal(float(value))  # Java's toString round-trips
    elif vtype in _INTEGRAL:
        text = sql_literal(int(value))
    elif vtype == "boolean" and value in ("true", "false"):
        text = value.upper()
    elif vtype == "string":
        text = sql_literal(value)
    elif isinstance(vtype, dict) and vtype.get("type") == "array" and value == "[]":
        text = "array()"
    else:
        return None
    return None if text is None else f"CAST({text} AS {dtype})"


def split_foldable_output(df: DataFrame) -> tuple[DataFrame, dict[str, str]]:
    """Partition ``df``'s output columns into (data-bearing frame, constant
    columns). A column is constant when the OPTIMIZED plan's top-level
    Project aliases it to a literal (ConstantFolding has reduced every
    foldable, deterministic expression to one). Returns the frame without
    those columns plus ``{name: SQL text}`` for each constant, cast to the
    contract dtype so the re-attached column's type matches exactly.

    One round trip reads the whole project list: the top Project is copied
    over a one-row leaf (so the rest of the plan is not serialised) and
    its JSON parsed here, instead of walking the list node by node.

    Conservative by construction: any surprise (non-Project top node, a
    literal with no exact SQL text) keeps the column in the frame — the
    split is an optimisation, never a semantic gate."""
    try:
        jvm = df.sparkSession._jvm
        opt = df._jdf.queryExecution().optimizedPlan()
        leaf = getattr(jvm, "org.apache.spark.sql.catalyst.plans.logical.OneRowRelation")()
        top = json.loads(opt.copy(opt.projectList(), leaf).toJSON())[0]
    except Exception:  # noqa: BLE001 — not a Project, or no JSON form
        return df, {}
    if top.get("class") != _PROJECT:
        return df, {}
    fields = {f.name: f for f in df.schema.fields}
    consts: dict[str, str] = {}
    for expr in top["projectList"]:
        # an Alias over a single Literal: the folded constant
        if len(expr) != 2 or expr[0]["class"] != _ALIAS or expr[1]["class"] != _LITERAL:
            continue
        field = fields.get(expr[0]["name"])
        if field is None:
            continue
        text = _literal_sql(expr[1], field.dataType.simpleString())
        if text is not None:
            consts[field.name] = text
    if not consts:
        return df, consts
    return select_sql(df, [quote(c) for c in df.columns if c not in consts]), consts


def localcheckpoint_folded(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)`` that constant columns don't transit.

    Splits foldable output columns off, checkpoints the narrow core, then
    re-attaches the constants as literals in the original column order,
    in one ``selectExpr``. Schema and values are bit-identical to a plain
    localCheckpoint; the constants stay visible to Catalyst downstream of
    the barrier."""
    order = df.columns
    narrow, consts = split_foldable_output(df)
    out = narrow.localCheckpoint(eager=eager)
    if consts:
        out = select_sql(
            out, [f"{consts[c]} AS {quote(c)}" if c in consts else quote(c) for c in order]
        )
    return out
