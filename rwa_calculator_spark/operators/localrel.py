"""Literal dimension frames that never touch the Python worker pool.

``spark.createDataFrame(rows, schema)`` ships tiny lookup tables through
``sc.parallelize`` — a ParallelCollectionRDD sliced to the default
parallelism whose evaluation is a PythonRDD. On a 32-core local session a
20-row pack table therefore executes as 32 tasks, each paying a Python
worker round-trip, and every broadcast build of such a dim re-runs them.
The bench profile showed six pack-table broadcasts burning ~40 s of task
time at ~0 CPU on exactly this (stages 43-48, round-9 note).

``local_literal_df`` instead compiles the rows into the plan itself as a
foldable SQL ``VALUES`` table — a true ``LocalRelation`` Catalyst can
constant-fold, fold filters into, and broadcast WITHOUT scheduling a job
(``LocalTableScan.executeCollect`` is driver-side). This is also the
honest cluster shape for regime-as-data tables: the values are plan
literals, exactly like the scalar ``pack.lit`` path, not distributed
data.

Guard rails: tuples-only rows and a row cap — anything bigger or richer
falls back to ``createDataFrame`` (expression-tree size is driver-side
cost, and large data should be data, not plan).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rwa_calculator_spark.functions.sqltext import quote, sql_literal

# Dimension-sized tables only: beyond this the expression tree stops being
# "a few literals" and plan build/optimize time outweighs the worker wins.
MAX_LITERAL_ROWS = 1024


def local_literal_df(
    spark: SparkSession,
    schema: str | StructType,
    rows: Iterable[Sequence],
    select: str = "*",
    where: str | None = None,
    broadcast: bool = False,
) -> DataFrame:
    """A small lookup table as a JVM-side literal relation (no PythonRDD).

    ``select``/``where`` are SQL over the table's columns and ``broadcast``
    adds the broadcast hint, all inside the one ``spark.sql`` call: a pack
    dimension renamed, filtered and hinted for a join costs one analysis,
    not four."""
    rows = [tuple(r) for r in rows]
    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    values = _values_sql(st, rows) if 0 < len(rows) <= MAX_LITERAL_ROWS else None
    if values is None:
        # too big, empty or not renderable: a data-backed frame, shaped by
        # the same SQL through a frame parameter
        df = (
            _column_literal_df(spark, st, rows)
            if 0 < len(rows) <= MAX_LITERAL_ROWS
            else spark.createDataFrame(rows, schema)
        )
        if (select, where, broadcast) == ("*", None, False):
            return df
        return spark.sql(_shape_sql("{t}", select, where, broadcast), t=df)
    return spark.sql(_shape_sql(values, select, where, broadcast))


def _shape_sql(relation: str, select: str, where: str | None, broadcast: bool) -> str:
    hint = "/*+ BROADCAST */ " if broadcast else ""
    cond = f" WHERE {where}" if where else ""
    return f"SELECT {hint}{select} FROM {relation}{cond}"


def _values_sql(st: StructType, rows: list[tuple]) -> str | None:
    """The rows as a ``VALUES`` relation, None when a value has no exact
    SQL literal for its column type."""
    # Compile the whole relation into ONE SQL string: a row-by-row Column
    # build costs hundreds of py4j round-trips per table (lit + cast +
    # alias per value), which the round-9 build profile showed as ~0.3 s
    # per pack table of pure driver chatter. A foldable VALUES table is one
    # gateway call AND resolves to a true LocalRelation — unlike the
    # earlier range(1)->inline(array(named_struct(...))) shape, whose
    # Generate node is not a LocalRelation, so every broadcast build of it
    # scheduled a real 1-task job. LocalTableScan.executeCollect is
    # driver-side: broadcasting a pack dim launches NO job at all, and
    # ConvertToLocalRelation folds pack-table filters at optimize time.
    # CAST(<literal> AS <type>) parses bit-identically in both shapes
    # (exactness audit in tests/test_localrel.py).
    types = [f.dataType.simpleString() for f in st.fields]
    tuples = []
    for r in rows:
        cells = []
        for v, t in zip(r, types):
            s = sql_literal(v)
            # The float rendering is bit-identical only when the target is a
            # floating-point column: for e.g. decimal(p,s), CAST('2.675')
            # rounds the exact decimal text while F.lit rounds the binary
            # double — different paths, different digits. Fall back.
            if s is None or (isinstance(v, float) and t not in ("double", "float")):
                return None
            cells.append(f"CAST({s} AS {t})")
        tuples.append(f"({', '.join(cells)})")
    cols = ", ".join(quote(f.name) for f in st.fields)
    return f"(VALUES {', '.join(tuples)}) AS _litrel({cols})"


def _column_literal_df(spark: SparkSession, st: StructType, rows) -> DataFrame:
    """Column-API fallback for values the SQL renderer refuses."""
    structs = [
        F.struct(
            *[F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(r, st.fields)]
        )
        for r in rows
    ]
    return spark.range(0, 1, numPartitions=1).select(F.inline(F.array(*structs)))
