"""Spark SQL expressions built as text, applied as one `selectExpr` per step.

A Column expression costs a py4j round trip per node (``col``, ``lit``,
``when``, every operator), and every ``withColumn``/``withColumns`` makes
Spark analyse the whole plan again. On the calculator branches that was
~7k round trips and ~80 eager analyses per run, most of the build's CPU.
`Expr` mirrors the part of the Column API the engine uses but renders SQL
text in Python; `Projection` collects the steps and applies each run of
them as ONE `selectExpr`, sending the list to the JVM as one string.

Equivalence: every rendering parses to the Catalyst expression the Column
API builds — ``CASE WHEN`` for ``when``/``otherwise``, ``named_struct`` for
``struct``, SQL lambdas (``x -> …``) for ``transform``/``aggregate``,
``D``-suffixed doubles for float literals (a bare ``0.1`` parses as
``DECIMAL(1,1)``; decimal arithmetic is not double arithmetic). Literals
that have no exact SQL spelling (NaN, ±Infinity, strings with backslashes)
are refused, never approximated (tests/test_sqltext.py pins each form bit
for bit against ``F.lit``).

Steps merge through Spark's lateral column aliases: a column defined
earlier in the same select list is readable by name further right, and
the analyzer splits the list into the same nested projections a
``withColumn`` chain builds. A step starts a new ``selectExpr`` only where
a lateral reference would resolve differently: a name redefined in the
step, a reference to a replaced input column (the input wins), or one to
a column that sits later in the list.
"""

from __future__ import annotations

import inspect
import math
import re
from typing import Callable, Iterable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- literals and names -----------------------------------------------------


def sql_literal(v) -> str | None:
    """Render one Python value as a SQL literal that parses to the value
    ``F.lit(v)`` builds. None = no exact SQL spelling (NaN/±Infinity, and
    strings whose backslash or NUL escapes depend on parser settings)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        # int32 → INT, beyond → BIGINT: the parser widens like py4j does;
        # a negative value parses as a folded unary minus
        return str(v) if v >= 0 else f"({v})"
    if isinstance(v, float):
        if not math.isfinite(v):
            return None
        # repr round-trips binary64; the D suffix parses it as DOUBLE
        text = repr(v) + "D"
        return text if v >= 0 and math.copysign(1.0, v) > 0 else f"({text})"
    if isinstance(v, str):
        if "\\" in v or "\0" in v or _SEP in v:
            return None
        return "'" + v.replace("'", "''") + "'"
    return None


def quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_SEP = "\x1f"  # unit separator: never inside a rendered expression


# --- expressions ------------------------------------------------------------


class Expr:
    """A SQL expression and the input columns it reads by name."""

    __slots__ = ("sql", "refs")

    def __init__(self, sql: str, refs: Iterable[str] = ()):
        self.sql = sql
        self.refs = frozenset(refs)

    def __repr__(self) -> str:
        return f"Expr({self.sql})"

    def __bool__(self):
        raise ValueError("an Expr has no truth value: use &, |, ~ for AND, OR, NOT")

    def _op(self, op: str, other, swap: bool = False) -> "Expr":
        o = _as_expr(other)
        a, b = (o, self) if swap else (self, o)
        return Expr(f"({a.sql} {op} {b.sql})", self.refs | o.refs)

    def __add__(self, o):
        return self._op("+", o)

    def __radd__(self, o):
        return self._op("+", o, True)

    def __sub__(self, o):
        return self._op("-", o)

    def __rsub__(self, o):
        return self._op("-", o, True)

    def __mul__(self, o):
        return self._op("*", o)

    def __rmul__(self, o):
        return self._op("*", o, True)

    def __truediv__(self, o):
        return self._op("/", o)

    def __rtruediv__(self, o):
        return self._op("/", o, True)

    def __neg__(self):
        return Expr(f"(- {self.sql})", self.refs)

    def __eq__(self, o):  # type: ignore[override]
        return self._op("=", o)

    def __ne__(self, o):  # type: ignore[override]
        return self._op("!=", o)

    def __lt__(self, o):
        return self._op("<", o)

    def __le__(self, o):
        return self._op("<=", o)

    def __gt__(self, o):
        return self._op(">", o)

    def __ge__(self, o):
        return self._op(">=", o)

    def __and__(self, o):
        return self._op("AND", o)

    def __rand__(self, o):
        return self._op("AND", o, True)

    def __or__(self, o):
        return self._op("OR", o)

    def __ror__(self, o):
        return self._op("OR", o, True)

    def __invert__(self):
        return Expr(f"(NOT {self.sql})", self.refs)

    __hash__ = None  # type: ignore[assignment]

    def isNull(self) -> "Expr":
        return Expr(f"({self.sql} IS NULL)", self.refs)

    def isNotNull(self) -> "Expr":
        return Expr(f"({self.sql} IS NOT NULL)", self.refs)

    def isin(self, *values) -> "Expr":
        items = [_as_expr(v) for v in values]
        return Expr(
            f"({self.sql} IN ({', '.join(i.sql for i in items)}))",
            self.refs.union(*(i.refs for i in items)),
        )

    def contains(self, s) -> "Expr":
        return call("contains", self, _as_expr(s))

    def startswith(self, s) -> "Expr":
        return call("startswith", self, _as_expr(s))

    def cast(self, dtype) -> "Expr":
        t = dtype if isinstance(dtype, str) else dtype.simpleString()
        return Expr(f"CAST({self.sql} AS {t})", self.refs)

    def getField(self, name: str) -> "Expr":
        return Expr(f"({self.sql}).{quote(name)}", self.refs)

    __getitem__ = getField

    def bind(self, values: Mapping[str, "Expr"]) -> "Expr":
        """This expression with every input column named in `values` read
        as that expression instead (how a column the frame lacks reads as
        its default). String literals and struct field names are left
        alone."""
        hit = sorted(self.refs & values.keys())
        if not hit:
            return self
        names = "|".join(re.escape(quote(n)) for n in hit)
        token = re.compile(rf"'(?:[^']|'')*'|(?<!\.)(?:{names})")

        def swap(m: re.Match) -> str:
            t = m.group(0)
            return t if t[0] == "'" else values[t[1:-1].replace("``", "`")].sql

        return Expr(token.sub(swap, self.sql), self.refs.difference(hit))


class _Case(Expr):
    """``when(…).when(…)`` still open for more branches or an ``otherwise``."""

    __slots__ = ("branches",)

    def __init__(self, branches: tuple):
        self.branches = branches
        body = " ".join(f"WHEN {c.sql} THEN {v.sql}" for c, v in branches)
        super().__init__(
            f"CASE {body} END",
            frozenset().union(*(c.refs | v.refs for c, v in branches)),
        )

    def when(self, cond, value) -> "_Case":
        return _Case(self.branches + ((_as_expr(cond), _as_expr(value)),))

    def otherwise(self, value) -> Expr:
        v = _as_expr(value)
        body = self.sql[: -len(" END")]
        return Expr(f"{body} ELSE {v.sql} END", self.refs | v.refs)


def _as_expr(v) -> Expr:
    """An operand or a when/otherwise value: an Expr as is, anything else
    a literal (a str too, as in ``F.when``)."""
    return v if isinstance(v, Expr) else lit(v)


def _col_or_expr(v) -> Expr:
    """A function argument: a str names a column (F.coalesce/greatest…)."""
    return col(v) if isinstance(v, str) else _as_expr(v)


def col(name: str) -> Expr:
    return Expr(quote(name), (name,))


def lit(v) -> Expr:
    text = sql_literal(v)
    if text is None:
        raise ValueError(f"no exact SQL literal for {v!r}")
    return Expr(text)


def null(dtype: str) -> Expr:
    """A typed NULL (``F.lit(None).cast(dtype)``)."""
    return Expr(f"CAST(NULL AS {dtype})")


#: +∞ as a folded constant: the cast of the parser-independent string
POS_INF = Expr("CAST('Infinity' AS DOUBLE)")


def expr(sql: str, *refs: str) -> Expr:
    """Raw SQL reading the named input columns."""
    return Expr(sql, refs)


def call(fn: str, *args) -> Expr:
    """``fn(args…)``; str arguments name columns."""
    es = [_col_or_expr(a) for a in args]
    return Expr(
        f"{fn}({', '.join(e.sql for e in es)})", frozenset().union(*(e.refs for e in es))
    )


def when(cond, value) -> _Case:
    return _Case(((_as_expr(cond), _as_expr(value)),))


def coalesce(*args) -> Expr:
    return call("coalesce", *args)


def greatest(*args) -> Expr:
    return call("greatest", *args)


def least(*args) -> Expr:
    return call("least", *args)


def concat(*args) -> Expr:
    return call("concat", *args)


def concat_ws(sep: str, *args) -> Expr:
    return call("concat_ws", lit(sep), *args)


def array(*args) -> Expr:
    return call("array", *args)


def nullif(a, b) -> Expr:
    return call("nullif", a, b)


def sqrt(a) -> Expr:
    return call("sqrt", a)


def size(a) -> Expr:
    return call("size", a)


def lower(a) -> Expr:
    return call("lower", a)


def datediff(end, start) -> Expr:
    return call("datediff", end, start)


def regexp_replace(a, pattern: str, replacement: str) -> Expr:
    return call("regexp_replace", a, lit(pattern), lit(replacement))


def struct(**fields) -> Expr:
    """``F.struct(e.alias(name), …)``: a named struct in field order."""
    parts = []
    refs: frozenset = frozenset()
    for name, e in fields.items():
        e = _col_or_expr(e)
        parts += [lit(name).sql, e.sql]
        refs |= e.refs
    return Expr(f"named_struct({', '.join(parts)})", refs)


def over(e: Expr, *partition_by: str) -> Expr:
    """A window aggregate: ``e OVER (PARTITION BY …)``."""
    keys = ", ".join(quote(k) for k in partition_by)
    return Expr(f"{e.sql} OVER (PARTITION BY {keys})", e.refs | frozenset(partition_by))


def _lambda(fn: Callable) -> tuple[str, Expr]:
    """A Python function over Exprs as a SQL lambda named after its own
    parameters (fixed names: two builds render the same plan text)."""
    names = list(inspect.signature(fn).parameters)
    if not all(_IDENT.match(n) for n in names):
        raise ValueError(f"lambda parameters must be plain identifiers: {names}")
    body = _as_expr(fn(*(Expr(n) for n in names)))
    head = names[0] if len(names) == 1 else f"({', '.join(names)})"
    return f"{head} -> {body.sql}", body


def transform(arr, fn: Callable) -> Expr:
    a = _col_or_expr(arr)
    text, body = _lambda(fn)
    return Expr(f"transform({a.sql}, {text})", a.refs | body.refs)


def aggregate(arr, zero, merge: Callable) -> Expr:
    a, z = _col_or_expr(arr), _as_expr(zero)
    text, body = _lambda(merge)
    return Expr(f"aggregate({a.sql}, {z.sql}, {text})", a.refs | z.refs | body.refs)


def zip_with(left, right, fn: Callable) -> Expr:
    a, b = _col_or_expr(left), _col_or_expr(right)
    text, body = _lambda(fn)
    return Expr(f"zip_with({a.sql}, {b.sql}, {text})", a.refs | b.refs | body.refs)


def kernel(fn: Callable, *args: Expr) -> Expr:
    """A `functions.stats` V-node kernel (Φ, Φ⁻¹, correlation, …) over
    Exprs, rendered through the Spark-SQL text backend."""
    from rwa_calculator_spark.functions.stats import SparkSqlB, V

    es = [_col_or_expr(a) for a in args]
    out = fn(*(V(SparkSqlB, e.sql) for e in es))
    return Expr(out.v, frozenset().union(*(e.refs for e in es)))


# --- applying projections ---------------------------------------------------


def select_sql(df: DataFrame, exprs: list[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in three py4j calls whatever the width:
    the list crosses as one string split JVM-side (pyspark converts a
    Python list element by element, one round trip each)."""
    if any(_SEP in e for e in exprs):
        raise ValueError("expression text contains the list separator")
    jvm = df.sparkSession._jvm
    arr = getattr(jvm, "org.apache.commons.lang3.StringUtils").split(
        _SEP.join(exprs), _SEP
    )
    return type(df)(df._jdf.selectExpr(arr), df.sparkSession)


class Projection:
    """Column steps pending over one DataFrame (``withColumns`` semantics:
    a mapping's expressions read the frame as it stood before the
    mapping). `df` applies them in as few ``selectExpr`` calls as lateral
    alias resolution allows — usually one."""

    def __init__(self, df: DataFrame, columns: list[str] | None = None):
        # `columns`: the frame's names when the caller knows them — a
        # schema fetch of a wide plan costs a round trip of ~40 ms
        self._df = df
        self._base = list(df.columns if columns is None else columns)
        self._out: dict[str, str | None] = dict.fromkeys(self._base)  # None: pass-through
        self._lateral: dict[str, frozenset] = {}  # defined in this step → refs

    @classmethod
    def of(cls, frame: "DataFrame | Projection") -> "Projection":
        return frame if isinstance(frame, Projection) else cls(frame)

    @property
    def columns(self) -> list[str]:
        return list(self._out)

    @property
    def spark(self):
        return self._df.sparkSession

    def _flush(self) -> None:
        if list(self._out) == self._base and not self._lateral:
            return
        items = [
            quote(n) if e is None else f"{e} AS {quote(n)}" for n, e in self._out.items()
        ]
        self._df = select_sql(self._df, items)
        self._base = list(self._out)
        self._out = dict.fromkeys(self._base)
        self._lateral = {}

    @property
    def df(self) -> DataFrame:
        self._flush()
        return self._df

    def with_columns(self, mapping: Mapping[str, object]) -> "Projection":
        exprs = {n: _as_expr(e) for n, e in mapping.items()}
        base = set(self._base)
        if any(
            n in self._lateral
            or any(r in self._lateral and (r in base or n in self._out) for r in e.refs)
            for n, e in exprs.items()
        ):
            self._flush()
        for n, e in exprs.items():
            self._out[n] = e.sql
            self._lateral[n] = e.refs
        return self

    def with_column(self, name: str, e) -> "Projection":
        return self.with_columns({name: e})

    def drop(self, *names: str) -> "Projection":
        gone = [n for n in names if n in self._out]
        if any(
            n in self._lateral and any(n in r for m, r in self._lateral.items() if m not in gone)
            for n in gone
        ):
            self._flush()
        for n in gone:
            self._out.pop(n)
            self._lateral.pop(n, None)
        return self

    def select(self, *names: str) -> "Projection":
        """Keep (and order) the named columns."""
        order = {n: i for i, n in enumerate(names)}
        if any(
            r in self._lateral and (r not in order or order[r] >= order[n])
            for n in names
            for r in self._lateral.get(n, ())
        ):
            self._flush()
        self._out = {n: self._out[n] for n in names}
        self._lateral = {n: r for n, r in self._lateral.items() if n in self._out}
        return self

    def join(self, other: DataFrame, on: Expr, how: str = "inner") -> "Projection":
        from pyspark.sql import functions as F

        return self._carry(self._ready().join(other, F.expr(on.sql), how), other.columns)

    def where(self, cond: Expr) -> "Projection":
        return self._carry(self._ready().where(cond.sql), [])

    def _ready(self) -> DataFrame:
        """The frame a join or filter applies to: pending column
        definitions are applied first; dropped columns may ride along."""
        if self._lateral:
            self._flush()
        return self._df

    def _carry(self, df: DataFrame, added: list[str]) -> "Projection":
        """A Projection over `df` (this frame's input plus `added`) that
        still owes this frame's drops and column order."""
        out = Projection(df, self._base + added)
        out._out = dict.fromkeys(self.columns + added)
        return out

    def dtype(self, name: str) -> T.DataType:
        """A column's type; an input column's without applying the steps."""
        if self._out.get(name, "") is None:
            return self._df.schema[name].dataType
        return self.df.schema[name].dataType
