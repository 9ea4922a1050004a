#!/usr/bin/env python
"""Capture physical plans of registry queries.

Usage:
  python scripts/capture_plans.py <suffix> [query ...]
      Write .explain("formatted") to plans/<tag>/<query>_<suffix>.txt
      (tag from PLANS_TAG, default r10); with no query names, captures the
      bench suite.
  python scripts/capture_plans.py --parity [query ...]
      Print one JSON line per query: the per-operator node counts of the
      physical plan before execution and of the final adaptive plan after
      it, the result row count, an order-insensitive result-row hash and
      one order-insensitive hash per result column (`columns`), so a
      changed result names its changed columns. Run it at two commits and
      diff the output: a refactor that claims identical output must print
      identical lines. Each line also carries
      the plan build's cost: its non-detach py4j commands (`build_py4j`)
      and its top-level DataFrame calls (`build_df_calls`: DataFrame
      method calls plus frames built straight from the JVM, such as
      `spark.sql` or `sqltext.select_sql`; calls made inside another
      DataFrame method are not counted).

The data directory comes from SPARK_GRAFT_SF_DIR (default sf0.1 for plan
capture, sf0.01 for parity).
"""
from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import sys
import types
from collections import Counter
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rwa_calculator_spark.plans import load_all
from rwa_calculator_spark.session import build_session

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("PLANS_TAG", "r10"),
)

# "(12) BroadcastHashJoin [codegen id : 3]" -> "BroadcastHashJoin"
_NODE = re.compile(r"^\(\d+\) ([A-Za-z][A-Za-z0-9]*(?: [A-Za-z][A-Za-z0-9]*)*)")


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def operator_counts(plan: str) -> dict[str, int]:
    """Node counts from the numbered node list of a formatted explain."""
    seen: dict[str, str] = {}
    for line in plan.splitlines():
        m = re.match(r"^\((\d+)\) ", line)
        if m and m.group(1) not in seen:
            node = _NODE.match(line)
            seen[m.group(1)] = node.group(1) if node else line.split()[1]
    return dict(sorted(Counter(seen.values()).items()))


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def result_hash(df, rows) -> str:
    """sha256 over sorted rows, columns in name order."""
    names = sorted(df.columns)
    lines = sorted(
        "|".join(_cell(r[n]) for n in names) for r in (row.asDict() for row in rows)
    )
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def column_hashes(df, rows) -> dict[str, str]:
    """Per column: sha256 over its sorted values (12 hex digits)."""
    return {
        n: hashlib.sha256(
            "\n".join(sorted(_cell(r[n]) for r in rows)).encode()
        ).hexdigest()[:12]
        for n in sorted(df.columns)
    }


_DETACH = "m\nd\n"  # py4j memory-detach: handle GC, not program traffic


@contextmanager
def build_cost():
    """Count non-detach py4j commands and top-level DataFrame method calls
    made inside the block; yields a dict filled in on exit."""
    from py4j.java_gateway import GatewayClient
    from pyspark.sql.classic.dataframe import DataFrame

    cost = {"py4j": 0, "df_calls": 0}
    depth = [0]
    patched = [(GatewayClient, "send_command", GatewayClient.send_command)]
    real_send = GatewayClient.send_command

    def send_command(client, command, *a, **k):
        if not command.startswith(_DETACH):
            cost["py4j"] += 1
        return real_send(client, command, *a, **k)

    def wrap(fn):
        @functools.wraps(fn)
        def call(*a, **k):
            # pyspark's DataFrame.__new__ runs __init__ on the new frame
            # before Python runs it again: count each frame once
            again = fn.__name__ == "__init__" and "_jdf" in vars(a[0])
            if depth[0] == 0 and not again:
                cost["df_calls"] += 1
            depth[0] += 1
            try:
                return fn(*a, **k)
            finally:
                depth[0] -= 1

        return call

    GatewayClient.send_command = send_command
    for name, fn in list(vars(DataFrame).items()):
        if isinstance(fn, types.FunctionType) and (
            not name.startswith("_") or name == "__init__"
        ):
            patched.append((DataFrame, name, fn))
            setattr(DataFrame, name, wrap(fn))
    try:
        yield cost
    finally:
        for owner, name, fn in patched:
            setattr(owner, name, fn)


def parity(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    registry = load_all()
    spark = build_session(app_name="capture-plans-parity")
    for name in names:
        with build_cost() as cost:
            df = registry[name].fn(spark, sf_dir)
        before = operator_counts(_formatted(df))
        rows = df.collect()
        after = operator_counts(_formatted(df))
        print(
            json.dumps(
                {
                    "query": name,
                    "build_py4j": cost["py4j"],
                    "build_df_calls": cost["df_calls"],
                    "rows": len(rows),
                    "hash": result_hash(df, rows),
                    "columns": column_hashes(df, rows),
                    "plan_before": before,
                    "plan_after": after,
                },
                sort_keys=True,
            ),
            flush=True,
        )
    spark.stop()


def main() -> None:
    if sys.argv[1] == "--parity":
        parity(sys.argv[2:])
        return
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    if not names:
        names = sorted(n for n, s in registry.items() if s.bench)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = build_session(app_name="capture-plans")
    for name in names:
        spec = registry[name]
        df = spec.fn(spark, sf_dir)
        plan = _formatted(df)
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_exch = plan.count("Exchange")
        print(f"{name}: {len(plan.splitlines())} lines, Exchange x{n_exch} -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
