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
      it, the result row count and an order-insensitive result-row hash.
      Run it at two commits and diff the output: a refactor that claims
      identical output must print identical lines.

The data directory comes from SPARK_GRAFT_SF_DIR (default sf0.1 for plan
capture, sf0.01 for parity).
"""
from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from collections import Counter

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


def parity(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    registry = load_all()
    spark = build_session(app_name="capture-plans-parity")
    for name in names:
        df = registry[name].fn(spark, sf_dir)
        before = operator_counts(_formatted(df))
        rows = df.collect()
        after = operator_counts(_formatted(df))
        print(
            json.dumps(
                {
                    "query": name,
                    "rows": len(rows),
                    "hash": result_hash(df, rows),
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
