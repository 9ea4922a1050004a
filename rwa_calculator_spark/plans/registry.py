"""Named-query registry backing __spark_entry__.py.

Each operator from SURVEY.md §2 registers here as a (Spark callable,
DuckDB oracle SQL) pair. The driver hash-compares the two at sf0.01;
queries with no SQL-expressible semantics register oracle=None and get the
weaker rows-only check.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from rwa_calculator_spark.session import apply_session_tuning

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]
    tags: tuple[str, ...] = ()
    bench: bool = False  # part of the bench.py headline suite


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = (), bench: bool = False):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def run(spark: SparkSession, sf_dir: str, /, *args, **kwargs) -> DataFrame:
            # harness-built sessions (the round driver's) get the engine's
            # runtime tuning here; a tuned session pays one conf read
            apply_session_tuning(spark)
            return fn(spark, sf_dir, *args, **kwargs)

        run.__name__ = fn.__name__
        run.__doc__ = fn.__doc__
        run.__wrapped__ = fn
        REGISTRY[name] = QuerySpec(name, run, oracle, tuple(tags), bench)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every plans submodule so all @query decorators run."""
    # the shared entry point of every query surface: process-level tuning
    # before any session exists (see session.apply_session_tuning)
    apply_session_tuning()
    from rwa_calculator_spark.plans import (  # noqa: F401
        ccr,
        corep_c08,
        curation,
        domain,
        engine_stages,
        extras,
        llm,
        pillar3,
        relational,
        rwa,
        scalars,
        stats,
        streaming_batch,
        windows,
    )

    return REGISTRY
