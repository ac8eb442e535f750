"""Declared query inventory (the driver-graded surface, SURVEY §2).

Every module in this package registers queries into :data:`REGISTRY` via
the :func:`declare` decorator. ``__spark_entry__.py`` exposes the
registry as ``queries()`` / ``oracle_sql()``.

Declaration discipline (SURVEY §5.2): a query is only declared once the
local parity gate (tools/check_parity.py) hash-matches it against DuckDB
at sf0.01 — an unverified declaration is a liability.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class DeclaredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, DeclaredQuery] = {}


def declare(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a (query fn, oracle SQL) pair under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = DeclaredQuery(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def load_registry() -> dict[str, DeclaredQuery]:
    """Import every query module (side effect: registration) and return
    the registry in registration order."""
    from pipetree_spark.queries import (  # noqa: F401
        aggregates,
        functions,
        graph,
        joins,
        llm_ops,
        pipelines,
        projections,
        sampling,
        setops,
        sorts,
        sources,
        streaming_batch,
        subqueries,
        timeseries,
        tpch,
        udfs,
        validation,
        windows,
    )

    return dict(REGISTRY)
