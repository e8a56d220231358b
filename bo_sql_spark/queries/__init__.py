"""The graded query registry.

Every operator the engine claims (SURVEY.md §2) is declared here as a
QuerySpec: a Spark DataFrame builder plus (where SQL-expressible) the
equivalent ANSI SQL for the DuckDB oracle. The driver runs both at
sf=0.01 and hash-compares values, so builders and oracles must agree on
column NAMES (the compare sorts columns by name) and on VALUES exactly.

Determinism rules used throughout (see SURVEY.md §4.3 #11 and phase 2):
- Double aggregates are rounded identically on both sides: different
  engines sum floats in different orders, so unrounded sums differ in
  ULPs and would hash-mismatch.
- Sums of integer-valued doubles (e.g. l_quantity) are exact in IEEE
  double and need no rounding.
- LIMIT queries carry a total tie-breaking ORDER BY.
- Timestamp outputs are emitted as epoch seconds (BIGINT) so no
  formatting/timezone drift can creep into the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]
Prepare = Callable[[SparkSession, str], Any]
Serve = Callable[[SparkSession, str, Any], DataFrame]


@dataclass
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None => non-SQL-expressible, rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Served entries: ``prepare(spark, sf_dir)`` builds the store once
    # and returns the state (paths, driver lookups) that each
    # ``serve(spark, sf_dir, state)`` read answers from. ``builder``
    # runs both, so every caller of it sees one self-contained query.
    amortized: tuple[Prepare, Serve] | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    prepare: Prepare | None = None,
) -> Callable:
    """Register the decorated builder under ``name``. With ``prepare``
    the decorated function is the entry's serve step instead, taking
    the state ``prepare`` returns as its third argument."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        builder, amortized = fn, None
        if prepare is not None:
            amortized = (prepare, fn)

            def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
                return fn(spark, sf_dir, prepare(spark, sf_dir))

        REGISTRY[name] = QuerySpec(
            name=name, builder=builder, oracle=oracle, doc=doc, tags=tags,
            amortized=amortized,
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY)."""
    from bo_sql_spark.queries import (  # noqa: F401
        core,
        extended,
        pipeline,
        streaming_queries,
        tpch_more,
        training,
    )

    return REGISTRY
