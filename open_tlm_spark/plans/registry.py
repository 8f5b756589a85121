"""Query registry backing __spark_entry__.queries()/oracle_sql().

Each entry pairs a PySpark DataFrame builder with the equivalent
DuckDB SQL (the driver's correctness oracle). Conventions that make
the driver's order-insensitive value-hash comparison deterministic:

  * Every computed column is aliased identically on both sides.
  * Money aggregates go through DECIMAL(18,2|4) casts in BOTH engines
    (exact arithmetic — immune to float summation order), then cast
    back to double for a stable output schema.
  * Ratio/mean outputs are rounded (6 dp) on both sides.
  * Bin timestamps are epoch-second BIGINTs (no tz ambiguity).
  * Top-k queries carry a unique tiebreak column in the ORDER BY.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from open_tlm_spark.session import load_tables


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> rows-only check
    bench: bool = True  # False: correctness-only (e.g. writes state)
    # True: the builder DELIBERATELY runs driver-side actions while
    # being built (iterative convergence loops, store round-trips,
    # self-telemetry harnesses). Exempted — explicitly, by name — from
    # tests/test_plan_quality.py::test_builders_never_call_driver_actions;
    # every other builder must be fully lazy.
    stateful: bool = False


REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = True,
    stateful: bool = False,
):
    """Register a query under SURVEY.md §2's inventory name; each name
    registers once, and queries() lists them in registration order."""
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            load_tables(spark, sf_dir)
            return fn(spark, sf_dir)

        REGISTRY[name] = QueryDef(wrapped, oracle, bench, stateful)
        return fn

    return deco


def spark_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    return {
        name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None
    }
