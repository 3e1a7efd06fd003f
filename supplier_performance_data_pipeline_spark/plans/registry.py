"""Registry of driver-facing queries: Spark builder + DuckDB oracle SQL.

Each entry is one operator/query from SURVEY.md §2 (or an extension
operator). ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
views over this registry. Oracle SQL is ANSI SQL DuckDB can run on the
same parquet tables; entries with ``oracle=None`` get the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible ops).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from supplier_performance_data_pipeline_spark.session import tune_session


@dataclass(frozen=True)
class QuerySpec:
    name: str
    # The registered (spark, sf_dir) -> DataFrame function; its source
    # is what plans/fingerprints.py hashes. Call ``build``, not this.
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    # Columns whose cross-engine contract is *approximate* (compared at
    # tolerance by the local parity gate). Default: EVERY column is
    # exact — the driver hashes exact values, and round 4 proved that a
    # tolerant local gate certifies queries the driver then fails
    # (rtol=1e-9 at 1e8 magnitude tolerates cent-level error). Declare
    # a column here only with a docstring reason.
    approx_cols: frozenset[str] = frozenset()

    def build(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tune ``spark`` once (the driver may hand over a session on
        Spark's stock conf), then run the registered builder."""
        tune_session(spark)
        return self.builder(spark, sf_dir)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    approx_cols: frozenset[str] | set[str] = frozenset(),
):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(
            name=name,
            builder=fn,
            oracle=oracle,
            approx_cols=frozenset(approx_cols),
        )
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: fills REGISTRY)."""
    from supplier_performance_data_pipeline_spark.plans import (  # noqa: F401
        queries_analytics,
        queries_core,
        queries_corpus,
        queries_curation,
        queries_events,
        queries_joins,
        queries_multimodal,
        queries_sim,
        queries_text,
    )

    return REGISTRY
