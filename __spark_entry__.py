"""Entry contract (PySpark target) for callers that bring their own session.

``entry(spark)`` is a smoke check; ``queries()`` maps every registered query
name, in registration order, to its ``(spark, sf_dir) -> DataFrame``
callable, and ``oracle_sql()`` maps each oracled name to the ANSI SQL that
DuckDB runs over the same parquet tables (row-count + schema +
order-insensitive value-hash comparison, as in ``tools/check_oracle.py``).

All queries live in quatrain_mapreduce_spark.plans.* and register into
quatrain_mapreduce_spark.registry; this module is a thin adapter.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from quatrain_mapreduce_spark.registry import all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (groupby2.q shape) on /root/testdata/sf0.001."""
    qs = all_queries()
    return qs["groupby2_shape"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}
