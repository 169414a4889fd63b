"""Sort / limit / sampling operators.

SURVEY.md §2.6. The reference's total-order machinery (TotalOrderPartitioner
trie + InputSampler split points, lib/TotalOrderPartitioner.java:41) is what
Spark's orderBy already does internally (range-partition by sampled bounds,
sort within partitions) — so these operators are thin declarative forms whose
value is pinning the reference semantics (secondary sort, key-field sort,
CLUSTER BY, bucket sampling) to the right Spark plan shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cluster_by(df: DataFrame, cols: list[str], sort_cols: list[Column] | None = None) -> DataFrame:
    """Hive CLUSTER BY: hash-repartition on exprs + sort within partitions.

    SemanticAnalyzer.java:1553 (genReduceSinkPlan with numReducers>0).
    """
    return df.repartition(*[F.col(c) for c in cols]).sortWithinPartitions(*(sort_cols or [F.col(c) for c in cols]))


def secondary_sort_agg(df: DataFrame, key: str, value: Column) -> DataFrame:
    """Secondary sort (setOutputValueGroupingComparator parity): per key, the
    group's values, cast to string, in sorted order, materialized as a
    canonical joined string.

    Declarative form: sort_array(collect_list) — fully map-side combinable,
    no per-group Python. For very large groups prefer
    df.repartition(key).sortWithinPartitions(key, value) + mapInPandas.
    """
    v = value.cast("string")
    return df.groupBy(key).agg(F.concat_ws(",", F.sort_array(F.collect_list(v))).alias("sorted_values"))


def key_field_sort(df: DataFrame, order_by: list[Column], project: list[str]) -> DataFrame:
    """KeyFieldBasedComparator parity (sort -k style: multi-field, numeric,
    reverse per field — lib/KeyFieldBasedComparator.java:46)."""
    return df.orderBy(*order_by).select(*project)


def bucket_sample(df: DataFrame, key: str, x: int, y: int) -> DataFrame:
    """TABLESAMPLE (BUCKET x OUT OF y ON key) — parse/TableSample.java:24.

    Deterministic hash-bucket sampling: key % y == x-1. When the table is
    bucketed on ``key``, Spark prunes to matching bucket files; otherwise
    this is a pushed-down scan filter (SamplePruner.java:62 parity).
    """
    return df.where(F.pmod(F.col(key), F.lit(y)) == F.lit(x - 1))
