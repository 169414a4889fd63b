"""Aggregation operators — the reference's aggregate package + Hive UDAFs.

SURVEY.md §2.4. The combiner protocol (map-side partial aggregation,
JOutputBuffer.java:1168) is automatic in Spark: every groupBy().agg() plans
partial + final HashAggregate with Tungsten spilling, so these operators are
plain declarative aggregations.

- LongSumReducer (lib/LongSumReducer.java:32)            -> groupBy().agg(sum) (salted_sum)
- UniqValueCount (lib/aggregate/UniqValueCount.java)     -> uniq_value_count
- ValueHistogram (lib/aggregate/ValueHistogram.java)     -> value_histogram
- ValueAggregatorJob (lib/aggregate/ValueAggregatorJob.java) -> value_aggregator
- TopK heap reducer (examples/TopK.java:126)             -> top_k / top_k_per_group
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def uniq_value_count(df: DataFrame, key: str, value: str, approx: bool = False) -> DataFrame:
    """UniqValueCount: distinct-value count per key.

    The reference bounds its in-memory set (lossy beyond maxNumItems); at
    scale the honest equivalent is HyperLogLog (``approx=True``), exact
    count-distinct being the opt-in.
    """
    agg = (
        F.approx_count_distinct(value).alias("uniq_cnt")
        if approx
        else F.countDistinct(value).alias("uniq_cnt")
    )
    return df.groupBy(key).agg(agg, F.count("*").alias("total"))


def value_histogram(df: DataFrame, key: str, value: str) -> DataFrame:
    """ValueHistogram: per-key stats over the frequency-of-each-value distribution.

    Emits distinct-value count and min/median/max/avg/stddev of the
    per-value frequencies — two-level aggregation, both levels map-side
    combinable. Exact percentile here; at 100 TB swap to percentile_approx
    (documented divergence, same shape).
    """
    freq = df.groupBy(key, value).agg(F.count("*").alias("freq"))
    return freq.groupBy(key).agg(
        F.count("*").alias("n_unique"),
        F.min("freq").alias("min_freq"),
        F.max("freq").alias("max_freq"),
        F.round(F.avg("freq"), 4).alias("avg_freq"),
        F.round(F.expr("percentile(freq, 0.5)"), 4).alias("median_freq"),
        F.round(F.stddev_samp("freq"), 4).alias("std_freq"),
    )


def value_aggregator(df: DataFrame, aggs: list[Column]) -> DataFrame:
    """ValueAggregatorJob: many global aggregates over one pass of the data.

    The reference multiplexes "type:id"-tagged records through one
    combiner/reducer pair; in Spark a single agg() with N aggregate columns
    is one scan + one (partial-combined) shuffle.
    """
    return df.agg(*aggs)


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """TopK.java's bounded-heap reducer: total order + limit.

    Spark plans this as per-partition TakeOrderedAndProject (the heap) + a
    single-partition final merge — the same two-job shape the reference
    builds by hand, derived automatically from orderBy().limit().
    Callers must include a unique tie-break column in ``order_by``.
    """
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(df: DataFrame, partition_by: list[str], order_by: list[Column], k: int) -> DataFrame:
    """Per-group top-k via ranking window (rank column ``rk`` retained)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def salted_sum(df: DataFrame, key: str, value: str, salt_buckets: int = 16) -> DataFrame:
    """Skew-safe two-stage aggregation (Hive genGroupByPlan2MR —
    SemanticAnalyzer.java:1335: stage 1 partitions by rand(), stage 2 by key).

    Stage 1 groups on (key, salt) so one hot key spreads over
    ``salt_buckets`` reducers; stage 2 merges partials per key. Result is
    identical to a plain groupBy — this exists for decomposable aggregates
    on hot-key distributions where AQE's post-hoc skew split isn't enough.
    """
    salted = df.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets)))
    partial = salted.groupBy(key, "_salt").agg(
        F.sum(value).alias("_psum"), F.count("*").alias("_pcnt")
    )
    return partial.groupBy(key).agg(
        F.sum("_psum").alias("sum_value"), F.sum("_pcnt").alias("cnt")
    )
