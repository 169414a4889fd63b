"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Ensure a CPU-heavy narrow stage runs with cluster-wide parallelism.

    Small inputs (one parquet file < maxPartitionBytes) plan as ONE input
    partition, serializing expensive per-row work (shingling, hashing, dot
    products) onto a single core. Repartition only when the input has fewer
    partitions than the default parallelism — at real scale the scan already
    has thousands of partitions and this is a no-op (no gratuitous shuffle
    of 100 TB of raw text).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def sql_hour_of_day_us(a: str) -> str:
    """SQL text for the 0..23 hour-of-day bucket of an epoch-microsecond
    expression. pmod of the day remainder first: `(us div 3600e6) % 24`
    truncates AND keeps the dividend's sign, so a pre-1970 instant
    buckets at -23..-1 instead of its true hour (1969-12-31 22:30 ->
    bucket -1; truth 22). The day-remainder form is non-negative before
    the hour division, so plain truncating `div` is exact. The matching
    DuckDB oracle form is `(epoch_us(ts) % 86400000000 + 86400000000)
    % 86400000000 // 3600000000` (DuckDB `%` and integer `//` both keep
    the dividend's sign / truncate, same as Spark — absolute epoch-hour
    bins elsewhere in the repo rely on exactly that agreement and need
    no correction)."""
    return f"(pmod({a}, 86400000000) div 3600000000)"


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path``, scheme-dispatched by Hadoop on the
    session's hadoopConfiguration — the resolution Spark's own file sinks
    and checkpoint managers use, so a listing or size read here sees what
    the writers wrote on any filesystem (local, ``file://``, HDFS, S3A)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath
