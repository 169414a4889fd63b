"""SparkSession factory with scale-oriented defaults.

The reference engine hand-tunes its shuffle (io.sort.mb, io.sort.factor,
mapred.inmem.merge.threshold — see BASELINE.md); on Spark the equivalents are
AQE + Tungsten defaults, so the factory's job is just to turn the right knobs
on once, in one place:

- AQE (runtime coalescing + skew-join splitting) — replaces the reference's
  skew-safe 2-phase aggregation rewrite (SemanticAnalyzer.java:1335).
- Arrow for any Python-side exchange (Pandas UDFs / mapInPandas).
- UTC session timezone so timestamp arithmetic is deterministic across the
  engine, the DuckDB oracle, and any cluster locale.
- ``nanosAsLong``, kept for legacy event files stored as TIMESTAMP(NANOS)
  parquet, which Spark's vectorized reader refuses by default (today's
  ``events.parquet`` is TIMESTAMP(MICROS) and reads as TIMESTAMP_NTZ without
  it); the catalog layer converts either form to a TimestampType column.
- In local mode, a per-process scratch warehouse dir (``staging.warehouse``),
  so the default database's directory and managed tables stay out of the cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from quatrain_mapreduce_spark import staging

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(
    app_name: str = "quatrain-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master``/executor sizing come from spark-submit; every
    config set here is also safe cluster-side. Any other setting is a
    spark-submit ``--conf``, which reaches this builder.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
    )
    if master.startswith("local"):
        # In local mode the driver JVM IS every executor; Spark's 1g default
        # heap starves 32 task threads (measured at 10x bench data: broadcast
        # builds OOM and the components loop GC-thrashes 20x slower). On a
        # real cluster executor sizing comes from spark-submit and this is
        # not set.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
        ).config("spark.sql.warehouse.dir", staging.warehouse())
    builder = (
        builder
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python exchange ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # legacy TIMESTAMP(NANOS) event files: read raw, convert in catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- io ---
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    return builder.getOrCreate()
