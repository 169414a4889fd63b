"""Table catalog over the driver-generated parquet star schema.

The reference has two schema worlds (SURVEY.md §1.3): class-declared K/V jobs
and metastore-backed Hive tables. Here both collapse into DataFrames with
StructType schemas; this module is the metastore stand-in — it knows where
tables live, holds each table file's schema (as the Hive metastore holds a
table's columns, which ``SemanticAnalyzer.getMetaData`` reads instead of
inferring them), normalizes physical quirks (nanosecond timestamps), and
registers temp views so the whole Hive-SQL surface is available via
``spark.sql``.

A table file's schema is inferred once per process and file version: the
first ``load_table`` runs Spark's parquet inference (a one-task job), later
ones — in the same session or any later session of the process — hand the
remembered StructType to the reader. Each call still builds its own relation.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The session confs that change what parquet inference returns for one file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

# (realpath, inode, size, mtime ns, inference conf values) -> schema
_SCHEMAS: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per file
    version and inference confs. A path that is not a regular file (a
    directory, a missing path) is inferred on every call, as Spark does."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (os.path.realpath(path), st.st_ino, st.st_size, st.st_mtime_ns,
           *(spark.conf.get(c) for c in _INFERENCE_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, normalizing physical storage quirks.

    ``events.ts`` is parquet TIMESTAMP with isAdjustedToUTC=false, which
    Spark 4 reads as TIMESTAMP_NTZ (older data generations used
    TIMESTAMP(NANOS), read as raw bigint on a session that sets
    ``nanosAsLong``, as ``get_spark`` does; the caller's session conf is
    left as it is). Normalize every variant to TimestampType (LTZ) carrying
    the naive value as a UTC instant — the same convention DuckDB's
    ``epoch_us(ts)`` applies — so ``unix_micros``/window/event-time ops work
    identically in any session regardless of its time zone.
    """
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize any physical representation of the event-time column ``ts``
    to TimestampType (LTZ) carrying the stored naive value as a UTC instant.
    Works on batch and streaming frames (deterministic expressions only).
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":  # legacy TIMESTAMP(NANOS) generation
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # naive → UTC instant, independent of spark.sql.session.timeZone
        # (a bare cast — or to_utc_timestamp — would re-interpret the
        # naive value in session-local time first)
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
            ),
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register every table as a temp view (Hive-metastore parity for SQL)."""
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
