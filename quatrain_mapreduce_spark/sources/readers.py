"""Readers: the reference's InputFormat surface as spark.read calls.

SURVEY.md §2.1 mapping:
- TextInputFormat (mapred/TextInputFormat.java:31)        -> spark.read.text
- KeyValueTextInputFormat (mapred/KeyValueTextInputFormat.java) -> read_kv_text
- SequenceFileInputFormat (mapred/SequenceFileInputFormat.java) -> read_sequence_file
- SequenceFileInputFilter regex/percent/md5 (mapred/SequenceFileInputFilter.java:41)
                                                          -> filtered_scan
- MultipleInputs (mapred/lib/MultipleInputs.java:34)      -> multiple_inputs
- DBInputFormat (mapred/lib/db/DBInputFormat.java:49)     -> read_jdbc
- MultiFile / NLine: automatic file coalescing / repartition — no surface.

Split planning, small-file coalescing and column/filter pushdown come from
Spark's FileScan; nothing to re-implement.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_kv_text(spark: SparkSession, path: str) -> DataFrame:
    """Lines split into (key, value) on the first tab
    (KeyValueTextInputFormat semantics: everything after the first tab is value)."""
    lines = spark.read.text(path)
    idx = F.instr(F.col("value"), "\t")
    return lines.select(
        F.when(idx > 0, F.substring_index("value", "\t", 1)).otherwise(F.col("value")).alias("key"),
        F.when(idx > 0, F.expr("substring(value, instr(value, '\t') + 1)")).otherwise(F.lit("")).alias("value"),
    )


def read_sequence_file(spark: SparkSession, path: str) -> DataFrame:
    """Binary K/V ingest (SequenceFileInputFormat) via the RDD bridge,
    lifted to a DataFrame. Parquet is the engine's canonical storage; this
    exists for ingesting legacy data."""
    rdd = spark.sparkContext.sequenceFile(path)
    return rdd.toDF(["key", "value"])


def filtered_scan(df: DataFrame, key_col: str, regex: str | None = None,
                  frequency: int | None = None, md5_frequency: int | None = None) -> DataFrame:
    """Scan-time record filters (SequenceFileInputFilter):
    RegexFilter:103 -> rlike; PercentFilter:146 -> every-Nth by key hash;
    MD5Filter:195 -> hash(key) % f == 0. All push into the scan."""
    out = df
    if regex is not None:
        out = out.where(F.col(key_col).rlike(regex))
    if frequency is not None:
        out = out.where(F.pmod(F.col(key_col).cast("long"), F.lit(frequency)) == 0)
    if md5_frequency is not None:
        out = out.where(F.pmod(F.abs(F.hash(F.col(key_col))), F.lit(md5_frequency)) == 0)
    return out


def multiple_inputs(dfs: list[DataFrame]) -> DataFrame:
    """MultipleInputs: per-source mapper/format → one dataset. Sources are
    normalized to a shared schema by their own selects, then unioned by name."""
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other, allowMissingColumns=True)
    return out


def read_jdbc(spark: SparkSession, url: str, table: str, **options) -> DataFrame:
    """JDBC SELECT source (DBInputFormat): ``table`` read through the
    driver named in ``options``. The reference splits via LIMIT/OFFSET;
    a ranged parallel read is Spark's ``partitionColumn`` option."""
    return (spark.read.format("jdbc").option("url", url).option("dbtable", table)
            .options(**options).load())


def embedded_derby(spark: SparkSession, db_dir: str) -> tuple[str, str]:
    """(url, driver) for the embedded Derby database at ``db_dir``, created
    on first connect (Derby ships with Spark). Derby writes its boot log to
    ``derby.log`` in the JVM's working directory unless the system property
    ``derby.stream.error.file`` names another file; it is pointed under the
    temp dir before the first connection, so a run leaves nothing in its
    cwd."""
    system = spark._jvm.java.lang.System
    if system.getProperty("derby.stream.error.file") is None:
        system.setProperty("derby.stream.error.file",
                           os.path.join(tempfile.gettempdir(), "qms_derby.log"))
    return f"jdbc:derby:{db_dir};create=true", "org.apache.derby.jdbc.EmbeddedDriver"


def read_xml_records(spark: SparkSession, path: str, row_tag: str) -> DataFrame:
    """XML-tag-delimited records (StreamInputFormat + StreamXmlRecordReader —
    contrib/streaming StreamXmlRecordReader: records bounded by begin/end
    patterns, independent of line breaks).

    Spark-first: read with ``lineSep=</row_tag>`` so the file splits into one
    row per record at scan time (splittable, streams through the normal text
    reader — no whole-file parse), then slice the record body after the open
    tag. Trailing content after the last record (or an empty tail) yields an
    empty body and is dropped. Field extraction composes via ``xml_field``.
    """
    recs = spark.read.option("lineSep", f"</{row_tag}>").text(path)
    body = F.regexp_extract(F.col("value"), f"(?s)<{row_tag}(?:\\s[^>]*)?>(.*)", 1)
    return recs.select(body.alias("record")).where(F.length("record") > 0)


def xml_field(record: F.Column | str, field_tag: str) -> F.Column:
    """Extract a single child element's text from an XML record body
    (non-greedy, dotall — fields may span lines)."""
    c = F.col(record) if isinstance(record, str) else record
    return F.regexp_extract(c, f"(?s)<{field_tag}>(.*?)</{field_tag}>", 1)
