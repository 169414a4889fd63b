"""Source/sink round-trip queries — SURVEY.md §2.1 components as checkable
oracle rows (previously implemented but never exercised by the oracle).

Round trips stage derivative files under /tmp (idempotent per sf_dir);
oracles run against the original parquet tables, so a lossy or reordered
round trip fails the value hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.operators.joins import tagged_join
from quatrain_mapreduce_spark.registry import register
from quatrain_mapreduce_spark.staging import scratch, stage_dir, stage_key, staged
from quatrain_mapreduce_spark.sources.readers import (
    filtered_scan, multiple_inputs, read_kv_text, read_sequence_file,
)
from quatrain_mapreduce_spark.sources.sinks import write_kv_text


@register(
    "kv_text_roundtrip",
    oracle="SELECT CAST(n_nationkey AS VARCHAR) AS key, n_name AS value FROM nation",
    doc="TextOutputFormat (K\\tV) write → KeyValueTextInputFormat read "
        "(mapred/TextOutputFormat.java, KeyValueTextInputFormat.java): "
        "round trip must reproduce the source relation exactly.",
    tags=("sources",),
)
def kv_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = staged(sf_dir, "kvtext", lambda d: write_kv_text(
        load_table(spark, sf_dir, "nation"), "n_nationkey", "n_name", d))
    return read_kv_text(spark, d)


@register(
    "seqfile_roundtrip",
    oracle="SELECT CAST(n_nationkey AS VARCHAR) AS key, n_name AS value FROM nation",
    doc="SequenceFileOutputFormat write → SequenceFileInputFormat read via "
        "the RDD bridge (IO/SequenceFile.java; ingest path for legacy data).",
    tags=("sources",),
)
def seqfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = staged(sf_dir, "seqfile", lambda d: load_table(spark, sf_dir, "nation")
               .select("n_nationkey", "n_name").rdd.map(lambda r: (str(r[0]), r[1]))
               .saveAsSequenceFile(d))
    return read_sequence_file(spark, d)


@register(
    "seqfilter_scan",
    oracle="""
        SELECT n_nationkey, n_name FROM nation
        WHERE regexp_matches(n_name, '_1?[0-9]$') AND n_nationkey % 2 = 0
    """,
    doc="SequenceFileInputFilter regex + percent filters "
        "(mapred/SequenceFileInputFilter.java:103,146): scan-time record "
        "filtering pushed into the read (MD5Filter variant is hash-family "
        "specific — covered rows-only in tests).",
    tags=("sources", "filter"),
)
def seqfilter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    out = filtered_scan(n, "n_name", regex="_1?[0-9]$")
    return filtered_scan(out, "n_nationkey", frequency=2)


@register(
    "multiple_inputs_union",
    oracle="""
        SELECT key, name, src FROM (
            SELECT c_custkey AS key, c_name AS name, 'customer' AS src FROM customer
            UNION ALL
            SELECT s_suppkey AS key, NULL AS name, 'supplier' AS src FROM supplier)
    """,
    doc="MultipleInputs / DelegatingMapper (mapred/lib/MultipleInputs.java:34): "
        "per-source projections normalized then unioned, missing columns "
        "null-padded.",
    tags=("sources", "setop"),
)
def multiple_inputs_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name"),
        F.lit("customer").alias("src"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("key"), F.lit("supplier").alias("src")
    )
    return multiple_inputs([c, s])


@register(
    "tagged_join_shape",
    oracle="""
        SELECT n.n_nationkey AS key,
               c.cnt AS cust_cnt, s.cnt AS supp_cnt
        FROM nation n
        JOIN (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS cnt FROM customer GROUP BY 1) c
          ON n.n_nationkey = c.c_nationkey
        JOIN (SELECT s_nationkey, CAST(count(*) AS BIGINT) AS cnt FROM supplier GROUP BY 1) s
          ON n.n_nationkey = s.s_nationkey
    """,
    doc="contrib/data_join tagged n-way join (DataJoinReducerBase.java:47): "
        "source-tagged columns, equi-join on the shared key.",
    tags=("join", "sources"),
)
def tagged_join_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("key"))
    cust = load_table(spark, sf_dir, "customer").groupBy(
        F.col("c_nationkey").alias("key")).agg(F.count("*").alias("cnt"))
    supp = load_table(spark, sf_dir, "supplier").groupBy(
        F.col("s_nationkey").alias("key")).agg(F.count("*").alias("cnt"))
    out = tagged_join({"n": nation, "c": cust, "s": supp}, "key")
    return out.select("key", F.col("c_cnt").alias("cust_cnt"), F.col("s_cnt").alias("supp_cnt"))


def _bucketed_table_names(sf_dir: str) -> tuple[str, str]:
    """Catalog names for the session's bucketed (orders, customer) tables,
    keyed like every staged dir (``staging.stage_key``), so a session never
    reuses tables built from older data."""
    key = stage_key(sf_dir, "bucketed")
    return f"qms_orders_b_{key}", f"qms_customer_b_{key}"


@register(
    "bucketed_join",
    oracle="""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
               round(sum(o_totalprice), 2) AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    doc="MapFileOutputFormat / Hive CLUSTERED BY ... INTO N BUCKETS "
        "(IO/MapFile.java:49, Hive.g:221): both sides written bucketed on "
        "the join key, joined shuffle-free (no Exchange on either side — "
        "asserted in tests/test_sources.py).",
    tags=("join", "sources", "bucketing"),
)
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ot, ct = _bucketed_table_names(sf_dir)
    if not spark.catalog.tableExists(ot) or not spark.catalog.tableExists(ct):
        # external tables in scratch dirs: the session catalog forgets them
        # at exit, and the scratch dirs go with it
        load_table(spark, sf_dir, "orders").write.format("parquet").mode("overwrite") \
            .option("path", scratch("qms_bucketed_")) \
            .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
        load_table(spark, sf_dir, "customer").write.format("parquet").mode("overwrite") \
            .option("path", scratch("qms_bucketed_")) \
            .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
    orders_b, customer_b = spark.table(ot), spark.table(ct)
    return (
        orders_b.join(customer_b, orders_b.o_custkey == customer_b.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


@register(
    "dbcount_jdbc_roundtrip",
    oracle="""
        SELECT event_type AS url, CAST(count(*) AS BIGINT) AS pageview
        FROM events GROUP BY 1
    """,
    doc="DBCountPageView end-to-end (EX/DBCountPageView.java:72 + "
        "DBOutputFormat/DBInputFormat — mapred/lib/db/): pageview counts "
        "written to an embedded Derby database over JDBC, read back over "
        "JDBC, matching the pure-relational oracle. Real driver, real SQL "
        "round trip (Derby ships with Spark).",
    tags=("sources", "jdbc", "example"),
)
def dbcount_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.sources.readers import embedded_derby, read_jdbc
    from quatrain_mapreduce_spark.sources.sinks import write_jdbc

    url, driver = embedded_derby(spark, stage_dir(sf_dir, "derby"))
    counts = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("url"))
        .agg(F.count("*").alias("pageview"))
    )
    write_jdbc(counts, url, "pageview_counts", mode="overwrite", driver=driver)
    return read_jdbc(spark, url, "pageview_counts", driver=driver)


@register(
    "xml_roundtrip",
    oracle="""
        SELECT CAST(n_nationkey AS VARCHAR) AS nationkey, n_name AS name,
               CAST(n_regionkey AS VARCHAR) AS regionkey
        FROM nation
    """,
    doc="StreamXmlRecordReader parity (contrib/streaming "
        "StreamXmlRecordReader, StreamInputFormat.java:35): nation written "
        "as multi-line <row>...</row> XML text, read back via "
        "lineSep-delimited records + per-field extraction; the round trip "
        "reproduces the relation.",
    tags=("sources", "xml"),
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.sources.readers import read_xml_records, xml_field

    def build(d: str) -> None:
        load_table(spark, sf_dir, "nation").select(
            F.concat(
                F.lit("<row>\n  <nationkey>"), F.col("n_nationkey").cast("string"),
                F.lit("</nationkey>\n  <name>"), F.col("n_name"),
                F.lit("</name>\n  <regionkey>"), F.col("n_regionkey").cast("string"),
                F.lit("</regionkey>\n</row>"),
            ).alias("value")
        ).coalesce(1).write.text(d)

    d = staged(sf_dir, "xmlrec", build)
    recs = read_xml_records(spark, d, "row")
    return recs.select(
        xml_field("record", "nationkey").alias("nationkey"),
        xml_field("record", "name").alias("name"),
        xml_field("record", "regionkey").alias("regionkey"),
    )


@register(
    "bucket_point_lookup",
    oracle="""
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders WHERE o_custkey = 370
        ORDER BY o_orderkey
    """,
    doc="MapFileOutputFormat.getEntry parity (MapFile.java:49 — sorted K/V "
        "with an index for point reads): an equality predicate on the "
        "bucketed+sorted key scans exactly one bucket file "
        "(SelectedBucketsCount: 1 out of 8 — asserted in tests) instead of "
        "the whole table; within the bucket, the sorted layout gives the "
        "reader min/max row-group skipping.",
    tags=("sources", "bucketing", "lookup"),
)
def bucket_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ot, _ = _bucketed_table_names(sf_dir)
    if not spark.catalog.tableExists(ot):
        bucketed_join(spark, sf_dir)  # stages both bucketed tables
    # the planner skips the bucketed layout when no join/agg needs the
    # distribution — force it: reading via the bucket index is the point
    # of a MapFile point lookup (prunes 7 of 8 files at the scan). The conf
    # must be false when the physical plan is COMPILED, so compile it here
    # (executedPlan is cached on the QueryExecution, so later .collect()
    # reuses it) and restore the session default before returning — the
    # harness runs many queries on one session and must not inherit a
    # non-default planner config.
    prev = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        df = (
            spark.table(ot).where(F.col("o_custkey") == 370)
            .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
            .orderBy("o_orderkey")
        )
        df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", prev)
    return df


@register(
    "csv_typed_roundtrip",
    oracle="""
        SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
        FROM supplier
    """,
    doc="Record I/O parity (core record/Record.java — compiled typed "
        "records with CSV/binary archive codecs): supplier written as "
        "headered CSV, read back with an explicit typed schema (no "
        "inference — the reference's records are schema-declared), values "
        "surviving the text codec round trip.",
    tags=("sources", "records"),
)
def csv_typed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = staged(sf_dir, "csvrec", lambda d: load_table(spark, sf_dir, "supplier")
               .select("s_suppkey", "s_name", "s_acctbal").write
               .option("header", True).csv(d))
    typed = spark.read.schema("s_suppkey bigint, s_name string, s_acctbal double") \
        .option("header", True).csv(d)
    return typed.select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))


@register(
    "skip_bad_records",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS good_rows,
               CAST(sum(s_suppkey) AS BIGINT) AS sum_key
        FROM supplier WHERE s_suppkey % 7 <> 0
    """,
    doc="SkipBadRecords parity (mapred/SkipBadRecords.java, "
        "mapred.skip.map.max.skip.records): supplier staged as CSV with "
        "every-7th row's key deliberately corrupted to a non-numeric token; "
        "the typed PERMISSIVE read nulls the malformed field and the query "
        "drops those records and aggregates the survivors — the declarative "
        "form of skip-and-continue.",
    tags=("sources", "robustness"),
)
def skip_bad_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(d: str) -> None:
        load_table(spark, sf_dir, "supplier").select(
            F.when(F.col("s_suppkey") % 7 == 0, F.lit("CORRUPT"))
             .otherwise(F.col("s_suppkey").cast("string")).alias("k"),
            F.col("s_name").alias("v"),
        ).write.option("header", True).csv(d)

    d = staged(sf_dir, "badrec", build)
    typed = spark.read.schema("k bigint, v string") \
        .option("header", True).option("mode", "PERMISSIVE").csv(d)
    good = typed.where(F.col("k").isNotNull())
    return good.agg(
        F.count("*").alias("good_rows"),
        F.sum("k").alias("sum_key"),
    )


@register(
    "orc_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="ORC columnar sink/source round trip — the second columnar format "
        "next to parquet (Hive-lineage: ORC succeeded the "
        "SequenceFile/RCFile storage the reference generation used; "
        "IO/SequenceFile.java is the nearest reference surface). A lossy "
        "type mapping or dropped rows fail the identity oracle.",
    tags=("sources", "roundtrip"),
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.orc(staged(
        sf_dir, "orc", lambda d: load_table(spark, sf_dir, "nation").write.orc(d)))


@register(
    "jsonl_roundtrip",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
    doc="JSON-lines sink/source round trip — the interchange format every "
        "training-data pipeline ingests (and the modern successor to the "
        "reference's line-oriented TextInputFormat, "
        "MR/TextInputFormat.java:41). Written with a NESTED struct column "
        "(meta.lang/meta.source) to exercise object encoding, read back "
        "with an EXPLICIT schema (schema-on-read discipline — no "
        "inference pass over 100 TB), flattened to the identity oracle. "
        "String escaping (newlines, quotes, unicode) must survive or the "
        "value hash fails.",
    tags=("sources", "roundtrip"),
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = staged(sf_dir, "jsonl", lambda d: load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.struct("lang", "source").alias("meta"), "n_chars",
    ).write.json(d))
    schema = ("doc_id bigint, text string, "
              "meta struct<lang:string, source:string>, n_chars bigint")
    return spark.read.schema(schema).json(d).select(
        "doc_id", "text",
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        "n_chars",
    )


@register(
    "compact_small_files",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    doc="Small-file compaction round trip: the lineitem projection is "
        "staged as 64 tiny files, compacted to "
        "ceil(total_bytes/target) right-sized files "
        "(sinks.compact_files — byte-driven sizing via the Hadoop "
        "FileSystem API, so it holds on HDFS/S3 too), and read back. The "
        "oracle proves compaction is content-preserving; the output file "
        "count is asserted in tests/test_sources.py. At 100 TB this is "
        "the maintenance op that keeps scan task counts sane after "
        "fine-grained ingest (the reference's small-files problem, "
        "mapred/MultiFileInputFormat.java).",
    tags=("sources", "maintenance"),
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.sources.sinks import compact_files

    src = _smallfiles_src(spark, sf_dir)
    # ~1 MiB target at sf0.01 compacts 64 inputs into a handful of files
    return spark.read.parquet(staged(sf_dir, "compacted", lambda d: compact_files(
        spark, src, d, target_bytes=1 << 20)))


@register(
    "schema_evolution_read",
    oracle="""
        SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, NULL AS o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    """,
    doc="Schema-evolution read: two parquet batches written with different "
        "column sets (an ingest pipeline that added a column mid-stream) "
        "read as ONE relation via mergeSchema — missing columns "
        "null-padded per batch, exactly the DelegatingMapper/"
        "MultipleInputs normalization (mapred/lib/MultipleInputs.java:34) "
        "without per-source mapper code. mergeSchema reads every footer "
        "at planning time, so production pins it off after backfill; "
        "the oracle is the hand-built null-padded union.",
    tags=("sources", "schema"),
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(d: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(os.path.join(d, "batch=1"))
        orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_orderpriority"
        ).write.parquet(os.path.join(d, "batch=2"))

    d = staged(sf_dir, "schemaevo", build)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(d, "batch=1"), os.path.join(d, "batch=2"))
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "codec_roundtrip",
    oracle="""
        SELECT 'gzip_csv' AS fmt, s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
        FROM supplier
        UNION ALL
        SELECT 'bzip2_csv' AS fmt, s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
        FROM supplier
        UNION ALL
        SELECT 'zstd_parquet' AS fmt, s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
        FROM supplier
        UNION ALL
        SELECT 'lz4_parquet' AS fmt, s_suppkey, s_name, round(s_acctbal, 2) AS acctbal
        FROM supplier
    """,
    doc="Compression-codec selection round trip (SURVEY §1.5 — "
        "IO/compress/{GzipCodec,BZip2Codec,LzoCodec,...}.java; the "
        "reference's codec registry picks a (de)compressor per file "
        "extension): the supplier projection written as GZIP csv, BZIP2 "
        "csv (the reference's splittable heavy codec), ZSTD parquet, and "
        "LZ4 parquet (the modern LZO successor), all read back and "
        "unioned under fmt tags — a codec that corrupts, truncates, or "
        "reorders fails the quadrupled identity oracle. The pytest twin "
        "asserts .csv.gz/.csv.bz2 extensions and parquet footer codec "
        "metadata for zstd AND lz4, proving compression actually engaged "
        "(this oracle alone would pass on an uncompressed write).",
    tags=("sources", "codec"),
)
def codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    csv_dirs = {
        codec: staged(sf_dir, tag, lambda d, codec=codec: s.write.option("header", True)
                      .option("compression", codec).csv(d))
        for codec, tag in (("gzip", "codecgz"), ("bzip2", "codecbz2"))
    }
    # "lz4" alone would write the deprecated Hadoop-framed LZ4 that modern
    # Arrow readers can't identify; lz4_raw is the standard LZ4_RAW format
    parq_dirs = {
        codec: staged(sf_dir, tag, lambda d, codec=codec: s.write
                      .option("compression", codec).parquet(d))
        for codec, tag in (("zstd", "codeczstd"), ("lz4_raw", "codeclz4"))
    }
    parts = []
    for codec, d in csv_dirs.items():
        parts.append(
            spark.read.schema("s_suppkey bigint, s_name string, s_acctbal double")
            .option("header", True).csv(d)
            .select(F.lit(f"{codec}_csv").alias("fmt"), "s_suppkey", "s_name",
                    F.round("s_acctbal", 2).alias("acctbal"))
        )
    for codec, d in parq_dirs.items():
        fmt = codec.replace("_raw", "")
        parts.append(
            spark.read.parquet(d)
            .select(F.lit(f"{fmt}_parquet").alias("fmt"), "s_suppkey",
                    "s_name", F.round("s_acctbal", 2).alias("acctbal"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _smallfiles_src(spark: SparkSession, sf_dir: str) -> str:
    """The 64-file lineitem staging shared by the compaction, distcp and
    har round trips."""
    return staged(sf_dir, "smallfiles", lambda d: load_table(spark, sf_dir, "lineitem")
                  .select("l_orderkey", "l_linenumber", "l_extendedprice")
                  .repartition(64).write.parquet(d))


@register(
    "har_roundtrip",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    doc="HadoopArchives parity (src/tools/org/apache/hadoop/tools/"
        "HadoopArchives.java:50 — pack small files into one archive with an "
        "index, against NameNode metadata bloat): the 64-file lineitem "
        "staging packed into a single-file columnar archive (sinks.har_create "
        "— distributed binaryFile scan, name-sorted so parquet footer stats "
        "index point reads), then unpacked distributed (sinks.har_extract) "
        "and read back as parquet. The identity oracle proves bytes survived "
        "the pack/unpack; archive file count, point-read pushdown, and "
        "per-file byte identity are pytest-asserted.",
    tags=("sources", "maintenance"),
)
def har_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.sources.sinks import har_create, har_extract

    src = _smallfiles_src(spark, sf_dir)
    har = staged(sf_dir, "har_archive", lambda d: har_create(spark, src, d, target_files=1))
    return spark.read.parquet(staged(sf_dir, "har_extract", lambda d: har_extract(spark, har, d)))


@register(
    "distcp_roundtrip",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    doc="DistCp parity (src/tools/org/apache/hadoop/tools/DistCp.java:74): "
        "the 64-file lineitem staging copied file-by-file across executors "
        "(sinks.distcp — pyarrow.fs byte streams, scheme-dispatched, no "
        "driver-side data movement), then read back as parquet. The "
        "identity oracle proves bytes survived; per-file size equality is "
        "asserted inside the operator and file-set/byte-identity in the "
        "pytest twin. Declared out of scope as infra in SURVEY §2.1 — "
        "closed anyway because dataset migration is a routine 100 TB "
        "maintenance op.",
    tags=("sources", "maintenance"),
)
def distcp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob

    from quatrain_mapreduce_spark.sources.sinks import distcp

    src = _smallfiles_src(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(src, "*.parquet"))) + [os.path.join(src, "_SUCCESS")]
    return spark.read.parquet(staged(sf_dir, "distcp", lambda d: distcp(spark, files, d)))


@register(
    "csv_quoted_roundtrip",
    oracle="""
        SELECT doc_id,
               CAST(md5(concat(
                   E'q,"uo\nted:', substr(text, 1, 40), ':', lang
               )) AS VARCHAR) AS torture_md5
        FROM documents
    """,
    doc="CSV dialect torture — fields carrying embedded DELIMITERS, "
        "DOUBLE QUOTES and NEWLINES round-trip through a quoted "
        "multiline CSV stage (written with Spark's writer: quote-"
        "doubling escapes, read back with multiLine=true — the parser "
        "mode that makes records span physical lines, which naive "
        "line-split CSV readers corrupt; the reference's "
        "TextInputFormat era simply could not represent these values). "
        "The oracle never sees the staged file: it recomputes the same "
        "torture payload ('q,\"uo\\nted:' + text prefix + lang) from the "
        "source table and md5s it, so a single flipped character "
        "anywhere in the quote/newline handling breaks the hash. Scale: "
        "multiLine CSV sacrifices intra-file split parallelism (a "
        "record may cross any offset) — the documented trade; parquet "
        "is the scale path, this attests the INTERCHANGE surface.",
    tags=("sources", "records"),
)
def csv_quoted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    payload = F.concat(
        F.lit('q,"uo\nted:'), F.substring("text", 1, 40),
        F.lit(":"), F.col("lang"),
    )
    d = staged(sf_dir, "csvquoted", lambda d: load_table(spark, sf_dir, "documents")
               .select("doc_id", payload.alias("torture")).write.option("header", True).csv(d))
    back = (
        spark.read.option("header", True).option("multiLine", True)
        .schema("doc_id long, torture string").csv(d)
    )
    return back.select("doc_id", F.md5("torture").alias("torture_md5"))


@register(
    "nested_struct_pushdown",
    oracle="""
        SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
        FROM events
        WHERE CAST(props->>'$.k' AS INTEGER) >= 90
          AND event_type = 'purchase'
    """,
    doc="Nested-struct parquet scan discipline: events staged once as "
        "parquet with a STRUCT column (meta = {k int, day int, type "
        "string} parsed from the JSON props — schema-on-write, the "
        "lakehouse norm the reference's flat K/V records predate), then "
        "served with a filter on a nested FIELD and a projection of "
        "another. The pytest asserts the executed plan pushes the "
        "nested predicate to the scan (PushedFilters on meta.k) and "
        "prunes ReadSchema to the two touched leaf fields — nested "
        "column pruning is exactly what separates a struct column from "
        "an opaque blob at 100 TB. The oracle recomputes from the raw "
        "JSON, so staging must preserve values bit-for-bit.",
    tags=("sources", "records", "json"),
)
def nested_struct_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    meta = F.struct(
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.expr("CAST(unix_micros(ts) div 86400000000 AS INT) % 30")
         .alias("day"),
        F.col("event_type").alias("type"),
    )
    back = spark.read.parquet(staged(sf_dir, "nestedstruct", lambda d: load_table(
        spark, sf_dir, "events").select("event_id", meta.alias("meta")).write.parquet(d)))
    return back.where(
        (F.col("meta.k") >= 90) & (F.col("meta.type") == "purchase")
    ).select("event_id", F.col("meta.k").alias("k"))
