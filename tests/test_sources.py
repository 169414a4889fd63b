"""Sources/sinks — SURVEY §2.1: text K/V round trip, scan filters,
bucketed joins."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.sources.readers import filtered_scan, multiple_inputs, read_kv_text
from quatrain_mapreduce_spark.sources.sinks import write_kv_text


def test_kv_text_round_trip(spark, tmp_path):
    """TextOutputFormat K\\tV write → KeyValueTextInputFormat read."""
    df = spark.createDataFrame([(1, "alpha"), (2, "beta\twith tab")], "k int, v string")
    path = str(tmp_path / "kv")
    write_kv_text(df, "k", "v", path)
    back = read_kv_text(spark, path)
    got = {r["key"]: r["value"] for r in back.collect()}
    # KeyValueTextInputFormat: split on FIRST separator — embedded tabs stay in value
    assert got == {"1": "alpha", "2": "beta\twith tab"}


def test_filtered_scan_variants(spark):
    df = spark.createDataFrame([(i, f"row{i}") for i in range(20)], "key int, val string")
    assert filtered_scan(df, "val", regex="row1$").count() == 1
    assert filtered_scan(df, "key", frequency=5).count() == 4  # 0,5,10,15
    md5_rows = filtered_scan(df, "key", md5_frequency=3).collect()
    assert all(hash is not None for hash in md5_rows)  # deterministic subset, no error


def test_multiple_inputs_union(spark):
    a = spark.createDataFrame([(1, "a")], "k int, v string")
    b = spark.createDataFrame([(2,)], "k int")
    got = multiple_inputs([a, b]).collect()
    assert {(r["k"], r["v"]) for r in got} == {(1, "a"), (2, None)}


def test_bucketed_join_has_no_exchange(spark, sf_dir, monkeypatch):
    """Bucketed tables joined on the bucket key must plan WITHOUT a shuffle
    on either side (MapFileOutputFormat / CLUSTERED BY parity — the whole
    point of bucketing at 100 TB). Both tables are external tables under
    the temp dir; the session's warehouse dir gains nothing."""
    import tempfile
    from urllib.parse import urlparse

    from quatrain_mapreduce_spark.plans import sources_queries as sq

    # table names no earlier query in this session created
    names = tuple(f"qms_test_{t}_bucketed" for t in ("orders", "customer"))
    monkeypatch.setattr(sq, "_bucketed_table_names", lambda _sf: names)
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def listing():
        return sorted(os.listdir(warehouse)) if os.path.isdir(warehouse) else []

    before = listing()
    try:
        out = sq.bucketed_join(spark, sf_dir)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
        # no Exchange between the scans and the join (bucket-aligned reads)
        scan_section = plan[plan.index("Join"):]
        assert "Exchange hashpartitioning" not in scan_section
        for t in names:
            loc = (spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
                   .where("col_name = 'Location'").first()["data_type"])
            assert urlparse(loc).path.startswith(
                os.path.join(tempfile.gettempdir(), "qms_bucketed_")), loc
        assert listing() == before
    finally:
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_read_xml_records_multiline_and_attrs(spark, tmp_path):
    """Records spanning lines, attributes on the row tag, junk outside
    records (StreamXmlRecordReader semantics: only tag-bounded content)."""
    from quatrain_mapreduce_spark.sources.readers import read_xml_records, xml_field

    p = tmp_path / "recs.xml"
    p.write_text(
        "<doc>\n"
        "<row id=\"1\">\n  <k>alpha</k>\n  <v>line1\nline2</v>\n</row>\n"
        "junk between records\n"
        "<row>\n  <k>beta</k>\n  <v>x</v>\n</row>\n"
        "</doc>\n"
    )
    recs = read_xml_records(spark, str(p), "row")
    rows = recs.select(
        xml_field("record", "k").alias("k"), xml_field("record", "v").alias("v")
    ).collect()
    got = {(r["k"], r["v"]) for r in rows}
    assert got == {("alpha", "line1\nline2"), ("beta", "x")}


def test_compression_codec_roundtrips(spark, sf_dir, tmp_path):
    """Storage-format codec surface (IO/compress — Default/Gzip/BZip2/LZO):
    gzip text and zstd/snappy parquet round trips preserve the relation."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    want = {(r["n_nationkey"], r["n_name"]) for r in n.collect()}

    gz = str(tmp_path / "gz_text")
    n.select(F.concat_ws("\t", "n_nationkey", "n_name").alias("value")) \
        .write.option("compression", "gzip").text(gz)
    import glob as g
    assert g.glob(gz + "/*.gz"), "gzip codec not applied"
    back = spark.read.text(gz).select(
        F.split("value", "\t")[0].cast("long").alias("k"), F.split("value", "\t")[1].alias("v"))
    assert {(r["k"], r["v"]) for r in back.collect()} == want

    for codec in ("zstd", "snappy"):
        p = str(tmp_path / f"pq_{codec}")
        n.write.option("compression", codec).parquet(p)
        assert g.glob(f"{p}/*.{codec}.parquet"), f"{codec} codec not applied"
        assert {(r["n_nationkey"], r["n_name"]) for r in spark.read.parquet(p).collect()} == want


def test_codec_roundtrip_files_are_compressed(spark, sf_dir):
    """codec_roundtrip's identity oracle would pass on an uncompressed
    write — this twin proves compression engaged: the csv route emits
    .csv.gz part files and the parquet route's footer records ZSTD for
    every column chunk."""
    import glob as g

    import pyarrow.parquet as pq

    from quatrain_mapreduce_spark.plans.sources_queries import codec_roundtrip
    from quatrain_mapreduce_spark.staging import stage_dir

    out = codec_roundtrip(spark, sf_dir)
    assert out.count() > 0

    gz_files = g.glob(stage_dir(sf_dir, "codecgz") + "/*.csv.gz")
    assert gz_files, "gzip csv route produced no .csv.gz part files"
    bz_files = g.glob(stage_dir(sf_dir, "codecbz2") + "/*.csv.bz2")
    assert bz_files, "bzip2 csv route produced no .csv.bz2 part files"

    for staged, want in (("codeczstd", "ZSTD"), ("codeclz4", "LZ4")):
        pq_files = g.glob(stage_dir(sf_dir, staged) + "/*.parquet")
        assert pq_files, f"{want} parquet route produced no parquet files"
        meta = pq.ParquetFile(pq_files[0]).metadata
        codecs = {
            meta.row_group(rg).column(c).compression
            for rg in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        # Spark's "lz4" parquet codec writes LZ4_RAW frames since Parquet
        # deprecated the original Hadoop LZ4 block format
        assert codecs <= {want, f"{want}_RAW"} and codecs, (
            f"parquet footer codecs for {staged}: {codecs}")


def test_compact_files_hits_target_count(spark, tmp_path):
    """compact_files sizes output from filesystem bytes: 32 small files
    collapse to the returned ceil(bytes/target) count, content preserved."""
    from quatrain_mapreduce_spark.sources.sinks import compact_files, dir_bytes

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    df = spark.range(50_000).selectExpr("id", "id * 2 AS v")
    df.repartition(32).write.parquet(src)
    n_out = compact_files(spark, src, dst, target_bytes=dir_bytes(spark, src) // 4 + 1)
    import glob
    parts = glob.glob(f"{dst}/part-*.parquet")
    assert len(parts) == n_out <= 4
    back = spark.read.parquet(dst)
    assert back.count() == 50_000
    assert back.selectExpr("sum(v)").first()[0] == df.selectExpr("sum(v)").first()[0]


def test_schema_evolution_merge_null_pads(spark, tmp_path):
    """mergeSchema read over batches with disjoint column tails: missing
    columns come back null, shared columns align by name."""
    spark.createDataFrame([(1, 10.0)], "k int, a double").write.parquet(str(tmp_path / "b1"))
    spark.createDataFrame([(2, "x")], "k int, b string").write.parquet(str(tmp_path / "b2"))
    got = (
        spark.read.option("mergeSchema", "true")
        .parquet(str(tmp_path / "b1"), str(tmp_path / "b2"))
        .orderBy("k").collect()
    )
    assert [(r["k"], r["a"], r["b"]) for r in got] == [(1, 10.0, None), (2, None, "x")]


def test_distcp_copies_bytes_identically(spark, tmp_path):
    """distcp must reproduce every file byte-for-byte under its original
    name, parallelized over executors (DistCp parity)."""
    import glob as g
    import os

    from quatrain_mapreduce_spark.sources.sinks import distcp

    src = str(tmp_path / "src")
    n = load_table(spark, "/root/testdata/sf0.001", "nation")
    n.repartition(8).write.mode("overwrite").parquet(src)
    files = sorted(g.glob(src + "/*.parquet"))
    dst = str(tmp_path / "dst")
    assert distcp(spark, files, dst) == len(files)
    for f in files:
        out = os.path.join(dst, os.path.basename(f))
        with open(f, "rb") as a, open(out, "rb") as b:
            assert a.read() == b.read(), f
    want = {(r["n_nationkey"], r["n_name"]) for r in n.collect()}
    assert {(r["n_nationkey"], r["n_name"]) for r in spark.read.parquet(dst).collect()} == want


def test_har_pack_unpack_and_indexed_point_read(spark, tmp_path):
    """har_create packs N small files into ONE archive file; har_extract
    reproduces every byte; an equality filter on the archive's sorted name
    column is pushed to its scan (the HAR index analogue)."""
    import glob as g
    import os

    from quatrain_mapreduce_spark.sources.sinks import har_create, har_extract

    src = str(tmp_path / "src")
    n = load_table(spark, "/root/testdata/sf0.001", "nation")
    n.repartition(8).write.mode("overwrite").parquet(src)
    files = sorted(g.glob(src + "/*.parquet"))

    har = str(tmp_path / "har")
    assert har_create(spark, src, har, target_files=1) == len(files)
    # many files in, one archive data file out
    assert len(g.glob(har + "/*.parquet")) == 1

    # point read prunes via a pushed equality filter on name
    name = os.path.basename(files[3])
    got = spark.read.parquet(har).where(F.col("name") == name)
    plan = got._jdf.queryExecution().executedPlan().toString()
    from tests.test_plans import pushed_filter_brackets
    assert any(f"EqualTo(name,{name})" in b for b in pushed_filter_brackets(plan)), plan
    [row] = got.collect()
    with open(files[3], "rb") as f:
        assert bytes(row["content"]) == f.read()

    # full unpack: byte-identical files, parquet still readable
    out = str(tmp_path / "out")
    assert har_extract(spark, har, out) == len(files)
    for f in files:
        with open(f, "rb") as a, open(os.path.join(out, os.path.basename(f)), "rb") as b:
            assert a.read() == b.read(), f
    want = {(r["n_nationkey"], r["n_name"]) for r in n.collect()}
    assert {(r["n_nationkey"], r["n_name"]) for r in spark.read.parquet(out).collect()} == want


def test_split_sizing_controls_scan_parallelism(spark, tmp_path):
    """NLineInputFormat / CombineFileInputFormat parity
    (MR/lib/NLineInputFormat.java:59 — bound records per split;
    MultiFileInputFormat — pack many small files per split): Spark expresses
    both as scan sizing confs, not operators. One big file splits into many
    partitions under a small maxPartitionBytes cap; many small files combine
    into few partitions under the same cap + openCostInBytes. Row counts are
    invariant either way."""
    big = tmp_path / "big"
    big.mkdir()
    line = ("x" * 99) + "\n"
    (big / "part-0.txt").write_text(line * 20000)  # ~2 MB single file
    many = tmp_path / "many"
    many.mkdir()
    for i in range(20):
        (many / f"f{i}.txt").write_text(line * 50)  # 20 tiny files

    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    prev_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # NLine shape: cap split size -> one big file fans out to many tasks
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(256 * 1024))
        df_big = spark.read.text(str(big))
        assert df_big.rdd.getNumPartitions() >= 8
        assert df_big.count() == 20000
        # MultiFile shape: 20 tiny files pack into few splits once the
        # per-file open cost stops padding each 5 KB file past the cap
        # (openCostInBytes IS the packing knob — its 4 MB default models
        # seek cost and deliberately keeps one small file per task)
        spark.conf.set("spark.sql.files.openCostInBytes", str(1024))
        # minPartitionNum=1 stops the bytes-per-core floor from re-splitting
        # a tiny dataset across all 32 local cores — the combine decision
        # should follow data size, as it would on a real cluster
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        df_many = spark.read.text(str(many))
        assert df_many.rdd.getNumPartitions() <= 4
        assert df_many.count() == 20 * 50
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        spark.conf.set("spark.sql.files.openCostInBytes", prev_open)
        spark.conf.unset("spark.sql.files.minPartitionNum")
