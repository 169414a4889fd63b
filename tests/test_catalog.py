"""The catalog holds each table file's schema: parquet inference runs once
per file version and inference confs, and every later ``load_table`` — in
the same session or a later one of the process — reads with the remembered
schema and launches no job for it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from quatrain_mapreduce_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs_of(spark, fn) -> list[int]:
    """Run ``fn()`` under a fresh job group; the ids of the jobs it ran."""
    sc = spark.sparkContext
    group = f"test-catalog-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "test_catalog")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, table: pa.Table) -> None:
    """Publish ``table`` at ``path`` by atomic rename (a new inode)."""
    tmp = f"{path}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def test_memo_hit_launches_no_job(spark, tmp_path):
    _write(tmp_path / "t.parquet", pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]}))
    path = str(tmp_path / "t.parquet")
    cold = _jobs_of(spark, lambda: catalog.load_table(spark, str(tmp_path), "t"))
    assert cold, "a first load infers the schema with a Spark job"
    hit = []
    warm = _jobs_of(spark, lambda: hit.append(catalog.load_table(spark, str(tmp_path), "t")))
    assert warm == []
    assert hit[0].schema == spark.read.parquet(path).schema
    assert sorted(tuple(r) for r in hit[0].collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_new_file_version_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, pa.table({"a": [1, 2], "b": [3.0, 4.0]}))
    assert catalog.load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    _write(path, pa.table({"x": ["p", "q"], "y": [5, 6], "z": [True, False]}))
    df = catalog.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["x", "y", "z"]
    assert sorted(tuple(r) for r in df.collect()) == [("p", 5, True), ("q", 6, False)]


def test_inference_conf_is_part_of_the_key(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(conf)

    def raw_ts(flag: str) -> str:
        spark.conf.set(conf, flag)
        return dict(catalog._read_parquet(spark, path).dtypes)["ts"]

    try:
        # each setting twice, so the second read of each comes from the memo
        seen = [raw_ts(flag) for flag in ("true", "true", "false", "false", "true")]
    finally:
        spark.conf.set(conf, before)
    assert seen == ["timestamp_ntz", "timestamp_ntz", "timestamp", "timestamp", "timestamp_ntz"]


def test_memo_outlives_the_session(sf_dir, tmp_path):
    """After ``spark.stop()`` a new session of the same process loads with
    no inference job and reads the same rows. Runs in a child process: the
    suite's shared session must not be stopped."""
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        sys.path.insert(0, {os.path.dirname(os.path.abspath(__file__))!r})
        from quatrain_mapreduce_spark import catalog
        from quatrain_mapreduce_spark.planaudit import lint_session
        from test_catalog import _jobs_of

        spark = lint_session()
        first = sorted(tuple(r) for r in catalog.load_table(spark, {sf_dir!r}, "nation").collect())
        spark.stop()
        spark = lint_session()
        box = []
        jobs = _jobs_of(spark, lambda: box.append(catalog.load_table(spark, {sf_dir!r}, "nation")))
        again = sorted(tuple(r) for r in box[0].collect())
        print("RESULT " + json.dumps({{"jobs": jobs, "same": first == again, "rows": len(again)}}))
        spark.stop()
    """)
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=300, cwd=tmp_path)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, out.stderr[-3000:]
    res = json.loads(lines[-1][len("RESULT "):])
    assert res == {"jobs": [], "same": True, "rows": 25}


def test_missing_path_and_directories_are_not_memoized(spark, tmp_path):
    n = len(catalog._SCHEMAS)
    with pytest.raises(AnalysisException):
        catalog.load_table(spark, str(tmp_path), "absent")
    spark.range(3).write.parquet(str(tmp_path / "dir.parquet"))
    assert catalog.load_table(spark, str(tmp_path), "dir").count() == 3
    assert len(catalog._SCHEMAS) == n


def test_loading_leaves_the_session_conf_alone(spark, sf_dir, tmp_path):
    """``load_tables`` reads every table under the session's own
    ``nanosAsLong`` and never sets it: two passes over fresh copies of the
    tables (so their memo keys are new) infer each table exactly once."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    for name in catalog.TABLES:
        shutil.copyfile(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    n = len(catalog._SCHEMAS)
    try:
        spark.conf.set(conf, "false")
        for _ in range(2):
            catalog.load_tables(spark, str(tmp_path))
        assert spark.conf.get(conf) == "false"
    finally:
        spark.conf.set(conf, before)
    assert len(catalog._SCHEMAS) - n == len(catalog.TABLES) == 10
