"""HOP streaming layer: stream/batch parity, online-aggregation convergence."""

from __future__ import annotations

import tempfile
from contextlib import contextmanager

from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.streaming.hop import (
    OnlineAggregator, drain_to_parquet, read_events_stream, tumbling_window_agg,
)


def test_stream_batch_parity(spark, sf_dir):
    """The same window expression over the events table as a stream and as a
    batch frame must agree exactly (the point of Structured Streaming)."""
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_window_agg(
        stream, "ts", ["event_type"], [F.count("*").alias("cnt")],
        window_duration="1 hour", watermark=None,
    )
    streamed = {
        (r["win"]["start"], r["event_type"]): r["cnt"]
        for r in drain_to_parquet(agg, "qms_test_parity", output_mode="complete").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["win"]["start"], r["event_type"]): r["cnt"]
        for r in ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
                   .agg(F.count("*").alias("cnt")).collect()
    }
    assert streamed == batch


def test_online_aggregator_rerun_not_poisoned_by_checkpoint(spark, sf_dir, tmp_path_factory):
    """Fresh checkpoint per run: a second run over the same work dir must
    produce snapshots again (a reused checkpoint marks every source file as
    processed and silently produces none)."""
    ev = load_table(spark, sf_dir, "events").limit(100)
    src = str(tmp_path_factory.mktemp("online_src2"))
    ev.repartition(2).write.mode("overwrite").parquet(src)
    work = str(tmp_path_factory.mktemp("online_rerun_work"))

    def agg_fn(df):
        return df.agg(F.count("*").alias("n"))

    for _ in range(2):
        runner = OnlineAggregator(spark, src, spark.read.parquet(src).schema, agg_fn,
                                  total_rows=100, work_dir=work)
        final = runner.run_incremental()
        assert final is not None and runner.snapshots, "run produced no snapshots"
        assert final.first()["n"] == 100


def test_sessionize_stream_batch_parity(spark, sf_dir):
    """session_window over the same events as a stream and as a batch frame
    agree (native gap-window sessionization — the stateful streaming twin of
    the batch lag/cumsum form)."""
    from quatrain_mapreduce_spark.streaming.hop import sessionize_stream

    ev = load_table(spark, sf_dir, "events")
    batch = {
        (r["user_id"], r["sw"]["start"], r["sw"]["end"]): r["n_events"]
        for r in sessionize_stream(ev, "user_id", "ts", gap_minutes=30).collect()
    }
    stream = read_events_stream(spark, sf_dir)
    agg = sessionize_stream(stream.withWatermark("ts", "10 minutes"), "user_id", "ts", gap_minutes=30)
    streamed = {
        (r["user_id"], r["sw"]["start"], r["sw"]["end"]): r["n_events"]
        for r in drain_to_parquet(agg, "qms_test_sessions", output_mode="complete").collect()
    }
    assert streamed == batch


def test_sessionize_batch_matches_window_form(spark, sf_dir):
    """The lag/cumsum sessionization and session_window produce the same
    session count per user (independent formulations of the same gap rule)."""
    from quatrain_mapreduce_spark.streaming.hop import sessionize, sessionize_stream
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    a = sessionize(ev, "user_id", "ts", 30).groupBy("user_id").agg(F.count("*").alias("n"))
    b = sessionize_stream(ev, "user_id", "ts", 30).groupBy("user_id").agg(F.count("*").alias("n"))
    assert {(r["user_id"], r["n"]) for r in a.collect()} == {(r["user_id"], r["n"]) for r in b.collect()}


def test_sessionize_exact_gap_boundary(spark):
    """An event arriving EXACTLY gap after its predecessor MERGES into the
    session in BOTH formulations: session_window extends a session to
    last+gap INCLUSIVE (verified empirically), so the lag/cumsum form uses a
    strict > comparison to match. Data-independent lock on the boundary
    convention — fixture agreement alone (9549/9549 at sf0.01) would not
    survive a regenerated exact-gap pair."""
    import datetime

    from quatrain_mapreduce_spark.streaming.hop import sessionize, sessionize_stream

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    gap_min = 30
    rows = [
        # u1: second event exactly 30:00.000000 later -> MERGES (1 session)
        ("u1", t0), ("u1", t0 + datetime.timedelta(minutes=gap_min)),
        # u2: second event 1 microsecond past the gap -> 2 sessions
        ("u2", t0), ("u2", t0 + datetime.timedelta(minutes=gap_min, microseconds=1)),
    ]
    ev = spark.createDataFrame(rows, "user_id string, ts timestamp")
    a = {(r["user_id"], r["n"]) for r in sessionize(ev, "user_id", "ts", gap_min)
         .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    b = {(r["user_id"], r["n"]) for r in sessionize_stream(ev, "user_id", "ts", gap_min)
         .groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert a == b == {("u1", 1), ("u2", 2)}


def test_moving_avg_state_carries_across_batches(spark, sf_dir, tmp_path_factory):
    """applyInPandasWithState: the per-key last-k buffer must survive batch
    boundaries. Replay events as 3 ordered slices (one per micro-batch); the
    streamed result must equal the batch window twin row-for-row — any state
    loss at a boundary would reset the average for every key mid-stream."""
    import glob
    import os
    import time

    from quatrain_mapreduce_spark.streaming.stateful import (
        moving_avg_batch, moving_avg_stream,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = str(tmp_path_factory.mktemp("ma_src"))
    ev.repartitionByRange(3, "event_id").write.mode("overwrite").parquet(src)
    base = time.time() - 3600
    files = sorted(glob.glob(os.path.join(src, "part-*.parquet")))
    assert len(files) == 3
    for i, f in enumerate(files):
        os.utime(f, (base + i * 10, base + i * 10))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    ma = moving_avg_stream(stream, "user_id", "event_id", "value", k=5)
    q = (
        ma.writeStream.format("memory").queryName("qms_test_ma")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "slices must arrive in separate micro-batches"

    streamed = {
        (r["user_id"], r["event_id"]): r["avg_last_k"]
        for r in spark.table("qms_test_ma").collect()
    }
    batch = {
        (r["user_id"], r["event_id"]): r["avg_last_k"]
        for r in moving_avg_batch(ev, "user_id", "event_id", "value", k=5).collect()
    }
    assert streamed == batch


def test_watermark_finalizes_windows_exactly_once(spark, tmp_path_factory):
    """Event-time watermark semantics (the engine's documented SUPERSET —
    the reference has no event time, SURVEY §2.8). The append-mode
    contract: a window is emitted EXACTLY ONCE, after the watermark passes
    its end, containing its on-time rows; rows arriving after the window
    was finalized and evicted never cause a duplicate emission. (Dropping
    late rows before finalization is best-effort in Spark, so that is
    deliberately not asserted.)"""
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path_factory.mktemp("wm_src"))
    base = 1_700_000_000  # fixed epoch origin
    now = time.time()

    def put(rows, name, mt):
        d = str(tmp_path_factory.mktemp("put"))
        spark.createDataFrame(rows, "event_id long, ep long") \
            .coalesce(1).write.mode("overwrite").parquet(d)
        dst = os.path.join(src, name)
        shutil.copy(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (mt, mt))

    put([(1, base + 10), (2, base + 20)], "a.parquet", now - 400)  # old window
    put([(3, base + 7200)], "b.parquet", now - 300)  # advances watermark
    put([(4, base + 7260)], "c.parquet", now - 200)  # old window finalizes here
    put([(5, base + 30)], "d.parquet", now - 100)    # after finalization: must not re-emit

    stream = (
        spark.readStream.schema("event_id long, ep long")
        .option("maxFilesPerTrigger", 1).parquet(src)
        .withColumn("ts", F.timestamp_seconds("ep"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("win"))
        .agg(F.count("*").alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory").queryName("qms_test_wm")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.table("qms_test_wm").collect()
    old_win = float(base - base % 60)
    emissions = [r["cnt"] for r in rows if r["win"]["start"].timestamp() == old_win]
    # exactly one finalized emission of the old window, with its 2 on-time
    # rows — the post-finalization row 5 produced no duplicate emission
    assert emissions == [2], f"expected one emission of 2 on-time rows, got {emissions}"
    # the far-future windows never finalized (watermark never passed them)
    assert all(r["win"]["start"].timestamp() == old_win for r in rows)


def test_online_aggregator_incremental_final_is_exact(spark, sf_dir, tmp_path_factory):
    """The stateful query (per-batch work O(batch+groups), state store
    carrying the partial aggregate) emits one snapshot per source file with
    non-decreasing progress ending at 1.0, per-key counts that only grow,
    and a final answer equal to the exact batch aggregate."""
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path_factory.mktemp("online_inc_src"))
    ev.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(src)

    def agg_fn(df):
        return df.groupBy("event_type").agg(F.count("*").alias("cnt"))

    total = ev.count()
    schema = spark.read.parquet(src).schema
    inc = OnlineAggregator(spark, src, schema, agg_fn, total_rows=total)
    final = inc.run_incremental()

    progresses = [p for p, _ in inc.snapshots]
    assert len(progresses) >= 2, "multi-file source must produce multiple snapshots"
    assert progresses == sorted(progresses)
    assert abs(progresses[-1] - 1.0) < 1e-9

    exact = {r["event_type"]: r["cnt"] for r in agg_fn(ev).collect()}
    assert {r["event_type"]: r["cnt"] for r in final.collect()} == exact

    # snapshot counts are monotonically non-decreasing per key (counts only grow)
    prev: dict = {}
    for _, path in inc.snapshots:
        snap = {r["event_type"]: r["cnt"] for r in spark.read.parquet(path).collect()}
        for k, v in prev.items():
            assert snap.get(k, 0) >= v
        prev = snap


def test_checkpoint_restart_is_exactly_once(spark, tmp_path_factory):
    """HOP's job-recovery analogue, Structured-Streaming-native: a file
    stream drained availableNow with a checkpoint, then RESTARTED from the
    same checkpoint after new files arrive — the resumed query must process
    only the new files (source offsets) and the parquet sink's commit log
    must yield every row exactly once across both runs."""
    import os

    work = str(tmp_path_factory.mktemp("ckpt"))
    src, out, ckpt = (os.path.join(work, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def add_file(name, lo, hi):
        spark.range(lo, hi).coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(src, name))

    def drain():
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1).parquet(os.path.join(src, "*"))
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return q

    add_file("a", 0, 50)
    add_file("b", 50, 100)
    drain()
    assert spark.read.parquet(out).count() == 100
    add_file("c", 100, 150)
    q2 = drain()
    got = [r["id"] for r in spark.read.parquet(out).collect()]
    assert len(got) == 150 and set(got) == set(range(150))
    # the restart really resumed: only file c was read in the second run
    assert sum(p["numInputRows"] for p in q2.recentProgress) == 50


def test_stream_dedup_drops_duplicate_across_batches(spark, tmp_path_factory):
    """Streaming dropDuplicates state must span micro-batches: a row
    re-arriving in a LATER file slice (batch) is dropped, not re-emitted."""
    import os
    import time

    src = str(tmp_path_factory.mktemp("sdedup"))
    base = time.time() - 600
    spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int") \
        .coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f1"))
    spark.createDataFrame([("a", 1), ("c", 3)], "k string, v int") \
        .coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "f2"))
    for i, sub in enumerate(["f1", "f2"]):
        for f in os.listdir(os.path.join(src, sub)):
            os.utime(os.path.join(src, sub, f), (base + i * 10, base + i * 10))
    stream = (
        spark.readStream.schema("k string, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
        .dropDuplicates(["k"])
    )
    q = (stream.writeStream.format("memory").queryName("qms_test_sdedup")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {r["k"]: r["v"] for r in spark.table("qms_test_sdedup").collect()}
    assert rows == {"a": 1, "b": 2, "c": 3}
    # more than one batch actually ran (the cross-batch claim is meaningful)
    assert len(q.recentProgress) >= 2


def test_online_aggregator_incremental_survives_progress_retention(spark, sf_dir, tmp_path_factory):
    """recentProgress retains only numRecentProgressUpdates entries; the
    listener-based bookkeeping must still reach progress 1.0 when the run has
    more micro-batches than the retention window (simulated by shrinking the
    retention to 2 — a 100-batch run is the same failure mode, slower)."""
    ev = load_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path_factory.mktemp("online_ret_src"))
    # 8 files, 1 file per trigger => 8 micro-batches >> retention of 2
    ev.repartition(8).write.mode("overwrite").parquet(src)

    def agg_fn(df):
        return df.groupBy("event_type").agg(F.count("*").alias("cnt"))

    total = ev.count()
    prev_conf = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "2")
    try:
        inc = OnlineAggregator(
            spark, src, spark.read.parquet(src).schema, agg_fn, total_rows=total
        )
        final = inc.run_incremental()
    finally:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", prev_conf)

    progresses = [p for p, _ in inc.snapshots]
    assert len(progresses) >= 4, progresses
    assert abs(progresses[-1] - 1.0) < 1e-9, progresses
    exact = {r["event_type"]: r["cnt"] for r in agg_fn(ev).collect()}
    assert {r["event_type"]: r["cnt"] for r in final.collect()} == exact


def test_late_data_is_genuinely_dropped(spark, sf_dir):
    """stream_late_data's third slice must be dropped by the watermark —
    numRowsDroppedByWatermark > 0 across the run, and the emitted windows
    must exclude every old-odd row (counts equal the evens + recent-odds
    batch aggregate on closed windows only)."""
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.catalog import load_table, normalize_event_ts
    from quatrain_mapreduce_spark.staging import stage_late_slices

    src = stage_late_slices(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory").queryName("qms_test_late")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    ev = load_table(spark, sf_dir, "events")
    even = F.col("event_id") % 2 == 0
    max_even = ev.where(even).agg(F.max(F.unix_micros("ts"))).first()[0]
    n_old_odds = ev.where(
        (~even) & (F.unix_micros("ts") < max_even - 6 * 3_600_000_000)
    ).count()
    assert n_old_odds > 0, "fixture degenerate: no old odd rows at this SF"
    # the state operator's counter can miss a handful of rows that the
    # pre-operator event-time filter removes first; the exactness assertion
    # below is the strict check that ALL old odds stayed out of the output
    assert 0 < dropped <= n_old_odds
    assert dropped >= int(0.9 * n_old_odds)
    # emitted totals exclude exactly the dropped rows and the open tail
    kept = ev.where(even | (F.unix_micros("ts") >= max_even - 6 * 3_600_000_000))
    cut = kept.agg(F.max(F.unix_micros("ts"))).first()[0] - 1_800_000_000
    expected = (
        kept.withColumn("ws", (F.floor(F.unix_micros("ts") / 600_000_000) * 600_000_000))
        .where(F.col("ws") + 600_000_000 <= cut)
        .count()
    )
    got = spark.table("qms_test_late").agg(F.sum("n_events")).first()[0]
    assert got == expected


def test_incremental_sessionize_handles_bridging_late_event(spark):
    """A late increment event BETWEEN two stored sessions must merge them —
    recompute-affected-users handles it where append-merge could not."""
    import pyspark.sql.functions as SF
    from quatrain_mapreduce_spark.streaming.hop import sessionize

    m = 60 * 1_000_000
    rows = [  # u1: two 30-min-gap-separated stored events, late bridge at 25m
        (0, "u1", 0 * m), (1, "u1", 50 * m),
        (2, "u2", 0 * m),
        (3, "u1", 25 * m),  # the late increment event
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id string, us long"
    ).select("event_id", "user_id", SF.timestamp_micros("us").alias("ts"))

    stored = sessionize(ev.where("event_id < 3"), "user_id", "ts")
    assert stored.where("user_id = 'u1'").count() == 2  # two sessions stored

    inc_users = ev.where("event_id >= 3").select("user_id").distinct()
    updated = sessionize(
        ev.join(SF.broadcast(inc_users), "user_id", "left_semi"),
        "user_id", "ts",
    )
    merged = stored.join(
        SF.broadcast(inc_users), "user_id", "left_anti"
    ).unionByName(updated)

    full = sessionize(ev, "user_id", "ts")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert merged.where("user_id = 'u1'").count() == 1  # bridged into one


def test_stream_auc_monitor_matches_batch_twin(spark):
    import glob
    import os
    from quatrain_mapreduce_spark.registry import all_queries
    from quatrain_mapreduce_spark.staging import stage_dir

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    stream_rows = sorted(
        tuple(r) for r in qs["stream_auc_monitor"].fn(spark, sf).collect())
    batch_rows = sorted(
        tuple(r) for r in qs["auc_mann_whitney"].fn(spark, sf).collect())
    assert stream_rows == batch_rows and len(stream_rows) == 1
    # incremental evidence: one versioned counts snapshot per micro-batch
    vers = sorted(glob.glob(os.path.join(stage_dir(sf, "auccounts"), "v*")))
    assert len(vers) == 4


def test_online_agg_ci_converges_and_final_is_exact(spark, sf_dir):
    """Online-aggregation acceptance: the k=4 (full-data) estimate must
    equal the exact batch total with zero interval, and the halfwidth
    must shrink monotonically as prefixes grow."""
    import pyspark.sql.functions as F
    from quatrain_mapreduce_spark.catalog import load_table
    from quatrain_mapreduce_spark.registry import all_queries

    rows = all_queries()["online_agg_ci"].fn(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], {})[r["k"]] = r
    truth = {
        r["event_type"]: r["t"]
        for r in load_table(spark, sf_dir, "events").groupBy("event_type")
        .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))
                   .cast("bigint")).alias("t")).collect()
    }
    for t, ks in by_type.items():
        assert set(ks) == {1, 2, 3, 4}
        # final prefix is the whole population: estimate == exact truth
        assert ks[4]["est_sum_cents"] == truth[t]
        # CLT halfwidth shrinks as n grows (monotone over nested prefixes)
        hw = [ks[k]["ci_halfwidth_cents"] for k in (1, 2, 3, 4)]
        assert hw[0] > hw[1] > hw[2] > hw[3] > 0
        # every running estimate lands within ~4 sigma of the truth
        for k in (1, 2, 3):
            assert abs(ks[k]["est_sum_cents"] - truth[t]) < 2.1 * hw[k - 1]


def test_stream_staging_handles_nested_tables_and_fails_loud(tmp_path_factory):
    """ADVICE r9 + r13 review: a partitionBy-written (nested) table must
    stage its leaf data files PRESERVING the hive-style directory
    components — `day=1/` carries the partition column's VALUE, and
    flattening it into the link name made the stream read that column as
    NULL for every row while the batch twin was correct. A directory with
    NO data files must still raise instead of silently producing a
    zero-micro-batch stream."""
    import os

    import pytest as _pytest

    from quatrain_mapreduce_spark.streaming.hop import _stage_stream_dir

    sf = str(tmp_path_factory.mktemp("nest"))
    src = os.path.join(sf, "events.parquet")
    for sub in ("day=1", "day=2"):
        os.makedirs(os.path.join(src, sub))
        with open(os.path.join(src, sub, "part-0.parquet"), "wb") as fh:
            fh.write(b"x")
    d = _stage_stream_dir(sf, "events")
    staged = sorted(
        os.path.relpath(os.path.join(r, f), d)
        for r, _, fs in os.walk(d) for f in fs
    )
    assert staged == ["day=1/part-0.parquet", "day=2/part-0.parquet"]

    sf_empty = str(tmp_path_factory.mktemp("nestempty"))
    os.makedirs(os.path.join(sf_empty, "events.parquet"))
    with _pytest.raises(FileNotFoundError):
        _stage_stream_dir(sf_empty, "events")


def test_stream_staging_preserves_partition_values(spark, tmp_path_factory):
    """End-to-end form of the r13 review finding: stream a hive-partitioned
    table through the staged dir and require the partition column's VALUES
    to match the batch read — the flattened layout streamed them as NULL
    with no error (staged>0, loud-failure guard satisfied)."""
    import os

    from quatrain_mapreduce_spark.streaming.hop import _stage_stream_dir

    sf = str(tmp_path_factory.mktemp("partvals"))
    tbl = os.path.join(sf, "events.parquet")
    (spark.range(100).selectExpr("id", "cast(id % 3 as int) as day")
     .write.partitionBy("day").parquet(tbl))
    batch = spark.read.parquet(tbl)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1")
              .parquet(_stage_stream_dir(sf, "events")))
    q = (stream.groupBy("day").count().writeStream.outputMode("complete")
         .format("memory").queryName("partvals")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.sql(
        "select * from partvals").collect())
    want = sorted(tuple(r) for r in batch.groupBy("day").count().collect())
    assert got == want and all(d is not None for d, _ in got)


def test_online_agg_snapshots_converge_monotonically_to_exact(spark, sf_dir, tmp_path_factory):
    """r9 stretch #8 — the HOP online-aggregation convergence property
    (MR/ReduceTask.java:631-669: full reduce over data-so-far per progress
    quantum): over an 8-slice bounded replay, every snapshot is a PARTIAL
    of the exact batch answer (no key overshoots), per-key counts are
    non-decreasing in ingest fraction, total L1 error to the exact answer
    is non-increasing, and the error reaches exactly 0 at fraction 1. The
    first snapshot is a strict partial and the last one is the returned
    final frame (EX/TopK.java:259-262 snapshot semantics)."""
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path_factory.mktemp("conv_src"))
    ev.repartitionByRange(8, "event_id").write.mode("overwrite").parquet(src)

    def agg_fn(df):
        return df.groupBy("event_type").agg(F.count("*").alias("cnt"))

    total = ev.count()
    runner = OnlineAggregator(
        spark, src, spark.read.parquet(src).schema, agg_fn, total_rows=total
    )
    final = runner.run_incremental()
    exact = {r["event_type"]: r["cnt"] for r in agg_fn(ev).collect()}

    assert len(runner.snapshots) >= 4
    # the first snapshot is a partial answer: below the exact total
    first = {r["event_type"]: r["cnt"] for r in runner.snapshot_df(0).collect()}
    assert runner.snapshots[0][0] < 1.0
    assert sum(first.values()) < total
    # the last written snapshot equals the returned final aggregate
    last = {r["event_type"]: r["cnt"] for r in runner.snapshot_df(-1).collect()}
    assert last == {r["event_type"]: r["cnt"] for r in final.collect()}
    prev_counts: dict = {}
    prev_err = None
    for i, (progress, _) in enumerate(runner.snapshots):
        snap = {r["event_type"]: r["cnt"] for r in runner.snapshot_df(i).collect()}
        # partial-of-exact: no overshoot on any key, no phantom keys
        assert set(snap) <= set(exact)
        assert all(snap[k] <= exact[k] for k in snap), (progress, i)
        # per-key monotone in ingest fraction
        assert all(snap.get(k, 0) >= v for k, v in prev_counts.items()), i
        # total L1 error non-increasing
        err = sum(exact[k] - snap.get(k, 0) for k in exact)
        if prev_err is not None:
            assert err <= prev_err, (i, err, prev_err)
        prev_counts, prev_err = snap, err
    assert prev_err == 0  # fraction 1.0 == exact batch answer


def test_sigkill_mid_stream_restart_is_exactly_once(spark, tmp_path_factory):
    """The hard half of exactly-once (tools/soak_stream.py --mode
    kill-restart is the 10-minute soak form; this is the fast CI gate): a
    CHILD process streams a 30-file source into a parquet sink one file
    per trigger, and the parent SIGKILLs its whole process group mid-run —
    driver and JVM die unannounced, free to leave uncommitted part files
    in the sink. A restart from the same checkpoint (availableNow) must
    drain the remainder so that reading the sink THROUGH the commit log
    yields every row exactly once: no loss, no replay, regardless of where
    the kill landed."""
    import os
    import signal
    import subprocess
    import sys
    import textwrap
    import time

    work = str(tmp_path_factory.mktemp("kill"))
    src, out, ckpt = (os.path.join(work, d) for d in ("src", "out", "ckpt"))
    spark.range(0, 300).repartitionByRange(30, "id") \
        .write.mode("overwrite").parquet(src)

    child_code = textwrap.dedent(f"""
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.master("local[2]")
                 .appName("qms-kill-child")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        q = (spark.readStream.schema("id long")
             .option("maxFilesPerTrigger", 1).parquet({src!r})
             .writeStream.format("parquet")
             .option("path", {out!r})
             .option("checkpointLocation", {ckpt!r})
             .trigger(processingTime="1 second").start())
        q.awaitTermination()
    """)
    script = os.path.join(work, "child.py")
    with open(script, "w") as fh:
        fh.write(child_code)
    proc = subprocess.Popen([sys.executable, script],
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                            start_new_session=True)
    # wait until some batches committed (mid-run), then kill driver+JVM
    commits = os.path.join(ckpt, "commits")
    deadline = time.monotonic() + 90
    while time.monotonic() < deadline:
        if os.path.isdir(commits) and len(os.listdir(commits)) >= 3:
            break
        time.sleep(0.5)
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    n_committed_before = len([f for f in os.listdir(commits) if f.isdigit()]) \
        if os.path.isdir(commits) else 0
    assert n_committed_before >= 1, "child never committed a batch before the kill"

    # restart from the same checkpoint and drain the remainder
    q2 = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination()

    got = [r["id"] for r in spark.read.parquet(out).collect()]
    assert len(got) == 300 and set(got) == set(range(300)), (
        f"exactly-once violated: {len(got)} rows, "
        f"{len(set(got))} distinct after SIGKILL restart"
    )


def test_stream_cms_state_is_bounded_and_matches_batch_cells(spark, sf_dir):
    """The property that makes a COMPLETE-mode streaming aggregate safe
    here: CMS state never exceeds d*w = 4096 rows however much data
    streams through, and the drained cells are exactly the batch cells
    (mergeability: micro-batch = corpus shard)."""
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.catalog import load_table
    from quatrain_mapreduce_spark.operators.curation import cms_probes
    from quatrain_mapreduce_spark.registry import all_queries
    from quatrain_mapreduce_spark.staging import stage_dir
    import glob
    import os

    all_queries()["stream_heavy_hitters"].fn(spark, sf_dir).collect()
    # the staged slices exist now; rebuild the batch cells for comparison
    d = stage_dir(sf_dir, "docslices4")
    assert len(glob.glob(os.path.join(d, "part-*.parquet"))) == 4
    batch_cells = sorted(map(tuple, (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(
            F.expr("filter(split(lower(text), ' '), x -> x <> '')")
        ).alias("tok"))
        .select(F.explode(cms_probes("tok")).alias("rb"))
        .groupBy(F.col("rb.i").alias("i"), F.col("rb.b").alias("b"))
        .agg(F.count("*").cast("bigint").alias("c"))
    ).collect()))
    assert len(batch_cells) <= 4096
    # drained snapshot dirs are qms_drain_qms_stream_cms_*; find the newest
    import tempfile
    snaps = sorted(
        glob.glob(os.path.join(tempfile.gettempdir(),
                               "qms_drain_qms_stream_cms_*", "snapshot")),
        key=os.path.getmtime,
    )
    assert snaps, "stream drain left no snapshot"
    stream_cells = sorted(map(tuple, spark.read.parquet(snaps[-1]).collect()))
    assert stream_cells == batch_cells


def test_stream_training_pipeline_matches_batch_twin(spark, sf_dir, tmp_path_factory):
    """The composed pipeline (gate -> stateful dedup -> foreachBatch fold)
    must equal its batch twin built from the SAME stage function: identical
    kept (source, fp) set, identical CMS cells, cells bounded at d*w."""
    import os

    from quatrain_mapreduce_spark.staging import stage_doc_slices
    from quatrain_mapreduce_spark.streaming.pipeline import (
        cms_cells_of, curate_dedup_stages, norm_tokens,
        read_training_stream_result, run_training_stream,
    )

    d = stage_doc_slices(spark, sf_dir)
    out_root = str(tmp_path_factory.mktemp("stream_tdp"))
    run_training_stream(spark, d, out_root)
    kept, cells, commits = read_training_stream_result(spark, out_root)
    assert len(commits) >= 4, "4-slice source must commit >=4 micro-batches"

    batch_kept = curate_dedup_stages(spark.read.parquet(d), "text")
    got = sorted((r["source"], r["fp"]) for r in kept.collect())
    want = sorted((r["source"], r["fp"]) for r in batch_kept.collect())
    assert got == want, "streamed kept set != batch gate+dedup twin"
    assert len(got) == len(set(got)), "duplicate (source, fp) survived dedup"

    got_cells = sorted(map(tuple, cells.collect()))
    want_cells = sorted(map(tuple, cms_cells_of(norm_tokens(batch_kept)).collect()))
    assert got_cells == want_cells, "per-batch CMS merge != batch cells"
    assert len(got_cells) <= 4096, "CMS monitor state exceeded d*w"

    # every committed batch left its versioned snapshot (fold ran per batch)
    for i in sorted(commits):
        assert os.path.isdir(os.path.join(out_root, "cells", f"v{i}"))


def test_stream_pipeline_reader_masks_uncommitted_orphans(spark, sf_dir, tmp_path_factory):
    """Readers trust the checkpoint commit log, not the directory listing:
    a kept/cells version with no commits/ entry — exactly what a mid-batch
    JVM death leaves behind — must be invisible."""
    import os

    from quatrain_mapreduce_spark.staging import stage_doc_slices
    from quatrain_mapreduce_spark.streaming.pipeline import (
        read_training_stream_result, run_training_stream,
    )

    d = stage_doc_slices(spark, sf_dir)
    out_root = str(tmp_path_factory.mktemp("stream_tdp_orphan"))
    run_training_stream(spark, d, out_root)
    kept_before, cells_before, commits = read_training_stream_result(spark, out_root)
    n_before = kept_before.count()
    cells_sum_before = cells_before.agg(F.sum("c")).collect()[0][0]

    # forge orphans: an uncommitted kept batch and a poisoned cells version
    orphan_id = max(commits) + 7
    spark.createDataFrame(
        [(999_999_999, "forged", "forged text", "deadbeef")],
        "doc_id bigint, source string, norm string, fp string",
    ).write.parquet(os.path.join(out_root, "kept", f"b{orphan_id}"))
    spark.createDataFrame(
        [("1", 0, 10_000_000)], "i string, b int, c bigint"
    ).write.parquet(os.path.join(out_root, "cells", f"v{orphan_id}"))

    kept_after, cells_after, _ = read_training_stream_result(spark, out_root)
    assert kept_after.count() == n_before
    assert kept_after.where("source = 'forged'").count() == 0
    assert cells_after.agg(F.sum("c")).collect()[0][0] == cells_sum_before


def test_stream_pipeline_reader_survives_commit_log_retention(spark, sf_dir, tmp_path_factory):
    """The checkpoint commits/ dir is a RETAINED WINDOW
    (minBatchesToRetain purges older entries after commit), not a complete
    ledger — the first 10-minute pipeline soak proved a listing-based
    reader silently drops the earliest batches, which hold nearly all
    first-seen dedup output. Simulate the purge by deleting the earliest
    commit entries: the reader must still surface every batch at or below
    the retained maximum."""
    import os

    from quatrain_mapreduce_spark.staging import stage_doc_slices
    from quatrain_mapreduce_spark.streaming.pipeline import (
        read_training_stream_result, run_training_stream,
    )

    d = stage_doc_slices(spark, sf_dir)
    out_root = str(tmp_path_factory.mktemp("stream_tdp_retain"))
    run_training_stream(spark, d, out_root)
    kept_before, _, commits = read_training_stream_result(spark, out_root)
    n_before = kept_before.count()
    assert n_before > 0

    cdir = os.path.join(out_root, "ckpt", "commits")
    for i in sorted(commits)[:-1]:  # purge all but the latest, worst case
        p = os.path.join(cdir, str(i))
        if os.path.exists(p):
            os.unlink(p)

    kept_after, _, commits_after = read_training_stream_result(spark, out_root)
    assert commits_after == commits, "purged entries must be reconstructed"
    assert kept_after.count() == n_before, (
        "reader dropped pre-retention batches after commit-log purge"
    )


def test_pipeline_file_scheme_roundtrip(spark, sf_dir, tmp_path_factory):
    """The exactly-once reader's listings are scheme-dispatched through the
    Hadoop FS API (r12 verdict directive #2 — the last driver-local-
    filesystem dependency removed), so an explicit-scheme out_root must
    behave identically to a bare local path. file:// is the scheme this
    container can exercise; hdfs:// / s3a:// take the same code path
    (Path.getFileSystem on the session hadoopConfiguration), matching the
    reference's DFS-native sink protocol (QL/exec/FileSinkOperator.java:39)."""
    import os

    from quatrain_mapreduce_spark.staging import stage_doc_slices
    from quatrain_mapreduce_spark.streaming.pipeline import (
        committed_batch_ids, curate_dedup_stages,
        read_training_stream_result, run_training_stream,
    )

    d = stage_doc_slices(spark, sf_dir)
    local_root = str(tmp_path_factory.mktemp("stream_tdp_fsuri"))
    out_root = "file://" + local_root
    run_training_stream(spark, d, out_root)
    kept, cells, commits = read_training_stream_result(spark, out_root)
    assert len(commits) >= 4, "4-slice source must commit >=4 micro-batches"
    # URI-form and bare-path listings agree (same FS resolved either way)
    assert committed_batch_ids(os.path.join(out_root, "ckpt"), spark) == commits
    assert committed_batch_ids(os.path.join(local_root, "ckpt"), spark) == commits
    got = sorted((r["source"], r["fp"]) for r in kept.collect())
    want = sorted(
        (r["source"], r["fp"])
        for r in curate_dedup_stages(spark.read.parquet(d), "text").collect()
    )
    assert got == want, "file://-rooted pipeline != batch gate+dedup twin"
    assert cells.count() <= 4096


def test_stream_pipeline_damage_is_loud_not_silent(spark, sf_dir, tmp_path_factory):
    """External damage to committed sink state must FAIL LOUDLY (ADVICE
    r11): a deleted kept/b{i} for a committed id makes the reader raise
    (silently shrinking the corpus is the same corruption class the
    commits/-retention fix addressed), and a deleted cells predecessor
    makes the RESUMED fold raise instead of silently restarting the
    cumulative CMS monitor from one batch's delta."""
    import os
    import re
    import shutil

    import pytest

    from quatrain_mapreduce_spark.staging import stage_doc_slices
    from quatrain_mapreduce_spark.streaming.pipeline import (
        read_training_stream_result, run_training_stream,
    )

    # private copy of the staged slices — this test mutates sink state and
    # resumes, and the shared staging dir must stay pristine
    staged = stage_doc_slices(spark, sf_dir)
    work = str(tmp_path_factory.mktemp("stream_tdp_damage"))
    src = os.path.join(work, "src")
    os.makedirs(src)
    parts = sorted(
        f for f in os.listdir(staged)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    assert len(parts) >= 3
    for f in parts[:-1]:  # hold the last slice back for the resume leg
        shutil.copy(os.path.join(staged, f), os.path.join(src, f))
    out_root = os.path.join(work, "out")
    run_training_stream(spark, src, out_root)
    kept, _, commits = read_training_stream_result(spark, out_root)
    assert kept.count() > 0 and len(commits) >= 2

    # leg 1: delete a committed kept dir -> reader raises, names the id
    victim = os.path.join(out_root, "kept", f"b{min(commits)}")
    shutil.rmtree(victim)
    with pytest.raises(ValueError, match="committed batch dirs missing"):
        read_training_stream_result(spark, out_root)
    # restore so leg 2's damage is isolated to the cells lineage
    kept.sparkSession.read.schema(
        "doc_id bigint, source string, norm string, fp string"
    ).parquet(os.path.join(out_root, "kept", f"b{max(commits)}")) \
        .limit(0).write.parquet(victim)

    # leg 2: delete the latest cells version, then resume with a new slice
    # — the next batch's fold needs cells/v{max} as its predecessor and
    # must surface the damage as a query failure, not a reset monitor
    lost = os.path.join(out_root, "cells", f"v{max(commits)}")
    shutil.rmtree(lost)
    shutil.copy(os.path.join(staged, parts[-1]), os.path.join(src, parts[-1]))
    with pytest.raises(Exception, match=f"predecessor version {re.escape(lost)} "
                                        f"is missing for batch {max(commits) + 1}"):
        run_training_stream(spark, src, out_root)


def test_watermarked_dedup_evicts_state_and_keeps_horizon_dedup(spark, tmp_path_factory):
    """The production unbounded form of the pipeline's dedup stage
    (curate_dedup_stages with ts_col+watermark -> dropDuplicatesWithinWatermark):
    a duplicate arriving INSIDE the watermark horizon is dropped, a
    re-arrival AFTER the horizon is kept again because its state row was
    evicted — the bounded-state trade an always-on ingest makes, versus
    dropDuplicates whose state grows with the corpus forever."""
    import os
    import glob
    import shutil

    from quatrain_mapreduce_spark.streaming.hop import drain_to_parquet
    from quatrain_mapreduce_spark.streaming.pipeline import curate_dedup_stages

    work = str(tmp_path_factory.mktemp("wm_dedup"))
    src = os.path.join(work, "src")
    os.makedirs(src)
    base = 1_700_000_000  # epoch seconds; batches are 1 hour apart
    keys = [f"k{j}" for j in range(8)]

    def doc(i, j, key, b):
        return (b * 1000 + i * 10 + j, "s0", base + b * 3600,
                f"the a of and to {key} alpha beta")

    batches = []
    # batch 0: all 8 keys, each twice (within-batch duplicate)
    batches.append([doc(i, c, k, 0) for i, k in enumerate(keys) for c in range(2)])
    # batches 1-3: filler keys (advance the watermark), plus a k0 duplicate
    # ARRIVING in batch 1 with an event time 20 min past the first sighting
    # — inside the 30-min threshold, so the drop is the documented
    # dropDuplicatesWithinWatermark guarantee (ADVICE r12: a +1h event time
    # sat in the "may or may not be deduplicated" zone)
    for b in (1, 2, 3):
        rows = [doc(i, 0, f"fill{b}x{i}", b) for i in range(4)]
        if b == 1:
            rows.append((1090, "s0", base + 1200,
                         f"the a of and to {keys[0]} alpha beta"))
        batches.append(rows)
    # batch 4: the 8 keys re-arrive 4 h after first sighting — watermark
    # (batch-3 max ts - 30 min) is far past their state expiry, so they
    # were evicted and must be KEPT again
    batches.append([doc(i, 0, k, 4) for i, k in enumerate(keys)])

    for b, rows in enumerate(batches):
        tmp = os.path.join(work, f"tmp{b}")
        spark.createDataFrame(
            rows, "doc_id bigint, source string, epoch bigint, text string"
        ).select("doc_id", "source",
                 F.timestamp_seconds("epoch").alias("ts"), "text") \
         .coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"slice{b}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000 + b, 1_000_000 + b))  # mtime = replay order

    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    deduped = curate_dedup_stages(stream, "text", ts_col="ts",
                                  watermark="30 minutes")
    kept = drain_to_parquet(deduped, "qms_test_wm_dedup",
                            output_mode="append").collect()

    by_key_hour = {}
    for r in kept:
        hr = (r["ts"] - __import__("datetime").datetime(1970, 1, 1,
              tzinfo=r["ts"].tzinfo)).total_seconds()
        by_key_hour.setdefault(r["norm"].split()[5], []).append(int((hr - base) // 3600))

    # within-batch duplicates collapsed: one kept row per (key, batch)
    assert all(len(hs) == len(set(hs)) for hs in by_key_hour.values())
    # k0's in-horizon duplicate (batch 1) was dropped...
    assert sorted(by_key_hour["k0"]) == [0, 4], by_key_hour["k0"]
    # ...and every key was RE-KEPT at batch 4 after eviction
    for k in keys:
        assert sorted(by_key_hour[k]) == [0, 4], (k, by_key_hour[k])
    # fillers kept once each
    n_fill = sum(1 for key in by_key_hour if key.startswith("fill"))
    assert n_fill == 12
    assert len(kept) == 8 + 12 + 8  # 28 rows total


def test_stream_pipeline_funnel_metrics_match_batch_counts(spark, sf_dir, tmp_path_factory):
    """The composed pipeline's observe() funnel (the continuous sibling of
    training_pipeline_funnel, and the streaming form of the reference's
    Monitor counters — MR/monitor/MonitorClient.java:33): summed across
    micro-batches, tdp_ingest must equal the corpus row count and tdp_gate
    the gate-surviving count (duplicates included — dedup comes after)."""
    import os

    from quatrain_mapreduce_spark.operators.curation import gopher_rules
    from quatrain_mapreduce_spark.staging import stage_doc_slices
    from quatrain_mapreduce_spark.streaming.pipeline import (
        curate_dedup_stages, start_training_stream,
    )

    d = stage_doc_slices(spark, sf_dir)
    out_root = str(tmp_path_factory.mktemp("stream_tdp_funnel"))
    schema = spark.read.parquet(d).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = start_training_stream(curate_dedup_stages(stream), out_root)
    q.awaitTermination()
    sums = {"tdp_ingest": 0, "tdp_gate": 0}
    # recentProgress retains only the last numRecentProgressUpdates entries
    # (default 100) — fine for this 4-slice fixture, but summing over it
    # silently undercounts past the cap; a run with more micro-batches must
    # accumulate via a QueryListener or dedup-by-batchId as the soak's
    # `seen` set does (tools/soak_stream.py)
    assert len(q.recentProgress) < 100, "fixture outgrew the retention cap"
    for p in q.recentProgress:
        for name in sums:
            m = (p.get("observedMetrics") or {}).get(name)
            if m is not None:
                sums[name] += m["rows"]
    batch = spark.read.parquet(d)
    assert sums["tdp_ingest"] == batch.count()
    assert sums["tdp_gate"] == gopher_rules(batch, "text").where("passes = 1").count()
    assert sums["tdp_gate"] <= sums["tdp_ingest"]


@contextmanager
def _session_conf(spark, key: str, value: str):
    """Set one session conf for the block's duration."""
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _shuffle_partitions(spark, n: int):
    """The suite's session runs local[8] with 8 partitions. There the core
    cap changes nothing, though the input-size rule does (a bounded start
    over a few MB gets 1 partition); these tests raise the session to the
    batch default for their own duration, so both rules show."""
    return _session_conf(spark, "spark.sql.shuffle.partitions", str(n))


def _advisory_size(spark, n_bytes: int):
    """Lower the advisory partition size a bounded start is sized by."""
    return _session_conf(
        spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", str(n_bytes))


def _data_bytes(root: str) -> int:
    """Bytes of the files under ``root`` that Hadoop's local filesystem
    reports (its ``.crc`` checksum files are hidden)."""
    import os

    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files
               if not f.endswith(".crc"))


def _logged_partitions(ckpt: str, batch_id: int) -> str:
    """The shuffle-partition count a checkpoint's offset log froze."""
    import json
    import os

    with open(os.path.join(ckpt, "offsets", str(batch_id))) as fh:
        meta = json.loads(fh.read().splitlines()[1])
    return meta["conf"]["spark.sql.shuffle.partitions"]


def test_online_aggregator_state_sized_to_input_and_reports_progress(spark, sf_dir,
                                                                   tmp_path_factory):
    """run_incremental starts its stateful query as a bounded start: a
    source far below the 64 MB advisory partition size gets one state
    partition, frozen into the checkpoint, while the session's own value
    is left alone, and the run still converges to the batch answer. Its
    per-batch progress list mirrors the snapshots and reports the frozen
    partition count."""
    import os

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path_factory.mktemp("online_cores_src"))
    ev.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(src)
    work = str(tmp_path_factory.mktemp("online_cores_work"))

    def agg_fn(df):
        return df.groupBy("event_type").agg(F.count("*").alias("cnt"))

    total = ev.count()
    with _shuffle_partitions(spark, 32):
        inc = OnlineAggregator(spark, src, spark.read.parquet(src).schema, agg_fn,
                               total_rows=total, work_dir=work)
        final = inc.run_incremental()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    cores = spark.sparkContext.defaultParallelism
    assert cores == 8
    assert _logged_partitions(os.path.join(work, "checkpoint"), 0) == "1"
    exact = {r["event_type"]: r["cnt"] for r in agg_fn(ev).collect()}
    assert {r["event_type"]: r["cnt"] for r in final.collect()} == exact

    assert [p["progress"] for p in inc.progress] == [p for p, _ in inc.snapshots]
    assert [p["batch_id"] for p in inc.progress] == list(range(len(inc.snapshots)))
    assert sum(p["input_rows"] for p in inc.progress) == total
    assert [p["state_partitions"] for p in inc.progress] == [1] * len(inc.snapshots)
    assert inc.progress[-1]["state_rows"] == len(exact)
    assert all(p["state_commit_ms"] >= 0 for p in inc.progress)


def test_bounded_start_takes_one_partition_per_advisory_size(spark, sf_dir, tmp_path):
    """With the advisory partition size lowered so the same input needs k
    partitions, a bounded start logs min(k, cores) and stays exact: k = 3
    fits under the 8 cores, k = 21 is capped at them."""
    import os

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    ev.repartitionByRange(4, "event_id").write.parquet(src)
    size = _data_bytes(src)

    def agg_fn(df):
        return df.groupBy("event_type").agg(F.count("*").alias("cnt"),
                                            F.sum("event_id").alias("ids"))

    exact = {tuple(r) for r in agg_fn(ev).collect()}
    cores = spark.sparkContext.defaultParallelism
    for k in (3, 21):
        work = str(tmp_path / f"work{k}")
        with _shuffle_partitions(spark, 32), _advisory_size(spark, -(-size // k)):
            inc = OnlineAggregator(spark, src, spark.read.parquet(src).schema, agg_fn,
                                   total_rows=ev.count(), work_dir=work)
            final = inc.run_incremental()
        assert _logged_partitions(os.path.join(work, "checkpoint"), 0) == str(min(k, cores))
        assert inc.progress[-1]["state_partitions"] == min(k, cores)
        assert {tuple(r) for r in final.collect()} == exact


def test_rate_source_start_keeps_core_cap(spark, tmp_path):
    """A rate source is unbounded: even handed to _start as ``bounded`` its
    size cannot be read, so the query logs one state partition per core."""
    import os
    import time

    from quatrain_mapreduce_spark.streaming.hop import _input_bytes, _start

    ckpt = str(tmp_path / "ckpt")
    agg = (
        spark.readStream.format("rate").option("rowsPerSecond", 50).load()
        .groupBy((F.col("value") % 3).alias("k")).agg(F.count("*").alias("n"))
    )
    assert _input_bytes(agg) is None
    with _shuffle_partitions(spark, 32):
        q = _start(
            agg.writeStream.format("noop").outputMode("complete")
            .option("checkpointLocation", ckpt).trigger(processingTime="1 second"),
            spark, bounded=agg,
        )
    try:
        deadline = time.monotonic() + 120
        while q.isActive and q.lastProgress is None and time.monotonic() < deadline:
            time.sleep(0.2)
        assert q.exception() is None
        assert q.lastProgress is not None
    finally:
        q.stop()
    assert _logged_partitions(ckpt, 0) == str(spark.sparkContext.defaultParallelism)


def test_glob_source_path_is_sized(spark, tmp_path):
    """A glob source path (``src/*``) is sized over every match and the
    bounded start drains it exactly at the one partition its size asks for."""
    import os

    from quatrain_mapreduce_spark.streaming.hop import _input_bytes, _start

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for name, lo, hi in (("a", 0, 50), ("b", 50, 100), ("c", 100, 150)):
        spark.range(lo, hi).coalesce(1).write.parquet(os.path.join(src, name))
    agg = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1).parquet(os.path.join(src, "*"))
        .groupBy((F.col("id") % 5).alias("k")).agg(F.count("*").alias("n"))
    )
    assert _input_bytes(agg) == _data_bytes(src) > 0

    def write_snapshot(batch_df, _batch_id):
        batch_df.write.mode("overwrite").parquet(out)

    with _shuffle_partitions(spark, 32):
        _start(
            agg.writeStream.foreachBatch(write_snapshot).outputMode("complete")
            .option("checkpointLocation", ckpt).trigger(availableNow=True),
            spark, bounded=agg,
        ).awaitTermination()
    assert _logged_partitions(ckpt, 0) == "1"
    got = {r["k"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got == {k: 30 for k in range(5)}


def test_results_do_not_depend_on_state_partitions(spark, sf_dir):
    """run_incremental and a watermarked drain_to_parquet return identical
    rows whether their bounded start takes 1 state partition (the input's
    own size) or one per core (a 1-byte advisory size)."""
    from quatrain_mapreduce_spark.staging import stage_event_slices
    from quatrain_mapreduce_spark.streaming.hop import _state_partitions, drain_to_parquet

    src = stage_event_slices(spark, sf_dir, 4, ordered_mtime=True)
    schema = spark.read.parquet(src).schema
    total = spark.read.parquet(src).count()
    cores = spark.sparkContext.defaultParallelism

    def aggs():
        return [F.count("*").alias("cnt"), F.sum("event_id").alias("ids"),
                F.max("value").alias("top")]

    def run(parts):
        inc = OnlineAggregator(spark, src, schema,
                               lambda df: df.groupBy("event_type").agg(*aggs()), total)
        final = sorted(tuple(r) for r in inc.run_incremental().collect())
        assert {p["state_partitions"] for p in inc.progress} == {parts}
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        windows = tumbling_window_agg(stream, "ts", ["event_type"], aggs())
        assert _state_partitions(spark, windows) == parts
        drained = sorted(
            (r["win"]["start"], r["event_type"], r["cnt"], r["ids"], r["top"])
            for r in drain_to_parquet(windows, "qms_test_parts_parity").collect())
        return final, drained

    with _shuffle_partitions(spark, 32):
        one = run(1)
        with _advisory_size(spark, 1):
            many = run(cores)
    assert one == many
    assert sum(r[1] for r in one[0]) == total
    assert one[1]


def test_stateful_restart_keeps_logged_partition_count(spark, tmp_path_factory):
    """A checkpoint written under 2 shuffle partitions and restarted through
    _start from a 32-partition session keeps its 2 state partitions (the
    offset log wins over the session), and the resumed aggregate is exact."""
    import os

    from quatrain_mapreduce_spark.streaming.hop import _start

    work = str(tmp_path_factory.mktemp("restart_parts"))
    src, out, ckpt = (os.path.join(work, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def add_file(name, lo, hi):
        spark.range(lo, hi).coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(src, name))

    def write_snapshot(batch_df, _batch_id):
        batch_df.write.mode("overwrite").parquet(out)

    def drain():
        agg = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1).parquet(os.path.join(src, "*"))
            .groupBy((F.col("id") % 5).alias("k")).agg(F.count("*").alias("n"))
        )
        _start(
            agg.writeStream.foreachBatch(write_snapshot).outputMode("complete")
            .option("checkpointLocation", ckpt).trigger(availableNow=True),
            spark,
        ).awaitTermination()

    add_file("a", 0, 50)
    add_file("b", 50, 100)
    with _shuffle_partitions(spark, 2):
        drain()
    assert _logged_partitions(ckpt, 1) == "2"
    add_file("c", 100, 150)
    with _shuffle_partitions(spark, 32):
        drain()
    assert _logged_partitions(ckpt, 2) == "2"
    got = {r["k"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got == {k: 30 for k in range(5)}


def test_drain_reclaims_its_checkpoint(spark, sf_dir, tmp_path_factory):
    """Every one-shot drain — both drain_to_parquet modes, run_incremental
    without a work_dir and stream_jdbc_serving — deletes the checkpoint it
    created; the output and snapshot directories behind the returned frames
    stay readable."""
    import glob
    import os

    from quatrain_mapreduce_spark.registry import all_queries

    ckpts = os.path.join(tempfile.gettempdir(), "qms_drain_ckpt_*")
    before = set(glob.glob(ckpts))
    stream = read_events_stream(spark, sf_dir)
    total = load_table(spark, sf_dir, "events").count()
    counts = stream.groupBy("event_type").agg(F.count("*").alias("cnt"))
    with _shuffle_partitions(spark, 32):
        snap = drain_to_parquet(counts, "qms_test_reclaim_c", output_mode="complete")
        rows = drain_to_parquet(stream, "qms_test_reclaim_a")
    assert set(glob.glob(ckpts)) == before
    assert snap.agg(F.sum("cnt")).first()[0] == total
    assert rows.count() == total

    src = str(tmp_path_factory.mktemp("reclaim_inc_src"))
    load_table(spark, sf_dir, "events").repartition(2).write.mode("overwrite").parquet(src)
    inc = OnlineAggregator(spark, src, spark.read.parquet(src).schema,
                           lambda df: df.agg(F.count("*").alias("n")), total_rows=total)
    assert inc.run_incremental().first()["n"] == total
    work = os.path.dirname(inc.snapshots[-1][1])
    assert not os.path.exists(os.path.join(work, "checkpoint"))
    assert set(glob.glob(ckpts)) == before

    served = all_queries()["stream_jdbc_serving"].fn(spark, sf_dir)
    assert served.agg(F.sum("pageview")).first()[0] == total
    assert set(glob.glob(ckpts)) == before


def _mtime_ordered_slices(spark, src: str, n_files: int, rows_per_file: int) -> str:
    """``n_files`` single-file parquet slices of ``id`` ranges in ``src``
    whose mtimes increase with the range, so a one-file-per-trigger replay
    reads them in id order."""
    import glob
    import os
    import time

    spark.range(n_files * rows_per_file).repartitionByRange(n_files, "id") \
        .write.mode("overwrite").parquet(src)
    base = time.time() - 3600
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "part-*.parquet")))):
        os.utime(f, (base + i * 10, base + i * 10))
    return src


def _running_totals(prev, batch):
    got = batch.agg(F.count("*").alias("n"), F.sum("id").alias("s"),
                    F.max("id").alias("hi"))
    if prev is None:
        return got
    return prev.unionByName(got).agg(F.sum("n").alias("n"), F.sum("s").alias("s"),
                                     F.max("hi").alias("hi"))


def test_fold_versions_writes_one_exact_version_per_batch(spark, tmp_path):
    """fold_versions over a 5-file mtime-ordered replay writes v0..v4, each
    the step of its predecessor and its batch, and returns the final
    version, which equals the whole input."""
    import glob
    import os
    import shutil

    from quatrain_mapreduce_spark.staging import stage_dir
    from quatrain_mapreduce_spark.streaming.hop import fold_versions

    src = _mtime_ordered_slices(spark, str(tmp_path / "slices"), 5, 10)
    work = stage_dir(str(tmp_path), "foldtest")
    try:
        final = fold_versions(spark, str(tmp_path), src, "foldtest", _running_totals)
        assert tuple(final.first()) == (50, sum(range(50)), 49)
        names = sorted(os.path.basename(v) for v in glob.glob(os.path.join(work, "v*")))
        assert names == [f"v{i}" for i in range(5)]
        for i, name in enumerate(names):  # version i holds slices 0..i
            row = spark.read.parquet(os.path.join(work, name)).first()
            assert (row["n"], row["hi"]) == (10 * (i + 1), 10 * (i + 1) - 1)
        # a second call reads the finished fold instead of replaying it
        assert tuple(fold_versions(spark, str(tmp_path), src, "foldtest",
                                   None).first()) == (50, sum(range(50)), 49)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


def test_fold_versions_fails_loudly_without_a_predecessor(spark, tmp_path, monkeypatch):
    """When the running versions vanish mid-run (here: all deleted right
    before batch 2 checks for its predecessor), the fold raises "predecessor
    version ... is missing for batch 2" instead of restarting from None,
    and publishes nothing: no staged fold and no copy left from the failed
    run."""
    import glob
    import os
    import shutil

    import pytest

    from quatrain_mapreduce_spark.staging import stage_dir
    from quatrain_mapreduce_spark.streaming import hop

    src = _mtime_ordered_slices(spark, str(tmp_path / "slices"), 5, 10)
    work = stage_dir(str(tmp_path), "foldgone")
    is_dir = hop._fs_is_dir

    def delete_before_batch_2(session, path):
        if path.startswith(work) and os.path.basename(path) == "v1":
            for v in glob.glob(os.path.join(os.path.dirname(path), "v*")):
                shutil.rmtree(v)
        return is_dir(session, path)

    monkeypatch.setattr(hop, "_fs_is_dir", delete_before_batch_2)
    try:
        with pytest.raises(Exception, match=r"predecessor version \S+/v1 is missing for batch 2"):
            hop.fold_versions(spark, str(tmp_path), src, "foldgone", _running_totals)
        assert glob.glob(work + "*") == []
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


def test_fold_versions_never_skips_a_lost_predecessor(spark, tmp_path, monkeypatch):
    """Only the immediate predecessor is a valid base: when ``v1`` vanishes
    right after batch 1 writes it while ``v0`` survives, batch 2 must fail
    naming ``v1`` and batch 2, not fold onto ``v0`` and silently drop batch
    1's rows, and the failed fold publishes nothing."""
    import glob
    import os
    import re
    import shutil

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from quatrain_mapreduce_spark.staging import stage_dir
    from quatrain_mapreduce_spark.streaming import hop

    src = _mtime_ordered_slices(spark, str(tmp_path / "slices"), 5, 10)
    work = stage_dir(str(tmp_path), "foldlost")
    write = DataFrameWriter.parquet

    def write_then_lose_v1(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        if path.startswith(work) and re.fullmatch(r"v0*1", os.path.basename(path)):
            shutil.rmtree(path)

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_lose_v1)
    try:
        with pytest.raises(Exception, match=r"predecessor version \S+/v1 is missing for batch 2"):
            hop.fold_versions(spark, str(tmp_path), src, "foldlost", _running_totals)
        assert glob.glob(work + "*") == []
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)


def test_concurrent_starts_restore_session_partitions(spark):
    """_start swaps a session-wide conf around writer.start(); concurrent
    starts on one session must each see the core-sized count and leave the
    session at its own value, never at a neighbour's capped one."""
    import sys
    import threading
    import time

    from quatrain_mapreduce_spark.streaming.hop import _start

    seen: list[str] = []

    class _Writer:
        def start(self):
            seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
            time.sleep(0.001)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with _shuffle_partitions(spark, 32):
            threads = [
                threading.Thread(target=lambda: [_start(_Writer(), spark) for _ in range(20)])
                for _ in range(16)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
            assert not any(t.is_alive() for t in threads)
            assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        sys.setswitchinterval(interval)
    assert seen == ["8"] * 16 * 20
