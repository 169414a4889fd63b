"""HOP's streaming & online-aggregation semantics on Structured Streaming.

The reference's distinctive layer (SURVEY.md §2.8):

- continuous jobs with tumbling wall-clock windows
  (``mapred.reduce.window`` — ReduceTask.java:565-629: every N ms run reduce
  over the window's input, then free state) -> windowed groupBy +
  ``update`` output mode; processing-time trigger.
- CQ-style sliding averages (examples/CQ.java:365-398) -> sliding
  event-time window + watermark (a documented superset: the reference has
  no event time / late-data story at all).
- online aggregation snapshots (``mapred.snapshot.frequency`` —
  ReduceTask.java:631-669: full reduce over data-so-far at each progress
  quantum, emitting snapshot-<progress> outputs) -> a bounded file stream
  consumed by one stateful query; the state store carries the partial
  aggregate across micro-batches, and each micro-batch writes the
  aggregate-so-far as a snapshot tagged with the ingest fraction.
  Divergence pinned in SURVEY §7: reference progress is scheduler-based,
  ours is ingest-fraction-based; both converge to the exact answer.
- inter-job pipelining (JobClient.submitJobs / PipelineMapTask.java:52) —
  in Spark a multi-stage query is ONE plan; nothing to build.

All builders take/return DataFrames so batch and streaming share the same
transformation code (the point of Structured Streaming).

Stateful partition sizing: every stateful query the engine starts goes
through ``_start``, which sets ``spark.sql.shuffle.partitions`` for that
query only. Each shuffle partition of a stateful operator is one
state-store partition, and every micro-batch pays each partition a task,
a delta-file commit and a sink part file; streaming disables AQE's
coalescing, so the batch default (32) meant 32 commits per batch on a
4-core host. A bounded start (availableNow over file sources only) gets
one partition per ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
(Spark's 64 MB batch coalescing target) of input, capped at the cores
(``defaultParallelism``); every other start — rate, Kafka,
processingTime, or a source whose size cannot be read — gets the core
cap. The count is frozen into the checkpoint's offset log when the query
first starts, and a restart reuses the logged count whatever the session
says, so a checkpoint written under another count stays valid.

Bounded replay has one path, in this module. ``replay`` reads a staged
parquet dir as a file stream with the staged files' schema, one file per
micro-batch by default (the bounded stand-in for HOP's progress quanta).
``_drain`` starts a writer availableNow through ``_start`` as a bounded
start and waits for it; a checkpoint it creates itself
(``qms_drain_ckpt_*``) is deleted when the drain returns or fails, while
output and snapshot directories back the returned DataFrames, so they are
``staging.scratch`` dirs, deleted when the process exits.

HOP's reducer-held state has one stand-in here: ``versioned_fold(work,
step)`` is the one batch-id-versioned ``foreachBatch`` fold. Version
``work/v{id}`` = ``step(work/v{id-1}, batch)``, and batch 0 folds onto
None. Past batch 0 the predecessor must be exactly ``v{id-1}``: every
batch writes its version before it can commit, so a missing one means
the running state was deleted, and the batch fails naming the path and
the batch id instead of folding onto an older version and dropping a
batch. A retried batch reads ``v{id-1}``, never its own partial
``v{id}``, so it stays idempotent. The existence check and listings go
through the Hadoop FileSystem API (``operators.util.hadoop_fs``), so
``work`` may be a bare path or any Hadoop scheme (``file://``,
``hdfs://``, ``s3a://``). ``add_counts`` is the one additive ``step``
(per-key counts merged by addition). ``fold_versions`` folds a staged
replay into a staged artifact (``staging.staged``), published only once
the drain is done; the count monitors and the CDC materialization call
it, and the composed training pipeline (``streaming/pipeline.py``) calls
the kernel directly for its CMS monitor.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from quatrain_mapreduce_spark.operators.util import hadoop_fs
from quatrain_mapreduce_spark.staging import scratch, staged


# serializes _start's swap of the session-wide conf: two overlapping starts
# would otherwise restore each other's capped value and leave it behind
_START_LOCK = threading.Lock()


def _input_bytes(df: DataFrame) -> int | None:
    """Bytes under the paths of a streaming frame's sources, or None when a
    streaming source is not a file source or its size cannot be read. Each
    path (a glob, say) costs one Hadoop ``globStatus`` plus a
    ``getContentSummary`` per match, on any filesystem Hadoop reads."""
    from py4j.protocol import Py4JError

    spark = df.sparkSession
    total = 0
    try:
        file_format = spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.execution.datasources.FileFormat")
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.length()):
            leaf = leaves.apply(i)
            if not leaf.isStreaming():
                continue
            if leaf.getClass().getSimpleName() != "StreamingRelation":
                return None
            source = leaf.dataSource()
            path = source.options().get("path")
            if not file_format.isAssignableFrom(source.providingClass()) or path.isEmpty():
                return None
            fs, jpath = hadoop_fs(spark, path.get())
            matches = fs.globStatus(jpath)
            if matches is None:
                return None
            total += sum(fs.getContentSummary(m.getPath()).getLength() for m in matches)
    except Py4JError:
        return None
    return total


def _state_partitions(spark: SparkSession, bounded: DataFrame | None) -> int:
    """One state partition per advisory partition size of a bounded start's
    input, capped at the cores; the core cap alone for any other start."""
    cores = spark.sparkContext.defaultParallelism
    size = None if bounded is None else _input_bytes(bounded)
    if size is None:
        return cores
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    return min(cores, max(1, -(-size // advisory)))


def _start(
    writer: DataStreamWriter, spark: SparkSession, bounded: DataFrame | None = None
) -> StreamingQuery:
    """Start a stateful streaming query with its shuffle (and so state-store)
    partitions sized by ``_state_partitions``, never above the session's
    own value. ``bounded`` is the streamed frame of an availableNow start
    over file sources; leave it out for any other start. The query clones
    the session when it starts, so the session's own value is put back
    right after; a restart from an existing checkpoint reuses the count in
    its offset log."""
    key = "spark.sql.shuffle.partitions"
    n = _state_partitions(spark, bounded)
    with _START_LOCK:
        before = spark.conf.get(key)
        spark.conf.set(key, str(min(int(before), n)))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, before)


def _stage_stream_dir(sf_dir: str, table: str = "events") -> str:
    """FileStreamSource requires a *directory* source whose top level holds
    the data FILES. The driver testdata table is a single flat parquet file
    (symlinked as-is); a Spark-written table (e.g. the synthetic sf1 from
    tools/make_sf1.py) is a DIRECTORY of part files — symlinking the
    directory stages zero listable files, the stream fires zero
    micro-batches, and a complete-mode drain has no snapshot to read
    (r9 sf1-survival finding). So a directory source gets each part file
    symlinked individually, which also replays as one micro-batch per part
    under maxFilesPerTrigger=1 — the production landing-directory shape.
    Built once per (sf_dir, table) through ``staging.staged``."""
    src = os.path.join(sf_dir, f"{table}.parquet")

    def build(d: str) -> None:
        if os.path.isdir(os.path.realpath(src)):
            # recursive: a partitionBy-written or otherwise nested table
            # keeps its data files in subdirectories — a top-level-only glob
            # stages ZERO files and silently reproduces the zero-micro-batch
            # bug this function exists to fix (ADVICE r9). Links PRESERVE
            # the relative directory structure: hive-style `day=1/`
            # components carry the partition column's VALUES, and flattening
            # them into file names makes the stream fill that column with
            # NULL for every row while the batch twin reads it correctly
            # (leaf files don't contain partition columns). Sorted full
            # paths keep FileStreamSource's oldest-first ordering
            # deterministic either way.
            files = sorted(glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True))
            links = [(p, os.path.join(d, os.path.relpath(p, src))) for p in files]
        else:
            links = [(src, os.path.join(d, f"{table}.parquet"))]
        if not links:
            raise FileNotFoundError(
                f"stream staging found no *.parquet data files under {src!r} — "
                "an empty staged dir would fire zero micro-batches silently"
            )
        for target, link in links:
            os.makedirs(os.path.dirname(link), exist_ok=True)
            os.symlink(target, link)

    return staged(sf_dir, f"streamsrc2-{table}", build)


def replay(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """A staged parquet dir read as a file stream with the staged files'
    schema, ``max_files_per_trigger`` files per micro-batch — the one
    bounded-replay reader every engine stream over staged data uses."""
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def read_events_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """Replay the events table as a file stream (the batch stand-in for an
    unbounded source; swap for kafka/rate in production)."""
    from quatrain_mapreduce_spark.catalog import normalize_event_ts

    stream = replay(spark, _stage_stream_dir(sf_dir, "events"), max_files_per_trigger)
    return normalize_event_ts(stream)


def tumbling_window_agg(
    events: DataFrame, ts_col: str, keys: list[str], aggs: list[Column],
    window_duration: str = "5 minutes", watermark: str | None = "10 minutes",
) -> DataFrame:
    """HOP continuous job: periodic full-reduce over a tumbling window.

    The reference windows on reducer wall-clock and discards state each
    firing; the event-time equivalent is window() + update mode, with a
    watermark bounding state (superset: the reference drops nothing late
    because it has no event time)."""
    if watermark:
        events = events.withWatermark(ts_col, watermark)
    return events.groupBy(F.window(ts_col, window_duration).alias("win"), *[F.col(k) for k in keys]).agg(*aggs)


def _drain(
    writer: DataStreamWriter, df: DataFrame, checkpoint: str | None = None
) -> StreamingQuery:
    """Run ``writer`` (a sink attached to the streamed frame ``df``) as a
    bounded availableNow start through ``_start`` and wait for it to
    finish. Without a ``checkpoint`` the drain makes a one-shot one
    (``qms_drain_ckpt_*``) and deletes it in a ``finally``: a fresh
    checkpoint drained availableNow is never resumed. A caller's
    checkpoint is kept."""
    own = checkpoint is None
    if own:
        checkpoint = tempfile.mkdtemp(prefix="qms_drain_ckpt_")
    try:
        q = _start(
            writer.option("checkpointLocation", checkpoint).trigger(availableNow=True),
            df.sparkSession,
            bounded=df,
        )
        q.awaitTermination()
        return q
    finally:
        if own:
            shutil.rmtree(checkpoint, ignore_errors=True)


def drain_to_parquet(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a bounded stream with availableNow through a FILE sink and read
    the result back. This is the scale-shaped harness drain: a memory sink
    buffers every result row on the driver, while a parquet sink lands them
    on the (distributed) filesystem exactly as a production job would — the
    acceptance path and the 100 TB path are the same code.

    ``append`` mode uses the native parquet sink (exactly-once via the sink
    commit log). ``complete`` mode — unwatermarked aggregates, which the
    file sink rejects by design — goes through foreachBatch overwriting a
    snapshot dir, so the last micro-batch's full result is the answer: the
    same snapshot-file pattern as OnlineAggregator (HOP's
    snapshot-<progress> analogue), with no driver-side accumulation.

    The query runs through ``_drain`` (state partitions sized to the
    input, one-shot checkpoint deleted); the output dir
    ``qms_drain_<query_name>_*`` is a ``staging.scratch`` dir, deleted when
    the process exits.
    """
    out = scratch(f"qms_drain_{query_name}_")
    if output_mode == "append":
        result = out
        writer = stream_df.writeStream.format("parquet").option("path", out)
    else:
        result = os.path.join(out, "snapshot")

        def write_snapshot(batch_df: DataFrame, _batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(result)

        writer = stream_df.writeStream.foreachBatch(write_snapshot)
    _drain(writer.outputMode(output_mode), stream_df)
    return stream_df.sparkSession.read.schema(stream_df.schema).parquet(result)


def sessionize(events: DataFrame, user_col: str, ts_col: str, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization (batch form): per user, a new session starts
    when the gap since the previous event STRICTLY exceeds ``gap_minutes``
    (an exact-gap event merges — matching ``session_window``, which extends
    a session to last+gap inclusive).

    Declarative two-window form (lag → boundary flag → running sum), fully
    shuffle-partitioned by user — the batch twin of the stateful streaming
    form (``sessionize_stream``). Superset of the reference: HOP's CQ keeps
    ad-hoc reducer state (EX/CQ.java:365-398); session windows are the
    modern shape of that pattern.

    Emits one row per session: (user, session_id, n_events,
    session_start_us, session_dur_us) — exact integer epoch microseconds
    (Spark ``unix_micros`` ↔ DuckDB ``epoch_us``), so results hash
    identically across engines with no float-rounding ties.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    ep = F.unix_micros(F.col(ts_col))
    gap = ep - F.lag(ep).over(w)
    # Boundary rule is STRICTLY > gap: Spark's session_window MERGES an event
    # arriving exactly gap after its predecessor (verified empirically — the
    # session extends to last+gap inclusive; see
    # tests/test_streaming.py::test_sessionize_exact_gap_boundary). The
    # lag/cumsum form must use the same strict rule or the two
    # implementations disagree on exact-gap pairs.
    flagged = events.withColumn(
        "_new",
        F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn("session_id", F.sum("_new").over(w))
    return sessions.groupBy(user_col, "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(ep).alias("session_start_us"),
        (F.max(ep) - F.min(ep)).alias("session_dur_us"),
    )


def sessionize_stream(events: DataFrame, user_col: str, ts_col: str, gap_minutes: int = 30) -> DataFrame:
    """Streaming sessionization via session_window — Spark's native
    gap-window (state-store backed; the applyInPandasWithState escape hatch
    is only needed for logic session_window can't express).

    Works on both batch and streaming frames (same expression — the point).
    """
    return events.groupBy(
        F.col(user_col), F.session_window(ts_col, f"{gap_minutes} minutes").alias("sw")
    ).agg(F.count("*").alias("n_events"))


class OnlineAggregator:
    """Online aggregation with snapshots over a bounded input.

    Consumes a bounded file stream micro-batch by micro-batch, emitting a
    parquet snapshot of the aggregate-so-far after each batch
    (``snapshot-<progress>`` naming — HOP's snapshot-<progress>-<partition>
    analogue, ReduceTask.java:631-669). Early results approximate,
    converging to exact at progress 1.0.

    ``run_incremental()`` runs the aggregate as ONE stateful Structured
    Streaming query in ``complete`` output mode: Spark's state store carries
    the partial aggregate across batches, so per-batch work is
    O(batch + groups), and ``foreachBatch`` receives the full updated
    result to write as the snapshot — the streaming analogue of HOP's
    reducer-held snapshot state. ``agg_fn`` must be expressible on a
    streaming frame (groupBy/agg, optional global sort+limit — complete
    mode allows both).

    Scale design: nothing accumulates on the driver; ``self.snapshots``
    holds only (progress, path) metadata. A ``work_dir`` checkpoint is
    cleared at the start of every run — a reused checkpoint would mark all
    files processed and silently produce zero batches.

    ``run_incremental`` runs its query through ``_drain``, so the state
    store has one partition per advisory partition size of
    ``source_path`` (one for a few MB), capped at the cores, rather than
    the batch default of 32 shuffle partitions; the count is written into
    the checkpoint's offset log. Without a ``work_dir`` the drain's
    one-shot checkpoint is deleted once the run returns and the snapshots
    live in a ``staging.scratch`` dir until the process exits; a caller's
    ``work_dir`` and its checkpoint are kept. ``self.progress``
    then holds one entry per snapshot — batch id, progress fraction, input
    rows, state partitions, state rows and state commit ms — HOP's
    per-snapshot progress report.
    """

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        schema,
        agg_fn: Callable[[DataFrame], DataFrame],
        total_rows: int,
        work_dir: str | None = None,
    ):
        self.spark = spark
        self.source_path = source_path
        self.schema = schema
        self.agg_fn = agg_fn
        self.total_rows = total_rows
        self.work_dir = work_dir
        self.snapshots: list[tuple[float, str]] = []
        self.progress: list[dict] = []
        self.result_schema = None  # the aggregate's schema, set by a run

    def snapshot_df(self, i: int = -1) -> DataFrame:
        """Read back a written snapshot (default: the latest) with the
        aggregate's schema, so the read runs no schema-inference job."""
        return self.spark.read.schema(self.result_schema).parquet(self.snapshots[i][1])

    def run_incremental(self) -> DataFrame:
        """Run the aggregate as one stateful query: the state store carries
        it across batches (per-batch cost O(batch + groups)).
        Returns the final snapshot as a DataFrame (== the exact batch answer
        once progress reaches 1.0)."""
        work = self.work_dir or scratch("qms_online_inc_")
        checkpoint = None
        if self.work_dir:
            checkpoint = os.path.join(work, "checkpoint")
            shutil.rmtree(checkpoint, ignore_errors=True)

        stream = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.source_path)
        )
        agg = self.agg_fn(stream)
        self.result_schema = agg.schema
        total = self.total_rows
        raw: list[tuple[int, str]] = []  # (batch_id, snapshot path)

        def per_batch(result_df: DataFrame, batch_id: int) -> None:
            # complete mode: result_df IS the full aggregate-so-far; input
            # size this batch comes from the query progress bookkeeping
            # (no extra pass over the data)
            # (no persist: persisting a complete-mode batch frame with a
            # post-agg sort+limit trips an internal attribute-rebind bug in
            # Spark 4.1; the frame is groups-sized, the plain write is cheap)
            snap_path = os.path.join(work, f"snapshot-b{batch_id:05d}")
            result_df.write.mode("overwrite").parquet(snap_path)
            raw.append((batch_id, snap_path))

        # recentProgress retains only ~spark.sql.streaming.numRecentProgressUpdates
        # (default 100) entries, so a >100-micro-batch run would undercount
        # early batches and stamp the final snapshot with progress < 1.0.
        # A listener sees EVERY progress event regardless of run length; the
        # recentProgress tail is merged in afterwards because listener
        # delivery is async and may lag the last batch at termination.
        from pyspark.sql.streaming import StreamingQueryListener

        class _BatchProgress(StreamingQueryListener):
            def __init__(self) -> None:
                self.seen: dict[tuple[str, int], object] = {}

            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                self.seen[(str(p.id), p.batchId)] = p

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        listener = _BatchProgress()
        self.spark.streams.addListener(listener)
        try:
            q = _drain(agg.writeStream.foreachBatch(per_batch).outputMode("complete"),
                       agg, checkpoint)
            # stamp real progress fractions from the query's input
            # bookkeeping, keyed by batchId so a zero-input batch can't shift
            # the pairing or drop the final snapshot
            by_batch = {
                b: p for (qid, b), p in listener.seen.items() if qid == str(q.id)
            }
            by_batch.update({p.batchId: p for p in q.recentProgress})
        finally:
            self.spark.streams.removeListener(listener)
        cum = 0
        self.snapshots.clear()
        self.progress.clear()
        for batch_id, path in raw:
            p = by_batch.get(batch_id)
            rows = p.numInputRows if p else 0
            state = p.stateOperators if p else []
            cum += rows
            progress = min(cum / total, 1.0) if total else 1.0
            self.snapshots.append((progress, path))
            self.progress.append({
                "batch_id": batch_id,
                "progress": progress,
                "input_rows": rows,
                "state_partitions": max((s.numShufflePartitions for s in state), default=0),
                "state_rows": sum(s.numRowsTotal for s in state),
                "state_commit_ms": sum(s.commitTimeMs for s in state),
            })
        if not self.snapshots:
            return None
        return self.snapshot_df()


def _fs_is_dir(spark: SparkSession, path: str) -> bool:
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory())


def _fs_child_ids(spark: SparkSession, path: str, prefix: str = "") -> set[int]:
    """Batch ids of the ``{prefix}{id}`` entries of a directory, read with
    one Hadoop listing; empty if the directory does not exist."""
    if not _fs_is_dir(spark, path):
        return set()
    fs, jpath = hadoop_fs(spark, path)
    names = (st.getPath().getName() for st in fs.listStatus(jpath))
    n = len(prefix)
    return {int(x[n:]) for x in names if x.startswith(prefix) and x[n:].isdigit()}


def versioned_fold(
    work: str, step: Callable[[DataFrame | None, DataFrame], DataFrame]
) -> Callable[[DataFrame, int], None]:
    """The ``foreachBatch`` body of the one batch-id-versioned fold (module
    docstring): write ``work/v{id}`` = ``step(work/v{id-1}, batch)``, with
    None before batch 0, and fail loudly when the predecessor is gone."""

    def fold(batch: DataFrame, bid: int) -> None:
        spark = batch.sparkSession
        prev = None
        if bid > 0:
            path = os.path.join(work, f"v{bid - 1}")
            if not _fs_is_dir(spark, path):
                raise RuntimeError(
                    f"predecessor version {path} is missing for batch {bid}: "
                    "the folded state was deleted externally"
                )
            prev = spark.read.parquet(path)
        step(prev, batch).write.mode("overwrite").parquet(os.path.join(work, f"v{bid}"))

    return fold


def add_counts(
    count_fn: Callable[[DataFrame], DataFrame], key_cols: tuple, sum_cols: tuple
) -> Callable[[DataFrame | None, DataFrame], DataFrame]:
    """The additive fold step: merge ``count_fn(batch)`` into the running
    counts by addition (key_cols + sum_cols, sums as bigint). Valid
    exactly when the state is additively mergeable (per-key counts, CMS
    cells), so the result does not depend on how the input is sliced."""

    def add(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        counts = count_fn(batch)
        if prev is not None:
            counts = prev.unionByName(counts)
        return counts.groupBy(*key_cols).agg(
            *[F.sum(c).cast("bigint").alias(c) for c in sum_cols])

    return add


def fold_versions(
    spark: SparkSession,
    sf_dir: str,
    src: str,
    work_tag: str,
    step: Callable[[DataFrame | None, DataFrame], DataFrame],
) -> DataFrame:
    """Fold the staged dir ``src``, replayed one file per micro-batch,
    through ``versioned_fold`` into ``stage_dir(sf_dir, work_tag)`` and
    return the highest version. Built once per (sf_dir, work_tag) through
    ``staging.staged``: the fold runs into a fresh directory that is
    published only when the drain has finished, so later calls read the
    final version and a run that died is redone from scratch."""

    def build(work: str) -> None:
        stream = replay(spark, src)
        _drain(stream.writeStream.foreachBatch(versioned_fold(work, step)), stream)

    work = staged(sf_dir, work_tag, build)
    return spark.read.parquet(os.path.join(work, f"v{max(_fs_child_ids(spark, work, 'v'))}"))
