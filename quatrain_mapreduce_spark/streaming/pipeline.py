"""Composed streaming training-data pipeline — the continuous form of
``training_data_pipeline``'s front half, expressed as ONE multi-stage
Structured Streaming query:

    file-stream ingest
      -> ingestion-time curation gate   (Gopher rules — stateless map work)
      -> streaming exact dedup          (dropDuplicates on (source, fp) —
                                         state store carries the seen set
                                         ACROSS micro-batches)
      -> foreachBatch fold:
           (a) kept corpus appended to a per-batch-versioned parquet sink
           (b) count-min cell snapshot merged BY ADDITION per micro-batch
               (the bounded-state frequency monitor riding the same pass)

The reference could only express this as separate chained continuous jobs
(HOP inter-job pipelining — MR/PipelineMapTask.java:52 feeding
MR/ReduceTask.java:565-629); here the gate, the dedup state, and the
monitor fold are one streaming plan with one checkpoint lineage.

Exactly-once without a native sink commit log: foreachBatch output is made
idempotent by keying every write on the micro-batch id — ``kept/b{id}`` is
overwritten on replay with identical content (deterministic input replay +
state restored from the checkpoint version of id-1), and ``cells/v{id}`` is
a pure function of ``cells/v{id-1}`` + the replayed batch: the monitor is
``hop.versioned_fold`` with the additive step ``hop.add_counts`` over
``curation.cms_cells_of``, so a missing ``cells/v{id-1}`` fails the batch
loudly (naming the path and the batch id) instead of restarting the
cumulative monitor from one batch's cells. Readers then
honor the checkpoint ``commits/`` log the way Spark's file-sink readers
honor ``_spark_metadata``: only batch versions the checkpoint committed are
visible, so part-written orphans from a mid-batch crash are masked
(``tools/soak_stream.py --mode pipeline`` SIGKILLs the JVM mid-run and
machine-asserts exactly this).

Scale shape: the gate is scan-local column work; dedup state is one row per
unique (source, fp) — the production unbounded form swaps in
dropDuplicatesWithinWatermark to bound it by event-time; the CMS fold is
bounded at d*w (<=4096) cells NO MATTER the corpus size, so the monitor
never becomes a vocabulary-sized aggregation (pinned by
tests/test_streaming.py).

Filesystem portability: committed_batch_ids, the fold kernel's
predecessor check, and read_training_stream_result resolve the checkpoint
and sink roots through the JVM Hadoop FileSystem API
(``operators.util.hadoop_fs``, the session's hadoopConfiguration), so
``out_root`` may live on any supported
scheme — bare local paths, ``file://``, ``hdfs://``, ``s3a://`` — exactly
like the reference's own DFS-native sink commit protocol
(QL/exec/FileSinkOperator.java:39 tmp-write + move on HDFS paths). The
streaming plan, state store, and parquet writes were already
scheme-agnostic; the listings and existence checks are too (pinned by
test_pipeline_file_scheme_roundtrip).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.curation import cms_cells_of
from quatrain_mapreduce_spark.streaming.hop import (
    _fs_child_ids, _start, add_counts, replay, versioned_fold,
)

CMS_CELL_SCHEMA = "i string, b int, c bigint"
KEPT_SCHEMA = "doc_id bigint, source string, norm string, fp string"

_NORM_TOKS = "filter(split(norm, ' '), x -> x <> '')"


def committed_batch_ids(ckpt: str, spark: SparkSession) -> set[int]:
    """Batch ids a reader may trust, reconstructed from the checkpoint's
    commit log. The foreachBatch analogue of the file sink's
    _spark_metadata authority — with one trap the first 10-minute soak
    run caught: commits/ is a RETAINED WINDOW, not a complete ledger
    (spark.sql.streaming.minBatchesToRetain, default 100, purges older
    entries after commit), so membership in the directory listing is the
    wrong predicate — a 117-batch run retains only ids 17..116 and a
    listing-based reader drops b0..b16, which hold nearly ALL first-seen
    dedup output. The sound authority is ``id <= max(commits)``: batch
    ids are sequential, batch n+1 only starts after n commits, and purge
    only ever removes COMMITTED entries — so the single possibly-
    uncommitted batch is always strictly above the retained maximum.

    Listing goes through the Hadoop FS API (module docstring, "Filesystem
    portability"), so ``ckpt`` may be a local path or any Hadoop scheme."""
    retained = _fs_child_ids(spark, os.path.join(ckpt, "commits"))
    if not retained:
        return set()
    return set(range(max(retained) + 1))


def curate_dedup_stages(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """The in-plan stages: Gopher gate -> content fingerprint -> stateful
    exact dedup. Shared verbatim by the streaming query and its batch twin
    (tests build the twin from THIS function over a batch frame) — the
    stream/batch parity contract.

    Default form is exact unbounded dedup (dropDuplicates: one state row
    per unique (source, fp) forever — right for bounded replays and
    acceptance runs). Passing ``ts_col`` + ``watermark`` switches to the
    PRODUCTION unbounded form: dropDuplicatesWithinWatermark, which keeps
    a (source, fp) only until the event-time watermark passes its last
    sighting — state is bounded by the duplicate-arrival horizon instead
    of the corpus, the property an always-on 100 TB ingest needs
    (eviction demonstrated by
    test_watermarked_dedup_evicts_state_and_keeps_horizon_dedup)."""
    from quatrain_mapreduce_spark.operators.curation import gopher_rules
    from quatrain_mapreduce_spark.operators.dedup import normalized_text

    # Per-micro-batch funnel telemetry (df.observe rides the plan for
    # free — no extra pass): ingested vs gate-surviving counts appear in
    # every StreamingQueryProgress as observedMetrics['tdp_ingest'/
    # 'tdp_gate'], the streaming form of the reference's Monitor
    # framework counters (MR/monitor/MonitorClient.java:33) and the
    # continuous sibling of training_pipeline_funnel's per-stage counts.
    observed = stream.observe(
        "tdp_ingest", F.count(F.lit(1)).alias("rows")
    )
    gated = gopher_rules(observed, text_col).where("passes = 1").observe(
        "tdp_gate", F.count(F.lit(1)).alias("rows")
    )
    cols = ["doc_id", "source"]
    if ts_col:
        cols.append(ts_col)
    keyed = gated.select(
        *cols, normalized_text(text_col).alias("norm")
    ).withColumn("fp", F.md5("norm"))
    if watermark:
        if not ts_col:
            raise ValueError("watermark requires ts_col")
        return keyed.withWatermark(ts_col, watermark) \
            .dropDuplicatesWithinWatermark(["source", "fp"])
    return keyed.dropDuplicates(["source", "fp"])


def norm_tokens(kept: DataFrame) -> DataFrame:
    """Tokens of the NORMALIZED kept text — normalization makes the token
    multiset a pure function of fp, so it is independent of which duplicate
    arrived first."""
    return kept.select(F.explode(F.expr(_NORM_TOKS)).alias("tok"))


def run_training_stream(spark: SparkSession, src_dir: str, out_root: str) -> None:
    """Drain the composed pipeline availableNow over a document parquet
    dir. Resumable: out_root holds the checkpoint, so calling again after a
    crash resumes the same lineage (the soak harness relies on this)."""
    start_training_stream(curate_dedup_stages(replay(spark, src_dir)), out_root).awaitTermination()


def start_training_stream(deduped: DataFrame, out_root: str,
                          processing_time: str | None = None):
    """Attach the foreachBatch fold to an already-staged deduped stream and
    start it: availableNow by default, with its dedup state sized to the
    input (``hop._start``); a ``processing_time`` trigger (the soak's rate
    source) keeps the core cap. The fold writes ``kept/b{id}``, then folds
    the batch's CMS cells into ``cells/v{id}`` through
    ``hop.versioned_fold``; ``cms_cells_of`` is looked up when the step
    runs, so a caller can wrap ``pipeline.cms_cells_of``."""
    kept_root = os.path.join(out_root, "kept")
    cells = versioned_fold(os.path.join(out_root, "cells"), add_counts(
        lambda kept: cms_cells_of(norm_tokens(kept)), ("i", "b"), ("c",)))

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            batch_df.write.mode("overwrite").parquet(os.path.join(kept_root, f"b{batch_id}"))
            cells(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        deduped.writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(out_root, "ckpt"))
        .outputMode("append")
    )
    if processing_time is None:
        return _start(writer.trigger(availableNow=True), deduped.sparkSession, bounded=deduped)
    return _start(writer.trigger(processingTime=processing_time), deduped.sparkSession)


def read_training_stream_result(
    spark: SparkSession, out_root: str
) -> tuple[DataFrame, DataFrame, set[int]]:
    """(kept corpus, final CMS cells, committed ids) — reading ONLY batch
    versions the checkpoint committed, so orphaned post-crash writes are
    invisible exactly as under a file sink's _spark_metadata.

    All existence checks are scheme-dispatched via Hadoop FS (module
    docstring, "Filesystem portability")."""
    commits = committed_batch_ids(os.path.join(out_root, "ckpt"), spark)
    if not commits:
        raise ValueError(f"no committed batches under {out_root}")
    # By construction every committed id has a kept dir (the fold writes
    # kept/b{id} — even for an empty batch — before the batch can commit),
    # so a missing dir always signals external deletion of committed
    # output; report it instead of silently shrinking the corpus. One
    # listing of kept/ answers all ids at once — a per-id exists() probe
    # is O(4n) Py4J round-trips after a multi-hour run's thousands of
    # committed batches.
    present = _fs_child_ids(spark, os.path.join(out_root, "kept"), "b")
    missing = [i for i in sorted(commits) if i not in present]
    if missing:
        raise ValueError(
            f"committed batch dirs missing under {out_root}/kept: "
            f"{missing[:20]}{'...' if len(missing) > 20 else ''} — "
            "committed output was deleted externally"
        )
    kept_dirs = [
        os.path.join(out_root, "kept", f"b{i}") for i in sorted(commits)
    ]
    kept = spark.read.schema(KEPT_SCHEMA).parquet(*kept_dirs)
    cells = spark.read.schema(CMS_CELL_SCHEMA).parquet(
        os.path.join(out_root, "cells", f"v{max(commits)}")
    )
    return kept, cells, commits
