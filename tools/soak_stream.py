"""Streaming soak: bounded-state proof under a continuous rate source, plus
a kill/restart exactly-once soak (r8 directive #6, delivered r10).

Mode ``flat`` (default — VERDICT r6 stretch #8). Runs the engine's stateful
sessionization shape (native session_window + watermark — streaming/hop.py)
against Spark's rate source for N minutes and records, per micro-batch, the
state store's row count and memory from StreamingQuery progress. A
WATERMARKED session aggregation must hold state only for sessions the
watermark hasn't closed yet; with a rotating key universe and steady event
rate the state curve must go FLAT after the first gap+watermark horizon.
Unbounded growth here is exactly the bug class that kills a 100 TB
streaming deployment weeks in. FAILS (exit 1) unless the late-half state
rows stay under tolerance x the post-warmup median.

Mode ``kill-restart`` (r8 directive #6). The same sessionization runs in a
CHILD process, but with event time and keys derived purely from the rate
source's ``value`` column — the input becomes a deterministic function of
committed offsets, so it replays identically across restarts. The parent:

  phase 1: runs the child, then SIGKILLs its whole process group mid-run
           (real driver+JVM death — uncommitted sink files are left on
           disk, exactly what the file-sink commit log must mask);
  phase 2: restarts from the same checkpoint, then requests a GRACEFUL
           query.stop() via a stop-file;
  phase 3: restarts again (a SECOND recovery from the same lineage) and,
           like phase 2, ends by graceful stop-file once its share of the
           clock elapses — the phase exists for the extra restart, not for
           a distinct termination mode.

Then it machine-asserts exactly-once: reading the sink THROUGH SPARK (which
honors the ``_spark_metadata`` commit log — a raw directory listing would
see the orphaned post-kill files) and recomputing the sessions in BATCH
from ``spark.range(N)`` (N = rows the checkpoint committed), the sink must
contain (a) ZERO duplicate session keys, (b) ONLY sessions the batch twin
also derives, with identical n_events, and (c) EVERY batch session the
final watermark had closed. (a)+(b) catch replays/corruption from the
kill; (c) catches loss. Exit 1 on any violation.

Mode ``pipeline`` (r10 directive #6). The same SIGKILL/restart/restart
choreography, but the child runs the COMPOSED streaming training pipeline
(streaming/pipeline.py: Gopher gate -> stateful exact dedup -> foreachBatch
kept-sink + CMS monitor fold) over rate-derived synthetic documents whose
content is a pure function of ``value`` (duplicates arrive every ``keys``
values; 1-in-10 docs fail the gate). Asserts the kept sink — read through
the checkpoint commit log — equals the batch twin with zero duplicate /
phantom / missing (source, fp), AND that the final CMS snapshot equals the
twin's cells exactly while staying bounded at d*w cells.

Mode ``pipeline-midfold`` (r12 stretch #8). The pipeline choreography with
the SIGKILL targeted INSIDE the foreachBatch fold: a pause
(QMS_FOLD_PAUSE_S, which the child wraps around the fold's
pipeline.cms_cells_of call) widens the window after kept/b{id} completes
and before cells/v{id} starts, and the parent
polls for exactly that on-disk state (kept _SUCCESS present, cells version
absent, batch uncommitted) and kills the process group the moment it sees
it — proving by measurement, not argument, that the re-run-batch path
recovers the CMS fold idempotently.

Mode ``pipeline-flat``. Bounded-state proof for the composed pipeline's
PRODUCTION dedup form (dropDuplicatesWithinWatermark): rotating-key
synthetic docs stream continuously; dedup state must stay a sawtooth
bounded at 2 key blocks (one active + one draining) with watermark
evictions observed. Judged on the state ENVELOPE (late-half max vs
early-half max) plus the 2-block bound — a median-vs-max test misreads
the healthy sawtooth as growth.

Usage:
  python tools/soak_stream.py [--mode flat] [--minutes 10] [--rate 500] ...
  python tools/soak_stream.py --mode kill-restart [--minutes 10] [--rate 500]
       [--keys 1000] [--gap-seconds 10] [--watermark-seconds 30]
  python tools/soak_stream.py --mode pipeline [--minutes 10] [--rate 500]
       [--keys 1000]
  python tools/soak_stream.py --mode pipeline-flat [--minutes 8] [--rate 400]
       [--keys 300] [--watermark-seconds 20]
Writes one JSON line per sampled batch to stdout and a summary line last.
``--mode child`` is internal (the orchestrated worker).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quatrain_mapreduce_spark.planaudit import lint_session  # noqa: E402


def _deterministic_source(spark, rate: int, keys: int):
    """Rate stream whose event time AND key derive only from ``value``:
    ts = value/rate seconds since epoch, user block rotates every 30
    value-seconds. Deterministic given the committed offset range, so a
    restart (even after a SIGKILL + wall-clock gap) resumes the exact same
    logical input — the property the exactly-once assertion needs. The
    wall-clock ``timestamp`` column is deliberately unused."""
    from pyspark.sql import functions as F

    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate)
        .load()
    )
    return _derive_cols(src, rate, keys)


def _derive_cols(df, rate: int, keys: int):
    """Shared stream/batch derivation (same code path on both sides, the
    Structured Streaming contract)."""
    from pyspark.sql import functions as F

    return df.select(
        (
            (F.col("value") % keys)
            + keys * (F.floor(F.col("value") / (30 * rate)) % 8)
        ).alias("user_id"),
        F.timestamp_seconds(F.col("value") / rate).alias("ts"),
    )


def _sessionize(src, gap_s: int, wm_s: int):
    from pyspark.sql import functions as F

    return (
        src.withWatermark("ts", f"{wm_s} seconds")
        .groupBy("user_id", F.session_window("ts", f"{gap_s} seconds").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def _run_child(args) -> int:
    """One streaming run: resume from checkpoint, append to the parquet
    sink, log per-batch state metrics + watermark to --log (JSONL), stop
    gracefully when --stop-file appears or --run-seconds elapse."""
    from quatrain_mapreduce_spark.streaming.hop import _start

    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")
    sessions = _sessionize(
        _deterministic_source(spark, args.rate, args.keys),
        args.gap_seconds, args.watermark_seconds,
    )
    q = _start(
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", args.sink)
        .option("checkpointLocation", args.checkpoint)
        .trigger(processingTime="5 seconds"),
        spark,
    )
    deadline = time.monotonic() + args.run_seconds
    seen: set[int] = set()
    with open(args.log, "a") as log:
        while time.monotonic() < deadline and not os.path.exists(args.stop_file):
            time.sleep(2)
            for p in q.recentProgress:
                bid = p["batchId"]
                ops = p.get("stateOperators") or []
                if bid in seen or not ops:
                    continue
                seen.add(bid)
                log.write(json.dumps({
                    "phase": args.phase,
                    "batch": bid,
                    "state_rows": ops[0].get("numRowsTotal"),
                    "rows_removed": ops[0].get("numRowsRemoved"),
                    "input_rows": p.get("numInputRows"),
                    "watermark": (p.get("eventTime") or {}).get("watermark"),
                    "t": time.time(),
                }) + "\n")
                log.flush()
    q.stop()
    q.awaitTermination()
    return 0


def _committed_value_count(checkpoint: str, rate: int) -> int:
    """N = values the checkpoint committed. The rate source's offset is the
    number of elapsed source-seconds; a committed batch b covers values
    [0, offsets[b] * rate). Read the LAST batch id in commits/ and its
    offsets/ entry (offsets are written before commit, so commits/ is the
    exactly-once authority)."""
    commits = [int(f) for f in os.listdir(os.path.join(checkpoint, "commits"))
               if f.isdigit()]
    last = max(commits)
    with open(os.path.join(checkpoint, "offsets", str(last))) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    # file = "v1", metadata json, then one offset json per source
    off = json.loads(lines[-1])
    return int(off) * rate


def _kill_restart(args) -> int:
    work = tempfile.mkdtemp(prefix="qms_soak_kr_")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")
    log = os.path.join(work, "progress.jsonl")
    stop_file = os.path.join(work, "STOP")
    child_base = [
        sys.executable, os.path.abspath(__file__), "--mode", "child",
        "--rate", str(args.rate), "--keys", str(args.keys),
        "--gap-seconds", str(args.gap_seconds),
        "--watermark-seconds", str(args.watermark_seconds),
        "--sink", sink, "--checkpoint", ckpt, "--log", log,
        "--stop-file", stop_file,
    ]
    _drive_phases(child_base, args.minutes * 60, stop_file)
    return _assert_exactly_once(args, sink, ckpt, log)


def _drive_phases(child_base: list[str], total: float, stop_file: str) -> None:
    """The SIGKILL / restart / restart choreography shared by the
    kill-restart and pipeline soaks: phase 1 ends in a SIGKILL of the
    child's whole process group (driver AND JVM die mid-commit), phases 2
    and 3 restart from the same checkpoint and end by graceful stop-file
    (--run-seconds is padded +120s so it never fires first). Children get
    the workdir as TMPDIR, so the scratch dirs a SIGKILLed child cannot
    delete at exit stay inside the reported workdir."""
    phases = [  # (label, run_seconds, how it ends)
        ("pre-kill", total * 0.4, "SIGKILL"),
        ("post-kill", total * 0.3, "graceful stop-file"),
        ("final", total * 0.3, "graceful stop-file"),
    ]
    for i, (label, run_s, ending) in enumerate(phases):
        if os.path.exists(stop_file):
            os.unlink(stop_file)
        # run_seconds generous: the parent controls actual phase length
        proc = subprocess.Popen(
            child_base + ["--run-seconds", str(int(run_s) + 120),
                          "--phase", label],
            start_new_session=True,  # own process group: SIGKILL takes the JVM too
            env=dict(os.environ, TMPDIR=os.path.dirname(stop_file)),
        )
        t0 = time.monotonic()
        if i == 0:
            time.sleep(run_s)
            os.killpg(proc.pid, signal.SIGKILL)  # driver AND JVM die mid-commit
            proc.wait()
            print(json.dumps({"phase": label, "ended_by": ending,
                              "ran_s": round(time.monotonic() - t0, 1)}), flush=True)
        else:
            time.sleep(run_s)
            open(stop_file, "w").close()  # graceful query.stop() inside the child
            try:
                rc = proc.wait(timeout=180)
            except subprocess.TimeoutExpired:
                # a wedged child (stuck checkpoint commit, hung JVM) must
                # not crash the harness without a verdict or leak its
                # process group — kill it and still run the exactly-once
                # assertion over whatever WAS committed (review finding);
                # the telemetry must then say SIGKILL, not the graceful
                # ending that was merely requested (a reader correlating
                # phase endings with committed-batch gaps needs the truth)
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = "SIGKILL-after-stop-timeout"
                ending = "SIGKILL after stop-file timeout"
            print(json.dumps({"phase": label, "ended_by": ending, "rc": rc,
                              "ran_s": round(time.monotonic() - t0, 1)}), flush=True)


def _assert_exactly_once(args, sink: str, ckpt: str, log: str) -> int:
    from pyspark.sql import functions as F

    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")

    n_committed = _committed_value_count(ckpt, args.rate)
    # Spark read honors the file-sink commit log — orphaned post-SIGKILL
    # part files are invisible here (raw listing would double count)
    got = spark.read.parquet(sink).collect()
    n_sink = len(got)

    # batch twin over the exact committed value range — same derivation +
    # sessionization code path as the stream
    batch = (
        _derive_cols(spark.range(n_committed).select(F.col("id").alias("value")),
                     args.rate, args.keys)
        .groupBy("user_id", F.session_window("ts", f"{args.gap_seconds} seconds").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"), "n_events")
    ).collect()

    # All three checks run DRIVER-SIDE over the collected session sets
    # (bounded: ~2 sessions per key per 4-minute rotation — a few 10k rows
    # even at hour-long soaks). The first formulation filtered
    # session_end < watermark in the PLAN, and Catalyst pushed the
    # window-end predicate BELOW the session-merge aggregation — valid for
    # tumbling windows, session-chopping for session windows (events after
    # the cutoff vanish before merging, so long sessions reappear as
    # 1-event fragments that are "missing" from the sink). Python-side set
    # comparison is immune to that class entirely.
    sink_map: dict[tuple, int] = {}
    dup_keys = 0
    for r in got:
        k = (r["user_id"], r["session_start"])
        if k in sink_map:
            dup_keys += 1
        sink_map[k] = r["n_events"]
    batch_map = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_end"])
        for r in batch
    }
    # any sink row not matched exactly (key + count) by the batch twin is a
    # replayed/corrupt row
    phantom = sum(
        1 for k, n in sink_map.items()
        if k not in batch_map or batch_map[k][0] != n
    )

    # completeness: every session the FINAL watermark closed must be present
    wm = None
    with open(log) as fh:
        for ln in fh:
            w = json.loads(ln).get("watermark")
            if w:
                wm = w  # last non-null wins
    missing = -1
    if wm:
        from datetime import datetime

        wm_dt = datetime.fromisoformat(wm.replace("Z", "+00:00")).replace(tzinfo=None)
        missing = sum(
            1 for k, (n, end) in batch_map.items()
            if end < wm_dt and sink_map.get(k) != n
        )

    # missing == -1 means NO watermark line was captured (short runs, or
    # final batches landing between the 2 s recentProgress polls) — that is
    # absent TELEMETRY, not a correctness violation: dup/phantom checks and
    # the full sink-vs-batch-twin compare above ran regardless. Report it
    # as its own verdict so a telemetry gap can't masquerade as either
    # EXACTLY_ONCE or VIOLATED (review finding).
    ok = dup_keys == 0 and phantom == 0 and missing == 0 and n_sink > 0
    inconclusive = (
        dup_keys == 0 and phantom == 0 and missing == -1 and n_sink > 0
    )
    verdict = ("EXACTLY_ONCE" if ok
               else "INCONCLUSIVE_NO_WATERMARK" if inconclusive
               else "VIOLATED")
    print(json.dumps({
        "verdict": verdict,
        "committed_values": n_committed,
        "sink_sessions": n_sink,
        "duplicate_keys": dup_keys,
        "phantom_rows": phantom,
        "missing_closed_sessions": missing,
        "final_watermark": wm,
        "minutes": args.minutes,
        "workdir": os.path.dirname(sink),
    }), flush=True)
    return 0 if ok else 2 if inconclusive else 1


def _flat(args) -> int:
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.streaming.hop import _start

    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")

    # The key universe ROTATES: each 30 s window activates a different block
    # of `keys` users (8 blocks round-robin). A static key set at a steady
    # rate would re-touch every user inside the session gap, so no session
    # would ever close and the watermark would never evict — flat state for
    # the wrong reason. Rotation closes the previous block's sessions each
    # period, so the soak exercises the full open -> watermark-close ->
    # evict lifecycle continuously while total state stays bounded at
    # ~2 blocks (one open + one draining past the watermark).
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", args.rate)
        .load()
        .select(
            (
                (F.col("value") % args.keys)
                + args.keys
                * (F.floor(F.unix_timestamp("timestamp") / 30) % 8)
            ).alias("user_id"),
            F.col("timestamp").alias("ts"),
        )
    )
    sessions = (
        src.withWatermark("ts", f"{args.watermark_seconds} seconds")
        .groupBy(
            "user_id",
            F.session_window("ts", f"{args.gap_seconds} seconds").alias("sw"),
        )
        .agg(F.count("*").alias("n_events"))
    )
    sink = tempfile.mkdtemp(prefix="qms_soak_sink_")
    ckpt = tempfile.mkdtemp(prefix="qms_soak_ckpt_")
    q = _start(
        sessions.select("user_id", F.col("sw.start").alias("session_start"),
                        "n_events")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="5 seconds"),
        spark,
    )

    deadline = time.monotonic() + args.minutes * 60
    seen: dict[int, dict] = {}
    try:
        while time.monotonic() < deadline:
            time.sleep(5)
            for p in q.recentProgress:
                bid = p["batchId"]
                ops = p.get("stateOperators") or []
                if bid in seen or not ops:
                    continue
                op = ops[0]
                row = {
                    "batch": bid,
                    "state_rows": op.get("numRowsTotal"),
                    "state_bytes": op.get("memoryUsedBytes"),
                    "rows_removed": op.get("numRowsRemoved"),
                    "input_rows": p.get("numInputRows"),
                    "wall_s": round(time.monotonic() - (deadline - args.minutes * 60), 1),
                }
                seen[bid] = row
                print(json.dumps(row), flush=True)
    finally:
        q.stop()

    batches = [seen[b] for b in sorted(seen)]
    # warmup horizon: sessions only start closing after gap+watermark; give
    # it 3x that before judging flatness
    horizon_s = 3 * (args.gap_seconds + args.watermark_seconds)
    post = [b for b in batches if b["wall_s"] > horizon_s]
    if len(post) < 6:
        print(json.dumps({"verdict": "TOO_SHORT", "batches": len(batches)}))
        return 1
    rows = [b["state_rows"] for b in post]
    med = sorted(rows)[len(rows) // 2]
    late = rows[len(rows) // 2:]
    worst_late = max(late)
    flat = worst_late <= args.tolerance * med
    removed_any = any((b["rows_removed"] or 0) > 0 for b in post)
    print(json.dumps({
        "verdict": "FLAT" if (flat and removed_any) else "GROWING",
        "post_warmup_batches": len(post),
        "median_state_rows": med,
        "worst_late_state_rows": worst_late,
        "late_over_median": round(worst_late / max(med, 1), 3),
        "watermark_evicts": removed_any,
        "minutes": args.minutes,
        "rate": args.rate,
        "keys": args.keys,
    }), flush=True)
    return 0 if (flat and removed_any) else 1


def _derive_docs(df, keys: int):
    """Deterministic synthetic documents from the rate source's ``value``
    column (pipeline mode) — the document analogue of ``_derive_cols``:
    key = value % keys identifies the logical doc, so every re-arrival of a
    key is an EXACT duplicate the dedup stage must drop; key % 10 == 0 docs
    fail the Gopher gate (2 tokens < the 5-token floor). Shared verbatim by
    the streaming child and the batch twin."""
    from pyspark.sql import functions as F

    return df.select(
        F.col("value").alias("doc_id"), (F.col("value") % keys).alias("k")
    ).select(
        "doc_id",
        F.concat(F.lit("s"), (F.col("k") % 4).cast("string")).alias("source"),
        F.when(F.col("k") % 10 == 0, F.lit("## $$"))
         .otherwise(F.format_string(
             "the a of and to w%d w%d w%d",
             F.col("k"), F.col("k") + 1, F.col("k") * 2 + 7,
         )).alias("text"),
    )


def _observed_rows(progress, name: str):
    """Extract observe() metric 'rows' from a progress event. The
    observedMetrics VALUES are pyspark Row objects (no .get — calling it
    raises PySparkAttributeError), unlike the progress dict itself; index
    access with a None guard is the portable form."""
    om = progress.get("observedMetrics") or {}
    m = om.get(name) if hasattr(om, "get") else None
    try:
        return None if m is None else m["rows"]
    except (KeyError, TypeError, ValueError):
        return None


def _run_pipeline_child(args) -> int:
    """One composed-pipeline run: rate source -> synthetic docs -> Gopher
    gate -> stateful dedup -> foreachBatch fold (kept sink + CMS merge),
    resuming from args.out_root's checkpoint. Logs dedup state rows per
    batch; stops on stop-file or --run-seconds.

    ``QMS_FOLD_PAUSE_S`` (set only by --mode pipeline-midfold) wraps
    ``pipeline.cms_cells_of`` with a sleep. The fold calls it right after
    kept/b{id} is written and before cells/v{id}, so the pause widens
    exactly the window the mid-fold kill must land in."""
    from quatrain_mapreduce_spark.streaming import pipeline
    from quatrain_mapreduce_spark.streaming.pipeline import (
        curate_dedup_stages, start_training_stream,
    )

    pause = float(os.environ.get("QMS_FOLD_PAUSE_S", "0") or 0)
    if pause:
        cells_of = pipeline.cms_cells_of

        def paused_cells_of(toks):
            time.sleep(pause)
            return cells_of(toks)

        pipeline.cms_cells_of = paused_cells_of

    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", args.rate).load()
    )
    deduped = curate_dedup_stages(_derive_docs(src, args.keys), "text")
    q = start_training_stream(deduped, args.out_root, processing_time="5 seconds")
    deadline = time.monotonic() + args.run_seconds
    seen: set[int] = set()
    with open(args.log, "a") as log:
        while time.monotonic() < deadline and not os.path.exists(args.stop_file):
            time.sleep(2)
            for p in q.recentProgress:
                bid = p["batchId"]
                ops = p.get("stateOperators") or []
                if bid in seen or not ops:
                    continue
                seen.add(bid)
                log.write(json.dumps({
                    "phase": args.phase,
                    "batch": bid,
                    "dedup_state_rows": ops[0].get("numRowsTotal"),
                    "input_rows": p.get("numInputRows"),
                    "gate_in": _observed_rows(p, "tdp_ingest"),
                    "gate_out": _observed_rows(p, "tdp_gate"),
                    "t": time.time(),
                }) + "\n")
                log.flush()
    q.stop()
    q.awaitTermination()
    return 0


def _pipeline_kill_restart(args) -> int:
    work = tempfile.mkdtemp(prefix="qms_soak_pipe_")
    out_root = os.path.join(work, "out")
    log = os.path.join(work, "progress.jsonl")
    stop_file = os.path.join(work, "STOP")
    child_base = [
        sys.executable, os.path.abspath(__file__), "--mode", "pipeline-child",
        "--rate", str(args.rate), "--keys", str(args.keys),
        "--out-root", out_root, "--log", log, "--stop-file", stop_file,
    ]
    _drive_phases(child_base, args.minutes * 60, stop_file)
    return _assert_pipeline_exactly_once(args, out_root, log)


def _assert_pipeline_exactly_once(args, out_root: str, log: str) -> int:
    """Machine-assert the composed pipeline's exactly-once contract after
    the kill/restart choreography: the kept sink read THROUGH the
    checkpoint commit log must equal the batch twin (same stage function
    over spark.range(N), N = committed values) with zero duplicate /
    phantom / missing (source, fp) keys; the final CMS snapshot must equal
    the twin's cells EXACTLY and stay bounded at d*w; orphaned uncommitted
    versions on disk are telemetry, not data."""
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.streaming.pipeline import (
        cms_cells_of, curate_dedup_stages, norm_tokens,
        read_training_stream_result,
    )

    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")
    ckpt = os.path.join(out_root, "ckpt")
    n_committed = _committed_value_count(ckpt, args.rate)
    kept, cells, commits = read_training_stream_result(spark, out_root)

    got = [(r["source"], r["fp"]) for r in kept.select("source", "fp").collect()]
    twin = curate_dedup_stages(
        _derive_docs(spark.range(n_committed).select(F.col("id").alias("value")),
                     args.keys),
        "text",
    ).persist()
    want = {(r["source"], r["fp"]) for r in twin.select("source", "fp").collect()}
    dup = len(got) - len(set(got))
    phantom = len(set(got) - want)
    missing = len(want - set(got))

    got_cells = sorted(map(tuple, cells.collect()))
    want_cells = sorted(map(tuple, cms_cells_of(norm_tokens(twin)).collect()))
    cells_equal = got_cells == want_cells

    kept_on_disk = {
        int(n[1:]) for n in os.listdir(os.path.join(out_root, "kept"))
        if n.startswith("b") and n[1:].isdigit()
    }
    dedup_state_rows = None
    with open(log) as fh:
        for ln in fh:
            v = json.loads(ln).get("dedup_state_rows")
            if v is not None:
                dedup_state_rows = v  # last wins

    ok = (dup == 0 and phantom == 0 and missing == 0 and cells_equal
          and len(got_cells) <= 4096 and len(got) > 0)
    print(json.dumps({
        "verdict": "EXACTLY_ONCE" if ok else "VIOLATED",
        "committed_values": n_committed,
        "committed_batches": len(commits),
        "kept_rows": len(got),
        "twin_rows": len(want),
        "duplicate_keys": dup,
        "phantom_keys": phantom,
        "missing_keys": missing,
        "cms_cells": len(got_cells),
        "cms_cells_equal_batch": cells_equal,
        "orphan_kept_versions_masked": len(kept_on_disk - commits),
        "final_dedup_state_rows": dedup_state_rows,
        "dedup_state_bound_keys": args.keys,
        "minutes": args.minutes,
        "workdir": out_root,
    }), flush=True)
    return 0 if ok else 1


def _retained_commit_ids(out_root: str) -> set[int]:
    """Harness-side committed-id reconstruction (same max-of-retained rule
    as streaming/pipeline.committed_batch_ids; plain os listing is fine
    here — the soak workdir is always driver-local /tmp)."""
    cdir = os.path.join(out_root, "ckpt", "commits")
    if not os.path.isdir(cdir):
        return set()
    retained = {int(f) for f in os.listdir(cdir) if f.isdigit()}
    return set(range(max(retained) + 1)) if retained else set()


def _pipeline_midfold_kill(args) -> int:
    """r12 stretch #8: SIGKILL targeted INSIDE the foreachBatch fold — after
    kept/b{id} finishes (its _SUCCESS exists) but before cells/v{id} starts.
    The prior pipeline soaks kill between batches, so the mid-fold window
    (kept written, cells absent, batch uncommitted) was covered by argument
    only (overwrite-mode writes keyed on batch_id); this mode proves the
    re-run-batch path recovers the CMS fold idempotently by measurement.

    Choreography: phase 1 runs the child with QMS_FOLD_PAUSE_S widening the
    kept->cells window while the parent polls the sink for exactly that
    window and SIGKILLs the process group the moment it sees it (recording
    the on-disk state at kill); phase 2 restarts WITHOUT the pause and ends
    gracefully; then the standard exactly-once assertion runs. Exit 1 if
    the kill never landed mid-fold or the assertion fails."""
    work = tempfile.mkdtemp(prefix="qms_soak_pipemf_")
    out_root = os.path.join(work, "out")
    log = os.path.join(work, "progress.jsonl")
    stop_file = os.path.join(work, "STOP")
    child_base = [
        sys.executable, os.path.abspath(__file__), "--mode", "pipeline-child",
        "--rate", str(args.rate), "--keys", str(args.keys),
        "--out-root", out_root, "--log", log, "--stop-file", stop_file,
    ]
    total = args.minutes * 60
    hunt_s = total * 0.5
    env = dict(os.environ, TMPDIR=work)  # as in _drive_phases
    proc = subprocess.Popen(
        child_base + ["--run-seconds", str(int(hunt_s) + 120),
                      "--phase", "pre-midfold-kill"],
        start_new_session=True, env=dict(env, QMS_FOLD_PAUSE_S="3.0"),
    )
    landed = None
    t0 = time.monotonic()
    kept_root = os.path.join(out_root, "kept")
    while time.monotonic() - t0 < hunt_s and landed is None:
        time.sleep(0.2)
        if proc.poll() is not None:
            break
        committed = _retained_commit_ids(out_root)
        if not os.path.isdir(kept_root):
            continue
        for n in os.listdir(kept_root):
            if not (n.startswith("b") and n[1:].isdigit()):
                continue
            bid = int(n[1:])
            if bid in committed:
                continue
            # Never kill on batch 0: its fold SKIPS the prev-cells read
            # (no predecessor), so a batch-0 kill would "prove" recovery
            # without ever exercising the cumulative predecessor-union
            # path this mode exists to cover. Wait for bid >= 1.
            if bid == 0:
                continue
            if (os.path.exists(os.path.join(kept_root, n, "_SUCCESS"))
                    and not os.path.isdir(
                        os.path.join(out_root, "cells", f"v{bid}"))):
                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
                except ProcessLookupError:
                    break  # child died on its own between poll() and kill
                landed = bid
                break
    if landed is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        except ProcessLookupError:
            pass
        print(json.dumps({"verdict": "KILL_NOT_LANDED",
                          "hunt_seconds": round(hunt_s, 1)}), flush=True)
        return 1
    # record the on-disk state the kill left behind — the demonstration
    # the argument-only coverage lacked
    at_kill = {
        "midfold_kill_batch": landed,
        "kept_success_at_kill": os.path.exists(
            os.path.join(kept_root, f"b{landed}", "_SUCCESS")),
        "cells_present_at_kill": os.path.isdir(
            os.path.join(out_root, "cells", f"v{landed}")),
        "committed_at_kill": landed in _retained_commit_ids(out_root),
        "hunt_s": round(time.monotonic() - t0, 1),
    }
    print(json.dumps({"phase": "pre-midfold-kill", "ended_by": "SIGKILL",
                      **at_kill}), flush=True)
    # phase 2: recover WITHOUT the pause hook, end gracefully
    if os.path.exists(stop_file):
        os.unlink(stop_file)
    rest = max(60.0, total - (time.monotonic() - t0))
    proc = subprocess.Popen(
        child_base + ["--run-seconds", str(int(rest) + 120),
                      "--phase", "post-midfold"],
        start_new_session=True, env=env,
    )
    time.sleep(rest)
    open(stop_file, "w").close()
    ended = "graceful stop-file"
    try:
        proc.wait(timeout=180)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        ended = "SIGKILL after stop-file timeout"
    print(json.dumps({"phase": "post-midfold", "ended_by": ended,
                      "ran_s": round(rest, 1)}), flush=True)
    rc = _assert_pipeline_exactly_once(args, out_root, log)
    ok = (rc == 0 and at_kill["kept_success_at_kill"]
          and not at_kill["cells_present_at_kill"]
          and not at_kill["committed_at_kill"])
    print(json.dumps({"midfold_verdict": "RECOVERED_EXACTLY_ONCE" if ok
                      else "FAILED", **at_kill}), flush=True)
    return 0 if ok else 1


def _pipeline_flat(args) -> int:
    """Bounded-state proof for the composed pipeline's PRODUCTION dedup
    form (curate_dedup_stages with ts_col+watermark ->
    dropDuplicatesWithinWatermark): synthetic docs stream continuously
    with a ROTATING key universe (each 30 s block activates a fresh set of
    keys, so old keys stop re-arriving and the watermark can evict their
    state). With unbounded dropDuplicates the state curve would be a
    staircase growing one block per rotation forever; the watermarked form
    must go FLAT after the first watermark horizon and show evictions —
    the same verdict shape as the sessionization flat soak."""
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.streaming.hop import _start
    from quatrain_mapreduce_spark.streaming.pipeline import curate_dedup_stages

    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")
    keys, rate = args.keys, args.rate
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rate).load()
    )
    # rotating key blocks on the VALUE timeline (same rotation device as
    # _derive_cols): ts = value-derived event time, key universe shifts
    # every 30 value-seconds, so a block's last sighting is bounded and the
    # watermark can close it
    k = (F.col("value") % keys) + keys * (F.floor(F.col("value") / (30 * rate)) % 1000)
    docs = src.select(
        F.col("value").alias("doc_id"),
        F.timestamp_seconds(F.col("value") / rate).alias("ts"),
        F.concat(F.lit("s"), (k % 4).cast("string")).alias("source"),
        F.format_string("the a of and to w%d w%d w%d", k, k + 1, k * 2 + 7)
        .alias("text"),
    )
    deduped = curate_dedup_stages(
        docs, "text", ts_col="ts",
        watermark=f"{args.watermark_seconds} seconds",
    )
    sink = tempfile.mkdtemp(prefix="qms_soak_pipeflat_sink_")
    ckpt = tempfile.mkdtemp(prefix="qms_soak_pipeflat_ckpt_")
    q = _start(
        deduped.writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(processingTime="5 seconds"),
        spark,
    )
    deadline = time.monotonic() + args.minutes * 60
    t_start = time.monotonic()
    seen: dict[int, dict] = {}
    try:
        while time.monotonic() < deadline:
            time.sleep(5)
            for p in q.recentProgress:
                bid = p["batchId"]
                ops = p.get("stateOperators") or []
                # a progress event can carry the operator entry WITHOUT
                # numRowsTotal (same Row-shape variability _observed_rows
                # guards against) — admitting a None here would TypeError
                # the max() in the envelope computation after the full run
                # time instead of producing a verdict
                if bid in seen or not ops or ops[0].get("numRowsTotal") is None:
                    continue
                row = {
                    "batch": bid,
                    "state_rows": ops[0].get("numRowsTotal"),
                    "rows_removed": ops[0].get("numRowsRemoved"),
                    "input_rows": p.get("numInputRows"),
                    "gate_in": _observed_rows(p, "tdp_ingest"),
                    "gate_out": _observed_rows(p, "tdp_gate"),
                    "wall_s": round(time.monotonic() - t_start, 1),
                }
                seen[bid] = row
                print(json.dumps(row), flush=True)
    finally:
        q.stop()

    batches = [seen[b] for b in sorted(seen)]
    doc = pipeline_flat_verdict(
        batches, keys=args.keys, rate=args.rate,
        watermark_seconds=args.watermark_seconds, tolerance=args.tolerance,
    )
    doc["minutes"] = args.minutes
    print(json.dumps(doc), flush=True)
    return 0 if doc["verdict"] == "BOUNDED" else 1


def pipeline_flat_verdict(batches: list[dict], *, keys: int, rate: int,
                          watermark_seconds: int, tolerance: float,
                          trigger_s: int = 5, rotation_s: int = 30) -> dict:
    """BOUNDED/GROWING verdict over pipeline-flat batch rows (each the
    JSONL dict _pipeline_flat logs). Pure so the live run and the offline
    --mode reverdict path apply the IDENTICAL criterion, and so the
    criterion itself is unit-testable without a stream.

    Unlike the sessionization curve, dedup-within-watermark state is a
    SAWTOOTH: it climbs to (active + draining) key blocks, then a
    rotation's eviction drops a whole block at once — a median-vs-max
    flatness test reads the healthy sawtooth as 2x "growth" (first run of
    this mode did exactly that). Bounded means two things instead: the
    ENVELOPE doesn't grow (late-half max vs early-half max) and no
    observation exceeds its derived amplitude bound. That bound is the
    live key blocks PLUS one batch of input: eviction runs inside batch n
    with the watermark computed from batch n-1, so the rows a watermark
    crossing will evict coexist with that batch's new arrivals until the
    pass removes them. The lag term is PER BATCH (that batch's own
    numInputRows), not the nominal rate*trigger: a trigger interval that
    stretches under load ingests more than rate*trigger rows and the
    state peak moves with the ACTUAL arrivals — the 150-min 10k-key run
    measured batch 147 at exactly 2*keys + 3,000 = 23,000 when its
    interval stretched to 3,000 rows, which a fixed 22,500 scalar bound
    (the r12 formula, calibrated on a 30-min run whose every batch
    ingested exactly 2,500) would misread as growth."""
    horizon_s = 3 * (rotation_s + watermark_seconds)
    post = [b for b in batches if b["wall_s"] > horizon_s]
    if len(post) < 6:
        return {"verdict": "TOO_SHORT", "batches": len(batches)}
    rows = [b["state_rows"] for b in post]
    early_max = max(rows[: len(rows) // 2])
    late_max = max(rows[len(rows) // 2:])
    envelope_flat = late_max <= tolerance * early_max
    # blocks alive = the active one + however many rotations the watermark
    # delay keeps a finished block's state (ceil(W/R); >=1 even for tiny W
    # since eviction can't precede the block's own end)
    blocks = 1 + max(1, -(-watermark_seconds // rotation_s))
    nominal_lag = rate * trigger_s  # fallback when a row lacks input_rows
    over = [
        b["state_rows"] - (keys * blocks + (b.get("input_rows") or nominal_lag))
        for b in post
    ]
    max_over = max(over)
    under_bound = max_over <= 0
    removed_any = any((b.get("rows_removed") or 0) > 0 for b in post)
    ok = envelope_flat and under_bound and removed_any
    return {
        "verdict": "BOUNDED" if ok else "GROWING",
        "post_warmup_batches": len(post),
        "early_max_state_rows": early_max,
        "late_max_state_rows": late_max,
        "late_over_early_max": round(late_max / max(early_max, 1), 3),
        "amplitude_bound": keys * blocks + nominal_lag,
        "max_over_per_batch_bound": max_over,
        "max_input_rows_post": max((b.get("input_rows") or 0) for b in post),
        "under_bound": under_bound,
        "watermark_evicts": removed_any,
        "rate": rate, "keys": keys,
    }


def _reverdict(args) -> int:
    """Recompute the pipeline-flat verdict OFFLINE from a captured stdout/
    log file of batch JSONL rows (--log). Exists so a multi-hour run whose
    in-flight process loaded an older criterion — or died with the host —
    can still be judged from its raw rows, under exactly the code the live
    path runs."""
    import re

    with open(args.log) as fh:
        text = fh.read()
    seen: dict[int, dict] = {}
    for m in re.finditer(r'\{"batch": \d+[^}]*\}', text):
        row = json.loads(m.group(0))
        seen.setdefault(row["batch"], row)
    batches = [seen[b] for b in sorted(seen)]
    doc = pipeline_flat_verdict(
        batches, keys=args.keys, rate=args.rate,
        watermark_seconds=args.watermark_seconds, tolerance=args.tolerance,
    )
    doc["source_log"] = args.log
    print(json.dumps(doc), flush=True)
    return 0 if doc["verdict"] == "BOUNDED" else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["flat", "kill-restart", "child",
                                       "pipeline", "pipeline-child",
                                       "pipeline-flat", "pipeline-midfold",
                                       "reverdict"],
                    default="flat")
    ap.add_argument("--minutes", type=float, default=10.0)
    ap.add_argument("--rate", type=int, default=500, help="rows/sec")
    ap.add_argument("--keys", type=int, default=1000)
    ap.add_argument("--gap-seconds", type=int, default=10)
    ap.add_argument("--watermark-seconds", type=int, default=30)
    ap.add_argument("--tolerance", type=float, default=1.5,
                    help="flat mode: late-half state rows under tol x median")
    # child-mode internals (set by the orchestrator)
    ap.add_argument("--sink"), ap.add_argument("--checkpoint")
    ap.add_argument("--log"), ap.add_argument("--stop-file")
    ap.add_argument("--run-seconds", type=float, default=0)
    ap.add_argument("--phase", default="")
    ap.add_argument("--out-root", help="pipeline modes: kept/cells/ckpt root")
    args = ap.parse_args()
    if args.mode == "child":
        return _run_child(args)
    if args.mode == "pipeline-child":
        return _run_pipeline_child(args)
    if args.mode == "kill-restart":
        return _kill_restart(args)
    if args.mode == "pipeline":
        return _pipeline_kill_restart(args)
    if args.mode == "pipeline-flat":
        return _pipeline_flat(args)
    if args.mode == "reverdict":
        return _reverdict(args)
    if args.mode == "pipeline-midfold":
        return _pipeline_midfold_kill(args)
    return _flat(args)


if __name__ == "__main__":
    raise SystemExit(main())
