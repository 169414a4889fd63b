"""Streaming soak: bounded-state proofs under a continuous rate source, and
kill/restart exactly-once proofs from a checkpoint.

Every mode runs its stream in ONE kind of child process
(``--mode child --shape {sessions,pipeline,pipeline-wm} --work DIR``)
driven through a list of phases by one phase driver. The child reads
Spark's rate source, derives its input purely from the ``value`` column
(event time AND keys — so a restart after a SIGKILL replays the exact same
logical input), and keeps everything under ``--work``: ``sink/`` +
``ckpt/`` (or the pipeline's ``out/``), ``progress.jsonl`` and the
``STOP`` file that asks it for a graceful ``query.stop()``. Each new batch
with a state operator becomes one JSON row (``batch``, ``state_rows``,
``state_bytes``, ``rows_removed``, ``input_rows``, ``watermark``,
``gate_in``, ``gate_out``, ``phase``, ``wall_s``, ``t``), appended to
``progress.jsonl`` and printed to stdout.

Shapes:
  sessions     native session_window + watermark over a rotating key
               universe (each 30 value-seconds activates a different block
               of ``--keys`` users, 8 blocks round-robin), appended to a
               parquet sink;
  pipeline     the COMPOSED streaming training pipeline
               (streaming/pipeline.py: Gopher gate -> stateful exact dedup
               -> foreachBatch kept-sink + CMS monitor fold) over synthetic
               documents whose content is a pure function of ``value``;
  pipeline-wm  the pipeline's PRODUCTION dedup form
               (dropDuplicatesWithinWatermark) over rotating-key documents,
               appended to a parquet sink.

Modes:
  flat              sessions, one phase of --minutes ending by stop-file.
                    FLAT unless the late-half state rows exceed tolerance x
                    the post-warmup median, or no watermark eviction is seen
                    (``flat_verdict``).
  kill-restart      sessions, phases 0.4/0.3/0.3 of the time: SIGKILL the
                    child's whole process group (driver AND JVM), restart
                    from the checkpoint and stop, restart again and stop.
                    Then the sink read THROUGH SPARK (honouring the file-sink
                    commit log) must hold zero duplicate session keys, only
                    sessions the batch twin over ``spark.range(N)`` derives
                    (N = committed values) and every session the final
                    watermark closed: EXACTLY_ONCE.
  pipeline          pipeline, the same kill/stop/stop phases; the kept sink
                    must equal the batch twin with zero duplicate / phantom
                    / missing (source, fp) and the final CMS snapshot must
                    equal the twin's cells while staying bounded at d*w.
  pipeline-midfold  pipeline, the SIGKILL aimed INSIDE the foreachBatch
                    fold: QMS_FOLD_PAUSE_S (wrapped around
                    ``pipeline.cms_cells_of``) widens the window after
                    kept/b{id} completes and before cells/v{id} starts; the
                    driver kills the moment it sees that window for a batch
                    id >= 1 (KILL_NOT_LANDED if it never does), then one
                    restart ends by stop-file and the pipeline assertion
                    runs: RECOVERED_EXACTLY_ONCE.
  pipeline-flat     pipeline-wm, one phase of --minutes ending by stop-file.
                    Dedup state must stay a sawtooth bounded at the live key
                    blocks plus one batch of input, with evictions seen
                    (``pipeline_flat_verdict``).
  reverdict         recompute the pipeline-flat verdict from a captured log.

Workdir: each run makes one ``qms_soak_<mode>_*`` dir in the temp dir and
gives it to its children as TMPDIR, so the scratch dirs a SIGKILLed child
cannot delete stay inside it. It is deleted when the run ends, unless the
verdict shows a correctness fault (VIOLATED, FAILED, KILL_NOT_LANDED,
GROWING); then it is kept and named as ``workdir`` in the summary line.

Usage:
  python tools/soak_stream.py [--mode flat] [--minutes 10] [--rate 500] ...
  python tools/soak_stream.py --mode kill-restart [--minutes 10] [--rate 500]
       [--keys 1000] [--gap-seconds 10] [--watermark-seconds 30]
  python tools/soak_stream.py --mode pipeline|pipeline-midfold [--minutes 10]
       [--rate 500] [--keys 1000]
  python tools/soak_stream.py --mode pipeline-flat [--minutes 8] [--rate 400]
       [--keys 300] [--watermark-seconds 20]
  python tools/soak_stream.py --mode reverdict --log CAPTURE [--keys ...]
Prints the children's batch rows and phase endings, and a summary line last.
Exit 0 on EXACTLY_ONCE / RECOVERED_EXACTLY_ONCE / FLAT / BOUNDED, 2 on
INCONCLUSIVE_NO_WATERMARK, 1 otherwise.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from quatrain_mapreduce_spark.planaudit import lint_session  # noqa: E402

_PASSED = {"EXACTLY_ONCE", "RECOVERED_EXACTLY_ONCE", "FLAT", "BOUNDED"}
_FAULTS = {"VIOLATED", "FAILED", "KILL_NOT_LANDED", "GROWING"}


def _derive_cols(df, rate: int, keys: int):
    """Session input from the rate source's ``value``: ts = value/rate
    seconds since epoch, user block rotates every 30 value-seconds. Shared
    by the stream and the batch twin (the same code path on both sides)."""
    from pyspark.sql import functions as F

    return df.select(
        (
            (F.col("value") % keys)
            + keys * (F.floor(F.col("value") / (30 * rate)) % 8)
        ).alias("user_id"),
        F.timestamp_seconds(F.col("value") / rate).alias("ts"),
    )


def _sessionize(src, gap_s: int, wm_s: int | None):
    """Session counts per user; ``wm_s=None`` is the batch twin's form."""
    from pyspark.sql import functions as F

    if wm_s is not None:
        src = src.withWatermark("ts", f"{wm_s} seconds")
    return (
        src.groupBy("user_id", F.session_window("ts", f"{gap_s} seconds").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def _derive_docs(df, keys: int):
    """Deterministic synthetic documents from ``value`` (pipeline shape):
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


def _wm_docs(df, rate: int, keys: int):
    """Rotating-key documents with a value-derived event time (pipeline-wm
    shape): the key universe shifts every 30 value-seconds, so a block's
    last sighting is bounded and the watermark can evict its dedup state."""
    from pyspark.sql import functions as F

    k = (F.col("value") % keys) + keys * (F.floor(F.col("value") / (30 * rate)) % 1000)
    return df.select(
        F.col("value").alias("doc_id"),
        F.timestamp_seconds(F.col("value") / rate).alias("ts"),
        F.concat(F.lit("s"), (k % 4).cast("string")).alias("source"),
        F.format_string("the a of and to w%d w%d w%d", k, k + 1, k * 2 + 7)
        .alias("text"),
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


def _run_child(args) -> int:
    """One streaming run of ``--shape`` under ``--work``: resume from the
    checkpoint, log one row per new stateful batch, stop gracefully when
    ``STOP`` appears or --run-seconds elapse.

    ``QMS_FOLD_PAUSE_S`` (set only by pipeline-midfold's hunt) wraps
    ``pipeline.cms_cells_of`` with a sleep. The fold calls it right after
    kept/b{id} is written and before cells/v{id}, so the pause widens
    exactly the window the mid-fold kill must land in."""
    from quatrain_mapreduce_spark.streaming import pipeline
    from quatrain_mapreduce_spark.streaming.hop import _start

    pause = float(os.environ.get("QMS_FOLD_PAUSE_S", "0") or 0)
    if pause:
        cells_of = pipeline.cms_cells_of

        def paused_cells_of(toks):
            time.sleep(pause)
            return cells_of(toks)

        pipeline.cms_cells_of = paused_cells_of

    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.readStream.format("rate").option("rowsPerSecond", args.rate).load()
    work = args.work
    if args.shape == "pipeline":
        q = pipeline.start_training_stream(
            pipeline.curate_dedup_stages(_derive_docs(src, args.keys), "text"),
            os.path.join(work, "out"), processing_time="5 seconds",
        )
    else:
        if args.shape == "sessions":
            frame = _sessionize(_derive_cols(src, args.rate, args.keys),
                                args.gap_seconds, args.watermark_seconds)
        else:
            frame = pipeline.curate_dedup_stages(
                _wm_docs(src, args.rate, args.keys), "text", ts_col="ts",
                watermark=f"{args.watermark_seconds} seconds",
            )
        q = _start(
            frame.writeStream.outputMode("append").format("parquet")
            .option("path", os.path.join(work, "sink"))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(processingTime="5 seconds"),
            spark,
        )
    t0 = time.monotonic()
    deadline = t0 + args.run_seconds
    stop_file = os.path.join(work, "STOP")
    seen: set[int] = set()
    with open(os.path.join(work, "progress.jsonl"), "a") as log:
        while time.monotonic() < deadline and not os.path.exists(stop_file):
            time.sleep(2)
            for p in q.recentProgress:
                ops = p.get("stateOperators") or []
                # an operator entry can lack numRowsTotal; a None row would
                # break every verdict's max() after the full run time
                if p["batchId"] in seen or not ops or ops[0].get("numRowsTotal") is None:
                    continue
                seen.add(p["batchId"])
                row = json.dumps({
                    "batch": p["batchId"],  # first key: reverdict's regex
                    "state_rows": ops[0].get("numRowsTotal"),
                    "state_bytes": ops[0].get("memoryUsedBytes"),
                    "rows_removed": ops[0].get("numRowsRemoved"),
                    "input_rows": p.get("numInputRows"),
                    "watermark": (p.get("eventTime") or {}).get("watermark"),
                    "gate_in": _observed_rows(p, "tdp_ingest"),
                    "gate_out": _observed_rows(p, "tdp_gate"),
                    "phase": args.phase,
                    "wall_s": round(time.monotonic() - t0, 1),
                    "t": time.time(),
                })
                log.write(row + "\n")
                log.flush()
                print(row, flush=True)
    q.stop()
    q.awaitTermination()
    return 0


def _kill(proc) -> int:
    """SIGKILL the child's whole process group: driver AND JVM die, with
    whatever commit they were in the middle of."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass  # the child died on its own
    return proc.wait()


def _drive_phases(child_cmd: list[str], work: str, phases: list) -> list[dict]:
    """Run the child once per phase (label, seconds, ending, extra env),
    each from the same checkpoint under ``work`` (also the child's TMPDIR).
    Endings:
      "SIGKILL"  kill the process group after ``seconds``;
      "stop"     create ``work/STOP`` after ``seconds`` for a graceful
                 query.stop(); a child still running 180 s later (stuck
                 commit, hung JVM) is SIGKILLed and the phase says so, so
                 the assertion still runs over whatever WAS committed;
      callable   a hunt: poll ``ending(work)`` every 0.2 s and SIGKILL the
                 moment it returns a value, within ``seconds``. The record
                 holds that value as ``landed`` (None if the hunt never
                 lands) and whether ``ending(work)`` still returns it after
                 the kill as ``held_at_kill``.
    --run-seconds is padded +120 s so the child's own deadline never
    fires first. Returns one record per phase run, each also printed."""
    stop_file = os.path.join(work, "STOP")
    records = []
    for label, run_s, ending, env in phases:
        if os.path.exists(stop_file):
            os.unlink(stop_file)
        proc = subprocess.Popen(
            child_cmd + ["--run-seconds", str(int(run_s) + 120), "--phase", label],
            start_new_session=True,  # own process group: SIGKILL takes the JVM too
            env=dict(os.environ, TMPDIR=work, **env),
        )
        t0 = time.monotonic()
        rec: dict = {"phase": label}
        if callable(ending):
            landed = None
            while landed is None and time.monotonic() - t0 < run_s and proc.poll() is None:
                time.sleep(0.2)
                landed = ending(work)
            rec.update(ended_by="SIGKILL", rc=_kill(proc), landed=landed,
                       held_at_kill=landed is not None and ending(work) == landed)
        elif ending == "SIGKILL":
            time.sleep(run_s)
            rec.update(ended_by="SIGKILL", rc=_kill(proc))
        else:
            time.sleep(run_s)
            open(stop_file, "w").close()
            try:
                rec.update(ended_by="graceful stop-file", rc=proc.wait(timeout=180))
            except subprocess.TimeoutExpired:
                rec.update(ended_by="SIGKILL after stop-file timeout", rc=_kill(proc))
        rec["ran_s"] = round(time.monotonic() - t0, 1)
        print(json.dumps(rec), flush=True)
        records.append(rec)
    return records


def _kill_stop_stop(total: float) -> list:
    return [("pre-kill", total * 0.4, "SIGKILL", {}),
            ("post-kill", total * 0.3, "stop", {}),
            ("final", total * 0.3, "stop", {})]


def _child_cmd(args, work: str, shape: str) -> list[str]:
    return [
        sys.executable, os.path.abspath(__file__), "--mode", "child",
        "--shape", shape, "--work", work,
        "--rate", str(args.rate), "--keys", str(args.keys),
        "--gap-seconds", str(args.gap_seconds),
        "--watermark-seconds", str(args.watermark_seconds),
    ]


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


def _last_logged(work: str, key: str):
    """The last non-null ``key`` value among the children's rows."""
    last = None
    with open(os.path.join(work, "progress.jsonl")) as fh:
        for ln in fh:
            v = json.loads(ln).get(key)
            if v is not None:
                last = v
    return last


def _kill_restart(args, work: str) -> dict:
    from pyspark.sql import functions as F

    _drive_phases(_child_cmd(args, work, "sessions"), work,
                  _kill_stop_stop(args.minutes * 60))
    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")

    n_committed = _committed_value_count(os.path.join(work, "ckpt"), args.rate)
    # Spark read honors the file-sink commit log — orphaned post-SIGKILL
    # part files are invisible here (raw listing would double count)
    got = spark.read.parquet(os.path.join(work, "sink")).collect()
    n_sink = len(got)

    # batch twin over the exact committed value range — same derivation +
    # sessionization code path as the stream
    batch = _sessionize(
        _derive_cols(spark.range(n_committed).select(F.col("id").alias("value")),
                     args.rate, args.keys),
        args.gap_seconds, None,
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
    wm = _last_logged(work, "watermark")
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
    # EXACTLY_ONCE or VIOLATED.
    clean = dup_keys == 0 and phantom == 0 and n_sink > 0
    return {
        "verdict": ("EXACTLY_ONCE" if clean and missing == 0
                    else "INCONCLUSIVE_NO_WATERMARK" if clean and missing == -1
                    else "VIOLATED"),
        "committed_values": n_committed,
        "sink_sessions": n_sink,
        "duplicate_keys": dup_keys,
        "phantom_rows": phantom,
        "missing_closed_sessions": missing,
        "final_watermark": wm,
        "minutes": args.minutes,
    }


def _assert_pipeline_exactly_once(args, work: str) -> dict:
    """Machine-assert the composed pipeline's exactly-once contract after
    the kill/restart phases: the kept sink read THROUGH the checkpoint
    commit log must equal the batch twin (same stage function over
    spark.range(N), N = committed values) with zero duplicate / phantom /
    missing (source, fp) keys; the final CMS snapshot must equal the twin's
    cells EXACTLY and stay bounded at d*w; orphaned uncommitted versions on
    disk are telemetry, not data."""
    from pyspark.sql import functions as F

    from quatrain_mapreduce_spark.streaming.pipeline import (
        cms_cells_of, curate_dedup_stages, norm_tokens,
        read_training_stream_result,
    )

    spark = lint_session()
    spark.sparkContext.setLogLevel("ERROR")
    out_root = os.path.join(work, "out")
    n_committed = _committed_value_count(os.path.join(out_root, "ckpt"), args.rate)
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
    ok = (dup == 0 and phantom == 0 and missing == 0 and cells_equal
          and len(got_cells) <= 4096 and len(got) > 0)
    return {
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
        "final_dedup_state_rows": _last_logged(work, "state_rows"),
        "dedup_state_bound_keys": args.keys,
        "minutes": args.minutes,
    }


def _pipeline_kill_restart(args, work: str) -> dict:
    _drive_phases(_child_cmd(args, work, "pipeline"), work,
                  _kill_stop_stop(args.minutes * 60))
    return _assert_pipeline_exactly_once(args, work)


def _midfold_window(work: str):
    """The batch id >= 1 whose fold is mid-flight on disk — kept/b{id}
    complete (_SUCCESS), cells/v{id} absent, id not committed — or None.
    Batch 0 never counts: its fold has no predecessor to read, so a kill
    there would not exercise the cumulative path. Committed ids use the
    same max-of-retained rule as streaming/pipeline.committed_batch_ids."""
    out_root = os.path.join(work, "out")
    kept_root = os.path.join(out_root, "kept")
    if not os.path.isdir(kept_root):
        return None
    cdir = os.path.join(out_root, "ckpt", "commits")
    retained = [int(f) for f in os.listdir(cdir) if f.isdigit()] if os.path.isdir(cdir) else []
    committed_max = max(retained, default=-1)
    for n in os.listdir(kept_root):
        if not (n.startswith("b") and n[1:].isdigit()):
            continue
        bid = int(n[1:])
        if (bid > max(committed_max, 0)
                and os.path.exists(os.path.join(kept_root, n, "_SUCCESS"))
                and not os.path.isdir(os.path.join(out_root, "cells", f"v{bid}"))):
            return bid
    return None


def _pipeline_midfold_kill(args, work: str) -> dict:
    """The pipeline soak with its SIGKILL aimed inside the foreachBatch
    fold — after kept/b{id} finishes but before cells/v{id} starts — so the
    re-run-batch path's idempotent CMS recovery is shown by measurement.
    Phase 1 hunts with QMS_FOLD_PAUSE_S widening that window; phase 2
    restarts WITHOUT the pause for the rest of the time and ends gracefully."""
    total = args.minutes * 60
    cmd = _child_cmd(args, work, "pipeline")
    [hunt] = _drive_phases(cmd, work, [
        ("pre-midfold-kill", total * 0.5, _midfold_window, {"QMS_FOLD_PAUSE_S": "3.0"}),
    ])
    if hunt["landed"] is None:
        return {"verdict": "KILL_NOT_LANDED", "hunt_seconds": round(total * 0.5, 1)}
    _drive_phases(cmd, work, [("post-midfold", max(60.0, total - hunt["ran_s"]), "stop", {})])
    doc = _assert_pipeline_exactly_once(args, work)
    ok = doc["verdict"] == "EXACTLY_ONCE" and hunt["held_at_kill"]
    return {"midfold_verdict": "RECOVERED_EXACTLY_ONCE" if ok else "FAILED",
            "midfold_kill_batch": hunt["landed"],
            "window_held_at_kill": hunt["held_at_kill"],
            "hunt_s": hunt["ran_s"], **doc}


def _batch_rows(path: str) -> list[dict]:
    """Batch rows (first occurrence per batch id, in batch order) found in a
    log or a noisy stdout capture."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        text = fh.read()
    seen: dict[int, dict] = {}
    for m in re.finditer(r'\{"batch": \d+[^}]*\}', text):
        row = json.loads(m.group(0))
        seen.setdefault(row["batch"], row)
    return [seen[b] for b in sorted(seen)]


def _flat(args, work: str) -> dict:
    _drive_phases(_child_cmd(args, work, "sessions"), work,
                  [("flat", args.minutes * 60, "stop", {})])
    doc = flat_verdict(
        _batch_rows(os.path.join(work, "progress.jsonl")),
        gap_seconds=args.gap_seconds, watermark_seconds=args.watermark_seconds,
        tolerance=args.tolerance,
    )
    return {**doc, "minutes": args.minutes, "rate": args.rate, "keys": args.keys}


def _pipeline_flat(args, work: str) -> dict:
    _drive_phases(_child_cmd(args, work, "pipeline-wm"), work,
                  [("flat", args.minutes * 60, "stop", {})])
    doc = pipeline_flat_verdict(
        _batch_rows(os.path.join(work, "progress.jsonl")),
        keys=args.keys, rate=args.rate,
        watermark_seconds=args.watermark_seconds, tolerance=args.tolerance,
    )
    return {**doc, "minutes": args.minutes}


def flat_verdict(batches: list[dict], *, gap_seconds: int,
                 watermark_seconds: int, tolerance: float) -> dict:
    """FLAT/GROWING/TOO_SHORT verdict over sessions batch rows. Sessions
    only start closing after gap+watermark, so rows within 3x that horizon
    are warmup; past it, the late-half state rows must stay under
    ``tolerance`` x the post-warmup median, with watermark evictions seen."""
    horizon_s = 3 * (gap_seconds + watermark_seconds)
    post = [b for b in batches if b["wall_s"] > horizon_s]
    if len(post) < 6:
        return {"verdict": "TOO_SHORT", "batches": len(batches)}
    rows = [b["state_rows"] for b in post]
    med = sorted(rows)[len(rows) // 2]
    late = rows[len(rows) // 2:]
    worst_late = max(late)
    flat = worst_late <= tolerance * med
    removed_any = any((b["rows_removed"] or 0) > 0 for b in post)
    return {
        "verdict": "FLAT" if (flat and removed_any) else "GROWING",
        "post_warmup_batches": len(post),
        "median_state_rows": med,
        "worst_late_state_rows": worst_late,
        "late_over_median": round(worst_late / max(med, 1), 3),
        "watermark_evicts": removed_any,
    }


def pipeline_flat_verdict(batches: list[dict], *, keys: int, rate: int,
                          watermark_seconds: int, tolerance: float,
                          trigger_s: int = 5, rotation_s: int = 30) -> dict:
    """BOUNDED/GROWING verdict over pipeline-flat batch rows (each the
    JSONL dict the child logs). Pure so the live run and the offline
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
    doc = pipeline_flat_verdict(
        _batch_rows(args.log), keys=args.keys, rate=args.rate,
        watermark_seconds=args.watermark_seconds, tolerance=args.tolerance,
    )
    doc["source_log"] = args.log
    print(json.dumps(doc), flush=True)
    return 0 if doc["verdict"] == "BOUNDED" else 1


_MODES = {
    "flat": _flat,
    "kill-restart": _kill_restart,
    "pipeline": _pipeline_kill_restart,
    "pipeline-midfold": _pipeline_midfold_kill,
    "pipeline-flat": _pipeline_flat,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=[*_MODES, "child", "reverdict"], default="flat")
    ap.add_argument("--minutes", type=float, default=10.0)
    ap.add_argument("--rate", type=int, default=500, help="rows/sec")
    ap.add_argument("--keys", type=int, default=1000)
    ap.add_argument("--gap-seconds", type=int, default=10)
    ap.add_argument("--watermark-seconds", type=int, default=30)
    ap.add_argument("--tolerance", type=float, default=1.5,
                    help="flat mode: late-half state rows under tol x median")
    ap.add_argument("--log", help="reverdict: captured batch rows")
    # child-mode internals (set by the phase driver)
    ap.add_argument("--shape", choices=["sessions", "pipeline", "pipeline-wm"])
    ap.add_argument("--work")
    ap.add_argument("--run-seconds", type=float, default=0)
    ap.add_argument("--phase", default="")
    args = ap.parse_args()
    if args.mode == "child":
        return _run_child(args)
    if args.mode == "reverdict":
        return _reverdict(args)
    work = tempfile.mkdtemp(prefix=f"qms_soak_{args.mode}_")
    doc = _MODES[args.mode](args, work)
    verdict = doc.get("midfold_verdict", doc["verdict"])
    if verdict in _FAULTS:
        doc["workdir"] = work  # the evidence stays
    else:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(doc), flush=True)
    return 0 if verdict in _PASSED else 2 if verdict == "INCONCLUSIVE_NO_WATERMARK" else 1


if __name__ == "__main__":
    raise SystemExit(main())
