"""Build-once /tmp staging for derivative fixtures and indexes.

Several queries exercise round trips (write a derivative of a testdata table,
read it back) or search staged indexes. Every such artifact lives in ONE
md5-keyed temp directory per (sf_dir, tag), built on first use and reused
after — this module is the single copy of that pattern.

``staged(sf_dir, tag, build)`` is the one reuse decision. Its key
(``stage_key``, which names the ``stage_dir``) covers everything that fixes the artifact: the data dir's
realpath and content fingerprint, the tag, and an md5 of the engine's own
source (``_code_fingerprint``), so regenerated data or any change to the
engine gets a fresh directory instead of an artifact an older build left
behind. ``build`` writes into a fresh sibling path, which is published by
one ``os.rename`` onto the final path, atomic within the temp dir. A staged
directory therefore exists only when it is complete: a crashed or failed
build leaves nothing at the final path, and no marker file is needed. When
two builders race, the first rename wins and the loser's copy is deleted.

Per-call outputs that a returned DataFrame reads lazily (stream drains,
snapshots) are not reusable and cannot be deleted when the call returns;
``scratch`` makes them under the temp dir and deletes them when the process
exits; ``warehouse`` is the one such dir each process's sessions use as
their warehouse.
"""

from __future__ import annotations

import atexit
import functools
import glob
import hashlib
import os
import shutil
import tempfile
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _source_fingerprint(sf_dir: str) -> str:
    """Cheap content-version stamp of a testdata dir: (name, size, mtime) of
    every parquet file. Staged artifacts derive from these tables, so keying
    on the fingerprint auto-invalidates every staged dir when the source data
    is regenerated — a path-only key would silently reuse artifacts built
    from the previous data generation."""
    parts = []
    try:
        for name in sorted(os.listdir(sf_dir)):
            if name.endswith(".parquet"):
                st = os.stat(os.path.join(sf_dir, name))
                parts.append(f"{name}:{st.st_size}:{int(st.st_mtime)}")
    except OSError:
        pass
    return ";".join(parts)


@functools.cache
def _code_fingerprint() -> str:
    """md5 over the package's ``*.py`` sources, computed once per process:
    the code half of the staging key."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.md5()
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def stage_key(sf_dir: str | None, tag: str) -> str:
    """The reuse key of (sf_dir, tag): data dir realpath and fingerprint,
    tag and engine code. ``sf_dir=None`` keys an artifact that derives
    from no data dir on the tag and the code alone."""
    data = "" if sf_dir is None else f"{os.path.realpath(sf_dir)}:{_source_fingerprint(sf_dir)}"
    raw = f"{data}:{tag}:{_code_fingerprint()}"
    return hashlib.md5(raw.encode()).hexdigest()[:12]


def stage_dir(sf_dir: str | None, tag: str) -> str:
    """The canonical staging path for (sf_dir, tag) under the current temp
    dir — not created."""
    return os.path.join(tempfile.gettempdir(), f"qms_{tag}_{stage_key(sf_dir, tag)}")


def staged(sf_dir: str | None, tag: str, build: Callable[[str], object]) -> str:
    """``stage_dir(sf_dir, tag)``, built on first use: ``build(tmp)`` writes
    the artifact at ``tmp``, a fresh path beside the final one, and one
    rename publishes it. If ``build`` raises, ``tmp`` is deleted and the
    error propagates; if another builder published first, its copy is
    returned and this one is deleted."""
    final = stage_dir(sf_dir, tag)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        build(tmp)
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


_SCRATCH: list[str] = []


@atexit.register
def _remove_scratch() -> None:
    for d in _SCRATCH:
        shutil.rmtree(d, ignore_errors=True)


def scratch(prefix: str) -> str:
    """A fresh directory under the current temp dir for one call's output,
    deleted when the process exits (a returned DataFrame may still read it
    until then)."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH.append(d)
    return d


@functools.cache
def warehouse() -> str:
    """This process's ``spark.sql.warehouse.dir``: a scratch dir, so the
    default database's directory and any managed table stay out of the
    cwd."""
    return scratch("qms_warehouse_")


def single_file_slices(d: str, slices: list[tuple[str, DataFrame]]) -> None:
    """Write each ``(name, frame)`` as ONE parquet file ``d/name``, with
    strictly increasing mtimes in list order: a maxFilesPerTrigger=1 file
    stream replays them oldest-first, one slice per micro-batch."""
    os.makedirs(d)
    base = time.time() - 3600
    for i, (name, df) in enumerate(slices):
        tmp = os.path.join(d, f"_tmp{i}")
        df.coalesce(1).write.parquet(tmp)
        dst = os.path.join(d, name)
        os.replace(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
        shutil.rmtree(tmp)
        os.utime(dst, (base + i * 10, base + i * 10))


# Fixed event-time origin for the watermarked-dedup fixture (2026-01-01
# 00:00:00 UTC); every KEPT row carries ts = EPOCH + k*3600 exactly, so the
# slice index is recoverable from unix_timestamp(ts) with no timezone
# dependence.
WM_DEDUP_EPOCH = 1_767_225_600
# Event-time offset of the gap-1 duplicate past its first sighting: 20 min,
# strictly inside the 30-min delay threshold, so the drop is the DOCUMENTED
# dropDuplicatesWithinWatermark guarantee ("duplicates within the delay
# threshold of each other are deduplicated"), not a bet on eviction timing
# (ADVICE r12: a 60-min-later event time sat in Spark's "may or may not be
# deduplicated" zone and relied on watermark lag + batch-end eviction).
WM_DEDUP_DUP_OFFSET = 1200


def stage_watermark_dedup_slices(spark: SparkSession, sf_dir: str) -> str:
    """Stage the watermarked-dedup acceptance fixture: up to 8 mtime-ordered
    single-file parquet slices (one micro-batch each under
    maxFilesPerTrigger=1), slice k carrying event time EPOCH + k hours.

    Rows: ONE representative document per (source, fp) among Gopher-gate
    passers (the min-doc_id row and its text), occurring TWICE:

    - first at slice ``s = doc_id % 4`` with ts = EPOCH + s hours exactly,
    - again 1 slice later (``(doc_id div 4) % 2 == 0``) carrying event time
      first_ts + WM_DEDUP_DUP_OFFSET (20 min), or 4 slices later carrying
      ts = EPOCH + (s+4) hours exactly.

    Both legs sit on DOCUMENTED guarantees with a 30-minute watermark
    delay (ADVICE r12 — the previous gap-1 leg gave the duplicate a 60-min-
    later event time, past the threshold, where Spark only promises "may or
    may not be deduplicated" and the drop rested on watermark lag plus
    batch-end eviction):

    - the gap-1 duplicate's EVENT TIME is 20 min past the first sighting —
      inside the 30-min threshold, where dropDuplicatesWithinWatermark
      guarantees the drop outright (state provably alive: batch s+1 runs
      with watermark maxTs(slice s) - 30min = first_ts - 30min, far below
      the first_ts + 30min expiry). It still ARRIVES one micro-batch later,
      so the cross-batch state lookup is exercised for real.
    - the gap-4 re-arrival lands past eviction: expiry is
      first_ts + 30min, and batch s+3's watermark (maxTs(slice s+2) -
      30min = first_ts + 1.5h) passes it with a full batch to spare — the
      key's state is gone before slice s+4 processes under either
      evict-at-batch-start or evict-at-batch-end semantics (kept-row event
      times stay on the exact hour grid: gap-1 duplicates never appear in
      output, so slice recovery from unix_timestamp(ts) is unaffected).

    The kept set is therefore a pure function of the documents table
    (SQL-expressible for the DuckDB oracle) while the stream exercises the
    REAL dropDuplicatesWithinWatermark state lifecycle end to end: create,
    within-horizon drop, watermark eviction, post-eviction re-admit.

    The margin argument needs slice s+3 non-empty for every gap-4 key and
    slices 0..3 non-empty for watermark progression, so staging asserts all
    8 slices are populated (holds for any corpus with a few hundred
    gate-passing docs; a corpus too small to fill them must fail loudly
    rather than stage a fixture whose oracle is silently wrong).
    """
    from quatrain_mapreduce_spark.catalog import load_table
    from quatrain_mapreduce_spark.operators.curation import gopher_rules
    from quatrain_mapreduce_spark.operators.dedup import normalized_text

    def build(d: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
        gated = gopher_rules(docs, "text").where("passes = 1")
        reps = (
            gated.withColumn("fp", F.md5(normalized_text("text")))
            .groupBy("source", "fp")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.min_by("text", "doc_id").alias("text"))
        )
        base_slice = (F.col("doc_id") % 4).cast("int")
        is_gap1 = F.expr("(doc_id div 4) % 2 = 0")
        first = reps.select(
            "doc_id", "source", "text",
            base_slice.alias("slice"),
            (base_slice.cast("bigint") * 3600).alias("off"),
        )
        # gap-1 duplicates ARRIVE one slice later but carry an event time
        # only WM_DEDUP_DUP_OFFSET past the first sighting — inside the
        # 30-min delay threshold, so the drop is the documented guarantee
        # (docstring)
        again = reps.select(
            "doc_id", "source", "text",
            (base_slice + F.when(is_gap1, 1).otherwise(4)).cast("int")
            .alias("slice"),
            F.when(is_gap1,
                   base_slice.cast("bigint") * 3600 + WM_DEDUP_DUP_OFFSET)
            .otherwise((base_slice.cast("bigint") + 4) * 3600).alias("off"),
        )
        rows = first.unionByName(again).withColumn(
            "ts", F.timestamp_seconds(F.lit(WM_DEDUP_EPOCH) + F.col("off"))
        ).select("doc_id", "source", "ts", "text", "slice").persist()
        try:
            present = {r["slice"] for r in rows.select("slice").distinct().collect()}
            missing = sorted(set(range(8)) - present)
            if missing:
                raise ValueError(
                    f"watermarked-dedup fixture needs all 8 slices populated; "
                    f"{sf_dir} leaves slices {missing} empty — corpus too small "
                    "for the eviction-margin argument (see docstring)"
                )
            single_file_slices(d, [
                (f"slice{k}.parquet", rows.where(F.col("slice") == k).drop("slice"))
                for k in sorted(present)
            ])
        finally:
            rows.unpersist()

    return staged(sf_dir, "wmdedup2", build)


def stage_event_slices(
    spark: SparkSession,
    sf_dir: str,
    n_files: int,
    columns: list[str] | None = None,
    ordered_mtime: bool = False,
) -> str:
    """Stage the events table as ``n_files`` event_id-range parquet slices.

    ``ordered_mtime`` additionally sets strictly increasing mtimes on the
    slice files so a maxFilesPerTrigger=1 file stream replays them in
    event_id order (FileStreamSource processes oldest-first; lexicographic
    part names agree with the ranges as a tie-break) — the deterministic
    arrival order stateful streaming oracles need. Idempotent per
    (sf_dir, n_files, columns, ordered_mtime).
    """
    from quatrain_mapreduce_spark.catalog import load_table

    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        if columns:
            ev = ev.select(*columns)
        ev.repartitionByRange(n_files, "event_id").write.parquet(d)
        if ordered_mtime:
            base = time.time() - 3600
            for i, f in enumerate(sorted(glob.glob(os.path.join(d, "part-*.parquet")))):
                os.utime(f, (base + i * 10, base + i * 10))

    tag = f"eventslices{n_files}{'o' if ordered_mtime else ''}{'-'.join(columns or [])}"
    return staged(sf_dir, tag, build)


def stage_doc_slices(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as 4 parquet slices for file streams (one
    micro-batch per slice via maxFilesPerTrigger=1). The single copy of the
    pattern shared by stream_dedup / stream_curation /
    stream_heavy_hitters; idempotent per (sf_dir, data fingerprint)."""
    from quatrain_mapreduce_spark.catalog import load_table

    return staged(sf_dir, "docslices4", lambda d: load_table(
        spark, sf_dir, "documents").repartition(4).write.parquet(d))


def stage_late_slices(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as THREE mtime-ordered slices engineering real late-data
    drops under an append-mode watermark (delay D, D << 6 hours):

    - slice 0: even event_ids (spans the whole range — processing it
      advances the watermark to maxE - D, maxE = max even event time);
    - slice 1: odd ids within 6 hours of maxE (its batch END is
      where windows <= maxE - D get evicted+emitted; these rows merge into
      still-open windows first);
    - slice 2: the remaining old odd ids — they arrive AFTER their windows
      were evicted, so the stateful operator genuinely DROPS them
      (numRowsDroppedByWatermark > 0).

    Empirically pinned semantics (Spark 4.1): a batch merges its input
    before evicting with its own watermark, so drops only happen for
    windows evicted in a PRIOR batch — hence three slices, not two. Every
    rule (slice membership, drop set, final emitted-window set) is a pure
    function of the data, so the whole run is SQL-oracle-checkable.
    """
    from quatrain_mapreduce_spark.catalog import load_table

    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        even = F.col("event_id") % 2 == 0
        max_even_us = ev.where(even).agg(F.max(F.unix_micros("ts"))).first()[0]
        recent_cut = max_even_us - 6 * 3_600_000_000
        ep = F.unix_micros("ts")
        single_file_slices(d, [
            ("slice-000.parquet", ev.where(even)),
            ("slice-001.parquet", ev.where((~even) & (ep >= F.lit(recent_cut)))),
            ("slice-002.parquet", ev.where((~even) & (ep < F.lit(recent_cut)))),
        ])

    return staged(sf_dir, "lateslices6", build)
