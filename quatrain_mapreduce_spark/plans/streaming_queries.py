"""HOP streaming-layer workloads (SURVEY.md §2.8) as checkable queries.

Batch/stream parity is the whole design: the same window() transformations
run over the events table as a batch DataFrame (oracle-checkable) and as a
replayed file stream (``stream_tumbling_count`` runs a real Structured
Streaming query with availableNow and returns the file-sink-drained result).
Window starts are emitted as epoch seconds (BIGINT) — engine-portable, no
timestamp formatting dependence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.operators.curation import (
    EMAIL_RE as _EMAIL_RE, GOPHER_PASS_SQL, PHONE_RE as _PHONE_RE,
    gopher_metrics_sql,
)
from quatrain_mapreduce_spark.plans.relational import ORDERS_CDC_SQL, orders_change_log
from quatrain_mapreduce_spark.registry import register
from quatrain_mapreduce_spark.staging import (
    scratch, single_file_slices, stage_doc_slices, stage_event_slices, staged,
)
from quatrain_mapreduce_spark.streaming.hop import (
    OnlineAggregator, _drain, add_counts, drain_to_parquet, fold_versions,
    read_events_stream, replay, sessionize, tumbling_window_agg,
)
from quatrain_mapreduce_spark.streaming.stateful import (
    moving_avg_batch, moving_avg_stream,
)


@register(
    "cq_tumbling_window",
    oracle="""
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start,
               event_type,
               CAST(count(*) AS BIGINT) AS cnt,
               round(sum(value), 2) AS sum_value,
               round(avg(value), 4) AS avg_value
        FROM events GROUP BY 1, 2
    """,
    doc="HOP continuous job: tumbling 5-min window per key "
        "(mapred.reduce.window — ReduceTask.java:565-629), batch form via "
        "window(); streaming form is the same expression (streaming/hop.py).",
    tags=("streaming", "window"),
)
def cq_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum("value"), 2).alias("sum_value"),
             F.round(F.avg("value"), 4).alias("avg_value"))
        .select(F.unix_timestamp(F.col("win.start")).alias("win_start"),
                "event_type", "cnt", "sum_value", "avg_value")
    )


@register(
    "cq_sliding_window",
    oracle="""
        SELECT CAST(ws AS BIGINT) AS win_start, event_type,
               CAST(count(*) AS BIGINT) AS cnt,
               round(sum(value), 2) AS sum_value
        FROM (SELECT unnest([floor(epoch(ts) / 300) * 300,
                             floor(epoch(ts) / 300) * 300 - 300]) AS ws,
                     event_type, value
              FROM events)
        GROUP BY 1, 2
    """,
    doc="CQ sliding aggregate (examples/CQ.java:365-398 hostAvg): 10-min "
        "window sliding by 5 — each event lands in two windows.",
    tags=("streaming", "window"),
)
def cq_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.unix_timestamp(F.col("win.start")).alias("win_start"),
                "event_type", "cnt", "sum_value")
    )


@register(
    "stream_tumbling_count",
    oracle="""
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS win_start,
               event_type, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    """,
    doc="Real Structured Streaming execution: events replayed as a file "
        "stream, tumbling 1-h count per key, drained with availableNow into a "
        "parquet sink — proves stream/batch parity on the same expression "
        "(the engine's HOP continuous-job equivalent, end to end).",
    tags=("streaming", "no-sql-plan"),
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir, max_files_per_trigger=1)
    agg = tumbling_window_agg(
        stream, "ts", ["event_type"], [F.count("*").alias("cnt")],
        window_duration="1 hour", watermark=None,
    )
    result = drain_to_parquet(agg, "qms_stream_tumbling", output_mode="complete")
    return result.select(
        F.unix_timestamp(F.col("win.start")).alias("win_start"), "event_type", "cnt"
    )


@register(
    "online_agg_events",
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY event_type
    """,
    doc="HOP online aggregation (mapred.snapshot.frequency — "
        "ReduceTask.java:631-669, EX/TopK.java:259-262): events replayed as "
        "a 4-file bounded stream through ONE stateful complete-mode query; "
        "the state store carries the aggregate across micro-batches "
        "(per-batch work O(batch+groups), the streaming analogue of HOP's "
        "reducer-held snapshot state) and every batch writes a "
        "snapshot-<progress> parquet. The returned (final) snapshot is "
        "exact — checked against the batch oracle; convergence (partial "
        "early snapshots, per-key monotone counts) asserted in "
        "tests/test_streaming.py.",
    tags=("streaming", "online-agg"),
)
def online_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = stage_event_slices(spark, sf_dir, 4)
    schema = spark.read.parquet(src).schema

    def agg_fn(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value")
        )

    total = spark.read.parquet(src).count()
    runner = OnlineAggregator(spark, src, schema, agg_fn, total_rows=total)
    return runner.run_incremental()


@register(
    "online_agg_topk",
    oracle="""
        SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id
        ORDER BY cnt DESC, user_id
        LIMIT 10
    """,
    doc="TopK with snapshots (EX/TopK.java:259-262 — the reference's "
        "snapshot acceptance workload): every micro-batch emits the "
        "top-k-so-far as a snapshot file from stateful incremental counts "
        "(complete mode allows the post-agg sort+limit); the final "
        "snapshot equals the exact batch top-k (same oracle as topk_users).",
    tags=("streaming", "online-agg", "example"),
)
def online_agg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = stage_event_slices(spark, sf_dir, 4)
    schema = spark.read.parquet(src).schema

    def agg_fn(df: DataFrame) -> DataFrame:
        counts = df.groupBy("user_id").agg(F.count("*").alias("cnt"))
        return counts.orderBy(F.desc("cnt"), F.asc("user_id")).limit(10)

    total = spark.read.parquet(src).count()
    runner = OnlineAggregator(spark, src, schema, agg_fn, total_rows=total)
    return runner.run_incremental()


_MOVING_AVG_ORACLE = """
    SELECT user_id, event_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                 4) AS avg_last_k
    FROM events
"""


@register(
    "cq_moving_avg",
    oracle=_MOVING_AVG_ORACLE,
    doc="CQ count-based reducer state, batch form (EX/CQ.java:365-398 keeps "
        "a per-host reading list and averages the last readings each firing): "
        "moving average over the last 5 readings per user in arrival "
        "(event_id) order — window ROWS BETWEEN 4 PRECEDING AND CURRENT ROW.",
    tags=("streaming", "window", "stateful"),
)
def cq_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return moving_avg_batch(ev, "user_id", "event_id", "value", k=5)


@register(
    "cq_moving_avg_stream",
    oracle=_MOVING_AVG_ORACLE,
    doc="The same last-5-readings moving average as a REAL arbitrary-stateful "
        "streaming query (applyInPandasWithState): per-key bounded buffer in "
        "the state store, carried across micro-batches (events replayed as 3 "
        "ordered file slices). Count-based windows are inexpressible with "
        "window()/session_window() — this is the applyInPandasWithState "
        "escape hatch the reference's CQ reducer state maps to, and it is "
        "held to the same SQL oracle as the batch twin.",
    tags=("streaming", "stateful", "no-sql-plan"),
)
def cq_moving_avg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mtime-ordered slices: deterministic arrival order for the oracle
    src = stage_event_slices(
        spark, sf_dir, 3, columns=["event_id", "user_id", "value"], ordered_mtime=True
    )
    ma = moving_avg_stream(replay(spark, src), "user_id", "event_id", "value", k=5)
    return drain_to_parquet(ma, "qms_moving_avg", output_mode="append")


@register(
    "stream_dedup",
    oracle="""
        SELECT source,
               CAST(count(DISTINCT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS BIGINT) AS uniq_docs
        FROM documents GROUP BY source
    """,
    doc="Streaming incremental dedup — the ingestion-time form of "
        "exact_dedup a continuously-fed training corpus needs: documents "
        "replayed as a 4-file stream, content fingerprint computed per "
        "micro-batch, dropDuplicates carries the seen-fingerprint set in "
        "the state store ACROSS batches (a duplicate arriving in batch 3 of "
        "a doc from batch 1 is dropped), drained availableNow. Dedup key is "
        "(source, fp) so the kept set is arrival-order-independent and "
        "oracle-checkable. On an unbounded production stream, swap in "
        "dropDuplicatesWithinWatermark to bound state by event-time.",
    tags=("streaming", "dedup", "no-sql-plan"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.dedup import normalized_text

    stream = (
        replay(spark, stage_doc_slices(spark, sf_dir))
        .select("source", F.md5(normalized_text("text")).alias("fp"))
        .dropDuplicates(["source", "fp"])
    )
    # append mode: dropDuplicates emits each first-seen row exactly once
    kept = drain_to_parquet(stream, "qms_stream_dedup", output_mode="append")
    return kept.groupBy("source").agg(F.count("*").alias("uniq_docs"))


@register(
    "stream_stream_join",
    oracle="""
        SELECT c.user_id AS user_id, c.event_id AS click_id,
               p.event_id AS purchase_id,
               round(epoch(p.ts) - epoch(c.ts), 3) AS secs_between
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 5 MINUTE
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
    doc="Stream-stream inner join — a documented SUPERSET (the reference's "
        "CQ layer has no streaming join; its joins are batch-only): clicks "
        "and purchases replayed as two file streams, joined per user within "
        "a 5-minute event-time interval. INNER join without watermark keeps "
        "full join state, so the bounded-replay result is arrival-order-"
        "independent and equals the batch join (the oracle). An unbounded "
        "production deployment adds withWatermark on both sides + the time "
        "bound to evict state — same query shape.",
    tags=("streaming", "join", "superset", "no-sql-plan"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = stage_event_slices(spark, sf_dir, 4)

    def read(kind: str, alias: str) -> DataFrame:
        return (
            replay(spark, src, max_files_per_trigger=2)
            .where(F.col("event_type") == kind)
            .select(
                F.col("user_id").alias(f"{alias}_user"),
                F.col("event_id").alias(f"{alias}_id"),
                F.col("ts").alias(f"{alias}_ts"),
            )
        )

    clicks, purchases = read("click", "c"), read("purchase", "p")
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 5 minutes")),
    )
    return drain_to_parquet(joined, "qms_ss_join", output_mode="append").select(
        F.col("c_user").alias("user_id"),
        F.col("c_id").alias("click_id"),
        F.col("p_id").alias("purchase_id"),
        F.round((F.unix_micros("p_ts") - F.unix_micros("c_ts")) / F.lit(1000000.0), 3)
        .alias("secs_between"),
    )


# DuckDB gap sessionization of events (30-min gap) for the session
# oracles: the CTEs ``o`` (per event, a new-session flag) and ``s``
# (user_id, ep, session_id), composed as ``WITH {SESSIONS_SQL} ...``.
SESSIONS_SQL = """o AS (
            SELECT user_id, ts, epoch_us(ts) AS ep,
                   -- STRICT > gap: session_window merges an exact-gap event
                   -- (test_sessionize_exact_gap_boundary)
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
            SELECT user_id, ep,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS session_id
            FROM o
        )"""


@register(
    "sessionize_events",
    oracle=f"""
        WITH {SESSIONS_SQL}
        -- CAST: DuckDB windowed sum() yields HUGEINT -> pandas float64;
        -- Spark emits BIGINT. Without the cast the driver's value-hash sees
        -- 3.0 vs 3 and flags a mismatch on identical answers.
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               min(ep) AS session_start_us,
               max(ep) - min(ep) AS session_dur_us
        FROM s GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (30-min gap): lag → boundary flag → "
        "running-sum session ids, one shuffle on user. The modern shape of "
        "HOP's ad-hoc reducer state (EX/CQ.java:365-398); the streaming twin "
        "is session_window (hop.sessionize_stream, tests/test_streaming.py).",
    tags=("streaming", "window", "session"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", gap_minutes=30)


@register(
    "stream_late_data",
    oracle="""
        WITH e AS (
            SELECT event_id, epoch_us(ts) AS us, value FROM events
        ), m AS (
            SELECT max(us) FILTER (WHERE event_id % 2 = 0) AS maxe FROM e
        ), kept AS (
            -- evens (slice 0) + odds within 6h of the even max (slice 1);
            -- older odds (slice 2) arrive after their windows were evicted
            -- and are dropped by the watermark
            SELECT us, value FROM e, m
            WHERE event_id % 2 = 0 OR us >= m.maxe - 21600000000
        ), fin AS (
            SELECT max(us) - 1800000000 AS cut FROM kept
        ), w AS (
            SELECT CAST(floor(us / 600000000) * 600000000 AS BIGINT) AS win_start_us,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            FROM kept GROUP BY 1
        )
        SELECT w.* FROM w, fin WHERE w.win_start_us + 600000000 <= fin.cut
    """,
    doc="Append-mode watermark semantics end to end: events replayed as "
        "three engineered slices (staging.stage_late_slices) so the third "
        "slice's rows arrive AFTER their tumbling windows were finalized — "
        "the state store genuinely drops them "
        "(numRowsDroppedByWatermark > 0, asserted in pytest), closed "
        "windows are emitted exactly once with the pre-late counts, and "
        "open tail windows are withheld. The whole run — drop set, "
        "emitted-window set, per-window counts — is a pure function of the "
        "data, checked against the SQL oracle. At scale this is the "
        "bounded-state guarantee: watermark delay caps state size "
        "regardless of how disordered the input is.",
    tags=("streaming", "watermark", "no-sql-plan"),
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.catalog import normalize_event_ts
    from quatrain_mapreduce_spark.staging import stage_late_slices

    stream = normalize_event_ts(replay(spark, stage_late_slices(spark, sf_dir)))
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
        )
    )
    return drain_to_parquet(agg, "qms_late", output_mode="append").select(
        F.unix_micros("w.start").alias("win_start_us"), "n_events", "cents"
    )


@register(
    "stream_sessionize",
    oracle=f"""
        WITH {SESSIONS_SQL}
        SELECT user_id, min(ep) AS session_start_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, session_id
    """,
    doc="Native stateful sessionization END TO END: events replayed as a "
        "real file stream, session_window(ts, 30 min) carries open sessions "
        "in the state store across micro-batches, 10-min watermark bounds "
        "state, drained availableNow. Held to the SAME SQL oracle as the "
        "batch lag/cumsum form (sessionize_events) — gap-window semantics "
        "must agree exactly between the state-store implementation and the "
        "window-function implementation (verified: 9549/9549 sessions "
        "identical at sf0.01). The replay arrives in event-time order, so "
        "every session closes before termination and append mode emits the "
        "complete set.",
    tags=("streaming", "stateful", "session", "no-sql-plan"),
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.streaming.hop import sessionize_stream

    stream = read_events_stream(spark, sf_dir)
    agg = sessionize_stream(
        stream.withWatermark("ts", "10 minutes"), "user_id", "ts", gap_minutes=30
    )
    result = drain_to_parquet(agg, "qms_stream_sess", output_mode="complete")
    return result.select(
        "user_id",
        F.unix_micros(F.col("sw.start")).alias("session_start_us"),
        "n_events",
    )


@register(
    "stream_jdbc_serving",
    oracle="""
        SELECT event_type AS url, CAST(count(*) AS BIGINT) AS pageview,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1
    """,
    doc="DBCountPageView streamed (EX/DBCountPageView.java:72 + "
        "mapred/lib/db/DBOutputFormat) — the serving-layer pattern a "
        "continuous pipeline actually deploys: events replayed as a 4-file "
        "stream, complete-mode aggregate carried in the state store, and "
        "every micro-batch's FULL snapshot overwritten into an embedded "
        "Derby table via foreachBatch + JDBC. Idempotent overwrite makes "
        "batch retries exactly-once without a commit log on the database "
        "side (per-batch work O(groups) — the RDBMS holds the aggregate "
        "snapshot, never the stream). The final JDBC read-back equals the "
        "pure-relational oracle — same gate as the batch "
        "dbcount_jdbc_roundtrip, now through the streaming path.",
    tags=("streaming", "jdbc", "no-sql-plan"),
)
def stream_jdbc_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.sources.readers import embedded_derby, read_jdbc
    from quatrain_mapreduce_spark.staging import stage_dir

    stream = replay(spark, stage_event_slices(spark, sf_dir, 4))
    agg = stream.groupBy(F.col("event_type").alias("url")).agg(
        F.count("*").alias("pageview"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    url, driver = embedded_derby(spark, stage_dir(sf_dir, "derbystream"))

    def write_snapshot(batch_df: DataFrame, _batch_id: int) -> None:
        (batch_df.write.mode("overwrite").format("jdbc")
         .option("url", url).option("dbtable", "stream_counts")
         .option("driver", driver).save())

    _drain(agg.writeStream.foreachBatch(write_snapshot).outputMode("complete"), agg)
    return read_jdbc(spark, url, "stream_counts", driver=driver)


@register(
    "stream_curation",
    oracle="""
        WITH inj AS (
            SELECT doc_id, source,
                   text || CASE WHEN doc_id % 7 = 0
                                THEN ' contact bob@example.com now'
                                WHEN doc_id % 11 = 0
                                THEN ' call 555-123-4567 today'
                                ELSE '' END AS text2
            FROM documents
        ), t AS (
            SELECT doc_id, source, text2,
                   list_filter(string_split(text2, ' '), x -> x <> '') AS toks
            FROM inj
        ), m AS (
            SELECT doc_id, source, text2, {gopher}
            FROM t
        )
        SELECT doc_id, source,
               CAST(len(regexp_extract_all(text2, '{email}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(text2, '{phone}')) AS INTEGER) AS n_phones,
               md5(regexp_replace(regexp_replace(text2, '{email}', '<EMAIL>', 'g'),
                                  '{phone}', '<PHONE>', 'g')) AS fp
        FROM m
        WHERE {gopher_pass}
    """.format(email=_EMAIL_RE, phone=_PHONE_RE,
               gopher=gopher_metrics_sql("toks"), gopher_pass=GOPHER_PASS_SQL),
    doc="Streaming ingestion-time curation: documents replayed as a 4-file "
        "stream; each micro-batch runs the STATELESS curation chain — "
        "synthetic-PII injection, Gopher quality gate, PII scrub — and "
        "appends kept rows to a file sink (no state store: pure map work, "
        "so the stream plan is the batch plan per batch). Held to the "
        "same batch SQL oracle as gopher_rules+pii_scrub composed, with "
        "the md5 of the SCRUBBED text value-checked per kept doc.",
    tags=("streaming", "curation", "no-sql-plan"),
)
def stream_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import gopher_rules, scrub_pii

    injected = (
        replay(spark, stage_doc_slices(spark, sf_dir))
        .withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 7 == 0, " contact bob@example.com now")
                 .when(F.col("doc_id") % 11 == 0, " call 555-123-4567 today")
                 .otherwise(""),
            ),
        )
    )
    kept = gopher_rules(injected, "text").where("passes = 1")
    scrubbed = scrub_pii(kept, "text").select(
        "doc_id", "source", "n_emails", "n_phones",
        F.md5("scrubbed").alias("fp"),
    )
    return drain_to_parquet(scrubbed, "qms_stream_curation", output_mode="append")


@register(
    "stream_cdc_apply",
    oracle=ORDERS_CDC_SQL,
    doc="Streaming CDC materialization — the continuous form of "
        "cdc_apply_orders: the same I/U/D change log replayed as a "
        "4-file stream in sequence order (mtime-ordered, "
        "maxFilesPerTrigger=1), foreachBatch-merged into a versioned "
        "parquet target (each micro-batch compacts prev-snapshot UNION "
        "batch via the same partial-agg max_by; tombstones RETAINED in "
        "the target so a late lower-seq image can never resurrect a "
        "deleted key, filtered only at read). Final snapshot is held to "
        "the SAME batch oracle — streaming replay == batch compaction. "
        "Per-batch work is snapshot + delta, never the full log; the "
        "versioned-dir write is the poor-man's ACID commit a lakehouse "
        "table format provides natively.",
    tags=("streaming", "cdc", "merge", "no-sql-plan"),
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stage_log(d: str) -> None:
        slices = orders_change_log(load_table(spark, sf_dir, "orders"))
        single_file_slices(d, [(f"seq{i}.parquet", sl) for i, sl in enumerate(slices)])

    def compact(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        log = batch if prev is None else prev.unionByName(batch)
        return (
            log.groupBy("o_orderkey")
            .agg(
                F.max("seq").alias("seq"),
                F.max_by(
                    F.struct("op", "o_custkey", "price", "status"),
                    F.col("seq"),
                ).alias("_w"),
            )
            .select(
                "o_orderkey", "seq",
                F.col("_w.op").alias("op"),
                F.col("_w.o_custkey").alias("o_custkey"),
                F.col("_w.price").alias("price"),
                F.col("_w.status").alias("status"),
            )
        )

    log_d = staged(sf_dir, "cdclog", stage_log)
    snap = fold_versions(spark, sf_dir, log_d, "cdctarget", compact)
    return snap.where(F.col("op") != "D").select(
        "o_orderkey", "o_custkey", "price", "status",
        F.col("seq").cast("int").alias("last_seq"),
    )


@register(
    "sessionize_incremental",
    oracle=f"""
        WITH {SESSIONS_SQL}
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(count(*) AS BIGINT) AS n_events,
               min(ep) AS session_start_us,
               max(ep) - min(ep) AS session_dur_us
        FROM s GROUP BY user_id, session_id
    """,
    doc="Incremental sessionization against a stored session table — the "
        "continuous-corpus contract (dedup_incremental_lsh's shape) "
        "applied to sessions: a staged 'nightly' session table (events "
        "before day 27) is updated with the new-day increment by "
        "recomputing ONLY users present in the increment (an increment "
        "event can extend a session or open one; a LATE/out-of-order "
        "increment can even BRIDGE two stored sessions into one — "
        "re-sessionizing affected users' history handles all three, "
        "where an append-merge would corrupt the bridge case: pinned by "
        "test_incremental_sessionize_handles_bridging_late_event) "
        "and anti-join-carrying "
        "everyone else forward untouched. Per-user session ids are "
        "independent across users, so merged output == the full "
        "recompute, which is exactly what the oracle computes. "
        "Per-increment work ∝ affected users' history (at 100 TB the "
        "user-bucketed session store makes both the semi and anti side "
        "key-pruned scans), never the corpus.",
    tags=("streaming", "session", "incremental"),
)
def sessionize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.streaming.hop import sessionize

    cutoff_us = 19750 * 86_400_000_000  # day 27 of the 30-day range
    ev = load_table(spark, sf_dir, "events")

    stored = spark.read.parquet(staged(sf_dir, "sess27", lambda d: sessionize(
        ev.where(F.unix_micros("ts") < cutoff_us), "user_id", "ts",
        gap_minutes=30,
    ).write.parquet(d)))

    inc_users = (
        ev.where(F.unix_micros("ts") >= cutoff_us)
        .select("user_id").distinct()
    )
    # no broadcast hints: an increment's user set is increment-sized,
    # not bounded — a day of users at corpus scale overruns a forced
    # broadcast build. AQE converts both joins at runtime when small.
    updated = sessionize(
        ev.join(inc_users, "user_id", "left_semi"),
        "user_id", "ts", gap_minutes=30,
    )
    untouched = stored.join(inc_users, "user_id", "left_anti")
    return untouched.unionByName(updated)


from quatrain_mapreduce_spark.plans.data_pipeline import (  # noqa: E402
    TOKEN_DRIFT_ORACLE as _TOKEN_DRIFT_ORACLE,
)


@register(
    "stream_drift_monitor",
    oracle=_TOKEN_DRIFT_ORACLE,  # the batch twin's oracle VERBATIM
    doc="Continuous distribution-drift monitoring — token_drift_kl run as "
        "a STREAM: documents replayed as a 4-file source; each micro-batch "
        "computes its own (token, slice) unigram counts and foreachBatch-"
        "merges them into a versioned running-counts table by ADDITION "
        "(counts are the monitor's mergeable state — the same algebraic-"
        "partial property the rollup tier rides; per-batch work is "
        "batch + state, never the replayed history). The final report "
        "runs the SAME drift stage as the batch query over the "
        "accumulated counts and is held to the SAME oracle — streaming "
        "accumulation == batch computation, the stream_cdc_apply "
        "acceptance pattern. At 100 TB the counts table is vocab-sized "
        "and the monitor alerts per batch from its running state.",
    tags=("streaming", "drift", "monitoring", "no-sql-plan"),
)
def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.plans.data_pipeline import (
        drift_report_from_counts, token_slice_counts,
    )
    counts = fold_versions(
        spark, sf_dir, stage_doc_slices(spark, sf_dir), "driftcounts",
        add_counts(token_slice_counts, ("token",), ("cnt_a", "cnt_b")),
    )
    return drift_report_from_counts(counts)



from quatrain_mapreduce_spark.plans.analytics_queries import (  # noqa: E402
    AUC_ORACLE as _AUC_ORACLE,
)


@register(
    "stream_auc_monitor",
    oracle=_AUC_ORACLE,  # the batch twin's oracle VERBATIM
    doc="Continuous model-quality monitoring — auc_mann_whitney run as a "
        "STREAM: events replayed as a 4-file source; each micro-batch "
        "computes its own per-score conditional counts and foreachBatch-"
        "merges them into a versioned running-counts table by ADDITION "
        "(the Mann-Whitney partial state is per-value counts — exactly "
        "mergeable, the stream_drift_monitor/rollup algebra; per-batch "
        "work is batch + score-cardinality state, never the replayed "
        "history). The final report runs the SAME rank-sum finish stage "
        "as the batch query over the accumulated counts and is held to "
        "the SAME oracle — streaming accumulation == batch computation. "
        "At 100 TB the counts table is score-cardinality-sized and the "
        "monitor can emit AUC per batch from running state — the "
        "always-on classifier health check a curation pipeline runs "
        "beside its drift monitors.",
    tags=("streaming", "ml", "monitoring", "no-sql-plan"),
)
def stream_auc_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.plans.analytics_queries import (
        auc_from_counts, auc_value_counts,
    )
    # additive counts: the sums do not depend on how the events are sliced
    counts = fold_versions(
        spark, sf_dir, stage_event_slices(spark, sf_dir, 4), "auccounts",
        add_counts(auc_value_counts, ("cents",), ("p_here", "n_here")),
    )
    return auc_from_counts(counts)


from quatrain_mapreduce_spark.operators.curation import (  # noqa: E402
    portable_h16_sql as _p16,
)

_EH = _p16("event_id")


@register(
    "online_agg_ci",
    oracle=f"""
        WITH c AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   {_EH} % 4 AS slice
            FROM events
        ), s AS (
            SELECT event_type, slice,
                   CAST(count(*) AS BIGINT) AS n_s,
                   CAST(sum(cents) AS BIGINT) AS sum_s,
                   CAST(sum(cents * cents) AS BIGINT) AS sumsq_s
            FROM c GROUP BY event_type, slice
        ), p AS (
            SELECT event_type,
                   CAST(slice + 1 AS INTEGER) AS k,
                   CAST(sum(n_s) OVER w AS BIGINT) AS n,
                   CAST(sum(sum_s) OVER w AS BIGINT) AS sm,
                   CAST(sum(sumsq_s) OVER w AS BIGINT) AS sq,
                   CAST(sum(n_s) OVER (PARTITION BY event_type) AS BIGINT)
                     AS n_total
            FROM s
            WINDOW w AS (PARTITION BY event_type ORDER BY slice
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, k, n,
               CAST((CAST(sm AS HUGEINT) * n_total) // n AS BIGINT)
                 AS est_sum_cents,
               floor(1.96 * n_total
                     * sqrt(CAST(CAST(n AS HUGEINT) * sq
                                 - CAST(sm AS HUGEINT) * sm AS DOUBLE)
                            / (n * (n - 1.0)))
                     / sqrt(CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000
                 AS ci_halfwidth_cents
        FROM p
    """,
    doc="Online aggregation WITH running confidence intervals — the "
        "estimator half of the reference's hallmark (HOP online "
        "aggregation surfaces running estimates; Hellerstein/Haas/Wang "
        "SIGMOD'97 defines the CLT interval around them). Arrival order "
        "is the deterministic portable-hash order (h16(event_id) % 4 "
        "slices — random-order arrival is online agg's correctness "
        "precondition, and the hash IS the engine's deterministic "
        "shuffle), so every prefix k=1..4 is reproducible: the running "
        "total estimate is the EXACT integer ratio sum*N div n, and the "
        "1.96-sigma halfwidth is one identical float expression over "
        "exact integer moments (n, sum, sumsq — the correlation_matrix "
        "discipline), 4dp. Convergence is visible in the output: est "
        "approaches the k=4 truth as n grows and the halfwidth shrinks "
        "~1/sqrt(n). Plan: one scan -> per-(type, slice) moment agg "
        "(map-combinable) -> window over the 4-row-per-type slice table.",
    tags=("streaming", "online-agg", "statistics"),
)
def online_agg_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
         .alias("cents"),
        (F.expr(_EH) % 4).alias("slice"),
    )
    s = c.groupBy("event_type", "slice").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("cents").cast("bigint").alias("sum_s"),
        F.sum(F.col("cents") * F.col("cents")).cast("bigint").alias("sumsq_s"),
    )
    w = W.partitionBy("event_type").orderBy("slice") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy("event_type")
    p = s.select(
        "event_type",
        (F.col("slice") + 1).cast("int").alias("k"),
        F.sum("n_s").over(w).cast("bigint").alias("n"),
        F.sum("sum_s").over(w).cast("bigint").alias("sm"),
        F.sum("sumsq_s").over(w).cast("bigint").alias("sq"),
        F.sum("n_s").over(wt).cast("bigint").alias("n_total"),
    )
    # moment cross-products (n*sq, sm*sm, sm*n_total) ride as decimal(38)
    # — int64 wraps one decade above bench scale (n*sq ~ 2e18 at sf1; the
    # correlation_matrix discipline, review finding); the oracle widens to
    # HUGEINT the same way, and `div` on decimals stays an exact integral
    # quotient (no decimal-scale rounding before the floor)
    var_num = F.expr(
        "CAST(CAST(n AS DECIMAL(38,0)) * sq"
        " - CAST(sm AS DECIMAL(38,0)) * sm AS DOUBLE)"
    )
    return p.select(
        "event_type", "k", "n",
        F.expr(
            "(CAST(sm AS DECIMAL(38,0)) * n_total) div CAST(n AS DECIMAL(38,0))"
        ).cast("bigint").alias("est_sum_cents"),
        (F.floor(
            F.lit(1.96) * F.col("n_total")
            * F.sqrt(var_num / (F.col("n") * (F.col("n") - F.lit(1.0))))
            / F.sqrt(F.col("n").cast("double")) * 10000 + F.lit(0.5)
        ) / 10000).alias("ci_halfwidth_cents"),
    )


from quatrain_mapreduce_spark.plans.analytics_queries import (  # noqa: E402
    CMS_ORACLE, cms_serve_top20,
)


@register(
    "stream_heavy_hitters",
    oracle=CMS_ORACLE,  # shared with the batch twin — see doc
    doc="Streaming count-min sketch — the CMS cells maintained as a "
        "COMPLETE-mode streaming aggregation over the document stream "
        "(one staged file per micro-batch), then the top-20 served by "
        "probing the drained cell snapshot with the shared "
        "cms_serve_top20. The reason complete mode is safe here is the "
        "whole point of the sketch: streaming state is bounded at "
        "d*w<=4096 rows NO MATTER how much data flows through, unlike a "
        "per-token streaming count whose state grows with the vocabulary. "
        "Cells accumulated across micro-batches equal the batch cells by "
        "CMS mergeability (micro-batch = corpus shard — the property "
        "test_cms_cells_merge_by_addition_across_corpus_shards pins), so "
        "the oracle is the IDENTICAL batch SQL as heavy_hitters_cms. "
        "Supersedes the reference's continuous-query aggregates "
        "(MR/ReduceTask.java:631-669 snapshot path) with bounded-state "
        "frequency summaries.",
    tags=("streaming", "sketch", "approx", "llm-pipeline"),
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import cms_cells_of

    tok_expr = F.explode(
        F.expr("filter(split(lower(text), ' '), x -> x <> '')")
    ).alias("tok")
    cells_stream = cms_cells_of(replay(spark, stage_doc_slices(spark, sf_dir)).select(tok_expr))
    cells = drain_to_parquet(cells_stream, "qms_stream_cms", output_mode="complete")
    toks = load_table(spark, sf_dir, "documents").select(tok_expr)
    return cms_serve_top20(toks, cells)


_STREAM_TDP_ORACLE = """
        WITH t AS (
            SELECT source, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks,
                   lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
            FROM documents
        ), m AS (
            SELECT source, norm, {gopher}
            FROM t
        ), kept AS (
            SELECT DISTINCT source, norm FROM m
            WHERE {gopher_pass}
        ), ktoks AS (
            SELECT unnest(list_filter(string_split(norm, ' '), x -> x <> '')) AS tok
            FROM kept
        ), probes AS (
            SELECT tok, i, ({h16_tok}) % 1024 AS b
            FROM ktoks, (SELECT unnest(['1','2','3','4']) AS i) r
        ), cells AS (
            SELECT i, b, CAST(count(*) AS BIGINT) AS c
            FROM probes GROUP BY i, b
        ), exact AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
            FROM ktoks GROUP BY tok
        ), top AS (
            SELECT tok, n_exact FROM exact
            ORDER BY n_exact DESC, tok LIMIT 20
        ), topprobes AS (
            SELECT tp.tok, tp.n_exact, i, ({h16_top}) % 1024 AS b
            FROM top tp, (SELECT unnest(['1','2','3','4']) AS i) r
        )
        SELECT p.tok AS token, p.n_exact,
               CAST(min(c.c) AS BIGINT) AS cms_est,
               CAST(min(c.c) >= p.n_exact AS INT) AS one_sided_ok
        FROM topprobes p JOIN cells c ON c.i = p.i AND c.b = p.b
        GROUP BY p.tok, p.n_exact
"""


def _stream_tdp_oracle() -> str:
    from quatrain_mapreduce_spark.operators.curation import portable_h16_sql

    return _STREAM_TDP_ORACLE.format(
        gopher=gopher_metrics_sql("toks"), gopher_pass=GOPHER_PASS_SQL,
        h16_tok=portable_h16_sql("concat(tok,'|',i)"),
        h16_top=portable_h16_sql("concat(tp.tok,'|',i)"),
    )


@register(
    "stream_training_pipeline",
    oracle=_stream_tdp_oracle(),
    doc="Composed streaming training-data pipeline — ONE multi-stage "
        "Structured Streaming query: file-stream ingest -> Gopher "
        "ingestion gate (stateless) -> streaming exact dedup "
        "(dropDuplicates state carried across micro-batches) -> "
        "foreachBatch fold appending the kept corpus to a batch-id-"
        "versioned sink AND merging the count-min monitor cells by "
        "addition (streaming/pipeline.py). Readers honor the checkpoint "
        "commit log, so the fold is exactly-once under mid-batch JVM "
        "death (tools/soak_stream.py --mode pipeline SIGKILLs and "
        "machine-asserts it). Result: the exact top-20 tokens of the "
        "curated deduped corpus probed against the drained CMS snapshot "
        "— n_exact pins the gate+dedup composition, cms_est pins the "
        "per-batch merge algebra, and the whole thing is one DuckDB "
        "oracle. The reference's only composition form is separate "
        "chained continuous jobs (MR/PipelineMapTask.java:52 -> "
        "MR/ReduceTask.java:565-629); this is that chain as one plan "
        "with one checkpoint lineage.",
    tags=("streaming", "curation", "dedup", "sketch", "llm-pipeline",
          "no-sql-plan"),
)
def stream_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.streaming.pipeline import (
        norm_tokens, read_training_stream_result, run_training_stream,
    )

    d = stage_doc_slices(spark, sf_dir)
    out_root = scratch("qms_stream_tdp_")
    run_training_stream(spark, d, out_root)
    kept, cells, _ = read_training_stream_result(spark, out_root)
    return cms_serve_top20(norm_tokens(kept), cells)


_WM_DEDUP_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, source, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), m AS (
        SELECT doc_id, source, text, {gopher_metrics_sql('toks')}
        FROM t
    ), gated AS (
        SELECT doc_id, source, text FROM m
        WHERE {GOPHER_PASS_SQL}
    ), keyed AS (
        SELECT doc_id, source,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM gated
    ), reps AS (
        SELECT source, fp, min(doc_id) AS doc_id
        FROM keyed GROUP BY source, fp
    )
    SELECT doc_id, source, fp, CAST(doc_id % 4 AS INT) AS slice FROM reps
    UNION ALL
    SELECT doc_id, source, fp, CAST(doc_id % 4 + 4 AS INT) AS slice FROM reps
    WHERE (doc_id // 4) % 2 = 1
"""


@register(
    "stream_dedup_watermarked",
    oracle=_WM_DEDUP_ORACLE,
    doc="The PRODUCTION form of the streaming pipeline's dedup stage, "
        "driver-visible end to end: curate_dedup_stages(ts_col, watermark) "
        "-> dropDuplicatesWithinWatermark over a REAL file stream, one "
        "micro-batch per hour-stamped slice. The fixture (staging."
        "stage_watermark_dedup_slices) re-plays every gate-passing distinct "
        "(source, fp) document twice — once at hour doc_id%4, and again "
        "either one slice later with an event time 20 min past the first "
        "sighting (inside the 30-min threshold: the drop is the documented "
        "dropDuplicatesWithinWatermark guarantee, not eviction timing — "
        "ADVICE r12) or 4 hours later — so the watermark exercises the "
        "full state lifecycle: within-threshold duplicates are DROPPED "
        "(state alive), 4-hour re-arrivals are KEPT AGAIN (state evicted "
        "when the watermark passed), making the kept set a pure function "
        "of the table that one DuckDB oracle checks. This is the bounded-state "
        "trade an always-on 100 TB ingest makes versus dropDuplicates, "
        "whose state grows with the corpus forever; the state envelope of "
        "this exact form is soak-proven BOUNDED (tools/soak_stream.py "
        "--mode pipeline-flat, sawtooth <= 2 key blocks). Replaces the "
        "reference's restart-a-batch-job dedup (HOP continuous jobs have "
        "no cross-batch dedup state at all).",
    tags=("streaming", "dedup", "llm-pipeline", "no-sql-plan"),
)
def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.staging import (
        WM_DEDUP_EPOCH, stage_watermark_dedup_slices,
    )
    from quatrain_mapreduce_spark.streaming.pipeline import curate_dedup_stages

    src = stage_watermark_dedup_slices(spark, sf_dir)
    deduped = curate_dedup_stages(replay(spark, src), "text", ts_col="ts",
                                  watermark="30 minutes")
    kept = drain_to_parquet(deduped, "wm_dedup", output_mode="append")
    return kept.select(
        "doc_id", "source", "fp",
        ((F.unix_timestamp("ts") - WM_DEDUP_EPOCH) / 3600)
        .cast("int").alias("slice"),
    )
