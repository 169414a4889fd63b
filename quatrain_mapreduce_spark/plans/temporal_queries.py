"""Temporal join acceptance queries — as-of join and binned range join
(operators/temporal.py).

Engine extension tier: the reference's closest surface is HOP's
continuous-query time handling (EX/CQ.java:365-398), which can only window —
it cannot align two event streams on "latest earlier row" or "point in
interval". Both queries work in exact integer event time (epoch micros:
Spark ``unix_micros`` / DuckDB ``epoch_us``) so the oracle compare has no
float time arithmetic anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.operators.temporal import asof_join, range_join_binned
from quatrain_mapreduce_spark.registry import register

_WINDOW_US = 300_000_000  # 5 minutes in micros


@register(
    "asof_join_events",
    oracle="""
        WITH l AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us
            FROM events WHERE event_type = 'click'
        ), r0 AS (
            SELECT user_id, epoch_us(ts) AS rts, event_id, value,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'error'
        ), r AS (SELECT * FROM r0 WHERE rn = 1)
        SELECT l.event_id, l.user_id, l.ts_us,
               r.event_id AS err_event_id,
               r.value AS err_value,
               r.rts AS err_ts_us
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts_us >= r.rts
    """,
    doc="Backward as-of join: each click gets the user's most recent "
        "error at-or-before it. Union-tag + ordered window + "
        "last(ignorenulls) — ONE shuffle on user_id, no inequality join "
        "(which Spark would plan as a broadcast-nested-loop). Equal "
        "timestamps resolve right-row-visible, max event_id wins — the "
        "same semantics as DuckDB ASOF JOIN over the deduped right side.",
    tags=("temporal", "join"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    out = asof_join(
        clicks,
        errors,
        key="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        payload_cols=["event_id", "value", "ts_us"],
        right_tie="event_id",
        prefix="err_",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("err_event_id"),
        F.col("err_value"),
        F.col("err_ts_us"),
    )


@register(
    "range_join_incidents",
    oracle=f"""
        WITH e AS (
            SELECT event_id, epoch_us(ts) AS ts_us, value FROM events
        ), r AS (
            SELECT event_id AS err_id, epoch_us(ts) AS s,
                   epoch_us(ts) + {_WINDOW_US} AS e
            FROM events WHERE event_type = 'error'
        )
        SELECT r.err_id,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(e.value), 2) AS sum_value
        FROM r JOIN e ON e.ts_us >= r.s AND e.ts_us < r.e
        GROUP BY r.err_id
    """,
    doc="Point-in-interval range join with NO equi-key (every error opens "
        "a global 5-min incident window; count/sum all traffic inside it). "
        "Binned to 5-min buckets so the theta-join becomes a hash join on "
        "the bin id — without binning Spark plans this as a "
        "broadcast-nested-loop, O(points x intervals). Bin width == window "
        "length, so each interval covers at most 2 bins.",
    tags=("temporal", "join", "range"),
)
def range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    points = ev.select("event_id", F.unix_micros("ts").alias("ts_us"), "value")
    intervals = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_WINDOW_US)).alias("e"),
    )
    joined = range_join_binned(
        points, intervals, point_col="ts_us", start_col="s", end_col="e",
        bin_width=_WINDOW_US,
    )
    return joined.groupBy("err_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# DuckDB SCD-2 build over events for the SCD-2 oracles: the CTEs ``o``
# (lag of the state), ``c`` (change rows) and ``dim`` (user_id, state,
# valid_from_us, valid_to_us), composed as ``WITH {SCD2_DIM_SQL}, ...``.
SCD2_DIM_SQL = """o AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
        ), c AS (
            SELECT user_id, event_type AS state, ts_us, event_id
            FROM o WHERE prev IS NULL OR prev <> event_type
        ), dim AS (
            SELECT user_id, state,
                   ts_us AS valid_from_us,
                   lead(ts_us) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS valid_to_us
            FROM c
        )"""


@register(
    "scd2_user_state",
    oracle=f"""
        WITH {SCD2_DIM_SQL}
        SELECT user_id, state, valid_from_us, valid_to_us FROM dim
    """,
    doc="SCD-2 dimension build from an event stream: collapse per-user "
        "event_type runs into validity intervals (valid_to NULL = current). "
        "lag -> change-filter -> lead over one (user, ts) partitioning: a "
        "single exchange, sorts once, filter shrinks rows between the two "
        "window passes. Consumers: asof_join / range_join_binned.",
    tags=("temporal", "scd2", "window"),
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.temporal import scd2_from_events

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    out = scd2_from_events(
        ev, key="user_id", ts_col="ts_us", attr_col="event_type",
        tie_col="event_id",
    )
    return out.select(
        "user_id", "state",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
    )


@register(
    "user_similarity_knn",
    oracle="""
        WITH prof AS (
            SELECT user_id AS u,
                   (epoch_us(ts) % 86400000000 + 86400000000)
                     % 86400000000 // 3600000000 AS hb,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ), nrm AS (
            SELECT u, sqrt(CAST(sum(c * c) AS DOUBLE)) AS nrm
            FROM prof GROUP BY 1
        ), dot AS (
            SELECT a.u AS id_a, b.u AS id_b,
                   CAST(sum(a.c * b.c) AS BIGINT) AS dot_ab
            FROM prof a JOIN prof b ON a.hb = b.hb AND a.u <> b.u
            GROUP BY 1, 2
        ), cos AS (
            SELECT id_a, id_b, dot_ab, dot_ab / (na.nrm * nb.nrm) AS c
            FROM dot JOIN nrm na ON id_a = na.u JOIN nrm nb ON id_b = nb.u
        )
        SELECT id_a, id_b, dot_ab, round(c, 4) AS cos_r,
               CAST(row_number() OVER (PARTITION BY id_a
                                       ORDER BY c DESC, id_b) AS INTEGER) AS rk
        FROM cos
        QUALIFY rk <= 3
    """,
    doc="Time-series similarity search (the REPOSE/streaming-similarity "
        "literature's batch core): per-user 24-bin hour-of-day activity "
        "histograms from epoch-microsecond integer arithmetic (never "
        "calendar hour() — timezone-proof), then k=3 nearest users by "
        "cosine via the inverted-index join. Integer dot/norm sums make "
        "cosines bit-identical across engines, so the per-user top-k "
        "ordering (unrounded cos desc, id asc) is deterministic. Profile "
        "agg is the corpus-linear term; the pairwise stage is ground "
        "truth — the ANN family over the same vectors is the scale path.",
    tags=("temporal", "similarity"),
)
def user_similarity_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.similarity import activity_profile_knn

    ev = load_table(spark, sf_dir, "events")
    return activity_profile_knn(ev, "user_id", "ts", k=3)


@register(
    "funnel_analysis",
    oracle="""
        WITH s0 AS (
            SELECT user_id AS u, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1
        ), s1 AS (
            SELECT e.user_id AS u, min(e.ts) AS t
            FROM events e JOIN s0 ON e.user_id = s0.u
            WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1
        ), s2 AS (
            SELECT e.user_id AS u, min(e.ts) AS t
            FROM events e JOIN s1 ON e.user_id = s1.u
            WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1
        )
        SELECT 0 AS stage_idx, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s0
        UNION ALL
        SELECT 1, 'click', CAST(count(*) AS BIGINT) FROM s1
        UNION ALL
        SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2
    """,
    doc="Ordered funnel (view → click → purchase), strict min-chain "
        "semantics: each stage's event must follow the user's earliest "
        "completion of the previous stage. One type-pruned filtered "
        "min-agg + user-keyed hash join per stage; per-user state is one "
        "timestamp per stage — never a collected event history. Counts "
        "union into a single plan.",
    tags=("temporal", "analytics"),
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.temporal import funnel_counts

    ev = load_table(spark, sf_dir, "events")
    return funnel_counts(ev, "user_id", "ts", "event_type",
                         ["view", "click", "purchase"])


@register(
    "cohort_retention",
    oracle="""
        WITH anchor AS (
            SELECT user_id AS u,
                   min(epoch_us(ts) // 604800000000) AS cw
            FROM events WHERE event_type = 'signup' GROUP BY 1
        ), active AS (
            SELECT DISTINCT user_id AS u,
                   epoch_us(ts) // 604800000000 AS w
            FROM events
        ), ret AS (
            SELECT anchor.cw, active.w - anchor.cw AS off,
                   count(*) AS n_active
            FROM active JOIN anchor ON active.u = anchor.u
            WHERE active.w >= anchor.cw
            GROUP BY 1, 2
        ), size AS (
            SELECT cw, count(*) AS cohort_size FROM anchor GROUP BY 1
        )
        SELECT ret.cw AS cohort_week, ret.off AS week_offset,
               CAST(ret.n_active AS BIGINT) AS n_active,
               CAST(size.cohort_size AS BIGINT) AS cohort_size,
               round(CAST(ret.n_active AS DOUBLE) / size.cohort_size, 4) AS ret_r
        FROM ret JOIN size ON ret.cw = size.cw
    """,
    doc="Weekly cohort retention triangle: cohort = epoch-week of first "
        "signup (integer epoch arithmetic, never weekofyear() — timezone/"
        "locale-proof), retained = any activity in a later week. One "
        "filtered min-agg, one DISTINCT, one user-keyed join; ratios are "
        "exact integer divisions.",
    tags=("temporal", "analytics"),
)
def cohort_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.temporal import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", "event_type", "signup")


@register(
    "resample_ffill",
    oracle="""
        WITH obs AS (
            SELECT user_id, epoch_us(ts) // 3600000000 AS hb,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   row_number() OVER (PARTITION BY user_id,
                                      epoch_us(ts) // 3600000000
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE event_type = 'click'
        ), hourly AS (
            SELECT user_id, hb, cents FROM obs WHERE rn = 1
        ), bounds AS (
            SELECT user_id, min(hb) AS lo,
                   least(max(hb), min(hb) + 167) AS hi
            FROM hourly GROUP BY user_id
        ), grid AS (
            SELECT user_id, unnest(generate_series(lo, hi)) AS hb
            FROM bounds
        )
        SELECT g.user_id, g.hb,
               last_value(h.cents IGNORE NULLS)
                 OVER (PARTITION BY g.user_id ORDER BY g.hb
                       ROWS UNBOUNDED PRECEDING) AS filled_cents,
               CAST(h.cents IS NOT NULL AS INT) AS is_observed
        FROM grid g LEFT JOIN hourly h
          ON g.user_id = h.user_id AND g.hb = h.hb
    """,
    doc="Time-series resampling with forward fill: per user, the click "
        "value series regularized onto an hourly grid over the user's "
        "first observed week, gaps carrying the last observation forward "
        "(last_value IGNORE NULLS over one user-keyed window). The grid "
        "is generated DISTRIBUTED — sequence+explode of each user's "
        "1-row bounds aggregate, never a driver loop — and every grid "
        "starts at an observed hour so the fill is total. Values ride "
        "as exact integer cents; the per-hour representative is the "
        "deterministic last event by (ts, event_id). One exchange on "
        "user_id serves the dedup window, the grid join and the fill "
        "window. The resample-then-fill idiom every downstream "
        "fixed-frequency model (and gap-tolerant dashboard) needs.",
    tags=("temporal", "timeseries", "resample"),
)
def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "click"
    )
    hb = F.expr("unix_micros(ts) div 3600000000")
    w_dedup = Window.partitionBy("user_id", "hb").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    hourly = (
        ev.select(
            "user_id", hb.alias("hb"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
            "ts", "event_id",
        )
        .withColumn("rn", F.row_number().over(w_dedup))
        .where(F.col("rn") == 1)
        .select("user_id", "hb", "cents")
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hb").alias("lo"),
        F.least(F.max("hb"), F.min("hb") + 167).alias("hi"),
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("hb")
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hb"], "left")
        .select(
            "user_id", "hb",
            F.last("cents", ignorenulls=True).over(w_fill)
              .alias("filled_cents"),
            F.col("cents").isNotNull().cast("int").alias("is_observed"),
        )
    )


@register(
    "scd2_pit_join",
    oracle=f"""
        WITH {SCD2_DIM_SQL}, facts AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us
            FROM events WHERE event_type = 'purchase'
        )
        SELECT f.event_id, f.user_id, f.ts_us, d.state
        FROM facts f JOIN dim d
          ON f.user_id = d.user_id
         AND f.ts_us >= d.valid_from_us
         AND (d.valid_to_us IS NULL OR f.ts_us < d.valid_to_us)
    """,
    doc="Point-in-time join — the CONSUMER half of the SCD-2 loop "
        "(scd2_user_state builds the dimension; this joins facts against "
        "it): each purchase picks up the user's state valid AT that "
        "moment. Implemented as asof_join on the dimension's change "
        "POINTS (state at t = last change at-or-before t, since validity "
        "intervals partition time per user) — ONE user-keyed shuffle, no "
        "inequality join anywhere in the Spark plan. The oracle is the "
        "independent interval-containment formulation "
        "(from <= t < to) over the full SCD-2 build, so the "
        "change-point equivalence itself is what gets checked.",
    tags=("temporal", "scd2", "join"),
)
def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.temporal import scd2_from_events

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    dim = scd2_from_events(
        base, key="user_id", ts_col="ts_us", attr_col="event_type",
        tie_col="event_id", keep_tie=True,
    ).select(
        "user_id", F.col("valid_from").alias("ts_us"), "state", "change_tie"
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    # Tie-break same-microsecond change points by EVENT ORDER (change_tie =
    # the change row's event_id), matching the oracle's zero-length-interval
    # exclusion; tie-breaking on the state string would be data-dependently
    # wrong (ADVICE r6).
    joined = asof_join(
        facts,
        dim,
        key="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        payload_cols=["state"],
        right_tie="change_tie",
        prefix="",
    )
    return joined.select("event_id", "user_id", "ts_us", "state")


@register(
    "seasonal_decompose",
    oracle="""
        WITH c AS (
            SELECT event_type, event_id,
                   CAST((epoch_us(ts) // 3600000000) % 24 AS INTEGER)
                     AS hod,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ), seas AS (
            SELECT event_type, hod,
                   CAST(sum(cents) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n
            FROM c GROUP BY event_type, hod
        ), tot AS (
            SELECT event_type,
                   CAST(sum(cents) AS BIGINT) AS gs,
                   CAST(count(*) AS BIGINT) AS gn
            FROM c GROUP BY event_type
        ), resid AS (
            SELECT c.event_type, c.hod,
                   CAST(sum(abs(c.cents * seas.n - seas.s)) AS BIGINT)
                     AS resid_checksum
            FROM c JOIN seas USING (event_type, hod)
            GROUP BY c.event_type, c.hod
        )
        SELECT seas.event_type, seas.hod, seas.n,
               floor((seas.s / CAST(seas.n AS DOUBLE)
                      - tot.gs / CAST(tot.gn AS DOUBLE)) * 100 + 0.5) / 100
                 AS seasonal_cents,
               resid.resid_checksum
        FROM seas
        JOIN tot USING (event_type)
        JOIN resid USING (event_type, hod)
    """,
    doc="Hour-of-day seasonal decomposition: per (event_type, hour) the "
        "seasonal component = hourly mean minus the type's global mean "
        "(the additive-decomposition building block behind every "
        "time-series anomaly monitor; trend_slope is the trend half, "
        "anomaly_mad the residual half). Hour-of-day comes from INTEGER "
        "epoch arithmetic, never hour(ts) — which is session-timezone-"
        "dependent on a vanilla session (the r5 lesson). Means derive from "
        "EXACT integer sums (one division each, portable 2dp rounding); "
        "the residual checksum sum(|cents*n - s|) is a PURE-INTEGER pin "
        "of the per-cell deviations (= n * sum|x - mean|), so residual "
        "structure hash-checks with zero float accumulation. Three "
        "map-combinable aggs over one scan, 120-row output.",
    tags=("temporal", "seasonality", "analytics"),
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        ((F.unix_micros("ts") / 3_600_000_000).cast("bigint") % 24)
         .cast("int").alias("hod"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    seas = c.groupBy("event_type", "hod").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count("*").alias("n"),
    )
    tot = c.groupBy("event_type").agg(
        F.sum("cents").cast("bigint").alias("gs"),
        F.count("*").alias("gn"),
    )
    resid = (
        c.join(F.broadcast(seas), ["event_type", "hod"])
        .groupBy("event_type", "hod")
        .agg(
            F.sum(F.abs(F.col("cents") * F.col("n") - F.col("s")))
            .cast("bigint").alias("resid_checksum")
        )
    )
    return (
        seas.join(F.broadcast(tot), "event_type")
        .join(resid, ["event_type", "hod"])
        .select(
            "event_type", "hod", "n",
            (F.floor(
                (F.col("s") / F.col("n").cast("double")
                 - F.col("gs") / F.col("gn").cast("double")) * 100 + F.lit(0.5)
            ) / 100).alias("seasonal_cents"),
            "resid_checksum",
        )
    )


_HOUR_US = 3600 * 1_000_000


@register(
    "interval_overlap_join",
    oracle=f"""
        WITH spans AS (
            SELECT user_id,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                   CAST(min(epoch_us(ts)) AS BIGINT) AS a_s,
                   CAST(max(epoch_us(ts)) + 1 AS BIGINT) AS a_e
            FROM events GROUP BY user_id, day
        ), hourly AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // {_HOUR_US} AS BIGINT) AS h,
                   count(*) AS c
            FROM events GROUP BY event_type, h
        ), busy AS (
            SELECT event_type, h FROM hourly WHERE c >= 5
        ), isl AS (
            SELECT event_type, h,
                   h - row_number() OVER (
                       PARTITION BY event_type ORDER BY h) AS grp
            FROM busy
        ), windows AS (
            SELECT event_type,
                   CAST(min(h) * {_HOUR_US} AS BIGINT) AS b_s,
                   CAST((max(h) + 1) * {_HOUR_US} AS BIGINT) AS b_e
            FROM isl GROUP BY event_type, grp
        )
        SELECT s.user_id, s.day, w.event_type,
               w.b_s AS window_start_us,
               CAST(least(s.a_e, w.b_e) - greatest(s.a_s, w.b_s) AS BIGINT)
                 AS overlap_us
        FROM spans s JOIN windows w
          ON s.a_s < w.b_e AND w.b_s < s.a_e
    """,
    doc="Interval-interval overlap join with NO equi key — per-(user, day) "
        "activity spans x per-type merged busy windows (hours with >= 5 "
        "events, coalesced into maximal runs via the gaps-and-islands "
        "row_number trick). The scale problem range_join_incidents solved "
        "for point-in-interval, solved for interval-interval: each side "
        "explodes into the HOUR bins it covers (sequence -> explode, "
        "scan-local, bounded by interval length), the join runs as a hash "
        "join on the bin id, and a distinct pass collapses the multi-bin "
        "duplicates before the overlap predicate re-verifies exactly — "
        "O(n+m) binned work where the BNL theta join the oracle runs is "
        "O(n*m). Half-open [s, e) intervals in integer epoch-MICROS "
        "(timezone-proof, the r5 NTZ lesson); overlap_us is exact integer "
        "arithmetic. The busy-window side is a value-cardinality table "
        "(types x hours), never corpus-sized.",
    tags=("temporal", "join"),
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    spans = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            us.alias("ts_us"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.min("ts_us").cast("bigint").alias("a_s"),
            (F.max("ts_us") + 1).cast("bigint").alias("a_e"),
        )
    )
    hourly = (
        ev.select("event_type", F.expr(f"unix_micros(ts) div {_HOUR_US}").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 5)
    )
    from pyspark.sql import Window as W
    grp = (F.col("h") - F.row_number().over(
        W.partitionBy("event_type").orderBy("h"))).alias("grp")
    windows = (
        hourly.select("event_type", "h", grp)
        .groupBy("event_type", "grp")
        .agg(
            (F.min("h") * _HOUR_US).cast("bigint").alias("b_s"),
            ((F.max("h") + 1) * _HOUR_US).cast("bigint").alias("b_e"),
        )
        .drop("grp")
    )
    # bin both sides into covered hours; half-open ends use (e-1) div hour
    sb = spans.withColumn(
        "h", F.explode(F.sequence(
            F.expr(f"a_s div {_HOUR_US}"), F.expr(f"(a_e - 1) div {_HOUR_US}")))
    )
    wb = windows.withColumn(
        "h", F.explode(F.sequence(
            F.expr(f"b_s div {_HOUR_US}"), F.expr(f"(b_e - 1) div {_HOUR_US}")))
    )
    cand = (
        sb.join(wb, "h")
        .select("user_id", "day", "event_type", "a_s", "a_e", "b_s", "b_e")
        .distinct()
    )
    return cand.where(
        (F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e"))
    ).select(
        "user_id", "day", "event_type",
        F.col("b_s").alias("window_start_us"),
        (F.least("a_e", "b_e") - F.greatest("a_s", "b_s"))
        .cast("bigint").alias("overlap_us"),
    )


_LOOKBACK_US = 7 * 86400 * 1_000_000


@register(
    "attribution_multitouch",
    oracle=f"""
        WITH p AS (
            SELECT event_id AS purchase_id, user_id,
                   CAST(epoch_us(ts) AS BIGINT) AS pts
            FROM events WHERE event_type = 'purchase'
        ), c AS (
            SELECT event_id AS click_id, user_id,
                   CAST(epoch_us(ts) AS BIGINT) AS cts
            FROM events WHERE event_type = 'click'
        ), touch AS (
            SELECT p.purchase_id, p.user_id, c.click_id,
                   CAST(count(*) OVER w AS BIGINT) AS k,
                   CAST(row_number() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY c.cts DESC, c.click_id DESC) AS BIGINT)
                     AS rn_latest
            FROM p JOIN c
              ON p.user_id = c.user_id
             AND c.cts <= p.pts
             AND c.cts > p.pts - {_LOOKBACK_US}
            WINDOW w AS (PARTITION BY p.purchase_id)
        ), credit AS (
            SELECT user_id, click_id,
                   1000000 // k
                   + CASE WHEN rn_latest = 1
                          THEN 1000000 - (1000000 // k) * k
                          ELSE 0 END AS ppm
            FROM touch
        )
        SELECT user_id, click_id,
               CAST(sum(ppm) AS BIGINT) AS credit_ppm,
               CAST(count(*) AS BIGINT) AS n_purchases
        FROM credit GROUP BY user_id, click_id
    """,
    doc="Linear multi-touch attribution — every purchase splits exactly "
        "1,000,000 ppm of credit across the user's clicks in the "
        "preceding 7 days (inclusive of the purchase instant), remainder "
        "to the LATEST touch (event_id tie-break) so per-purchase credit "
        "sums to exactly 1e6 with zero float leakage. The many-to-many "
        "generalization of the as-of join (asof_join_events credits only "
        "the last touch): the time predicate rides on a USER-equi-keyed "
        "join — one shuffle pair, per-user work bounded by events/user, "
        "never a BNL theta join — then per-purchase k and latest-rank "
        "come from one purchase-keyed window. Conservation (sum of "
        "credit == 1e6 * attributed purchases) is pytest-pinned; the "
        "oracle hash-checks per-click integer credit.",
    tags=("temporal", "analytics"),
)
def attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.unix_micros("ts").cast("bigint").alias("pts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.unix_micros("ts").cast("bigint").alias("cts"),
    )
    touch = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") > F.col("pts") - _LOOKBACK_US),
    )
    wk = W.partitionBy("purchase_id")
    wr = W.partitionBy("purchase_id").orderBy(
        F.col("cts").desc(), F.col("click_id").desc())
    credit = touch.select(
        "user_id", "click_id",
        F.count("*").over(wk).cast("bigint").alias("k"),
        F.row_number().over(wr).cast("bigint").alias("rn_latest"),
    ).select(
        "user_id", "click_id",
        (F.expr("1000000 div k")
         + F.when(F.col("rn_latest") == 1,
                  1000000 - F.expr("1000000 div k") * F.col("k"))
          .otherwise(F.lit(0))).alias("ppm"),
    )
    return credit.groupBy("user_id", "click_id").agg(
        F.sum("ppm").cast("bigint").alias("credit_ppm"),
        F.count("*").cast("bigint").alias("n_purchases"),
    )


@register(
    "concurrency_peaks",
    oracle="""
        WITH spans AS (
            SELECT user_id,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                   CAST(min(epoch_us(ts)) AS BIGINT) AS a_s,
                   CAST(max(epoch_us(ts)) + 1 AS BIGINT) AS a_e
            FROM events GROUP BY user_id, day
        ), b AS (
            SELECT day, a_s AS t, 1 AS delta FROM spans
            UNION ALL
            SELECT day, a_e, -1 FROM spans
        ), cur AS (
            SELECT day, t,
                   CAST(sum(delta) OVER (
                       PARTITION BY day ORDER BY t, delta
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS c
            FROM b
        ), mx AS (
            SELECT day, t, c, max(c) OVER (PARTITION BY day) AS m
            FROM cur
        )
        SELECT day,
               CAST(max(c) AS BIGINT) AS max_concurrent,
               CAST(min(t) AS BIGINT) AS at_us
        FROM mx WHERE c = m
        GROUP BY day
    """,
    doc="Sweep-line interval stabbing — peak CONCURRENT per-(user, day) "
        "activity spans, per day: the capacity-planning question "
        "('how many sessions at once') interval_overlap_join's pairwise "
        "output cannot answer. Each span becomes a +1/-1 boundary pair "
        "(half-open [s, e): the -1 sorts BEFORE a +1 at the same "
        "instant, so touching spans never count as concurrent), and one "
        "day-partitioned running sum sweeps them — within an equal-"
        "(t, delta) tie group the counter values are a fixed contiguous "
        "range whatever the row order, so max and earliest-t are "
        "deterministic without a global tiebreak. Plan: span agg (one "
        "shuffle) -> 2-rows-per-span boundary table -> one DAY-keyed "
        "window (spans never cross days by construction, so the sweep "
        "parallelizes over days — never a global timeline sort) -> "
        "per-day peak + earliest attainment.",
    tags=("temporal", "analytics"),
)
def concurrency_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    spans = (
        ev.select(
            "user_id",
            F.expr("unix_micros(ts) div 86400000000").alias("day"),
            F.unix_micros("ts").alias("ts_us"),
        )
        .groupBy("user_id", "day")
        .agg(
            F.min("ts_us").cast("bigint").alias("a_s"),
            (F.max("ts_us") + 1).cast("bigint").alias("a_e"),
        )
    )
    b = spans.select(
        "day", F.col("a_s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(spans.select(
        "day", F.col("a_e").alias("t"), F.lit(-1).alias("delta")
    ))
    w = W.partitionBy("day").orderBy("t", "delta") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    cur = b.select(
        "day", "t", F.sum("delta").over(w).cast("bigint").alias("c"))
    mx = cur.withColumn("m", F.max("c").over(W.partitionBy("day")))
    return mx.where(F.col("c") == F.col("m")).groupBy("day").agg(
        F.max("c").cast("bigint").alias("max_concurrent"),
        F.min("t").cast("bigint").alias("at_us"),
    )


@register(
    "dau_wau_stickiness",
    oracle="""
        WITH ud AS (
            SELECT DISTINCT user_id,
                   CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
            FROM events
        ), dau AS (
            SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day
        ), wau AS (
            SELECT day // 7 AS week,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS wau
            FROM ud GROUP BY week
        ), wk AS (
            SELECT day // 7 AS week,
                   CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(dau) AS BIGINT) AS dau_sum
            FROM dau GROUP BY week
        )
        SELECT wk.week, wk.n_days, wk.dau_sum, wau.wau,
               CAST(wk.dau_sum * 1000000 // (wk.n_days * wau.wau) AS BIGINT)
                 AS stickiness_ppm
        FROM wk JOIN wau ON wk.week = wau.week
    """,
    doc="DAU/WAU stickiness rollup — the engagement staple (avg daily "
        "actives over weekly actives, the 'how often do weekly users "
        "show up' ratio). Epoch-integer day and week buckets (the "
        "cohort_retention timezone lesson — never weekofyear()); the "
        "corpus collapses to the DISTINCT (user, day) table in ONE "
        "map-combinable pass and every later aggregate works off that "
        "dedup or its day-level rollup; stickiness is an exact integer "
        "ppm division. Plan: one dedup shuffle, then day- and week-"
        "grained aggs over bounded tables, one tiny week-keyed join.",
    tags=("temporal", "analytics"),
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    wau = ud.select(F.expr("day div 7").alias("week"), "user_id") \
            .groupBy("week") \
            .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    wk = dau.select(F.expr("day div 7").alias("week"), "dau") \
            .groupBy("week").agg(
                F.count("*").cast("bigint").alias("n_days"),
                F.sum("dau").cast("bigint").alias("dau_sum"),
            )
    return wk.join(wau, "week").select(
        "week", "n_days", "dau_sum", "wau",
        F.expr("(dau_sum * 1000000) div (n_days * wau)").cast("bigint")
         .alias("stickiness_ppm"),
    )
