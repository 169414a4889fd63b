"""Temporal join operators — as-of join and binned range join.

Engine extensions for the training-data/event tier (no direct reference
analogue; the closest is HOP's continuous-query time handling,
EX/CQ.java:365-398). Spark has no ASOF JOIN and no range-join bin
optimization, so both are expressed as compositions of shuffle-friendly
primitives that survive 100 TB:

- ``asof_join``: union-tag + per-key ordered window + last(ignorenulls).
  ONE hash shuffle on the key and one partition-local sort; the naive
  formulation (inequality theta-join + groupBy argmax) plans as a
  broadcast-nested-loop — quadratic per key and un-runnable at scale.
- ``range_join_binned``: map each interval to the fixed-width bins it
  covers (sequence + explode), each point to its single bin, equi-join on
  the bin id, then re-apply the exact containment predicate. Turns a
  cartesian/BNL plan into a plain hash join whose fan-out per interval is
  ceil(len/bin_width)+1 — the same trick as Databricks' range-join hint,
  available to any Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
    right_tie: str | None = None,
    prefix: str = "r_",
) -> DataFrame:
    """Backward as-of join: for every left row, attach the payload of the
    latest right row with ``right.ts <= left.ts`` within the same key
    (NULL payload fields when no right row precedes).

    Ties: a right row at exactly left's timestamp IS visible (inclusive
    backward, matching DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``). Among
    right rows sharing a timestamp the one greatest by ``right_tie`` wins
    (pass a unique column for determinism).

    The payload travels as one struct so ``last(ignorenulls)`` skips only
    absent right rows, never right rows whose individual payload fields are
    NULL.
    """
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__tag", F.lit(1))
    rt = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("__p"),
        *( [F.col(right_tie).alias("__tie")] if right_tie else [] ),
    ).withColumn("__tag", F.lit(0))

    u = lt.unionByName(rt, allowMissingColumns=True)
    order = ["__ts", "__tag"] + (["__tie"] if right_tie else [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__p", ignorenulls=True).over(w))
    out_payload = [F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in payload_cols]
    return (
        matched.where(F.col("__tag") == 1)
        .select(*[F.col(c) for c in left.columns], *out_payload)
    )


def range_join_binned(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width: int,
) -> DataFrame:
    """Point-in-interval inner join (half-open ``start <= p < end``) via
    fixed-width binning. ``point_col``/``start_col``/``end_col`` must be
    integral (epoch micros for time — exact, no float rounding).

    Without an equi-key Spark plans ``p BETWEEN s AND e`` as a
    broadcast-nested-loop (O(points x intervals)); with bins it is a hash
    join on ``__bin``. Pick ``bin_width`` near the typical
    interval length: each interval then lands in 1-2 bins and each point in
    exactly one.
    """
    # exact integer floor division — the docstring promises 'no float
    # rounding', but floor(col / w) routes through IEEE doubles and
    # misbins keys above ~2^53 (epoch nanos, snowflake ids), silently
    # dropping matches (review finding). pmod is non-negative, so
    # (c - pmod(c, w)) div w IS floor division for any sign.
    def _fdiv(col: str) -> F.Column:
        return F.expr(f"(({col} - pmod({col}, {bin_width})) div {bin_width})")

    pt = points.withColumn(
        "__bin", _fdiv(point_col).cast("long")
    ).alias("pt")
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                _fdiv(start_col).cast("long"),
                _fdiv(end_col).cast("long"),
            )
        ),
    ).alias("iv")
    cond = (
        (F.col("pt.__bin") == F.col("iv.__bin"))
        & (F.col(f"pt.{point_col}") >= F.col(f"iv.{start_col}"))
        & (F.col(f"pt.{point_col}") < F.col(f"iv.{end_col}"))
    )
    return pt.join(iv, cond).drop("__bin")


def scd2_from_events(
    df: DataFrame,
    key: str,
    ts_col: str,
    attr_col: str,
    tie_col: str,
    keep_tie: bool = False,
) -> DataFrame:
    """Collapse an event stream into SCD-2 validity intervals: one row per
    (key, run of equal ``attr_col``, reported as ``state``), with
    ``valid_from``/``valid_to`` event
    times (``valid_to`` NULL on the current interval).

    lag → change-filter → lead, all over the SAME (key, ts, tie) window
    partitioning, so Catalyst plans ONE exchange and sorts once; the
    change-filter between the two window passes shrinks rows before the
    lead. The natural consumer is ``asof_join`` (align a fact stream
    against the interval table) or ``range_join_binned``.

    ``keep_tie=True`` carries the change row's ``tie_col`` out as
    ``change_tie`` so a downstream as-of consumer can break same-timestamp
    change ties by EVENT ORDER — the same resolution the interval
    formulation reaches by excluding zero-length intervals. Tie-breaking on
    a payload column (e.g. the state string) instead would diverge from the
    build whenever two changes share a microsecond (ADVICE r6).
    """
    w = Window.partitionBy(key).orderBy(ts_col, tie_col)
    # null-SAFE change detection: with a plain !=, a NULL attr row is
    # silently dropped (x != NULL is NULL) and the next row always looks
    # changed, splitting one run into duplicate adjacent intervals
    # (review finding). eqNullSafe treats NULL as a real state value.
    changed = df.withColumn("__prev", F.lag(attr_col).over(w)).where(
        ~F.col("__prev").eqNullSafe(F.col(attr_col))
    )
    w2 = Window.partitionBy(key).orderBy(ts_col, tie_col)
    return changed.select(
        F.col(key),
        F.col(attr_col).alias("state"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        *([F.col(tie_col).alias("change_tie")] if keep_tie else []),
    )


def funnel_counts(events: DataFrame, user_col: str, ts_col: str,
                  type_col: str, stages: list[str]) -> DataFrame:
    """Ordered funnel analysis: how many users complete stage₀ → stage₁ →
    … in strict timestamp order (each stage's event must come AFTER the
    user's earliest completion of the previous stage — the standard
    min-chain funnel semantics of event-analytics engines).

    Plan: one filtered min-agg per stage, each JOINed to the previous
    stage's (user, t) frame — stage k is a hash join + map-combinable min
    on the user key over a type-pruned scan (the type filter reaches the
    parquet scan). Per-user state is ONE timestamp per stage; no
    collect_list of a user's whole history, which a power user with
    millions of events would blow up. Counts union into one frame — a
    single plan, no driver-side scalars.

    Returns (stage_idx, stage, n_users) with n_users monotonically
    non-increasing down the funnel.
    """
    counts = []
    prev = None
    for i, s in enumerate(stages):
        ev_s = events.where(F.col(type_col) == s).select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("t")
        )
        if prev is None:
            cur = ev_s.groupBy("u").agg(F.min("t").alias("pt"))
        else:
            cur = (
                ev_s.join(prev, "u")
                .where(F.col("t") > F.col("pt"))
                .groupBy("u").agg(F.min("t").alias("mt"))
                .select("u", F.col("mt").alias("pt"))
            )
        counts.append(
            cur.agg(F.count("*").alias("n_users")).select(
                F.lit(i).alias("stage_idx"), F.lit(s).alias("stage"), "n_users"
            )
        )
        prev = cur
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def cohort_retention(events: DataFrame, user_col: str, ts_col: str,
                     type_col: str, anchor_type: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the epoch-week of
    their first ``anchor_type`` event, and each later week of ANY activity
    marks them retained at that offset — the classic triangle retention
    table.

    Weeks are integer epoch arithmetic (epoch_us div one week), never
    calendar weekofyear() — timezone- and locale-proof. Plan: anchor
    cohorting is one filtered min-agg; activity weeks are one DISTINCT over
    (user, week); one hash join on the user key relates them; the final
    count and the cohort-size join are group-key-bounded. Ratios are exact
    integer divisions.

    Returns (cohort_week, week_offset, n_active, cohort_size, ret_r).
    """
    wk = f"(unix_micros({ts_col}) div 604800000000)"
    anchor = (
        events.where(F.col(type_col) == anchor_type)
        .select(F.col(user_col).alias("u"), F.expr(wk).alias("w"))
        .groupBy("u").agg(F.min("w").alias("cw"))
    )
    active = events.select(
        F.col(user_col).alias("u"), F.expr(wk).alias("w")
    ).distinct()
    ret = (
        active.join(anchor, "u")
        .where(F.col("w") >= F.col("cw"))
        .groupBy("cw", (F.col("w") - F.col("cw")).alias("off"))
        .agg(F.count("*").alias("n_active"))
    )
    size = anchor.groupBy("cw").agg(F.count("*").alias("cohort_size"))
    return (
        ret.join(size, "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("off").alias("week_offset"),
            "n_active", "cohort_size",
            F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 4)
            .alias("ret_r"),
        )
    )
