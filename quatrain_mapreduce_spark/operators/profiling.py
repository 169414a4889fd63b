"""Single-pass table profiling — the data-quality ANALYZE tool every
ingest pipeline runs before trusting a new drop.

Parity anchor: the reference era profiled tables with one ad-hoc job per
column (a TextInputFormat scan + LongSumReducer each — src/mapred job-per-
question); Hive 2009 had no ANALYZE TABLE ... COMPUTE STATISTICS FOR
COLUMNS. Here the whole profile — null count, exact distinct, numeric
min/max, lexical min/max — for EVERY column is ONE aggregate over ONE scan,
then an unpivot (explode of struct literals) to the long (column_name,
stats) form: the inverse of pivot_wide.

Scale notes:
- Null/min/max are map-combinable; exact per-column distinct counts run as
  per-column keys-only hash aggregates (map-side partial dedup, then a
  count of the deduped keys). This replaced the classic single-agg
  multi-COUNT(DISTINCT) formulation (r13 optimization): that one plans
  through Catalyst's Expand (k row-replicas pre-shuffle) AND — because the
  same aggregate also carries string min/max, whose buffers HashAggregate
  cannot hold — degrades the whole thing to SortAggregate with a full Sort
  of the k-replicated table (measured 2.7 s vs 0.84 s at sf0.1; at 100 TB
  the sort of k row-replicas is the difference between a profile that runs
  and one that doesn't). The per-column branches re-scan the table, but
  each scan is pruned to ONE column (columnar parquet: total bytes read
  stay ~one full-width scan) and every aggregate stays hash + combinable.
  At 100 TB swap count_distinct for approx_count_distinct (HLL, fully
  map-combinable, single scan, no per-column branches) — the documented
  drop-in, same shape as the sketch tier.
- The unpivot is driver-free: the wide 1-row aggregate explodes into
  k struct rows executor-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def profile_table(df: DataFrame) -> DataFrame:
    """Profile every column in one scan.

    Returns one row per column: (column_name, n_nulls, n_distinct,
    min_num, max_num, min_str, max_str). Numeric columns fill
    min_num/max_num (2dp doubles); timestamps fill min_num/max_num as
    exact epoch MICROSECONDS (integer-valued doubles — never rendered
    as strings, whose format is session-timezone-dependent); string
    columns fill min_str/max_str; the other pair is NULL.
    """
    fields = {f.name: f.dataType for f in df.schema.fields}
    names = df.columns

    # exact distinct per column: keys-only hash aggregate (map-side partial
    # dedup) + global count, one pruned scan per column. isNotNull mirrors
    # COUNT(DISTINCT c)'s null-ignoring semantics. Kept OUT of the basics
    # aggregate below: folding count_distinct into an agg that also holds
    # string min/max forces Expand + SortAggregate (see module docstring).
    dist = None
    for c in names:
        d = (
            df.select(F.col(c)).where(F.col(c).isNotNull()).distinct()
            .agg(F.count("*").alias("n_distinct"))
            .select(F.lit(c).alias("column_name"), "n_distinct")
        )
        dist = d if dist is None else dist.unionByName(d)

    aggs, null_d, null_s = [], F.lit(None).cast("double"), F.lit(None).cast("string")
    for c in names:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        if isinstance(fields[c], _NUMERIC):
            aggs.append(F.round(F.min(c).cast("double"), 2).alias(f"{c}__mn"))
            aggs.append(F.round(F.max(c).cast("double"), 2).alias(f"{c}__mx"))
        elif isinstance(fields[c], (T.TimestampType, T.TimestampNTZType)):
            # NTZ has no unix_micros; timestampdiff from the NTZ epoch is
            # the session-timezone-independent equivalent (a cast through
            # TIMESTAMP would re-interpret the naive value in local time)
            if isinstance(fields[c], T.TimestampNTZType):
                def _ep(agg_col):
                    return F.expr(
                        "timestampdiff(MICROSECOND, "
                        f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {agg_col})"
                    )
                aggs.append(_ep(f"min({c})").cast("double").alias(f"{c}__mn"))
                aggs.append(_ep(f"max({c})").cast("double").alias(f"{c}__mx"))
            else:
                aggs.append(F.unix_micros(F.min(c)).cast("double").alias(f"{c}__mn"))
                aggs.append(F.unix_micros(F.max(c)).cast("double").alias(f"{c}__mx"))
        else:
            aggs.append(F.min(F.col(c).cast("string")).alias(f"{c}__mns"))
            aggs.append(F.max(F.col(c).cast("string")).alias(f"{c}__mxs"))
    wide = df.agg(*aggs)

    structs = []
    for c in names:
        numeric = isinstance(
            fields[c], _NUMERIC + (T.TimestampType, T.TimestampNTZType)
        )
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.coalesce(F.col(f"{c}__nulls"), F.lit(0)).alias("n_nulls"),
                (F.col(f"{c}__mn") if numeric else null_d).alias("min_num"),
                (F.col(f"{c}__mx") if numeric else null_d).alias("max_num"),
                (null_s if numeric else F.col(f"{c}__mns")).alias("min_str"),
                (null_s if numeric else F.col(f"{c}__mxs")).alias("max_str"),
            )
        )
    basics = wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
    # k-row join of the per-column distinct counts onto the basics rows
    # (both sides are k rows — broadcast either way)
    return dist.join(basics, "column_name").select(
        "column_name", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    )


def profile_table_approx(df: DataFrame) -> DataFrame:
    """The 100 TB profile: null count + HLL distinct (approx_count_distinct,
    relative sd 0.02) per column — ONE aggregate over ONE scan with NO
    Expand. Exact multi-COUNT(DISTINCT) replicates every row k times before
    the shuffle (Catalyst's Expand); HLL keeps one 2^p-register sketch per
    (column) as fully map-combinable partial state, so the shuffle carries
    k sketches instead of k row-replicas of the table.

    Returns (column_name, n_nulls, n_distinct_approx).
    """
    names = df.columns
    aggs = []
    for c in names:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.approx_count_distinct(c, rsd=0.02).alias(f"{c}__adist"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.coalesce(F.col(f"{c}__nulls"), F.lit(0)).alias("n_nulls"),
            F.col(f"{c}__adist").alias("n_distinct_approx"),
        )
        for c in names
    ]
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def profile_distinct_gated(df: DataFrame) -> DataFrame:
    """Acceptance harness for ``profile_table_approx``: exact COUNT(DISTINCT)
    and the HLL estimate side by side in ONE aggregate, unpivoted to
    (column_name, n_nulls, n_distinct, dist_ok) where dist_ok asserts the
    estimate is within 5 % of exact. Exists to GATE the approx swap at
    test scale (the oracle pins dist_ok to 1); production at 100 TB runs
    ``profile_table_approx`` alone, which has no Expand.
    """
    names = df.columns
    aggs = []
    for c in names:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__dist"))
        aggs.append(F.approx_count_distinct(c, rsd=0.02).alias(f"{c}__adist"))
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.coalesce(F.col(f"{c}__nulls"), F.lit(0)).alias("n_nulls"),
            F.col(f"{c}__dist").alias("n_distinct"),
            (
                F.abs(F.col(f"{c}__adist") - F.col(f"{c}__dist"))
                / F.greatest(F.col(f"{c}__dist"), F.lit(1))
                <= 0.05
            ).cast("int").alias("dist_ok"),
        )
        for c in names
    ]
    return wide.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
