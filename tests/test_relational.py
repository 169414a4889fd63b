"""Relational core: join types, set ops, sort/limit/sample — SURVEY §2.3/2.6/2.7.

Small synthetic frames with hand-computed expectations (the reference's
operator-level test tier, src/test/org/apache/hadoop/mapred style).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.joins import override_join, tagged_join
from quatrain_mapreduce_spark.operators.sort import bucket_sample, cluster_by, secondary_sort_agg


def _kv(spark, rows):
    return spark.createDataFrame(rows, "key int, val string")


def test_override_join_rightmost_nonnull_wins(spark):
    a = _kv(spark, [(1, "old"), (2, "keep")])
    b = _kv(spark, [(1, "new")])
    got = {r["key"]: r["val"] for r in override_join([a, b], "key", "val").collect()}
    assert got == {1: "new", 2: "keep"}


def test_left_right_join_padding(spark):
    a = _kv(spark, [(1, "a1"), (2, "a2")])
    b = spark.createDataFrame([(2, "b2"), (3, "b3")], "key int, other string")
    left = a.join(b, "key", "left").collect()
    assert {r["key"]: r["other"] for r in left} == {1: None, 2: "b2"}
    right = a.join(b, "key", "right").collect()
    assert {r["key"]: r["val"] for r in right} == {2: "a2", 3: None}


def test_tagged_join_prefixes_columns(spark):
    a = _kv(spark, [(1, "a")])
    b = _kv(spark, [(1, "b")])
    out = tagged_join({"l": a, "r": b}, "key")
    assert set(out.columns) == {"key", "l_val", "r_val"}
    assert out.collect()[0]["r_val"] == "b"


def test_secondary_sort_orders_within_key(spark):
    df = spark.createDataFrame([(1, 3), (1, 1), (1, 2), (2, 9)], "k int, v int")
    got = {r["k"]: r["sorted_values"] for r in secondary_sort_agg(df, "k", F.col("v")).collect()}
    assert got == {1: "1,2,3", 2: "9"}


def test_bucket_sample_deterministic(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "key int")
    got = sorted(r["key"] for r in bucket_sample(df, "key", x=3, y=7).collect())
    assert got == [k for k in range(100) if k % 7 == 2]


def test_cluster_by_partitions_and_sorts(spark):
    df = spark.createDataFrame([(i % 3, i) for i in range(30)], "g int, v int")
    out = cluster_by(df, ["g"], [F.col("g"), F.col("v")])
    # same multiset of rows; partition-local sort verified via partition dump
    assert out.count() == 30
    parts = out.rdd.glom().collect()
    for part in parts:
        vals = [(r["g"], r["v"]) for r in part]
        assert vals == sorted(vals)
        # one group never splits across partitions (hash repartition on g)
    groups_per_part = [set(r["g"] for r in p) for p in parts if p]
    seen = [g for s in groups_per_part for g in s]
    assert len(seen) == len(set(seen))


def test_limit_is_two_stage(spark, sf_dir):
    """orderBy().limit() must plan TakeOrderedAndProject — per-partition heap
    + single merge, not a global sort materialization."""
    from quatrain_mapreduce_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    plan = (
        li.orderBy(F.desc("l_extendedprice")).limit(10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_tpch_q5_plan_broadcasts_dims_and_prunes_dates(spark):
    from quatrain_mapreduce_spark.registry import all_queries
    df = all_queries()["tpch_q5_shape"].fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan          # region/nation dim side
    assert "PushedFilters" in plan or "o_orderdate" in plan
    # the date predicate must reach the orders parquet scan, not a
    # post-scan Filter only
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "1996-01-01" in opt


def test_pandas_udaf_is_arrow_batched_not_row_python(spark):
    from quatrain_mapreduce_spark.registry import all_queries
    df = all_queries()["pandas_udaf_weighted_avg"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark 4 names the Arrow grouped-agg node ArrowAggregatePython
    # (AggregateInPandas in 3.x) — either way it must be Arrow, not the
    # row-at-a-time BatchEvalPython path
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_window_value_funcs_single_exchange(spark):
    from quatrain_mapreduce_spark.registry import all_queries
    df = all_queries()["window_value_funcs"].fn(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # all four value functions ride ONE hash partitioning on o_custkey
    assert plan.count("Exchange hashpartitioning") == 1


def test_aqe_skew_join_splits_hot_partition(spark, tmp_path):
    """AQE's runtime skew-join split is the engine's no-code answer to hot
    keys (the alternative the manual salted_join demonstrates): force a
    99%-one-key join under tiny advisory sizes and assert the final
    adaptive plan marks the sort-merge join as skew=true (hot partition
    split into multiple tasks at runtime)."""
    import pyspark.sql.functions as F

    left = spark.range(0, 200_000).select(
        F.when(F.col("id") % 100 != 0, F.lit(7)).otherwise(F.col("id"))
         .alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 2_000).select(
        F.when(F.col("id") % 100 != 0, F.lit(7)).otherwise(F.col("id"))
         .alias("k"),
        F.col("id").alias("r_payload"),
    )
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # the downstream count agg needs hash distribution on k; without
        # force, AQE declines the split rather than add a shuffle — force
        # documents the trade a production job makes for a 1000x hot key
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # aggregate PAYLOAD, not count(1): otherwise column pruning strips
        # the join shuffle down to the constant hot key, which compresses
        # to almost nothing and never crosses the skew byte threshold
        joined = (
            left.join(right, "k")
            .groupBy("k")
            .agg(F.sum(F.col("payload") + F.col("r_payload")).alias("s"))
        )
        # collect() executes THIS DataFrame's QueryExecution, so the
        # adaptive plan we inspect afterwards is the final one
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pareto_front_hand_example(spark):
    from quatrain_mapreduce_spark.operators.skyline import pareto_front

    # maximize x, minimize y. Frontier: (5,10), (3,4), (2,1).
    # (4,12) dominated by (5,10); (3,7) by (3,4) (same x, higher y);
    # (1,1) by (2,1) (same y, lower x); duplicates collapse with counts.
    rows = [(5, 10), (4, 12), (3, 4), (3, 7), (2, 1), (1, 1), (3, 4)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = {(r["x"], r["y"]): r["n_rows"] for r in pareto_front(df, "x", "y").collect()}
    assert out == {(5, 10): 1, (3, 4): 2, (2, 1): 1}


def test_pareto_front_single_point_and_chain(spark):
    from quatrain_mapreduce_spark.operators.skyline import pareto_front

    # a true trade-off chain (bigger x costs bigger y): all on the frontier
    chain = [(i, i) for i in range(1, 21)]
    df = spark.createDataFrame(chain, "x long, y long")
    assert pareto_front(df, "x", "y").count() == 20
    # one point dominating everything: frontier is exactly it
    df2 = spark.createDataFrame(chain + [(100, 0)], "x long, y long")  # dominator
    out = [(r["x"], r["y"]) for r in pareto_front(df2, "x", "y").collect()]
    assert out == [(100, 0)]
