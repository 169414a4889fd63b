"""MR operator library — SURVEY §2.2/2.4/2.6 golden tests on synthetic rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.aggregates import (
    top_k, top_k_per_group, uniq_value_count, value_histogram,
)
from quatrain_mapreduce_spark.operators.projection import (
    field_selection, inverse_map, regex_extract_count, token_count,
)


def test_inverse_map(spark):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    row = inverse_map(df, "k", "v").collect()[0]
    assert (row["key"], row["value"]) == ("a", 1)


def test_token_count(spark):
    df = spark.createDataFrame([("a b  a",), ("b",)], "text string")
    got = {r["word"]: r["cnt"] for r in token_count(df, "text").collect()}
    assert got == {"a": 2, "b": 2}


def test_regex_extract_count(spark):
    df = spark.createDataFrame([("foo12 bar3 foo12",)], "text string")
    got = {r["word"]: r["cnt"] for r in regex_extract_count(df, "text", r"foo\d+").collect()}
    assert got == {"foo12": 2}


def test_field_selection_reorder(spark):
    df = spark.createDataFrame([("x:y:z",)], "line string")
    cols = field_selection(df, "line", ":", [2, 0], ["third", "first"])
    row = df.select(*cols).collect()[0]
    assert (row["third"], row["first"]) == ("z", "x")


def test_uniq_value_count_exact_and_approx(spark):
    df = spark.createDataFrame([("a", 1), ("a", 1), ("a", 2), ("b", 9)], "k string, v int")
    exact = {r["k"]: (r["uniq_cnt"], r["total"]) for r in uniq_value_count(df, "k", "v").collect()}
    assert exact == {"a": (2, 3), "b": (1, 1)}
    approx = {r["k"]: r["uniq_cnt"] for r in uniq_value_count(df, "k", "v", approx=True).collect()}
    assert approx["a"] in (1, 2, 3)  # HLL estimate, tiny-n exactness not guaranteed


def test_value_histogram_stats(spark):
    # key 'a': values 1×3, 2×1 → freqs [3,1]: n_unique=2 min=1 max=3 avg=2 median=2
    df = spark.createDataFrame([("a", 1), ("a", 1), ("a", 1), ("a", 2)], "k string, v int")
    row = value_histogram(df, "k", "v").collect()[0]
    assert (row["n_unique"], row["min_freq"], row["max_freq"]) == (2, 1, 3)
    assert row["avg_freq"] == 2.0 and row["median_freq"] == 2.0


def test_top_k_global(spark):
    df = spark.createDataFrame([(i, 100 - i) for i in range(50)], "id int, score int")
    got = [r["id"] for r in top_k(df, [F.desc("score"), F.asc("id")], 3).collect()]
    assert got == [0, 1, 2]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g1", 1, 10), ("g1", 2, 20), ("g1", 3, 30), ("g2", 4, 5)],
        "g string, id int, score int",
    )
    got = top_k_per_group(df, ["g"], [F.desc("score"), F.asc("id")], 2).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append(r["id"])
    assert by_g == {"g1": [3, 2], "g2": [4]}
