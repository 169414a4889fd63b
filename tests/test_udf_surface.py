"""§2.10 UDF surface: script pipe, UDF registration, chaining, counters."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from quatrain_mapreduce_spark.operators.scripting import (
    chain, observed, register_udf, script_transform, stage_script,
)


def test_script_transform_pipes_rows(spark):
    """TRANSFORM ... USING 'cat -n'-style external command round trip."""
    df = spark.createDataFrame([("hello",), ("world",)], "text string")
    script = stage_script("qms_test_upper.sh", "#!/bin/sh\ntr 'a-z' 'A-Z'\n")
    got = sorted(r["line"] for r in script_transform(df, script, ["text"]).collect())
    assert got == ["HELLO", "WORLD"]


def test_script_transform_multi_col_and_parse(spark):
    """Columns → TSV line → script → TSV lines, parsed back field by field."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    script = stage_script("qms_test_cat.sh", "#!/bin/sh\ncat\n")
    got = dict(r["line"].split("\t") for r in script_transform(df, script, ["k", "v"]).collect())
    assert got == {"1": "a", "2": "b"}


def test_chain_composition(spark):
    df = spark.createDataFrame([("Ab",), ("cd",)], "s string")
    out = chain(
        df,
        lambda d: d.select(F.upper("s").alias("s")),
        lambda d: d.where(F.col("s").startswith("A")),
    )
    assert [r["s"] for r in out.collect()] == ["AB"]


def test_register_udf_callable_from_sql(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(IntegerType())
    def qms_test_len(s: pd.Series) -> pd.Series:
        return s.str.len().astype("int32")

    register_udf(spark, "qms_test_len", qms_test_len)
    spark.createDataFrame([("abc",)], "s string").createOrReplaceTempView("qms_test_udf_v")
    assert spark.sql("SELECT qms_test_len(s) AS n FROM qms_test_udf_v").collect()[0]["n"] == 3


def test_observed_counters_exact(spark):
    """Counters parity: metrics computed during the action, exactly once."""
    df = spark.createDataFrame([(i,) for i in range(100)], "v int")
    filtered = df.where(F.col("v") % 2 == 0)
    out, obs = observed(filtered, "qms_test_obs",
                        F.count(F.lit(1)).alias("rows_kept"),
                        F.sum("v").alias("v_sum"))
    assert out.count() == 50  # action fills the observation
    assert obs.get == {"rows_kept": 50, "v_sum": sum(range(0, 100, 2))}


def test_pipes_native_binary_is_compiled_and_counts(spark, sf_dir):
    """Pipes parity is honest: the staged mapper is a real compiled ELF
    binary (not a shell script), and the native map output aggregates to
    the same relation as the declarative wordcount."""
    from quatrain_mapreduce_spark.operators.scripting import stage_native_binary
    from quatrain_mapreduce_spark.plans.udf_surface import _PIPES_WC_C, pipes_wordcount
    from quatrain_mapreduce_spark.registry import all_queries

    binary = stage_native_binary("qms_pipes_wc", _PIPES_WC_C)
    with open(binary, "rb") as fh:
        assert fh.read(4) == b"\x7fELF"
    native = {(r["word"], r["cnt"]) for r in pipes_wordcount(spark, sf_dir).collect()}
    plain = {(r["word"], r["cnt"])
             for r in all_queries()["wordcount"].fn(spark, sf_dir).collect()}
    assert native == plain and native


def test_sql_recursive_cte_hand_chain(spark, tmp_path):
    import pyspark.sql.functions as F
    # one user: signup -> click -> purchase (strict chain, no cycles)
    rows = [(1, 1, 0, "signup"), (2, 1, 10, "click"), (3, 1, 20, "purchase")]
    spark.createDataFrame(
        rows, "event_id long, user_id long, us long, event_type string"
    ).select("event_id", "user_id", F.timestamp_micros("us").alias("ts"),
             "event_type").write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet"))
    from quatrain_mapreduce_spark.registry import all_queries
    out = {(r["path"], r["depth"]) for r in all_queries()[
        "sql_recursive_cte"].fn(spark, str(tmp_path)).collect()}
    assert out == {
        ("signup", 1),
        ("signup>click", 2),
        ("signup>click>purchase", 3),
    }
