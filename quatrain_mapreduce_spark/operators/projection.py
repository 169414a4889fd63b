"""Projection / mapper-library operators.

Spark-first equivalents of the reference's mapper lib (SURVEY.md §2.2):
IdentityMapper, InverseMapper, TokenCountMapper, RegexMapper,
FieldSelectionMapReduce. All are pure Column expressions — they stay inside
whole-stage codegen, shuffle nothing, and push projections into the scan.

Reference parity targets:
- InverseMapper: mapred/lib/InverseMapper.java:29
- TokenCountMapper: mapred/lib/TokenCountMapper.java:34
- RegexMapper: mapred/lib/RegexMapper.java:35
- FieldSelectionMapReduce: mapred/lib/FieldSelectionMapReduce.java:64
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.operators.util import spread


def inverse_map(df: DataFrame, key: str, value: str) -> DataFrame:
    """(k, v) -> (v, k). InverseMapper.java:29."""
    return df.select(F.col(value).alias("key"), F.col(key).alias("value"))


def tokenize(col: Column | str) -> Column:
    """Split on spaces into non-empty tokens (array column)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda x: x != F.lit(""))


def token_count(df: DataFrame, text_col: str) -> DataFrame:
    """line -> (token, 1) -> per-token counts over space-separated tokens.
    TokenCountMapper.java:34.

    explode(split) + groupBy(count): map-side partial aggregation (Catalyst
    partial/final HashAggregate) replaces the reference's combiner protocol.
    """
    return (
        spread(df).select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def regex_extract_count(df: DataFrame, text_col: str, pattern: str) -> DataFrame:
    """Emit every regex match, count per match. RegexMapper.java:35 (Grep stage 1)."""
    return (
        df.select(F.explode(F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def field_selection(
    df: DataFrame, source_col: str, sep: str, fields: list[int], aliases: list[str] | None = None
) -> list[Column]:
    """cut(1)-style field projection/reorder over a delimited string column.

    FieldSelectionMapReduce.java:64 (spec like "2-,0-1" over
    mapred.data.field.separator). Returns Columns so callers compose them
    into a wider select.
    """
    parts = F.split(F.col(source_col), sep)
    aliases = aliases or [f"f{i}" for i in fields]
    return [parts.getItem(i).alias(a) for i, a in zip(fields, aliases)]
