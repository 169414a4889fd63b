"""Join operators.

The reference ships three join forms (SURVEY.md §2.3); all become
``DataFrame.join`` with Catalyst picking broadcast-hash / shuffled-hash /
sort-merge physically:

1. map-side composite merge join over co-partitioned inputs
   (mapred/join/CompositeInputFormat.java:82 — ``inner(a,b)``, ``outer(a,b)``,
   ``override(a,b)``) — ``inner``/``outer`` are plain ``df.join`` calls;
   ``override_join`` = rightmost non-null wins = coalesce over a
   full-outer join;
2. reduce-side tagged join (contrib/data_join DataJoinReducerBase.java:47 —
   per-source regroup + cross product) — exactly what a shuffled equi-join
   does; ``tagged_join`` keeps the n-ary API;
3. Hive common join (ql/exec/JoinOperator.java:43, INNER/LEFT/RIGHT/FULL
   with null-padding) — ``df.join(..., how)`` directly.

Scale notes: small dimension sides should be wrapped in ``F.broadcast`` by
the caller (or left to AQE, which converts to broadcast at runtime when the
built side is under the threshold); skewed keys are handled by AQE skew-join
splitting (enabled in session.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def override_join(dfs: list[DataFrame], key: str, value_col: str) -> DataFrame:
    """CompositeInputFormat ``override(a,b,...)``: rightmost non-null value wins.

    OverrideRecordReader.java:36 iterates sources in reverse preferring the
    highest-tagged value; declaratively that is coalesce(v_n, ..., v_1) over a
    full-outer join.
    """
    renamed = [df.select(F.col(key), F.col(value_col).alias(f"_v{i}")) for i, df in enumerate(dfs)]
    joined = reduce(lambda a, b: a.join(b, on=key, how="full"), renamed)
    prefer_rightmost = [F.col(f"_v{i}") for i in reversed(range(len(dfs)))]
    return joined.select(F.col(key), F.coalesce(*prefer_rightmost).alias(value_col))


def tagged_join(tagged: dict[str, DataFrame], key: str) -> DataFrame:
    """contrib/data_join tagged n-way join: tag each source, inner equi-join
    on key.

    Columns (except the key) are prefixed with their source tag, mirroring
    TaggedMapOutput.java:35's provenance tracking.
    """
    prefixed = []
    for tag, df in tagged.items():
        cols = [F.col(key)] + [F.col(c).alias(f"{tag}_{c}") for c in df.columns if c != key]
        prefixed.append(df.select(*cols))
    return reduce(lambda a, b: a.join(b, on=key), prefixed)


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 8, how: str = "inner"
) -> DataFrame:
    """Skew-safe equi-join: append a deterministic salt to the big side
    (hash of the key row spread over ``n_salts``), replicate the small side
    once per salt value, join on (key, salt).

    At 100 TB a single hot key (the boilerplate domain, the null-ish user)
    overflows one reducer; salting splits each key's rows across
    ``n_salts`` tasks at the cost of an ``n_salts``x small-side replication.
    Result is identical to the plain join (salt is internal) for every
    join type that preserves only the BIG side: inner / left outer /
    left semi / left anti. Right and full joins are REJECTED — an
    unmatched small-side row survives once per salt replica, so the
    result would contain n_salts duplicates of it (review finding);
    salt the other way around for those. AQE's skew handling does this
    adaptively for sort-merge joins; the explicit operator covers
    broadcast-disabled and pre-AQE plans, and composes with aggregations
    (mrlib.salted_agg is the groupBy twin).
    """
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} would duplicate unmatched "
            f"small-side rows once per salt replica; only big-side-"
            f"preserving joins are valid ({sorted(allowed)})"
        )
    bg = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    sm = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return bg.join(sm, on=[key, "__salt"], how=how).drop("__salt")
