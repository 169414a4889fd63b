"""Script / UDF / chaining surface — SURVEY.md §2.10.

The reference's language-agnostic extension points, Spark-first:

- Hadoop Streaming / Hive TRANSFORM ... USING 'cmd'
  (contrib/streaming PipeMapper.java:35, ql/exec/ScriptOperator.java:39):
  ``script_transform`` pipes partition rows as text lines through an
  external command (``rdd.pipe``). The slow-but-universal path; Python-native
  logic should use pandas UDFs instead.
- ChainMapper / ChainReducer (mapred/lib/ChainMapper.java:90):
  ``chain`` — function composition over DataFrames (``df.transform`` fold).
- Hive CREATE TEMPORARY FUNCTION / UDF registration
  (ql/exec/UDF.java:36, FunctionRegistry.java:148): ``register_udf`` wraps
  ``spark.udf.register`` so SQL text can call engine UDFs; vectorized
  (pandas) UDFs preferred.
- Counters (mapred/Counters.java:51): ``observed`` attaches a named
  ``Observation`` to the plan — metrics computed JVM-side during the action,
  no extra pass, the accumulator analogue for DataFrames.
"""

from __future__ import annotations

import hashlib
import os
import stat
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.staging import staged


def _content_tag(name: str, content: str) -> str:
    """Staging tag for a file named ``name`` holding ``content``: a changed
    body or source gets a new staged path."""
    return "script" + hashlib.md5(f"{name}\0{content}".encode()).hexdigest()[:12]


def stage_script(name: str, body: str) -> str:
    """Write an executable helper script once and return its path.

    Hadoop Streaming ships script files to the cluster (-file); on Spark the
    equivalent is SparkContext.addFile + a path valid on every executor. For
    local[*] a tempdir path suffices. Staged through ``staging.staged``,
    keyed on the name and body.
    """
    def build(d: str) -> None:
        os.makedirs(d)
        path = os.path.join(d, name)
        with open(path, "w") as fh:
            fh.write(body)
        os.chmod(path, os.stat(path).st_mode | stat.S_IEXEC | stat.S_IXGRP | stat.S_IXOTH)

    return os.path.join(staged(None, _content_tag(name, body), build), name)


def stage_native_binary(name: str, c_source: str) -> str:
    """Compile a C source once and return the binary path — the Hadoop
    Pipes analogue (src/c++/pipes/api/hadoop/Pipes.hh): user logic in
    compiled native code, the framework feeding it records. Here the
    record protocol is the same line-oriented pipe `script_transform` uses
    (PipeMapper.java:44-75) rather than Pipes' socket protocol; the native
    process still does the actual map work. On a cluster, ship the binary
    with SparkContext.addFile / --archives; for local[*] a tempdir path is
    valid on every worker. Staged through ``staging.staged``, keyed on the
    name and C source.
    """
    import subprocess

    def build(d: str) -> None:
        os.makedirs(d)
        src = os.path.join(d, name + ".c")
        with open(src, "w") as fh:
            fh.write(c_source)
        subprocess.run(["gcc", "-O2", "-o", os.path.join(d, name), src], check=True)

    return os.path.join(staged(None, _content_tag(name, c_source), build), name)


def script_transform(df: DataFrame, cmd: str, input_cols: list[str]) -> DataFrame:
    """TRANSFORM (cols) USING 'cmd': rows → tab-joined text lines → cmd
    stdin; cmd stdout lines become the output rows (one string column
    ``line``).

    Mirrors PipeMapper.java:44-75 (line-oriented, per-partition process).
    Downstream parsing (AS (col1, col2, ...)) is a select over split().
    """
    lines = df.select(
        F.concat_ws("\t", *[F.col(c).cast("string") for c in input_cols]).alias("line")
    )
    piped = lines.rdd.map(lambda r: r[0]).pipe(cmd)
    return piped.map(lambda l: (l,)).toDF(["line"])


def chain(df: DataFrame, *transforms: Callable[[DataFrame], DataFrame]) -> DataFrame:
    """ChainMapper/ChainReducer: [MAP+ / REDUCE MAP*] composition in one job.

    In Spark any composition is already one job (Catalyst fuses narrow
    stages); this keeps the reference's explicit chaining API shape.
    """
    for t in transforms:
        df = df.transform(t)
    return df


def register_udf(spark, name: str, fn):
    """CREATE TEMPORARY FUNCTION parity: session-scoped UDF registration.

    ``fn`` may be a plain Python callable (row-at-a-time — discouraged on
    hot paths), a pandas_udf (vectorized, preferred), or a Column-builder
    lambda pre-wrapped by the caller. Returns the registered function.
    """
    return spark.udf.register(name, fn)


def observed(df: DataFrame, name: str, *metrics: Column):
    """Counters → Observation: named metrics computed during the next action.

    Returns (df, observation); read ``observation.get`` after an action runs.
    Unlike accumulators, observe metrics are exactly-once per action (no
    task-retry double counting) — strictly better counter semantics.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *metrics), obs
