"""MERGE INTO / upsert semantics over immutable storage.

Engine extension: the reference's write path is insert-only
(QL/parse/SemanticAnalyzer.java:1991 destinations; no UPDATE/MERGE existed in
2009-era Hive), and plain-parquet Spark has no MERGE either — lakehouse
formats build it on exactly this plan: full-outer join target↔source on the
merge key, source wins where matched, both sides pass through otherwise.

One shuffle on the key (or zero if both sides are ``bucketBy`` tables on
it); the output overwrites the target atomically
via the staged-directory pattern the sinks module uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cdc_apply(
    log: DataFrame,
    key: str,
    seq_col: str,
    op_col: str,
    payload_cols: list[str],
) -> DataFrame:
    """Compact a CDC change log (Debezium-style I/U/D row images) into the
    current snapshot: per key, the highest-``seq_col`` row wins; keys whose
    final operation is ``'D'`` vanish.

    ``seq_col`` must be unique per key (CDC logs guarantee this — LSN /
    binlog position); ties would make the winner nondeterministic.

    Scale shape: ONE aggregation via ``max_by(struct(payload), seq)`` with
    a partial (map-side) phase — each executor pre-compacts its partitions
    (plan-asserted: partial_max_by below the exchange), so the shuffle
    moves at most one row per (partition, key). The
    window-function formulation (row_number over key ORDER BY seq DESC)
    computes the same answer but shuffles the ENTIRE log and sorts it:
    at 100 TB of accumulated changes the partial-agg form is the only one
    that works. Deletes are filtered AFTER compaction, so a delete
    correctly tombstones every earlier image of its key.
    """
    winner = log.groupBy(key).agg(
        F.max(F.col(seq_col)).alias(seq_col),
        F.max_by(F.struct(op_col, *payload_cols), F.col(seq_col)).alias("_w"),
    )
    return winner.where(F.col(f"_w.{op_col}") != "D").select(
        key,
        *[F.col(f"_w.{c}").alias(c) for c in payload_cols],
        F.col(seq_col).alias("last_seq"),
    )


def merge_upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *.

    Columns must match between target and source. Adds ``__merged`` (1 =
    row came from source: updated or inserted) for audit; drop it to get
    pure MERGE output.
    """
    # the source marker is a literal column, NOT s.key IS NOT NULL: a
    # source row with a NULL merge key never matches the equality join,
    # and the key-null test would misclassify it as a target row and emit
    # all-NULL garbage (review finding) — with the marker it INSERTs,
    # matching SQL MERGE's NULL-never-matches semantics.
    t = target.alias("t")
    s = source.withColumn("__src", F.lit(True)).alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    from_source = F.coalesce(F.col("s.__src"), F.lit(False))
    cols = [
        F.when(from_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in target.columns
    ]
    return joined.select(*cols, from_source.cast("int").alias("__merged"))
