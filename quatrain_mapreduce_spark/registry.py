"""Query registry — the engine's acceptance surface.

Each implemented operator/query from SURVEY.md §2 registers itself here with
(a) a Spark callable ``(spark, sf_dir) -> DataFrame`` and (b) where
expressible, an ANSI-SQL oracle string that DuckDB runs over the same parquet
tables. ``tools/check_oracle.py`` compares both at sf=0.01 for every
registered query (row count + schema + order-insensitive value hash),
mirroring the reference's golden-file `.q` test method (QTestUtil diff —
SURVEY.md §5).

Determinism rules every registered query follows:
- every computed column is aliased identically in Spark and SQL;
- aggregate doubles are rounded (2dp for sums, 4dp for avgs) to absorb
  partition-order float noise; per-row arithmetic is left raw (bit-identical
  across engines for identical expression trees);
- LIMIT is always preceded by a total order with a unique tie-break key;
- double→int conversions go through floor(round(x, 2)) — never a bare cast,
  whose trunc-vs-round semantics differ between engines;
- rounding a COMPUTED double (x*1.1 etc.) uses floor(x*10^d + 0.5)/10^d, not
  round(x, d): Spark's round() rounds the shortest-decimal string of the
  double while DuckDB rounds the binary value — they disagree on ties like
  9168.005 (raw column passthroughs and post-aggregate rounding are safe;
  the tie case needs a value that is exactly representable mid-digit, which
  aggregates of many doubles don't hit but scaled money columns do).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


# Rows-only by design (no SQL-expressible oracle; each differential- or
# precision-gated in pytest): bpe_train_merges, bpe_encode_corpus,
# similarity_pq, similarity_ivfpq, profile_orders_hll (float-codebook /
# HLL internals), k_core_members (anti-monotone peeling fixpoint),
# lpa_communities (iterative argmax propagation), hybrid_search_rrf_ivf
# (approximate dense side; fused-overlap differential vs the exact twin).


def all_queries() -> dict[str, Query]:
    """Import all plan modules (side-effect: registration) and return
    REGISTRY in registration order."""
    from quatrain_mapreduce_spark.plans import (  # noqa: F401
        relational, mrlib, data_pipeline, curation_queries, streaming_queries,
        hive_sql, udf_surface, sources_queries, temporal_queries,
        analytics_queries,
    )

    return dict(REGISTRY)
