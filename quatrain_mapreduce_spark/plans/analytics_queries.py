"""Analytic-SQL breadth queries — window functions, exact percentiles,
pivot, and the driver-visible IVF exactness gate.

The reference's analytic surface stops at GROUP BY + sort (Hive 2009 had no
OVER clause; percentile/histogram UDAFs were on its roadmap —
contrib/hive FunctionRegistry has neither). These queries are the engine
extension tier: the window/percentile/pivot shapes every warehouse user of
the reference eventually hand-rolled with self-joins, expressed as
single-shuffle Catalyst window plans with full DuckDB oracles.

Scale notes are per query; the common property: each is ONE exchange on its
partition key (window functions and pivot both hash-partition once), no
self-joins, no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from quatrain_mapreduce_spark.catalog import load_table
from quatrain_mapreduce_spark.operators.graph import CO_PURCHASE_EDGES_SQL, co_purchase_edges
from quatrain_mapreduce_spark.operators.util import sql_hour_of_day_us
from quatrain_mapreduce_spark.registry import register


@register(
    "window_funcs",
    oracle="""
        SELECT o_orderkey, o_custkey,
               lag(round(o_totalprice, 2)) OVER w AS prev_price,
               lead(round(o_totalprice, 2)) OVER w AS next_price,
               CAST(row_number() OVER w AS INTEGER) AS rn,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               CAST(count(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Window-function breadth: lag/lead/row_number/ntile/partition count "
        "over one (custkey, orderdate) window. The reference era solved "
        "'previous order per customer' with a self-join on a rank subquery "
        "(two shuffles + a join); this is ONE hash exchange and one sort, "
        "all five functions evaluated in a single Window operator. "
        "Deterministic: the window order carries the unique o_orderkey "
        "tie-break.",
    tags=("analytics", "window"),
)
def window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey")
    price = F.round("o_totalprice", 2)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.lag(price).over(w).alias("prev_price"),
        F.lead(price).over(w).alias("next_price"),
        F.row_number().over(w).alias("rn"),
        F.ntile(4).over(w).alias("quartile"),
        F.count("*").over(wp).alias("n_orders"),
    )


@register(
    "percentile_agg",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               floor(quantile_cont(o_totalprice, 0.25) * 100 + 0.5) / 100 AS p25,
               floor(quantile_cont(o_totalprice, 0.50) * 100 + 0.5) / 100 AS p50,
               floor(quantile_cont(o_totalprice, 0.75) * 100 + 0.5) / 100 AS p75,
               round(max(o_totalprice), 2) AS max_price
        FROM orders GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles per group (Spark percentile() == "
        "DuckDB quantile_cont; Hive tracked this as the percentile UDAF "
        "gap in its 2009 FunctionRegistry). Exact percentile is a "
        "sort-based agg — fine per group; the streaming/sketch variant for "
        "corpus-wide quantiles at 100 TB is approx_percentile, gated in "
        "sketch_bounds. Interpolated values are computed doubles, so both "
        "sides round via the portable floor(x*100+0.5)/100.",
    tags=("analytics", "aggregate"),
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def p2(c):  # portable 2dp rounding of a computed double
        return (F.floor(c * 100 + F.lit(0.5)) / 100)

    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        p2(F.expr("percentile(o_totalprice, 0.25)")).alias("p25"),
        p2(F.expr("percentile(o_totalprice, 0.50)")).alias("p50"),
        p2(F.expr("percentile(o_totalprice, 0.75)")).alias("p75"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "pivot_wide",
    oracle="""
        SELECT o_orderpriority,
               round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS sum_f,
               round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS sum_o,
               round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS sum_p,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_orderpriority
    """,
    doc="PIVOT (long -> wide): priority x status revenue matrix. With the "
        "pivot values DECLARED, this is one hash aggregate whose state is "
        "k conditional sums per group — same cost as the plain groupBy. "
        "(Undeclared values would force a distinct-scan first; at 100 TB "
        "always declare them.) Oracle is the conditional-aggregation "
        "rewrite, the only way the reference era could express it.",
    tags=("analytics", "aggregate", "pivot"),
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("sum"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # total row count = sum of the per-status pivot counts (statuses are
    # exhaustive; empty cells are null -> 0), keeping the whole query ONE
    # scan + ONE hash aggregate — no second scan for a plain count
    n_orders = sum(
        F.coalesce(F.col(f"{s}_n"), F.lit(0)) for s in ("F", "O", "P")
    )
    return wide.select(
        "o_orderpriority",
        F.col("F_sum").alias("sum_f"),
        F.col("O_sum").alias("sum_o"),
        F.col("P_sum").alias("sum_p"),
        n_orders.alias("n_orders"),
    )


@register(
    "similarity_ivf_exact",
    oracle="""
        WITH v AS (
            SELECT vec_id, embedding,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))::DOUBLE) AS nrm
            FROM embeddings
        ),
        scored AS (
            SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))::DOUBLE
                         / (q.nrm * c.nrm), 6) AS cos
            FROM v q JOIN v c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < 8
        )
        SELECT q_id, neighbor_id, cos,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rk
        FROM scored
        QUALIFY rk <= 10
    """,
    doc="Driver-visible IVF correctness gate: nprobe == n_lists degrades "
        "IVF to exact search (every inverted list probed, the candidate "
        "set is the whole corpus), so the full index pipeline — centroid "
        "build, list assignment, probe ranking, per-list scoring — must "
        "reproduce brute-force cosine top-k bit-for-bit against the same "
        "oracle. The approximate production path (nprobe < n_lists, "
        "partition-pruned) is `similarity_ivf`; its recall is pytest-gated. "
        "This query makes the index machinery itself hash-checkable.",
    tags=("similarity", "gate"),
)
def similarity_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.similarity import embedding_dim, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 8)
    out = ivf_topk(
        queries, emb, "vec_id", "embedding", dim, k=10, n_lists=8, nprobe=8
    )
    return out.select("q_id", "neighbor_id", "cos", "rk")


@register(
    "range_frame_window",
    oracle="""
        SELECT event_id, user_id,
               CAST(count(*) OVER w AS BIGINT) AS n_10m,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
                    AS BIGINT) AS cents_10m,
               max(value) OVER w AS max_10m
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="Event-time RANGE frame: per user, count/sum/max of events in the "
        "trailing 10 minutes of EVENT time (not row count) — the windowed "
        "form of 'rate over a sliding interval' that HOP's CQ answered with "
        "ad-hoc reducer state (EX/CQ.java:365). RANGE frames bound by an "
        "interval need a numeric order key, so the frame runs over exact "
        "epoch micros (unix_micros <-> epoch_us); the summed measure is "
        "integer cents so per-row running sums can't drift between engines' "
        "accumulation orders. One hash exchange on user_id, one sort, all "
        "three aggregates in a single Window operator.",
    tags=("analytics", "window", "temporal"),
)
def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ep = F.unix_micros("ts")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ep)
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_10m"),
        F.sum(cents).over(w).alias("cents_10m"),
        F.max("value").over(w).alias("max_10m"),
    )


@register(
    "window_distribution",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               CAST(dense_rank() OVER w AS INTEGER) AS drk,
               percent_rank() OVER w AS prk,
               cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY round(o_totalprice, 2))
    """,
    doc="Distribution window functions (dense_rank / percent_rank / "
        "cume_dist) per priority class — the 'where does this order sit in "
        "its class' analytic the reference era hand-rolled with a "
        "rank-subquery self-join. No tie-break key on purpose: all three "
        "functions are tie-STABLE (tied rows get equal values), so the "
        "result is deterministic even with duplicate prices, and "
        "dense_rank's gap-free semantics are actually exercised. Exact "
        "cross-engine equality: rank-count ratios of identical integer "
        "operands divide bit-identically. One exchange, one sort.",
    tags=("analytics", "window"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.round("o_totalprice", 2))
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.dense_rank().over(w).alias("drk"),
        F.percent_rank().over(w).alias("prk"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "tpch_q3_shape",
    oracle="""
        SELECT l.l_orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1997-06-30'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
    doc="TPC-H Q3 shape (shipping-priority): selective dim filter "
        "(mktsegment) joined into orders, fact-fact join on orderkey, "
        "grouped revenue, top-10 by revenue. The plan to hold at 100 TB: "
        "customer joined by SIZE-BASED choice (broadcast while it fits the "
        "threshold, shuffle join beyond — customer grows with SF, so a "
        "forced broadcast hint OOMs at scale), both date "
        "filters pushed to the parquet scans, final top-10 via "
        "TakeOrderedAndProject (per-partition heaps, no global sort "
        "materialization). Unique tie-break on l_orderkey keeps the LIMIT "
        "deterministic.",
    tags=("relational", "tpch"),
)
def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    )
    # No explicit broadcast hint on customer: unlike nation/region it GROWS
    # with the fact tables (1/5 of customers pass the segment filter), so a
    # forced broadcast OOMs at scale (measured at 10x bench data). Catalyst's
    # size-based planning + AQE broadcast it while it fits the threshold and
    # switch to shuffle join when it doesn't — the plan test still sees
    # BroadcastHashJoin at test SFs.
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "zorder_box_query",
    oracle="""
        WITH b AS (
            SELECT CAST(floor(min(l_orderkey) + 0.25 * (max(l_orderkey) - min(l_orderkey))) AS BIGINT) AS ok_lo,
                   CAST(floor(min(l_orderkey) + 0.375 * (max(l_orderkey) - min(l_orderkey))) AS BIGINT) AS ok_hi,
                   CAST(floor(min(l_partkey) + 0.25 * (max(l_partkey) - min(l_partkey))) AS BIGINT) AS pk_lo,
                   CAST(floor(min(l_partkey) + 0.375 * (max(l_partkey) - min(l_partkey))) AS BIGINT) AS pk_hi
            FROM lineitem
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(sum(l_orderkey) AS BIGINT) AS okey_sum,
               CAST(sum(l_partkey) AS BIGINT) AS pkey_sum
        FROM lineitem, b
        WHERE l_orderkey BETWEEN b.ok_lo AND b.ok_hi
          AND l_partkey  BETWEEN b.pk_lo AND b.pk_hi
    """,
    doc="Z-order clustering + 2-D box query (operators/zorder.py): lineitem "
        "rewritten sorted by the Morton interleave of (l_orderkey, "
        "l_partkey) — the OPTIMIZE ZORDER maintenance op; the reference's "
        "one-key analogue is the total-order partitioner feeding sorted "
        "MapFiles (MR/lib/TotalOrderPartitioner.java). Every staged file "
        "covers a tight hyper-rectangle in BOTH keys, so footer min/max "
        "stats prune files for predicates on either column "
        "(tests/test_plans.py quantifies: a partkey-only slab touches a "
        "fraction of z-ordered files but ALL linearly-sorted ones). The "
        "box aggregate itself is oracle-checked against the unclustered "
        "table — clustering must never change query results.",
    tags=("analytics", "storage", "zorder"),
)
def zorder_box_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.zorder import zorder_by
    from quatrain_mapreduce_spark.staging import staged

    li = spark.read.parquet(staged(sf_dir, "zorder16", lambda d: zorder_by(
        load_table(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey", n_files=16,
    ).write.parquet(d)))
    lo_o, hi_o, lo_p, hi_p = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).first()
    ok_lo = int(lo_o + 0.25 * (hi_o - lo_o))
    ok_hi = int(lo_o + 0.375 * (hi_o - lo_o))
    pk_lo = int(lo_p + 0.25 * (hi_p - lo_p))
    pk_hi = int(lo_p + 0.375 * (hi_p - lo_p))
    return (
        li.where(
            F.col("l_orderkey").between(ok_lo, ok_hi)
            & F.col("l_partkey").between(pk_lo, pk_hi)
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum("l_orderkey").alias("okey_sum"),
            F.sum("l_partkey").alias("pkey_sum"),
        )
    )


@register(
    "sketch_mergeable_rollup",
    oracle="""
        WITH per AS (
            SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY event_type
        ), tot AS (
            SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
        )
        SELECT event_type, n_exact, 1 AS hll_ok FROM per
        UNION ALL
        SELECT 'ALL' AS event_type, n_exact, 1 AS hll_ok FROM tot
    """,
    doc="Mergeable-sketch rollup (Datasketches HLL, Spark 4 "
        "hll_sketch_agg/hll_union/hll_sketch_estimate): per-event-type HLL "
        "sketches built once, then UNIONED — not rescanned — to answer the "
        "corpus-wide distinct-user count; both tiers gated against exact "
        "twins inside the query (oracle pins ok-flags to 1). This is the "
        "pre-aggregated-cube pattern that matters at 100 TB: sketches are "
        "algebraic state (map-side partials, persistable as a daily cube), "
        "so any rollup level is a cheap merge of stored binaries instead "
        "of a full rescan — the modern form of the reference's "
        "UniqValueCount ceiling (MR/lib/aggregate/UniqValueCount.java).",
    tags=("analytics", "sketch", "approx"),
)
def sketch_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
    )
    per_rows = per.select(
        "event_type",
        "n_exact",
        (
            (
                F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("n_exact"))
                / F.col("n_exact")
            )
            <= 0.05
        ).cast("int").alias("hll_ok"),
    )
    # rollup tier: merge the per-group sketches (NO rescan of events) and
    # gate the merged estimate against the exact global distinct
    total_exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    merged = per.agg(F.expr("hll_union_agg(sk)").alias("sk"))
    total_row = total_exact.crossJoin(merged).select(
        F.lit("ALL").alias("event_type"),
        "n_exact",
        (
            (
                F.abs(F.expr("hll_sketch_estimate(sk)") - F.col("n_exact"))
                / F.col("n_exact")
            )
            <= 0.05
        ).cast("int").alias("hll_ok"),
    )
    return per_rows.unionAll(total_row)


@register(
    "heavy_hitters_topk",
    oracle="""
        SELECT source AS item, CAST(count(*) AS BIGINT) AS cnt,
               CAST(row_number() OVER (ORDER BY count(*) DESC, source) AS INTEGER) AS rank
        FROM documents GROUP BY source
        QUALIFY rank <= 3
    """,
    doc="Heavy hitters (frequent-items sketch, Spark 4 approx_top_k): the "
        "domain/token frequency question every corpus-curation cap starts "
        "from. Sketch state is mergeable (map-side partials) and bounded by "
        "maxItemsTracked, not cardinality — the 100 TB path. Gate: with "
        "maxItemsTracked >= the column's distinct count the sketch "
        "degrades to exact (same construction as the IVF exactness gate), "
        "so the full sketch pipeline — accumulate, merge, extract, rank — "
        "must reproduce the exact top-3 with exact counts, hash-checked. "
        "Ties broken by item for determinism on the approx side too "
        "(equal-count items are re-ranked by a stable sort on the "
        "extracted array).",
    tags=("analytics", "sketch", "approx"),
)
def heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The exactness gate silently depends on distinct(source) fitting the
    # sketch budget — beyond it the sketch turns approximate and the exact
    # oracle mismatches with no hint why. Fail fast instead (one tiny agg
    # on a low-cardinality column; a production caller with unbounded
    # cardinality drops this guard and accepts approximate counts).
    budget = 8192
    n_distinct = docs.agg(F.countDistinct("source")).first()[0]
    if n_distinct > budget:
        raise ValueError(
            f"heavy_hitters_topk exactness gate: distinct(source)={n_distinct} "
            f"exceeds maxItemsTracked={budget}; the sketch would be "
            f"approximate and the exact-count oracle invalid"
        )
    # extract well past k: ties AT the k boundary are resolved arbitrarily
    # inside the sketch, so pull the whole (exact, budget >= cardinality)
    # frequency table and cut after the deterministic re-rank
    top = docs.agg(F.expr(f"approx_top_k(source, 64, {budget})").alias("tk"))
    flat = top.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"), F.col("e.count").alias("cnt")
    )
    # deterministic re-rank: approx_top_k orders ties arbitrarily; rank by
    # (count desc, item) so equal-count items hash identically cross-engine
    w = Window.orderBy(F.desc("cnt"), "item")
    return (
        flat.select("item", "cnt", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= 3)
    )


@register(
    "triangle_count",
    oracle=f"""
        WITH {CO_PURCHASE_EDGES_SQL}, tri AS (
            SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
            FROM e e1 JOIN e e2 ON e1.b = e2.a
                      JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
        ), verts AS (
            SELECT v1 AS vertex FROM tri
            UNION ALL SELECT v2 FROM tri
            UNION ALL SELECT v3 FROM tri
        )
        SELECT vertex, CAST(count(*) AS BIGINT) AS n_triangles
        FROM verts GROUP BY vertex
    """,
    doc="Distributed triangle counting (operators/graph.triangle_counts) "
        "over the co-purchase graph: users are adjacent when they purchased "
        "the same (k, epoch-day) item. Suri-Vassilvitskii node-iterator++: "
        "edges oriented low->high (degree, id) so wedge fan-out is bounded "
        "by O(sqrt(m)) per vertex regardless of celebrity-node skew — the "
        "naive id-ordered oracle formulation (used by DuckDB here, fine at "
        "oracle scale) blows up quadratically on a high-degree vertex. "
        "3 equi-key shuffles, no iteration, no driver state. The smallest "
        "query needing a join-of-a-join back on the edge set — beyond the "
        "reference's strictly binary join machinery (contrib/data_join).",
    tags=("graph", "analytics"),
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.graph import triangle_counts

    ev = load_table(spark, sf_dir, "events")
    edges = co_purchase_edges(ev)
    return triangle_counts(edges, "src", "dst")


@register(
    "session_path_mining",
    oracle="""
        WITH o AS (
            SELECT user_id AS u, event_type AS et, epoch_us(ts) AS e,
                   event_id,
                   lag(epoch_us(ts)) OVER w AS pe
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), f AS (
            SELECT *, CASE WHEN pe IS NULL OR e - pe > 28800000000
                           THEN 1 ELSE 0 END AS new_s
            FROM o
        ), s AS (
            SELECT *, sum(new_s) OVER (PARTITION BY u
                                       ORDER BY e, event_id) AS sid
            FROM f
        ), t AS (
            SELECT et || '>' || lead(et, 1) OVER w2
                      || '>' || lead(et, 2) OVER w2 AS path
            FROM s WINDOW w2 AS (PARTITION BY u, sid ORDER BY e, event_id)
        ), c AS (
            SELECT path, count(*) AS cnt FROM t
            WHERE path IS NOT NULL GROUP BY path
        )
        SELECT path, CAST(cnt AS BIGINT) AS cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, path) AS INT) AS rank
        FROM c QUALIFY rank <= 20
    """,
    doc="Sequential-pattern mining lite: top-20 within-session event-type "
        "trigram paths (8h gap sessions). Spark side uses ONE window "
        "(partitionBy user, orderBy ts,event_id) computing the new-session "
        "flag AND both leads — a trigram is valid iff neither of the next "
        "two events starts a new session, so the per-session window (and "
        "its second exchange on (user, session_id)) is never materialized. "
        "The oracle deliberately uses the independent two-window "
        "session_id formulation. One exchange + one sort + one "
        "map-combined count; the final rank window is single-partition "
        "but its input is the count table, bounded by |event_types|^3 "
        "path vocabulary — never the corpus.",
    tags=("analytics", "sessions", "sequence"),
)
def session_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros("ts")
    gap_us = 8 * 3600 * 1_000_000
    new_s = F.when(
        F.lag(ep).over(w).isNull() | ((ep - F.lag(ep).over(w)) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    flagged = ev.select(
        "user_id", "ts", "event_id", F.col("event_type").alias("et")
    ).withColumn("new_s", new_s)
    trigram = flagged.select(
        F.concat_ws(
            ">", "et", F.lead("et", 1).over(w), F.lead("et", 2).over(w)
        ).alias("path"),
        F.lead("new_s", 1).over(w).alias("n1"),
        F.lead("new_s", 2).over(w).alias("n2"),
    ).where((F.col("n1") == 0) & (F.col("n2") == 0))
    counts = trigram.groupBy("path").agg(F.count("*").alias("cnt"))
    rank_w = Window.orderBy(F.desc("cnt"), "path")
    return counts.select(
        "path", "cnt", F.row_number().over(rank_w).alias("rank")
    ).where(F.col("rank") <= 20)


@register(
    "anomaly_mad",
    oracle="""
        WITH c AS (
            SELECT event_type, event_id,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ), med AS (
            SELECT event_type,
                   CAST(2 * median(cents) AS BIGINT) AS med2x
            FROM c GROUP BY event_type
        ), dev AS (
            SELECT c.event_type, c.event_id,
                   abs(2 * c.cents - med.med2x) AS dev2x
            FROM c JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type,
                   CAST(2 * median(dev2x) AS BIGINT) AS mad4x
            FROM dev GROUP BY event_type
        )
        SELECT dev.event_type,
               min(med.med2x) AS med2x,
               min(mad.mad4x) AS mad4x,
               CAST(count(*) FILTER (WHERE 2 * dev2x > 5 * mad4x) AS BIGINT)
                 AS n_outliers,
               CAST(coalesce(sum(event_id)
                             FILTER (WHERE 2 * dev2x > 5 * mad4x), 0)
                    AS BIGINT) AS outlier_id_sum,
               CAST(count(*) AS BIGINT) AS n_total
        FROM dev JOIN med USING (event_type) JOIN mad USING (event_type)
        GROUP BY dev.event_type
    """,
    doc="Robust anomaly detection: per event_type, flag |value - median| > "
        "5 * MAD. ALL arithmetic is exact: values become integer cents at "
        "the scan, medians live in doubled-integer space (2x median of "
        "ints is always an integer, even for even-count interpolation), "
        "and the flag test 2*dev2x > 5*mad4x is a pure integer comparison "
        "— zero float-boundary risk, so outlier MEMBERSHIP (pinned by "
        "outlier_id_sum) hashes identically across engines. Spark's "
        "percentile() is the exact interpolating aggregate matching "
        "DuckDB's median(); at 100 TB swap both median passes for the "
        "merge-able histogram trick (adaptive_quality_filter) or "
        "approx_percentile — the two medians per group are the only "
        "non-sketchable state here. Two group-aggs + two broadcast-sized "
        "joins back; the corpus is scanned once.",
    tags=("analytics", "anomaly", "robust-stats"),
)
def anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    med = c.groupBy("event_type").agg(
        (2 * F.expr("percentile(cents, 0.5)")).cast("bigint").alias("med2x")
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", "med2x",
        F.abs(2 * F.col("cents") - F.col("med2x")).alias("dev2x"),
    )
    mad = dev.groupBy("event_type").agg(
        (2 * F.expr("percentile(dev2x, 0.5)")).cast("bigint").alias("mad4x")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    is_out = (2 * F.col("dev2x")) > (5 * F.col("mad4x"))
    return flagged.groupBy("event_type").agg(
        F.min("med2x").alias("med2x"),
        F.min("mad4x").alias("mad4x"),
        F.count(F.when(is_out, 1)).alias("n_outliers"),
        F.coalesce(
            F.sum(F.when(is_out, F.col("event_id"))), F.lit(0)
        ).cast("bigint").alias("outlier_id_sum"),
        F.count("*").alias("n_total"),
    )


@register(
    "anomaly_mad_approx",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ), med AS (
            SELECT event_type,
                   CAST(2 * median(cents) AS BIGINT) AS med2x,
                   CAST(count(*) AS BIGINT) AS n_total
            FROM c GROUP BY event_type
        ), dev AS (
            SELECT c.event_type,
                   abs(2 * c.cents - med.med2x) AS dev2x
            FROM c JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type,
                   CAST(2 * median(dev2x) AS BIGINT) AS mad4x
            FROM dev GROUP BY event_type
        )
        SELECT med.event_type, med.med2x, mad.mad4x, med.n_total,
               1 AS med_ok, 1 AS mad_ok
        FROM med JOIN mad USING (event_type)
    """,
    doc="The DEMONSTRATED 100 TB swap for anomaly_mad (VERDICT r6 "
        "directive #2): both median passes replaced by percentile_approx "
        "(KLL-style mergeable quantile sketch, accuracy=2000: rank error "
        "0.05%, 100x inside the 5% gate; at accuracy=10000 the sketch's "
        "per-row update CPU measurably exceeds exact percentile at local "
        "scale while 2000 matches it — see SCALING.md's honest-slope "
        "note; the swap's 100 TB win is BOUNDED MEMORY, not local wall) — "
        "single-pass map-combinable partial state, where exact "
        "percentile() must materialize every group's full value list at "
        "one reducer. The registered query is the acceptance harness: the "
        "exact and sketch pipelines run side by side (sketch deviations "
        "measured against the SKETCH median, so the whole approx pipeline "
        "is end-to-end), the oracle pins med_ok/mad_ok to 1, and a sketch "
        "median drifting past 5% (MAD: 10%, compounded error) turns the "
        "driver row red. Production runs the sketch half alone; slope vs "
        "exact in SCALING.md.",
    tags=("analytics", "anomaly", "robust-stats", "approx", "sketch"),
)
def anomaly_mad_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    med = c.groupBy("event_type").agg(
        (2 * F.expr("percentile(cents, 0.5)")).cast("bigint").alias("med2x"),
        (2 * F.percentile_approx("cents", 0.5, 2000)).alias("amed2x"),
        F.count("*").alias("n_total"),
    )
    dev = c.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.abs(2 * F.col("cents") - F.col("med2x")).alias("dev2x"),
        F.abs(2 * F.col("cents") - F.col("amed2x")).alias("adev2x"),
    )
    mad = dev.groupBy("event_type").agg(
        (2 * F.expr("percentile(dev2x, 0.5)")).cast("bigint").alias("mad4x"),
        (2 * F.percentile_approx("adev2x", 0.5, 2000)).alias("amad4x"),
    )
    return med.join(mad, "event_type").select(
        "event_type", "med2x", "mad4x", "n_total",
        (
            F.abs(F.col("amed2x") - F.col("med2x"))
            <= 0.05 * F.abs(F.col("med2x")) + 4
        ).cast("int").alias("med_ok"),
        (
            F.abs(F.col("amad4x") - F.col("mad4x"))
            <= 0.10 * F.abs(F.col("mad4x")) + 8
        ).cast("int").alias("mad_ok"),
    )


@register(
    "incremental_rollup_merge",
    oracle="""
        SELECT user_id, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS sum_cents
        FROM events
        GROUP BY user_id, event_type
    """,
    doc="Incremental rollup maintenance — the exact-aggregate twin of "
        "sketch_mergeable_rollup's HLL tiering: a staged 'nightly' rollup "
        "(events before day 20, aggregated once and persisted as parquet) "
        "is MERGED with the fresh-delta aggregate (events at/after the "
        "cutoff) by summing the partial counts/sums — history is never "
        "rescanned. The oracle recomputes the whole aggregate flat from "
        "the raw table, proving merge == rescan. Sums are exact integer "
        "cents. At 100 TB the staged side is date-partitioned and the "
        "serving query touches yesterday's rollup + today's partition "
        "only; count/sum/min/max are the mergeable-exact aggregates, "
        "avg derives from (sum, count), distinct-count needs the HLL "
        "sketch tier.",
    tags=("analytics", "rollup", "incremental"),
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.staging import staged

    cutoff_us = 19743 * 86_400_000_000  # 2024-01-21 00:00 UTC, day 20 of 30
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")

    def agg_slice(df):
        return df.groupBy("user_id", "event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )

    history = spark.read.parquet(staged(sf_dir, "rollup20", lambda d: agg_slice(
        load_table(spark, sf_dir, "events").where(F.unix_micros("ts") < cutoff_us)
    ).write.parquet(d)))
    delta = agg_slice(
        load_table(spark, sf_dir, "events").where(
            F.unix_micros("ts") >= cutoff_us
        )
    )
    return (
        history.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_cents").alias("sum_cents"),
        )
    )


@register(
    "missing_hours",
    oracle="""
        WITH hrs AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS h
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT min(h) AS lo, max(h) AS hi FROM hrs
        ), grid AS (
            SELECT t.event_type, g.h
            FROM (SELECT DISTINCT event_type FROM events) t,
                 (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) g
        ), missing AS (
            SELECT g.event_type, g.h
            FROM grid g LEFT JOIN hrs ON g.event_type = hrs.event_type
                                     AND g.h = hrs.h
            WHERE hrs.h IS NULL
        )
        SELECT t.event_type,
               CAST(coalesce(m.n_missing, 0) AS BIGINT) AS n_missing,
               CAST(coalesce(m.missing_hour_sum, 0) AS BIGINT)
                 AS missing_hour_sum,
               CAST((SELECT hi - lo + 1 FROM bounds) AS BIGINT) AS n_expected
        FROM (SELECT DISTINCT event_type FROM events) t
        LEFT JOIN (SELECT event_type, count(*) AS n_missing,
                          sum(h) AS missing_hour_sum
                   FROM missing GROUP BY 1) m
          ON t.event_type = m.event_type
    """,
    doc="Heartbeat / missing-data detection over event time: for every "
        "event_type, which hour buckets inside the global observed span "
        "saw ZERO events. The hour grid is GENERATED distributed "
        "(sequence + explode of the 1-row bounds aggregate cross-joined "
        "with the tiny distinct-type table — never a driver loop), then "
        "anti-joined against observed (type, hour) pairs; "
        "missing_hour_sum pins exactly WHICH hours are absent, not just "
        "how many. Integer epoch-hour arithmetic throughout "
        "(timezone-proof). The observed side is a map-combined DISTINCT "
        "of (type, hour) — corpus-linear, collapses before any join; the "
        "grid side is O(types x hours), independent of corpus size.",
    tags=("analytics", "quality", "temporal"),
)
def missing_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    h = F.expr("unix_micros(ts) div 3600000000")
    hrs = ev.select("event_type", h.alias("h")).distinct()
    bounds = hrs.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(
        bounds.select(
            F.explode(F.sequence("lo", "hi")).alias("h"), "lo", "hi"
        )
    )
    missing = grid.join(hrs, ["event_type", "h"], "left_anti")
    per_type = missing.groupBy("event_type").agg(
        F.count("*").alias("n_missing"),
        F.sum("h").alias("missing_hour_sum"),
    )
    span = bounds.select((F.col("hi") - F.col("lo") + 1).alias("n_expected"))
    return (
        types.join(per_type, "event_type", "left")
        .crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.coalesce("n_missing", F.lit(0)).cast("bigint").alias("n_missing"),
            F.coalesce("missing_hour_sum", F.lit(0)).cast("bigint")
              .alias("missing_hour_sum"),
            F.col("n_expected").cast("bigint"),
        )
    )


@register(
    "chi_square_type_hour",
    oracle="""
        WITH cells AS (
            SELECT event_type,
                   (epoch_us(ts) % 86400000000 + 86400000000)
                     % 86400000000 // 3600000000 AS hb,
                   CAST(count(*) AS BIGINT) AS o
            FROM events GROUP BY 1, 2
        ), rows_t AS (
            SELECT event_type, CAST(sum(o) AS BIGINT) AS row_n
            FROM cells GROUP BY 1
        ), cols_t AS (
            SELECT hb, CAST(sum(o) AS BIGINT) AS col_n FROM cells GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
        )
        SELECT c.event_type,
               CAST(count(*) AS BIGINT) AS n_cells,
               round(sum(
                   (CAST(c.o AS DOUBLE)
                    - CAST(r.row_n AS DOUBLE) * CAST(k.col_n AS DOUBLE)
                      / CAST(t.n AS DOUBLE))
                   * (CAST(c.o AS DOUBLE)
                      - CAST(r.row_n AS DOUBLE) * CAST(k.col_n AS DOUBLE)
                        / CAST(t.n AS DOUBLE))
                   / (CAST(r.row_n AS DOUBLE) * CAST(k.col_n AS DOUBLE)
                      / CAST(t.n AS DOUBLE))
               ), 4) AS chi2_contrib
        FROM cells c
        JOIN rows_t r USING (event_type)
        JOIN cols_t k USING (hb)
        CROSS JOIN tot t
        GROUP BY c.event_type
    """,
    doc="Chi-square independence test, event_type x hour-of-day: per-type "
        "contribution to the chi2 statistic over the 5x24 contingency "
        "table (sum = the test statistic; df = (r-1)(c-1)). The corpus "
        "term is ONE map-combined (type, hour) count — everything after "
        "(marginals, expected counts, the (o-e)^2/e sum) runs on the "
        "|types|x|hours|-row cell table, broadcast-joined. Expected "
        "counts are the identical double expression tree on both "
        "engines (integer marginals -> same IEEE ops), rounded 4dp at "
        "the end only. Integer epoch-hour bucketing, timezone-proof.",
    tags=("analytics", "statistics"),
)
def chi_square_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr(sql_hour_of_day_us("unix_micros(ts)")).alias("hb"),
        )
        .groupBy("event_type", "hb")
        .agg(F.count("*").alias("o"))
    )
    rows_t = cells.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    cols_t = cells.groupBy("hb").agg(F.sum("o").alias("col_n"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    joined = (
        cells.join(F.broadcast(rows_t), "event_type")
        .join(F.broadcast(cols_t), "hb")
        .crossJoin(F.broadcast(tot))
    )
    d = F.col("o").cast("double") - e
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_cells"),
        F.round(F.sum(d * d / e), 4).alias("chi2_contrib"),
    )


@register(
    "graph_bfs_reach",
    oracle=f"""
        WITH RECURSIVE {CO_PURCHASE_EDGES_SQL}, s AS (
            SELECT min(a) AS sv FROM e
        ), walk AS (
            SELECT sv AS v, 0 AS d FROM s
            UNION
            SELECT CASE WHEN e.a = walk.v THEN e.b ELSE e.a END,
                   walk.d + 1
            FROM walk JOIN e ON e.a = walk.v OR e.b = walk.v
            WHERE walk.d < 3
        )
        SELECT v AS vertex, CAST(min(d) AS INT) AS dist
        FROM walk GROUP BY v
    """,
    doc="Bounded-hop BFS (operators/graph.bfs_distances) from the "
        "minimum-id vertex of the co-purchase graph: every user within 3 "
        "hops with their shortest-path distance. Frontier iteration "
        "unrolled 3x — each hop joins the CURRENT FRONTIER only against "
        "the edge list and anti-joins the visited set, so per-hop cost is "
        "frontier-adjacent edges (the BFS work bound), one checkpointed "
        "superstep per hop; the data-derived source "
        "vertex stays inside the plan (no collect). The oracle is "
        "DuckDB's recursive CTE, the same independent formulation the "
        "dedup_components family is held to. Completes the graph tier: "
        "connectivity (components), cohesion (triangles), centrality "
        "(textrank), reachability (this).",
    tags=("graph", "analytics"),
)
def graph_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.graph import bfs_distances

    ev = load_table(spark, sf_dir, "events")
    edges = co_purchase_edges(ev)
    source = edges.agg(F.min("src"))
    return bfs_distances(edges, source, max_hops=3)


@register(
    "trend_slope",
    oracle="""
        WITH p AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000
                     - (SELECT min(epoch_us(ts) // 3600000000) FROM events)
                     AS x,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
            FROM events
        ), s AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM p GROUP BY event_type
        )
        SELECT event_type, n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6)
                 AS slope_cents_per_hour
        FROM s
    """,
    doc="Per-type least-squares trend of value over time — regression as "
        "an EXACT-integer-sums aggregate: slope = (nΣxy − ΣxΣy)/(nΣxx − "
        "ΣxΣx) where x is the hour offset from the global min (keeps all "
        "products within BIGINT range) and y is integer cents; the only "
        "float operation is ONE final division of identical BIGINT "
        "operands, so results are bit-identical across engines before "
        "the cosmetic 6dp round. Spark's built-in regr_slope would "
        "accumulate FLOAT covariance partials in partition order — "
        "correct but ulp-nondeterministic; the integer-moments "
        "formulation is the map-combinable, order-independent form, and "
        "is exactly how a 100 TB regression should be sharded (five "
        "BIGINT partials per group, one merge).",
    tags=("analytics", "statistics", "regression"),
)
def trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.agg(
        F.min(F.expr("unix_micros(ts) div 3600000000")).alias("h0")
    )
    p = ev.crossJoin(F.broadcast(base)).select(
        "event_type",
        (F.expr("unix_micros(ts) div 3600000000") - F.col("h0")).alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("y"),
    )
    s = p.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        "event_type", "n",
        F.round(num / den, 6).alias("slope_cents_per_hour"),
    )


@register(
    "trimmed_mean",
    oracle="""
        WITH c AS (
            SELECT event_type,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ), b AS (
            SELECT event_type,
                   quantile_cont(cents, 0.1) AS lo,
                   quantile_cont(cents, 0.9) AS hi
            FROM c GROUP BY event_type
        )
        SELECT c.event_type,
               CAST(count(*) FILTER (WHERE cents >= lo AND cents <= hi)
                    AS BIGINT) AS n_kept,
               CAST(count(*) AS BIGINT) AS n_total,
               round(CAST(sum(cents) FILTER (WHERE cents >= lo
                                             AND cents <= hi) AS DOUBLE)
                     / count(*) FILTER (WHERE cents >= lo AND cents <= hi)
                     / 100, 4) AS trimmed_mean
        FROM c JOIN b USING (event_type)
        GROUP BY c.event_type
    """,
    doc="10% trimmed mean per event_type — the robust-location companion "
        "to anomaly_mad's robust-scale: values inside [p10, p90] averaged, "
        "tails discarded. Integer-cents arithmetic end to end; the "
        "interpolated decile bounds are identical double expressions on "
        "both engines (Spark percentile == DuckDB quantile_cont on the "
        "same integers), so boundary MEMBERSHIP — the usual float trap "
        "in trimmed statistics — is deterministic; the mean is one exact "
        "integer-ratio division rounded 4dp. Two group passes (bounds, "
        "then filtered sum), both map-combinable, bounds broadcast back.",
    tags=("analytics", "robust-stats"),
)
def trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    b = c.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.1)").alias("lo"),
        F.expr("percentile(cents, 0.9)").alias("hi"),
    )
    inside = (F.col("cents") >= F.col("lo")) & (F.col("cents") <= F.col("hi"))
    return (
        c.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.when(inside, 1)).alias("n_kept"),
            F.count("*").alias("n_total"),
            F.round(
                F.sum(F.when(inside, F.col("cents"))).cast("double")
                / F.count(F.when(inside, 1))
                / 100,
                4,
            ).alias("trimmed_mean"),
        )
    )


def _edge_h16_sql() -> str:
    from quatrain_mapreduce_spark.operators.curation import portable_h16_sql

    # portable hash of the canonical edge key (a < b, ids < ~1e6)
    return portable_h16_sql("(a * 1000000 + b)")


@register(
    "triangle_count_sampled",
    oracle=f"""
        WITH {CO_PURCHASE_EDGES_SQL}, s AS (
            SELECT a, b FROM e
            WHERE {_edge_h16_sql()} % 4 = 0
        ), tri AS (
            SELECT count(*) AS t
            FROM s e1 JOIN s e2 ON e1.b = e2.a
                      JOIN s e3 ON e1.a = e3.a AND e2.b = e3.b
        )
        SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_sampled_edges,
               CAST(t AS BIGINT) AS tri_sampled,
               CAST(t * 64 AS BIGINT) AS tri_estimate
        FROM tri
    """,
    doc="DOULION sampled triangle counting (Tsourakakis KDD'09): count "
        "triangles on a p=1/4 edge sample, scale by 1/p^3 = 64 — the "
        "approximate SCALE PATH for exact triangle_count, whose wedge "
        "work is infeasible on the densified sf1 graph (SCALING.md). "
        "Sampling is the portable md5-nibble hash of the canonical edge "
        "key — deterministic and engine-identical, so unlike classic "
        "randomized DOULION the sampled subgraph (and hence the exact "
        "count ON the sample) is fully oracle-checkable; the estimate "
        "is a deterministic transform of it. Same degree-oriented "
        "counting kernel on the sample; sampling cuts wedge work by "
        "~1/p^2 and the estimator is unbiased with variance shrinking "
        "as triangles grow — the standard trade at 100 TB graph scale.",
    tags=("graph", "analytics", "approx"),
)
def triangle_count_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.graph import derive_once, triangle_counts

    def estimate(sampled: DataFrame) -> DataFrame:
        per_vertex = triangle_counts(
            sampled.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        )
        tri = per_vertex.agg(
            F.coalesce(F.floor(F.sum("n_triangles") / 3), F.lit(0))
            .cast("bigint").alias("t")
        )
        n_edges = sampled.agg(F.count("*").alias("n"))
        return n_edges.crossJoin(tri).select(
            F.col("n").cast("bigint").alias("n_sampled_edges"),
            F.col("t").alias("tri_sampled"),
            (F.col("t") * 64).cast("bigint").alias("tri_estimate"),
        )

    ev = load_table(spark, sf_dir, "events")
    edges = co_purchase_edges(ev).select(
        F.col("src").alias("a"), F.col("dst").alias("b"))
    # the sample feeds the triangle tier and the edge count: derived once
    return derive_once(estimate, edges.where(F.expr(_edge_h16_sql() + " % 4 = 0")))


@register(
    "skew_diagnosis",
    oracle="""
        WITH k AS (
            SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS cnt
            FROM orders GROUP BY o_custkey
        ), s AS (
            SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(max(cnt) AS BIGINT) AS max_cnt
            FROM k
        )
        SELECT key, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INTEGER)
                 AS rank,
               s.n_keys, s.n_rows,
               floor(s.max_cnt * s.n_keys / CAST(s.n_rows AS DOUBLE) * 10000
                     + 0.5) / 10000 AS skew_factor
        FROM k CROSS JOIN s
        QUALIFY rank <= 10
    """,
    doc="Shuffle-key skew diagnosis — the pre-flight every big join/agg "
        "needs at 100 TB: per-key cardinality profile of a prospective "
        "shuffle key (o_custkey), reporting the 10 heaviest keys with "
        "deterministic tie-break plus the global skew factor "
        "(max_cnt / mean_cnt = max_cnt * n_keys / n_rows). A skew factor "
        "near 1 means hash partitions balance; >> 1 names the exact keys "
        "to salt (salted_join_orders / salted_agg are the fix this tool "
        "prescribes). Plan: one map-combinable count agg, "
        "TakeOrderedAndProject for the top-10 (never a full sort), and "
        "the 1-row stats frame broadcast back. The skew factor is one "
        "int-to-double division rounded portably (floor(x*1e4+0.5)).",
    tags=("analytics", "ops", "skew"),
)
def skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    s = k.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    top = (
        k.orderBy(F.col("cnt").desc(), "key").limit(10)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), "key")
            ),
        )
    )
    return top.crossJoin(F.broadcast(s)).select(
        "key", "cnt", "rank", "n_keys", "n_rows",
        (F.floor(F.col("max_cnt") * F.col("n_keys")
                 / F.col("n_rows").cast("double") * 10000 + F.lit(0.5))
         / 10000).alias("skew_factor"),
    )


@register(
    "window_value_funcs",
    oracle="""
        SELECT o_orderkey, o_custkey,
               nth_value(price, 2) OVER w AS second_price,
               first_value(price IGNORE NULLS) OVER w AS first_known,
               last_value(price IGNORE NULLS) OVER w AS last_known,
               lag(price, 1, -1.0) OVER w AS prev_or_default
        FROM (
            SELECT o_orderkey, o_custkey, o_orderdate,
                   CASE WHEN o_orderstatus = 'P' THEN NULL
                        ELSE round(o_totalprice, 2) END AS price
            FROM orders
        )
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Value-window-function breadth — the OVER-clause surface "
        "window_funcs (navigation) and window_distribution (rank family) "
        "don't reach: nth_value over a running frame, first_value/"
        "last_value with IGNORE NULLS (the gap-fill primitive "
        "resample_ffill builds on), and lag with an explicit DEFAULT "
        "(fires only past the partition edge, NOT on NULL inputs — a "
        "semantic both engines share and this query pins). The nullable "
        "price column is synthesized deterministically (status='P' -> "
        "NULL) so null-skipping paths actually exercise. ONE hash "
        "exchange + one sort serves all four functions; the frame is "
        "running (unbounded preceding..current), the same incremental "
        "evaluation class as the sessionize windows.",
    tags=("analytics", "window"),
)
def window_value_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.when(F.col("o_orderstatus") == "P", F.lit(None).cast("double"))
         .otherwise(F.round("o_totalprice", 2)).alias("price"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "o_orderkey", "o_custkey",
        F.nth_value("price", 2).over(w).alias("second_price"),
        F.first("price", ignorenulls=True).over(w).alias("first_known"),
        F.last("price", ignorenulls=True).over(w).alias("last_known"),
        F.lag("price", 1, -1.0).over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("prev_or_default"),
    )


@register(
    "feature_scaling",
    oracle="""
        WITH c AS (
            SELECT event_type, event_id,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events
        ), stats AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS HUGEINT) AS s1,
                   CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2,
                   CAST(min(cents) AS BIGINT) AS mn,
                   CAST(max(cents) AS BIGINT) AS mx
            FROM c GROUP BY event_type
        )
        SELECT c.event_type, c.event_id,
               floor((c.cents * CAST(stats.n AS DOUBLE) - CAST(stats.s1 AS DOUBLE))
                     / sqrt(CAST(stats.n AS DOUBLE)
                            * CAST(stats.n * s2 - s1 * s1 AS DOUBLE))
                     * 10000 + 0.5) / 10000 AS zscore,
               CASE WHEN stats.mx = stats.mn THEN 0.5
                    ELSE floor((c.cents - stats.mn) * 1000000.0
                               / (stats.mx - stats.mn) + 0.5) / 1000000
               END AS minmax,
               CAST(ntile(10) OVER (PARTITION BY c.event_type
                                    ORDER BY c.cents, c.event_id)
                    AS INTEGER) AS decile
        FROM c JOIN stats USING (event_type)
    """,
    doc="Per-group feature scaling — the standardization pass an ML "
        "pipeline runs before training: z-score, min-max, and equi-depth "
        "decile of event value within event_type, all in one broadcast of "
        "a 5-aggregate stats frame plus one window exchange. Exactness "
        "discipline: moments accumulate as EXACT wide integers (sum and "
        "sum-of-squares of integer cents — decimal(38) on the Spark side, "
        "HUGEINT in DuckDB; cents^2 x corpus overflows int64 at sf1+, "
        "which is why bare bigint sums would be a latent 100 TB bug), so "
        "mean/variance reduce to single IEEE divisions and the z-score "
        "formula z = (x*n - s1) / sqrt(n*(n*s2 - s1^2)) is evaluated on "
        "integer-valued doubles — portable-rounded 4dp. Deciles break "
        "ties by event_id so bucket membership is deterministic.",
    tags=("analytics", "features", "ml"),
)
def feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type", "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    dec = F.col("cents").cast("decimal(38,0)")
    stats = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec).alias("s1"),
        F.sum(dec * dec).alias("s2"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    )
    j = c.join(F.broadcast(stats), "event_type")
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    var_term = (F.col("n").cast("decimal(38,0)") * F.col("s2")
                - F.col("s1") * F.col("s1")).cast("double")
    z = (F.col("cents") * nd - s1d) / F.sqrt(nd * var_term)
    minmax = F.when(F.col("mx") == F.col("mn"), F.lit(0.5)).otherwise(
        F.floor((F.col("cents") - F.col("mn")) * F.lit(1000000.0)
                / (F.col("mx") - F.col("mn")) + F.lit(0.5)) / 1000000
    )
    from pyspark.sql import Window as W
    wd = W.partitionBy("event_type").orderBy("cents", "event_id")
    return j.select(
        "event_type", "event_id",
        (F.floor(z * 10000 + F.lit(0.5)) / 10000).alias("zscore"),
        minmax.alias("minmax"),
        F.ntile(10).over(wd).alias("decile"),
    )


@register(
    "correlation_matrix",
    oracle="""
        WITH c AS (
            SELECT CAST(floor(l_quantity * 100 + 0.5) AS HUGEINT) AS q,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT) AS p,
                   CAST(floor(l_discount * 100 + 0.5) AS HUGEINT) AS d
            FROM lineitem
        ), m AS (
            SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(q) AS sq, sum(p) AS sp, sum(d) AS sd,
                   sum(q * q) AS sqq, sum(p * p) AS spp, sum(d * d) AS sdd,
                   sum(q * p) AS sqp, sum(q * d) AS sqd, sum(p * d) AS spd
            FROM c
        )
        SELECT pair,
               floor(CAST(num AS DOUBLE)
                     / sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))
                     * 1000000 + 0.5) / 1000000 AS corr
        FROM (
            SELECT 'quantity_price' AS pair,
                   n * sqp - sq * sp AS num,
                   n * sqq - sq * sq AS vx, n * spp - sp * sp AS vy FROM m
            UNION ALL
            SELECT 'quantity_discount', n * sqd - sq * sd,
                   n * sqq - sq * sq, n * sdd - sd * sd FROM m
            UNION ALL
            SELECT 'price_discount', n * spd - sp * sd,
                   n * spp - sp * sp, n * sdd - sd * sd FROM m
        )
    """,
    doc="One-pass Pearson correlation matrix over lineitem's numeric "
        "columns — the EDA primitive behind feature selection. ALL ten "
        "moments (n, 3 sums, 3 squares, 3 cross-products) accumulate in "
        "ONE aggregate over ONE scan as exact wide integers (decimal(38) "
        "/ HUGEINT — the cross-products overflow int64 at scale, the "
        "feature_scaling lesson), so each correlation reduces to one IEEE "
        "expression on integer-valued doubles, portably rounded 6dp. "
        "Spark's built-in corr() is the float-accumulation shortcut this "
        "query deliberately avoids for engine-comparable exactness; at "
        "100 TB both are single-pass map-combinable.",
    tags=("analytics", "statistics", "ml"),
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
         .cast("decimal(38,0)").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
         .cast("decimal(38,0)").alias("p"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
         .cast("decimal(38,0)").alias("d"),
    )
    m = c.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("q").alias("sq"), F.sum("p").alias("sp"), F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("p") * F.col("d")).alias("spd"),
    )

    def row(pair, num, vx, vy):
        corr = (
            F.floor(
                num.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double"))
                * 1000000 + F.lit(0.5)
            ) / 1000000
        )
        return F.struct(F.lit(pair).alias("pair"), corr.alias("corr"))

    n, sq, sp, sd = F.col("n"), F.col("sq"), F.col("sp"), F.col("sd")
    vq, vp, vd = (n * F.col("sqq") - sq * sq, n * F.col("spp") - sp * sp,
                  n * F.col("sdd") - sd * sd)
    return m.select(
        F.explode(F.array(
            row("quantity_price", n * F.col("sqp") - sq * sp, vq, vp),
            row("quantity_discount", n * F.col("sqd") - sq * sd, vq, vd),
            row("price_discount", n * F.col("spd") - sp * sd, vp, vd),
        )).alias("r")
    ).select("r.pair", "r.corr")


@register(
    "ks_test_values",
    oracle="""
        WITH c AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
            FROM events WHERE event_type IN ('click', 'purchase')
        ), tot AS (
            SELECT CAST(sum(is_a) AS BIGINT) AS na,
                   CAST(count(*) - sum(is_a) AS BIGINT) AS nb
            FROM c
        ), pts AS (
            SELECT cents,
                   CAST(sum(is_a) AS BIGINT) AS a_here,
                   CAST(count(*) - sum(is_a) AS BIGINT) AS b_here
            FROM c GROUP BY cents
        ), cum AS (
            SELECT cents,
                   CAST(sum(a_here) OVER (ORDER BY cents) AS BIGINT) AS ca,
                   CAST(sum(b_here) OVER (ORDER BY cents) AS BIGINT) AS cb
            FROM pts
        )
        SELECT tot.na, tot.nb,
               CAST(max(abs(cum.ca * tot.nb - cum.cb * tot.na)) AS BIGINT)
                 AS d_num,
               floor(max(abs(cum.ca * tot.nb - cum.cb * tot.na))
                     / CAST(tot.na * tot.nb AS DOUBLE) * 1000000 + 0.5)
                 / 1000000 AS d_stat
        FROM cum CROSS JOIN tot
        GROUP BY tot.na, tot.nb
    """,
    doc="Two-sample Kolmogorov-Smirnov test between the click and "
        "purchase value distributions — the NUMERIC drift companion to "
        "token_drift_kl (categorical) and chi_square_type_hour "
        "(contingency). The D statistic is computed in PURE INTEGER "
        "arithmetic: ECDF differences ride as |ca*nb - cb*na| (exact "
        "bigints; ca*nb tops out ~1e10 at sf1), the max is an integer, "
        "and ONE final division produces D — no float ECDF accumulation "
        "anywhere, so the oracle pins the exact supremum point count, "
        "not a rounded trace. Plan: one scan -> per-value conditional "
        "counts (map-combinable) -> one running-sum window over the "
        "DISTINCT-value table (bounded by value cardinality, not corpus) "
        "-> global max agg.",
    tags=("analytics", "statistics", "drift"),
)
def ks_test_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type").isin("click", "purchase")).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("event_type") == "click").cast("int").alias("is_a"),
    )
    tot = c.agg(
        F.sum("is_a").cast("bigint").alias("na"),
        (F.count("*") - F.sum("is_a")).cast("bigint").alias("nb"),
    )
    pts = c.groupBy("cents").agg(
        F.sum("is_a").cast("bigint").alias("a_here"),
        (F.count("*") - F.sum("is_a")).cast("bigint").alias("b_here"),
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = pts.select(
        "cents",
        F.sum("a_here").over(w).cast("bigint").alias("ca"),
        F.sum("b_here").over(w).cast("bigint").alias("cb"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    diff = F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))
    return j.groupBy("na", "nb").agg(
        F.max(diff).cast("bigint").alias("d_num"),
        (F.floor(
            F.max(diff) / (F.col("na") * F.col("nb")).cast("double")
            * 1000000 + F.lit(0.5)
        ) / 1000000).alias("d_stat"),
    )


AUC_ORACLE = """
        WITH c AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
            FROM events WHERE event_type IN ('click', 'purchase')
        ), tot AS (
            SELECT CAST(sum(is_p) AS BIGINT) AS np,
                   CAST(count(*) - sum(is_p) AS BIGINT) AS nn
            FROM c
        ), pts AS (
            SELECT cents,
                   CAST(sum(is_p) AS BIGINT) AS p_here,
                   CAST(count(*) - sum(is_p) AS BIGINT) AS n_here
            FROM c GROUP BY cents
        ), cum AS (
            SELECT cents, p_here, n_here,
                   CAST(coalesce(sum(n_here) OVER (
                       ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS n_below
            FROM pts
        )
        SELECT tot.np, tot.nn,
               CAST(sum(cum.p_here * (2 * cum.n_below + cum.n_here))
                    AS BIGINT) AS auc_num2,
               floor(sum(cum.p_here * (2 * cum.n_below + cum.n_here))
                     / CAST(2 * tot.np * tot.nn AS DOUBLE)
                     * 1000000 + 0.5) / 1000000 AS auc
        FROM cum CROSS JOIN tot
        GROUP BY tot.np, tot.nn
    """


def auc_value_counts(ev: DataFrame) -> DataFrame:
    """Per-score conditional counts — AUC's mergeable partial state
    (additive across data slices / micro-batches)."""
    c = ev.where(F.col("event_type").isin("click", "purchase")).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    return c.groupBy("cents").agg(
        F.sum("is_p").cast("bigint").alias("p_here"),
        (F.count("*") - F.sum("is_p")).cast("bigint").alias("n_here"),
    )


def auc_from_counts(pts: DataFrame) -> DataFrame:
    """Finish the Mann-Whitney statistic from accumulated value counts."""
    from pyspark.sql import Window as W

    tot = pts.agg(
        F.sum("p_here").cast("bigint").alias("np"),
        F.sum("n_here").cast("bigint").alias("nn"),
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    cum = pts.select(
        "p_here", "n_here",
        F.coalesce(F.sum("n_here").over(w), F.lit(0))
         .cast("bigint").alias("n_below"),
    )
    num2 = F.sum(F.col("p_here") * (2 * F.col("n_below") + F.col("n_here")))
    j = cum.crossJoin(F.broadcast(tot))
    return j.groupBy("np", "nn").agg(
        num2.cast("bigint").alias("auc_num2"),
        (F.floor(
            num2 / (2 * F.col("np") * F.col("nn")).cast("double")
            * 1000000 + F.lit(0.5)
        ) / 1000000).alias("auc"),
    )


@register(
    "auc_mann_whitney",
    oracle=AUC_ORACLE,
    doc="Exact ROC-AUC via the Mann-Whitney rank-sum identity — the "
        "ranking-metric companion to ks_test_values over the same "
        "click-vs-purchase framing: AUC = P(score_pos > score_neg) + "
        "0.5*P(tie). The statistic rides as the INTEGER 2U = "
        "sum over distinct scores of p_here*(2*n_below + n_here) (ties "
        "contribute exactly half in doubled space, so no 0.5 floats "
        "accumulate), pinned as auc_num2; ONE final division by 2*np*nn "
        "yields AUC. Plan: one scan -> per-value conditional counts "
        "(map-combinable) -> one running-sum window over the DISTINCT-"
        "value table (bounded by score cardinality, not corpus) -> one "
        "global agg. The shape every classifier-quality gate over a "
        "curation corpus needs at 100 TB: no per-row ranking, no global "
        "sort of the corpus.",
    tags=("analytics", "statistics", "ml"),
)
def auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return auc_from_counts(auc_value_counts(ev))


@register(
    "spearman_rank_corr",
    oracle="""
        WITH c AS (
            SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p
            FROM lineitem
        ), qv AS (
            SELECT q, count(*) AS cnt FROM c GROUP BY q
        ), qr AS (
            SELECT q,
                   CAST(2 * coalesce(sum(cnt) OVER (
                       ORDER BY q
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) + cnt + 1 AS HUGEINT) AS r2
            FROM qv
        ), pv AS (
            SELECT p, count(*) AS cnt FROM c GROUP BY p
        ), pr AS (
            SELECT p,
                   CAST(2 * coalesce(sum(cnt) OVER (
                       ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) + cnt + 1 AS HUGEINT) AS r2
            FROM pv
        ), rr AS (
            SELECT qr.r2 AS ra, pr.r2 AS rb
            FROM c JOIN qr ON c.q = qr.q JOIN pr ON c.p = pr.p
        ), m AS (
            SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(ra) AS sa, sum(rb) AS sb,
                   sum(ra * ra) AS saa, sum(rb * rb) AS sbb,
                   sum(ra * rb) AS sab
            FROM rr
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(n * sab - sa * sb AS VARCHAR) AS cov_num,
               floor(CAST(n * sab - sa * sb AS DOUBLE)
                     / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                            * CAST(n * sbb - sb * sb AS DOUBLE))
                     * 1000000 + 0.5) / 1000000 AS rho
        FROM m
    """,
    doc="Spearman rank correlation between lineitem quantity and price — "
        "the MONOTONE-association companion to correlation_matrix "
        "(Pearson, linear). Tie-averaged ranks ride in DOUBLED-integer "
        "space (2*rank_avg = 2*count_below + count_equal + 1, always an "
        "integer — the anomaly_mad doubling lesson), assigned by a "
        "RANGE-PARTITIONED two-phase prefix sum over each DISTINCT-value "
        "table (per-bucket running sums in parallel + broadcast exclusive "
        "bucket offsets, the training_export pattern — a near-unique "
        "column makes the value table corpus-sized, so a global window "
        "would serialize into one task), then rho = Pearson of the "
        "doubled ranks: scale-invariance makes the doubling exact. "
        "All five moments accumulate as decimal(38) (rank products reach "
        "~1e21 at sf1 — int64 overflows, the feature_scaling lesson); "
        "cov_num is pinned as an exact decimal STRING so the oracle "
        "checks the integer covariance itself, not just 6dp rho. Plan: "
        "one scan -> two value-table windows -> two value-keyed joins "
        "back -> one moment agg.",
    tags=("analytics", "statistics", "ml"),
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
         .cast("bigint").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
         .cast("bigint").alias("p"),
    )

    bounds = c.agg(
        F.min("q").alias("qlo"), F.max("q").alias("qhi"),
        F.min("p").alias("plo"), F.max("p").alias("phi"),
    )
    c = c.crossJoin(F.broadcast(bounds))

    def with_rank(df: DataFrame, col: str, lo: str, hi: str,
                  out: str) -> DataFrame:
        # Distributed PER-ROW rank assignment: a near-unique column
        # (price cents) makes the distinct-value table corpus-sized, so
        # both a global running-sum window (serializes into one task)
        # and a rank-table join back (corpus-corpus SMJ) are scale
        # traps. Instead: bucket rows by DETERMINISTIC equal-width value
        # arithmetic over the broadcast [min, max] (order-preserving,
        # branch-consistent — range-partitioner sampling is not), count
        # strictly-below / tied rows with RANGE-frame windows inside
        # each bucket in parallel, and add the tiny per-bucket exclusive
        # row-count offsets back via broadcast — the training_export
        # offset pattern, no join on the data key.
        bkt = F.expr(f"(({col} - {lo}) * 64) div ({hi} - {lo} + 1)")
        d = df.withColumn("bkt", bkt)
        wb = W.partitionBy("bkt").orderBy(col) \
              .rangeBetween(W.unboundedPreceding, -1)
        we = W.partitionBy("bkt").orderBy(col).rangeBetween(0, 0)
        loc = d.withColumn("below_loc", F.count("*").over(wb)) \
               .withColumn("cnt_eq", F.count("*").over(we))
        woff = W.orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
        offs = (
            d.groupBy("bkt").agg(F.count("*").alias("tot"))
            .select("bkt",
                    F.coalesce(F.sum("tot").over(woff), F.lit(0)).alias("off"))
        )
        return loc.join(F.broadcast(offs), "bkt").withColumn(
            out,
            (2 * (F.col("below_loc") + F.col("off"))
             + F.col("cnt_eq") + 1).cast("decimal(38,0)"),
        ).drop("bkt", "below_loc", "cnt_eq", "off")

    rr = with_rank(
        with_rank(c, "q", "qlo", "qhi", "ra"),
        "p", "plo", "phi", "rb",
    ).select("ra", "rb")
    m = rr.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("ra").alias("sa"), F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    cov = n * F.col("sab") - sa * sb
    va = n * F.col("saa") - sa * sa
    vb = n * F.col("sbb") - sb * sb
    return m.select(
        n.cast("bigint").alias("n"),
        cov.cast("decimal(38,0)").cast("string").alias("cov_num"),
        (F.floor(
            cov.cast("double") / F.sqrt(va.cast("double") * vb.cast("double"))
            * 1000000 + F.lit(0.5)
        ) / 1000000).alias("rho"),
    )


@register(
    "basket_affinity",
    oracle="""
        WITH b AS (
            SELECT DISTINCT l_orderkey AS ok,
                   CAST(l_partkey % 100 AS BIGINT) AS cat
            FROM lineitem
        ), nt AS (
            SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b
        ), ic AS (
            SELECT cat, CAST(count(*) AS BIGINT) AS n_i FROM b GROUP BY cat
        ), pc AS (
            SELECT a.cat AS cat_a, b2.cat AS cat_b,
                   CAST(count(*) AS BIGINT) AS n_ab
            FROM b a JOIN b b2 ON a.ok = b2.ok AND a.cat < b2.cat
            GROUP BY a.cat, b2.cat
        )
        SELECT pc.cat_a, pc.cat_b, pc.n_ab,
               ia.n_i AS n_a, ib.n_i AS n_b,
               CAST(pc.n_ab * 1000000 // nt.n_orders AS BIGINT)
                 AS support_ppm,
               floor(pc.n_ab / CAST(ia.n_i AS DOUBLE) * 1000000 + 0.5)
                 / 1000000 AS confidence,
               floor(nt.n_orders * pc.n_ab
                     / CAST(ia.n_i * ib.n_i AS DOUBLE) * 1000000 + 0.5)
                 / 1000000 AS lift
        FROM pc
        JOIN ic ia ON pc.cat_a = ia.cat
        JOIN ic ib ON pc.cat_b = ib.cat
        CROSS JOIN nt
        WHERE pc.n_ab >= 5
    """,
    doc="Market-basket association rules (support / confidence / lift) "
        "over part categories co-ordered within an order — the Apriori "
        "pair pass, the retail twin of cooccurrence_lift (which mines "
        "word pairs). Baskets group on the ORDER key (one shuffle), then "
        "pair generation is SCAN-LOCAL over the sorted per-basket "
        "category set (bounded by basket size, never a corpus self-join); "
        "category counts and the basket total are broadcast back onto "
        "the pair table. support_ppm is an exact integer division; "
        "confidence and lift are single IEEE divisions of exact integer "
        "counts, 6dp. At 100 TB the pair explode is Theta(sum k_b^2) "
        "with k_b = basket size, a small constant in retail data — the "
        "one-pass 'pairs' pattern of Lin & Dyer 2010 ch.3; the min-"
        "support gate (n_ab >= 5) is the Apriori prune that keeps the "
        "rule table broadcast-sized.",
    tags=("analytics", "ml", "graph"),
)
def basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r13 note (measured, kept the r12 shape): the "one corpus pass" rewrite
    # — collect_set baskets persisted at the branch, n_orders/per-cat counts
    # derived from the arrays — measured 2.34 s min vs 1.14 s for this shape
    # in an interleaved quiet A/B at sf0.1, and persisting `b` below costs
    # the same (2.42 vs 1.32): the materialization barrier plus the
    # ObjectHashAggregate sort fallback on the raw lineitem stream cost more
    # than three nearly-free rescans of a few-MB table. At 100 TB the knob
    # is to persist `b` at this branch point (one scan + one distinct
    # instead of four and three); locally the unpersisted form is the
    # measured floor, so scale-dependent persists stay out of the bench
    # channel (`git show ea1282d:OPTIMIZATION_r13.md`, §8-revisited).
    b = li.select(
        F.col("l_orderkey").alias("ok"),
        (F.col("l_partkey") % 100).cast("bigint").alias("cat"),
    ).distinct()
    nt = b.agg(F.countDistinct("ok").cast("bigint").alias("n_orders"))
    ic = b.groupBy("cat").agg(F.count("*").cast("bigint").alias("n_i"))
    baskets = b.groupBy("ok").agg(
        F.sort_array(F.collect_set("cat")).alias("cats")
    )
    pairs = baskets.select(
        F.explode(
            F.flatten(F.transform(
                F.col("cats"),
                lambda x, i: F.transform(
                    F.slice(F.col("cats"), i + 2,
                            F.size(F.col("cats"))),
                    lambda y: F.struct(x.alias("cat_a"), y.alias("cat_b")),
                ),
            ))
        ).alias("pr")
    ).select("pr.cat_a", "pr.cat_b")
    pc = (
        pairs.groupBy("cat_a", "cat_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= 5)
    )
    ia = ic.select(F.col("cat").alias("cat_a"), F.col("n_i").alias("n_a"))
    ib = ic.select(F.col("cat").alias("cat_b"), F.col("n_i").alias("n_b"))
    j = (
        pc.join(F.broadcast(ia), "cat_a")
          .join(F.broadcast(ib), "cat_b")
          .crossJoin(F.broadcast(nt))
    )
    return j.select(
        "cat_a", "cat_b", "n_ab", "n_a", "n_b",
        F.expr("(n_ab * 1000000) div n_orders").cast("bigint")
         .alias("support_ppm"),
        (F.floor(F.col("n_ab") / F.col("n_a").cast("double")
                 * 1000000 + F.lit(0.5)) / 1000000).alias("confidence"),
        (F.floor(F.col("n_orders") * F.col("n_ab")
                 / (F.col("n_a") * F.col("n_b")).cast("double")
                 * 1000000 + F.lit(0.5)) / 1000000).alias("lift"),
    )


@register(
    "calibration_bins",
    oracle="""
        WITH c AS (
            SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
            FROM events WHERE event_type IN ('click', 'purchase')
        ), b AS (
            SELECT CAST(min(cents) AS BIGINT) AS lo,
                   CAST(max(cents) - min(cents) + 1 AS BIGINT) AS width
            FROM c
        )
        SELECT CAST((c.cents - b.lo) * 10 // b.width AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c.is_p) AS BIGINT) AS n_pos,
               floor(sum(c.is_p) / CAST(count(*) AS DOUBLE)
                     * 1000000 + 0.5) / 1000000 AS pos_rate,
               floor(sum(c.cents) / CAST(count(*) AS DOUBLE)
                     * 10000 + 0.5) / 10000 AS mean_cents
        FROM c CROSS JOIN b
        GROUP BY bin
    """,
    doc="Classifier calibration table — the reliability-diagram input "
        "behind auc_mann_whitney's single number: scores land in 10 "
        "equal-width bins over the observed [min, max] range (bin edges "
        "are INTEGER arithmetic on cents — (cents-lo)*10 div width — so "
        "bin ASSIGNMENT is exact, no float-edge membership flips), and "
        "each bin reports empirical positive rate and mean score as "
        "single exact-integer-ratio divisions. Plan: one scan -> one "
        "2-value global agg broadcast back -> one 10-row group agg; "
        "everything map-combinable, the bin table is O(10) regardless of "
        "corpus size.",
    tags=("analytics", "statistics", "ml"),
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type").isin("click", "purchase")).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
    )
    b = c.agg(
        F.min("cents").cast("bigint").alias("lo"),
        (F.max("cents") - F.min("cents") + 1).cast("bigint").alias("width"),
    )
    j = c.crossJoin(F.broadcast(b))
    return (
        j.select(
            F.expr("((cents - lo) * 10) div width").cast("bigint").alias("bin"),
            "is_p", "cents",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("is_p").cast("bigint").alias("n_pos"),
            (F.floor(F.sum("is_p") / F.count("*").cast("double")
                     * 1000000 + F.lit(0.5)) / 1000000).alias("pos_rate"),
            (F.floor(F.sum("cents") / F.count("*").cast("double")
                     * 10000 + F.lit(0.5)) / 10000).alias("mean_cents"),
        )
    )


@register(
    "cusum_changepoint",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY event_type, h
        ), cum AS (
            SELECT event_type, h, c,
                   CAST(row_number() OVER w AS BIGINT) AS k,
                   CAST(sum(c) OVER w AS BIGINT) AS sk,
                   CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY h)
        ), scored AS (
            SELECT event_type, h, n,
                   abs(n * sk - k * s) AS stat,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(n * sk - k * s) DESC, h) AS rn
            FROM cum
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_points,
               CAST(h AS BIGINT) AS cp_hour,
               CAST(stat AS BIGINT) AS cusum_num
        FROM scored WHERE rn = 1
    """,
    doc="CUSUM changepoint detection over each event type's hourly count "
        "series — WHERE did the level shift, the follow-up question to "
        "the drift monitors (token_drift_kl says THAT it drifted, this "
        "says WHEN). The classic centered CUSUM S_k - k*mean rides "
        "cross-multiplied as the INTEGER |n*S_k - k*S| (the ks_test "
        "trick — no float mean subtraction accumulates), the argmax is "
        "deterministic (stat DESC, hour ASC), and the winning statistic "
        "is pinned exactly. Plan: one scan -> map-combinable (type, "
        "hour) counts -> windows over the hours-x-types table (bounded "
        "by time-bucket cardinality, never corpus) -> one row per type.",
    tags=("analytics", "statistics", "drift"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select("event_type",
                  F.expr("unix_micros(ts) div 3600000000").alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = W.partitionBy("event_type").orderBy("h") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.partitionBy("event_type")
    cum = hourly.select(
        "event_type", "h",
        F.row_number().over(W.partitionBy("event_type").orderBy("h"))
         .cast("bigint").alias("k"),
        F.sum("c").over(w).cast("bigint").alias("sk"),
        F.sum("c").over(wall).cast("bigint").alias("s"),
        F.count("*").over(wall).cast("bigint").alias("n"),
    )
    stat = F.abs(F.col("n") * F.col("sk") - F.col("k") * F.col("s"))
    scored = cum.select(
        "event_type", "h", "n", stat.alias("stat"),
        F.row_number().over(
            W.partitionBy("event_type").orderBy(stat.desc(), F.col("h"))
        ).alias("rn"),
    )
    return scored.where(F.col("rn") == 1).select(
        "event_type",
        F.col("n").alias("n_points"),
        F.col("h").alias("cp_hour"),
        F.col("stat").cast("bigint").alias("cusum_num"),
    )


@register(
    "k_core_members",
    # no oracle: k-core peeling is an anti-monotone fixpoint — not
    # expressible as a recursive CTE (which can only append rows, never
    # re-aggregate the shrinking edge set). Parity is pytest-gated: a
    # hand graph (K4 + pendant chain) and an independent pure-Python peel
    # over the sf0.001 co-purchase graph must match exactly.
    doc="3-core of the user co-purchase graph (users sharing an item, the "
        "triangle_count edge set) via distributed iterative peeling — the "
        "global-density cohesion primitive completing the graph tier: "
        "components (connectivity), BFS (reachability), triangles (local "
        "clustering), k-core (global density). Each round: one map-"
        "combinable degree count + two anti-joins dropping sub-k "
        "vertices' edges; per-round work shrinks with the live edge set, "
        "and the first no-removal round is the fixpoint (one checkpoint "
        "job per round, its fingerprint the test). Output is (vertex, "
        "core_degree) with degree measured INSIDE the core.",
    tags=("graph", "analytics"),
)
def k_core_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.graph import k_core_vertices

    ev = load_table(spark, sf_dir, "events")
    edges = co_purchase_edges(ev)
    return k_core_vertices(edges, k=3)


# Benford first-digit expectation log10(1+1/d), in exact ppm (sums to 1e6)
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
                45757)


@register(
    "benford_digits",
    oracle=f"""
        WITH c AS (
            SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                          AS BIGINT) AS VARCHAR), 1, 1) AS digit
            FROM orders
            WHERE o_totalprice > 0
        ), n AS (
            SELECT CAST(count(*) AS BIGINT) AS total FROM c
        ), exp AS (
            SELECT CAST(d AS VARCHAR) AS digit,
                   CAST([{', '.join(str(p) for p in _BENFORD_PPM)}][d]
                        AS BIGINT) AS expected_ppm
            FROM generate_series(1, 9) t(d)
        )
        SELECT exp.digit, exp.expected_ppm,
               CAST(coalesce(o.n, 0) AS BIGINT) AS n,
               CAST(CAST(coalesce(o.n, 0) * 1000000
                         - n.total * exp.expected_ppm AS HUGEINT)
                    * CAST(coalesce(o.n, 0) * 1000000
                           - n.total * exp.expected_ppm AS HUGEINT)
                    // CAST(n.total * exp.expected_ppm AS HUGEINT)
                 AS BIGINT) AS chi_term_scaled
        FROM exp
        LEFT JOIN (SELECT digit, CAST(count(*) AS BIGINT) AS n
                   FROM c GROUP BY digit) o
          ON exp.digit = o.digit
        CROSS JOIN n
    """,
    doc="Benford's-law first-digit audit over order totals — the fraud / "
        "synthetic-data smell test (Benford 1938; Nigrini's forensic "
        "accounting use). Expected frequencies ride as INTEGER ppm "
        "literals (log10(1+1/d) pre-rounded so no engine computes a log), "
        "and each digit's chi-square contribution is emitted per-row as "
        "chi_term_scaled = (n_d*1e6 - N*e_ppm)^2 div (N*e_ppm) — exact "
        "integer arithmetic end to end, no float sum across digits whose "
        "ordering could ulp-diverge (divide by 1e6 to read the usual "
        "statistic). The digit grid is generated, not aggregated, so "
        "zero-count digits still report. Plan: one scan -> 9-group "
        "map-combinable count -> broadcast joins on the 9-row grid.",
    tags=("analytics", "statistics", "quality"),
)
def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    c = od.where(F.col("o_totalprice") > 0).select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
             .cast("bigint").cast("string"), 1, 1).alias("digit")
    )
    n = c.agg(F.count("*").cast("bigint").alias("total"))
    obs = c.groupBy("digit").agg(F.count("*").cast("bigint").alias("n"))
    exp = spark.range(1, 10).select(
        F.col("id").cast("string").alias("digit"),
        F.element_at(F.array(*[F.lit(p) for p in _BENFORD_PPM]),
                     F.col("id").cast("int")).cast("bigint")
         .alias("expected_ppm"),
    )
    j = (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit", "expected_ppm",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            "total",
        )
    )
    jj = j.withColumn(
        "dev",
        (F.col("n") * 1000000 - F.col("total") * F.col("expected_ppm"))
        .cast("decimal(38,0)"),
    )
    return jj.select(
        "digit", "expected_ppm", "n",
        F.expr("(dev * dev) div (CAST(total AS DECIMAL(38,0))"
               " * CAST(expected_ppm AS DECIMAL(38,0)))")
         .cast("bigint").alias("chi_term_scaled"),
    )


@register(
    "gini_spend",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ), v AS (
            SELECT cents, CAST(count(*) AS HUGEINT) AS c FROM spend
            GROUP BY cents
        ), cum AS (
            SELECT cents, c,
                   coalesce(sum(c) OVER (
                       ORDER BY cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS b
            FROM v
        ), tot AS (
            SELECT CAST(sum(c) AS HUGEINT) AS n,
                   CAST(sum(CAST(cents AS HUGEINT) * c) AS HUGEINT) AS s
            FROM v
        )
        SELECT CAST(tot.n AS BIGINT) AS n_customers,
               CAST(tot.s AS VARCHAR) AS total_cents,
               floor(CAST(sum(CAST(cum.cents AS HUGEINT)
                             * (2 * cum.c * cum.b + cum.c * (cum.c + 1)
                                - (tot.n + 1) * cum.c)) AS DOUBLE)
                     / CAST(tot.n * tot.s AS DOUBLE)
                     * 1000000 + 0.5) / 1000000 AS gini
        FROM cum CROSS JOIN tot
        GROUP BY tot.n, tot.s
    """,
    doc="Gini coefficient of per-customer spend — the inequality / "
        "concentration metric a corpus curator runs on per-source token "
        "shares before setting mixture weights (source_mixture's "
        "diagnostic half). The sorted-index identity G = sum (2i-n-1)x_(i) "
        "/ (n*sum x) evaluates per DISTINCT value: a tied block at "
        "below-count b with multiplicity c contributes x*(2cb + c(c+1) - "
        "(n+1)c) regardless of the internal order of ties, so the whole "
        "numerator is ONE exact wide-integer sum over the value table "
        "(decimal(38)/HUGEINT — value*index products overflow int64 at "
        "scale) and ONE final division yields G. total_cents is pinned "
        "as an exact integer string. Plan: per-customer agg (one "
        "shuffle), value-table running sum (the ks_test window-over-"
        "values shape; the spearman bucketed rewrite is the documented "
        "swap if spend values go near-unique at 100 TB), one global agg.",
    tags=("analytics", "statistics", "quality"),
)
def gini_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    od = load_table(spark, sf_dir, "orders")
    spend = od.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
               .cast("bigint")).cast("bigint").alias("cents")
    )
    v = spend.groupBy("cents").agg(
        F.count("*").cast("decimal(38,0)").alias("c"))
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, -1)
    cum = v.select(
        "cents", "c",
        F.coalesce(F.sum("c").over(w), F.lit(0).cast("decimal(38,0)"))
         .alias("b"),
    )
    tot = v.agg(
        F.sum("c").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("c"))
         .cast("decimal(38,0)").alias("s"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    contrib = F.col("cents").cast("decimal(38,0)") * (
        2 * F.col("c") * F.col("b") + F.col("c") * (F.col("c") + 1)
        - (F.col("n") + 1) * F.col("c")
    )
    return j.groupBy("n", "s").agg(
        (F.floor(
            F.sum(contrib).cast("double")
            / (F.col("n") * F.col("s")).cast("double")
            * 1000000 + F.lit(0.5)
        ) / 1000000).alias("gini"),
    ).select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("s").cast("decimal(38,0)").cast("string").alias("total_cents"),
        "gini",
    )


@register(
    "incremental_join_merge",
    oracle="""
        SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment,
               CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="Incremental JOIN-view maintenance — the join twin of "
        "incremental_rollup_merge's aggregate tier, the textbook delta "
        "algebra d(A JOIN B) = dA JOIN B + A_old JOIN dB (+ dA JOIN dB, "
        "covered because dA joins the FULL dim): the staged view holds "
        "old-orders JOIN old-customers (built once, persisted as "
        "parquet); the serving query unions it with (1) fresh orders "
        "joined against the whole dim and (2) old orders joined against "
        "the late-arriving dim slice (c_custkey % 20 == 0 plays dB) — "
        "history-x-history is never recomputed. The oracle recomputes "
        "the whole join flat, proving merge == rescan row-for-row. At "
        "100 TB: dA is one date partition, dB is a broadcast-sized dim "
        "delta, and the A_old-x-dB term is a broadcast probe of the "
        "staged fact's join column — the three delta terms cost "
        "delta-proportional work while a flat refresh rescans the fact "
        "table. An updating/deleting dim needs the CDC compaction tier "
        "(cdc_apply_orders) upstream of this merge.",
    tags=("analytics", "incremental", "join"),
)
def incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.staging import staged

    cutoff_us = 9862 * 86_400_000_000  # 1997-01-01 UTC
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)) \
             .cast("bigint").alias("cents")

    def joined(orders_df, cust_df):
        return orders_df.join(
            cust_df, F.col("o_custkey") == F.col("c_custkey")
        ).select("o_orderkey", "o_custkey", "c_name", "c_mktsegment", cents)

    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    # NTZ-safe epoch (the r5 lesson): o_orderdate reads as TIMESTAMP_NTZ
    od_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " o_orderdate)"
    )
    is_old = od_us < cutoff_us
    is_late_dim = F.col("c_custkey") % 20 == 0

    view = spark.read.parquet(staged(sf_dir, "joinview97", lambda d: joined(
        od.where(is_old), cu.where(~is_late_dim)).write.parquet(d)))
    delta_fact = joined(od.where(~is_old), cu)
    late_dim = joined(od.where(is_old), F.broadcast(cu.where(is_late_dim)))
    return view.unionByName(delta_fact).unionByName(late_dim)


@register(
    "embedding_centroids",
    oracle="""
        WITH q AS (
            SELECT label, i.pos,
                   CAST(floor(CAST(embedding[i.pos] AS DOUBLE) * 1000 + 0.5)
                        AS BIGINT) AS v
            FROM embeddings,
                 (SELECT unnest(generate_series(1, 64)) AS pos) i
        ), s AS (
            SELECT label, pos, CAST(sum(v) AS BIGINT) AS s
            FROM q GROUP BY label, pos
        ), n AS (
            SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings
            GROUP BY label
        ), nrm AS (
            SELECT label, CAST(sum(s * s) AS BIGINT) AS nn FROM s
            GROUP BY label
        ), dots AS (
            SELECT a.label AS label_a, b.label AS label_b,
                   CAST(sum(a.s * b.s) AS BIGINT) AS dot_scaled
            FROM s a JOIN s b ON a.pos = b.pos AND a.label < b.label
            GROUP BY label_a, label_b
        )
        SELECT d.label_a, d.label_b, na.n AS n_a, nb.n AS n_b, d.dot_scaled,
               floor(d.dot_scaled
                     / sqrt(CAST(na2.nn AS DOUBLE) * CAST(nb2.nn AS DOUBLE))
                     * 1000000 + 0.5) / 1000000 AS cos_centroid
        FROM dots d
        JOIN n na ON d.label_a = na.label
        JOIN n nb ON d.label_b = nb.label
        JOIN nrm na2 ON d.label_a = na2.label
        JOIN nrm nb2 ON d.label_b = nb2.label
    """,
    doc="Pairwise cosine between per-label embedding CENTROIDS — the "
        "cluster-separation diagnostic behind every ANN index choice "
        "(well-separated labels => IVF lists are clean; near-parallel "
        "centroids => raise nprobe). cos(mean_a, mean_b) == cos(sum_a, "
        "sum_b), so centroids never materialize as floats: elements "
        "quantize to integer milli-units at the scan (the "
        "embedding_quantize discipline), per-(label, pos) sums are exact "
        "BIGINTs, and dot/norms are integer sums with ONE final "
        "division — bit-identical across engines and partition orders, "
        "where a float centroid average would ulp-drift with the "
        "shuffle. Plan: posexplode is scan-local; the sum table is "
        "(labels x 64) rows, so the pairwise join is over a broadcast-"
        "sized table regardless of corpus; vector count never enters a "
        "join.",
    tags=("analytics", "similarity", "ml"),
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    q = em.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label", "pos",
        F.floor(F.col("x").cast("double") * 1000 + F.lit(0.5))
         .cast("bigint").alias("v"),
    )
    s = q.groupBy("label", "pos").agg(F.sum("v").cast("bigint").alias("s"))
    n = em.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    nrm = s.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("nn"))
    a, b = s.alias("a"), s.alias("b")
    dots = (
        a.join(b, (F.col("a.pos") == F.col("b.pos"))
               & (F.col("a.label") < F.col("b.label")))
        .groupBy(F.col("a.label").alias("label_a"),
                 F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.s") * F.col("b.s")).cast("bigint")
             .alias("dot_scaled"))
    )
    na = n.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    ka = nrm.select(F.col("label").alias("label_a"), F.col("nn").alias("nna"))
    kb = nrm.select(F.col("label").alias("label_b"), F.col("nn").alias("nnb"))
    return (
        dots.join(F.broadcast(na), "label_a").join(F.broadcast(nb), "label_b")
        .join(F.broadcast(ka), "label_a").join(F.broadcast(kb), "label_b")
        .select(
            "label_a", "label_b", "n_a", "n_b", "dot_scaled",
            (F.floor(
                F.col("dot_scaled")
                / F.sqrt(F.col("nna").cast("double")
                         * F.col("nnb").cast("double"))
                * 1000000 + F.lit(0.5)
            ) / 1000000).alias("cos_centroid"),
        )
    )


@register(
    "trend_break_slopes",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(epoch_us(ts) // 3600000000
                        - (SELECT min(epoch_us(ts) // 3600000000)
                           FROM events) AS BIGINT) AS x,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY event_type, x
        ), cum AS (
            SELECT event_type, x, y,
                   CAST(row_number() OVER w AS BIGINT) AS k,
                   CAST(sum(y) OVER w AS BIGINT) AS sk,
                   CAST(sum(y) OVER (PARTITION BY event_type) AS BIGINT) AS s,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                     AS nn
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY x)
        ), cp AS (
            SELECT event_type, x AS cp_x FROM (
                SELECT event_type, x,
                       row_number() OVER (
                           PARTITION BY event_type
                           ORDER BY abs(nn * sk - k * s) DESC, x) AS rn
                FROM cum
            ) WHERE rn = 1
        ), sides AS (
            SELECT h.event_type, h.x, h.y, cp.cp_x,
                   CASE WHEN h.x <= cp.cp_x THEN 'pre' ELSE 'post' END
                     AS side
            FROM hourly h JOIN cp ON h.event_type = cp.event_type
        ), m AS (
            SELECT event_type, cp_x, side,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM sides GROUP BY event_type, cp_x, side
        )
        SELECT event_type, CAST(cp_x AS BIGINT) AS cp_x, side, n,
               floor((n * sxy - sx * sy)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                     * 1000000 + 0.5) / 1000000 AS slope
        FROM m WHERE n >= 2 AND n * sxx - sx * sx > 0
    """,
    doc="Segmented trend around the CUSUM breakpoint — the composition "
        "that answers 'the level shifted at hour H; what were the "
        "trends before and after?': cusum_changepoint's integer argmax "
        "picks the break per event type IN-PLAN (1-row-per-type table, "
        "broadcast back — no collect), then trend_slope's exact-moment "
        "least squares runs on each side of the hourly-count series. "
        "Slopes come from five BIGINT partials per (type, side); the "
        "single final division is the only float op (the trend_slope "
        "discipline — float-covariance partials would be partition-order "
        "nondeterministic). Degenerate sides (n < 2 or zero x-variance) "
        "are excluded rather than emitting NULL/Inf. Plan: one scan -> "
        "hourly counts (map-combinable) -> windows over the type-x-hour "
        "table -> side tagging via broadcast join -> one moment agg.",
    tags=("analytics", "statistics", "drift"),
)
def trend_break_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    base = ev.agg(F.min(F.expr("unix_micros(ts) div 3600000000"))
                  .alias("h0"))
    hourly = (
        ev.crossJoin(F.broadcast(base))
        .select("event_type",
                (F.expr("unix_micros(ts) div 3600000000") - F.col("h0"))
                .cast("bigint").alias("x"))
        .groupBy("event_type", "x")
        .agg(F.count("*").cast("bigint").alias("y"))
    )
    w = W.partitionBy("event_type").orderBy("x") \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy("event_type")
    cum = hourly.select(
        "event_type", "x", "y",
        F.row_number().over(W.partitionBy("event_type").orderBy("x"))
         .cast("bigint").alias("k"),
        F.sum("y").over(w).cast("bigint").alias("sk"),
        F.sum("y").over(wt).cast("bigint").alias("s"),
        F.count("*").over(wt).cast("bigint").alias("nn"),
    )
    stat = F.abs(F.col("nn") * F.col("sk") - F.col("k") * F.col("s"))
    cp = (
        cum.select(
            "event_type", "x",
            F.row_number().over(
                W.partitionBy("event_type").orderBy(stat.desc(), F.col("x"))
            ).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select("event_type", F.col("x").alias("cp_x"))
    )
    sides = hourly.join(F.broadcast(cp), "event_type").select(
        "event_type", "x", "y", "cp_x",
        F.when(F.col("x") <= F.col("cp_x"), "pre").otherwise("post")
         .alias("side"),
    )
    m = sides.groupBy("event_type", "cp_x", "side").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.where((F.col("n") >= 2) & (den > 0)).select(
        "event_type", F.col("cp_x").cast("bigint").alias("cp_x"), "side", "n",
        (F.floor(num / den.cast("double") * 1000000 + F.lit(0.5))
         / 1000000).alias("slope"),
    )


# The exact statistics graph_summary and graph_summary_sampled share: the
# oracles' degree CTE and four select-list columns over CO_PURCHASE_EDGES_SQL's
# ``e``, and ``_degree_stats``, the Spark side, written apart from them.
_DEGREE_SQL = """deg AS (
            SELECT v, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS v FROM e UNION ALL SELECT b FROM e
            ) GROUP BY v
        )"""
_DEGREE_STATS_SQL = """CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_vertices,
               CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
               CAST((SELECT max(d) FROM deg) AS BIGINT) AS max_degree,
               CAST((SELECT sum(d * (d - 1) / 2) FROM deg) AS BIGINT)
                 AS n_wedges"""


def _degree_stats(edges: DataFrame) -> DataFrame:
    """One row over a ``(src, dst)`` edge list: ``n_vertices``,
    ``max_degree``, ``n_wedges`` (sum of C(degree, 2)) and ``n_edges`` —
    each one map-combinable aggregate."""
    deg = (
        edges.select(F.col("src").alias("v"))
        .unionAll(edges.select(F.col("dst").alias("v")))
        .groupBy("v").agg(F.count("*").cast("bigint").alias("d"))
    )
    degstats = deg.agg(
        F.count("*").cast("bigint").alias("n_vertices"),
        F.max("d").cast("bigint").alias("max_degree"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint")
         .alias("n_wedges"),
    )
    ecount = edges.agg(F.count("*").cast("bigint").alias("n_edges"))
    return degstats.crossJoin(F.broadcast(ecount))


@register(
    "graph_summary",
    oracle=f"""
        WITH {CO_PURCHASE_EDGES_SQL}, {_DEGREE_SQL}, tri AS (
            SELECT count(*) AS n_tri
            FROM e e1 JOIN e e2 ON e1.b = e2.a
                      JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b
        )
        SELECT {_DEGREE_STATS_SQL},
               CAST((SELECT n_tri FROM tri) AS BIGINT) AS n_triangles,
               floor((SELECT 3.0 * n_tri FROM tri)
                     / (SELECT CAST(sum(d * (d - 1) / 2) AS DOUBLE)
                        FROM deg)
                     * 1000000 + 0.5) / 1000000 AS clustering_coeff
    """,
    doc="Global graph summary of the co-purchase graph — vertex/edge "
        "counts, max degree, wedge count sum C(d,2), triangle total, and "
        "the global clustering coefficient 3*triangles/wedges (Watts-"
        "Strogatz transitivity): the one-row health report a graph "
        "pipeline reads before choosing algorithms (max_degree drives "
        "the skew strategy, transitivity says whether community "
        "detection will bite). Triangles reuse the degree-oriented "
        "node-iterator operator (wedge fan-out O(sqrt(m)) per vertex — "
        "the celebrity-node bound); every other statistic is one "
        "map-combinable aggregate over the edge/degree tables; the "
        "coefficient is ONE float division of exact integers, 6dp. The "
        "oracle recomputes triangles via the plain 3-way self-join "
        "ground truth.",
    tags=("graph", "analytics", "profiling"),
)
def graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.graph import derive_once, triangle_counts

    def summary(edges: DataFrame) -> DataFrame:
        # a triangle-free graph yields an EMPTY per-vertex frame: sum() over
        # it is NULL, the oracle's count(*) is 0 — coalesce so the
        # zero-triangle case (real at small scale) reports 0 and a 0.0
        # coefficient, not NULL
        tri = triangle_counts(edges, "src", "dst").agg(
            (F.coalesce(F.sum("n_triangles"), F.lit(0)) / 3)
            .cast("bigint").alias("n_triangles"))
        j = _degree_stats(edges).crossJoin(F.broadcast(tri))
        return j.select(
            "n_vertices", "n_edges", "max_degree", "n_wedges", "n_triangles",
            (F.floor(
                3.0 * F.col("n_triangles")
                / F.col("n_wedges").cast("double") * 1000000 + F.lit(0.5)
            ) / 1000000).alias("clustering_coeff"),
        )

    # the edge list (an events self-join + distinct) feeds FOUR consumers
    # (degree union x2, edge count, triangle tier): derived once
    return derive_once(summary, co_purchase_edges(load_table(spark, sf_dir, "events")))


@register(
    "graph_summary_sampled",
    oracle=f"""
        WITH {CO_PURCHASE_EDGES_SQL}, {_DEGREE_SQL}, s AS (
            SELECT a, b FROM e
            WHERE {_edge_h16_sql()} % 4 = 0
        ), tri AS (
            SELECT count(*) AS t
            FROM s e1 JOIN s e2 ON e1.b = e2.a
                      JOIN s e3 ON e1.a = e3.a AND e2.b = e3.b
        )
        SELECT {_DEGREE_STATS_SQL},
               CAST((SELECT t FROM tri) AS BIGINT) AS tri_sampled,
               CAST((SELECT t * 64 FROM tri) AS BIGINT) AS n_triangles_est,
               floor((SELECT 3.0 * t * 64 FROM tri)
                     / (SELECT CAST(sum(d * (d - 1) / 2) AS DOUBLE)
                        FROM deg)
                     * 1000000 + 0.5) / 1000000 AS clustering_coeff_est
    """,
    doc="graph_summary's 100 TB production mode (VERDICT r8 directive #4): "
        "identical vertex/edge/degree/wedge statistics — those are one "
        "map-combinable aggregate each and scale fine — but the triangle "
        "and transitivity terms come from the DOULION p=1/4 edge sample "
        "(Tsourakakis KDD'09) instead of exact wedge enumeration, which "
        "SCALING.md documents as >10 min at sf1 on the densified graph. "
        "Sampling is the same deterministic portable-hash edge selection "
        "as triangle_count_sampled, so the sampled count (and therefore "
        "the 1/p^3 = 64x estimate and the estimated clustering "
        "coefficient 3*tri_est/wedges) is fully oracle-checkable — no "
        "randomness, no tolerance band. Exact graph_summary stays "
        "registered as the ground-truth twin; a pipeline picks by graph "
        "size. Wedge work on the sample drops ~1/p^2 = 16x.",
    tags=("graph", "analytics", "profiling", "approx"),
)
def graph_summary_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.graph import derive_once, triangle_counts

    def summary(edges: DataFrame) -> DataFrame:
        sampled = (
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .where(F.expr(_edge_h16_sql() + " % 4 = 0"))
        )
        tri = triangle_counts(
            sampled.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        ).agg(
            (F.coalesce(F.sum("n_triangles"), F.lit(0)) / 3)
            .cast("bigint").alias("tri_sampled")
        )
        j = _degree_stats(edges).crossJoin(F.broadcast(tri))
        return j.select(
            "n_vertices", "n_edges", "max_degree", "n_wedges", "tri_sampled",
            (F.col("tri_sampled") * 64).cast("bigint").alias("n_triangles_est"),
            (F.floor(
                3.0 * F.col("tri_sampled") * 64
                / F.col("n_wedges").cast("double") * 1000000 + F.lit(0.5)
            ) / 1000000).alias("clustering_coeff_est"),
        )

    # same as graph_summary: degree x2, edge count and the sampled triangle
    # tier all read the one derived edge list
    return derive_once(summary, co_purchase_edges(load_table(spark, sf_dir, "events")))


@register(
    "lpa_communities",
    # no oracle: iterative argmax fixpoint — like k_core_members, LPA is
    # not expressible in append-only recursive SQL. Parity is pytest-
    # gated: an exact Python model of the SAME deterministic synchronous
    # update replays the sf0.001 graph and must match label-for-label.
    doc="Deterministic label-propagation communities over the co-purchase "
        "graph (Raghavan et al. 2007; synchronous rounds + smallest-label "
        "tie-break instead of the paper's random asynchronous sweep, so "
        "the output is hash-checkable — determinism over convergence, "
        "the engine's contract). Completes the graph tier's density "
        "side: components answers 'connected?', k-core 'how dense?', "
        "this 'which cluster?'. Per round: one vertex-keyed join, one "
        "map-combinable (vertex, label) count, one max_by argmax; state "
        "is one label per vertex, no driver-side graph.",
    tags=("graph", "analytics"),
)
def lpa_communities_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.graph import lpa_communities

    ev = load_table(spark, sf_dir, "events")
    edges = co_purchase_edges(ev)
    return lpa_communities(edges, rounds=5)


@register(
    "pagerank_scores",
    oracle=f"""
        WITH {CO_PURCHASE_EDGES_SQL}, e0 AS (
            SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
        ), deg AS (
            SELECT a AS v, CAST(count(*) AS BIGINT) AS d FROM e0 GROUP BY a
        ), r0 AS (
            SELECT v, CAST(1000000000 AS BIGINT) AS r FROM deg
        ), r1 AS (
            SELECT e0.b AS v,
                   CAST(150000000 + sum((p.r * 17) // (20 * deg.d)) AS BIGINT) AS r
            FROM r0 p JOIN deg ON deg.v = p.v JOIN e0 ON e0.a = p.v
            GROUP BY e0.b
        ), r2 AS (
            SELECT e0.b AS v,
                   CAST(150000000 + sum((p.r * 17) // (20 * deg.d)) AS BIGINT) AS r
            FROM r1 p JOIN deg ON deg.v = p.v JOIN e0 ON e0.a = p.v
            GROUP BY e0.b
        ), r3 AS (
            SELECT e0.b AS v,
                   CAST(150000000 + sum((p.r * 17) // (20 * deg.d)) AS BIGINT) AS r
            FROM r2 p JOIN deg ON deg.v = p.v JOIN e0 ON e0.a = p.v
            GROUP BY e0.b
        ), r4 AS (
            SELECT e0.b AS v,
                   CAST(150000000 + sum((p.r * 17) // (20 * deg.d)) AS BIGINT) AS r
            FROM r3 p JOIN deg ON deg.v = p.v JOIN e0 ON e0.a = p.v
            GROUP BY e0.b
        ), r5 AS (
            SELECT e0.b AS v,
                   CAST(150000000 + sum((p.r * 17) // (20 * deg.d)) AS BIGINT) AS r
            FROM r4 p JOIN deg ON deg.v = p.v JOIN e0 ON e0.a = p.v
            GROUP BY e0.b
        )
        SELECT v AS vertex, r AS rank_fp FROM r5
    """,
    doc="PageRank centrality over the co-purchase graph "
        "(operators/graph.pagerank_fixed_point): 5 synchronous power "
        "iterations with damping 0.85, in EXACT fixed-point BIGINT "
        "arithmetic (scale 1e9, contribution = (rank*17) div (20*degree)) "
        "so an iterative float-free centrality is hash-checkable against "
        "the oracle's independent 5-CTE unrolling. Completes the graph "
        "tier's centrality axis next to textrank (which ranks tokens, not "
        "graph vertices). Scale shape: degree computed once; each "
        "iteration = one rank-to-edges hash join + one map-combinable "
        "destination-keyed sum (the Pregel superstep); vertex-sized BIGINT "
        "state, cached edge partitioning reused across iterations, no "
        "driver state, no dangling-mass term (symmetrized graph has no "
        "sinks).",
    tags=("graph", "analytics"),
)
def pagerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.graph import pagerank_fixed_point

    ev = load_table(spark, sf_dir, "events")
    edges = co_purchase_edges(ev)
    return pagerank_fixed_point(edges, iters=5, scale=10**9)


@register(
    "skyline_pareto",
    oracle="""
        WITH d AS (
            SELECT CAST(l_quantity AS BIGINT) AS qty,
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                     AS price_cents,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY 1, 2
        )
        SELECT qty, price_cents, n_rows FROM d p
        WHERE NOT EXISTS (
            SELECT 1 FROM d q
            WHERE q.qty >= p.qty AND q.price_cents <= p.price_cents
              AND (q.qty > p.qty OR q.price_cents < p.price_cents)
        )
    """,
    doc="Skyline / Pareto-frontier query (operators/skyline.pareto_front; "
        "Borzsonyi ICDE'01): the lineitem value pairs maximizing quantity "
        "while minimizing extended price that no other pair strictly "
        "dominates — the 'best trade-off' primitive a single ORDER BY "
        "cannot express (reference Sort.java / KeyFieldBasedComparator "
        "stop at one compound key). The oracle is the INDEPENDENT "
        "quadratic NOT EXISTS dominance formulation; the engine runs the "
        "two-phase distributed form: map-combinable distinct-pair "
        "collapse, partition-local running-min sweep (parallel, "
        "prune-safe), then the same sweep once over the union of local "
        "frontiers — input bounded by partitions x frontier size, never "
        "the corpus.",
    tags=("analytics", "relational"),
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.skyline import pareto_front

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("qty"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
         .alias("price_cents"),
    )
    return pareto_front(li, "qty", "price_cents")


@register(
    "theta_audience_overlap",
    oracle="""
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        card AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY 1),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(count(*) AS BIGINT) AS n_overlap
            FROM ut a JOIN ut b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b, ca.n AS n_a, cb.n AS n_b, p.n_overlap,
               ca.n + cb.n - p.n_overlap AS n_union,
               1 AS inter_ok, 1 AS union_ok
        FROM pairs p
        JOIN card ca ON ca.event_type = p.type_a
        JOIN card cb ON cb.event_type = p.type_b
    """,
    doc="Theta-sketch set algebra (Datasketches theta_sketch_agg / "
        "theta_union / theta_intersection): one sketch per event type, then "
        "the FULL pairwise audience-overlap matrix answered from sketch "
        "algebra alone — union AND intersection estimates without touching "
        "events again. HLL only unions; theta intersects, which is why a "
        "100 TB audience/segment cube stores theta state. Both estimates "
        "are gated in-plan against the exact overlap (10%/5% tolerance; "
        "oracle pins the ok-flags). The exact side costs one distinct "
        "(user,type) shuffle + a per-user self-join (type sets are tiny); "
        "at scale only the sketch side runs. Supersedes the reference's "
        "exact-only UniqValueCount (MR/lib/aggregate/UniqValueCount.java). "
        "Promoted from plans/staged.py in r10 (oracled + two-scale tested "
        "since r9).",
    tags=("analytics", "sketch", "approx"),
)
def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    card = ut.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.expr("theta_sketch_agg(user_id)").alias("sk"),
    )
    overlap = (
        ut.alias("a")
        .join(ut.alias("b"),
              (F.col("a.user_id") == F.col("b.user_id"))
              & (F.col("a.event_type") < F.col("b.event_type")))
        .groupBy(F.col("a.event_type").alias("type_a"),
                 F.col("b.event_type").alias("type_b"))
        .agg(F.count("*").alias("n_overlap"))
    )
    ca = card.select(F.col("event_type").alias("type_a"),
                     F.col("n").alias("n_a"), F.col("sk").alias("sk_a"))
    cb = card.select(F.col("event_type").alias("type_b"),
                     F.col("n").alias("n_b"), F.col("sk").alias("sk_b"))
    # the pair frame is (|types| choose 2) rows — broadcast-sized by
    # construction; sketch algebra evaluates on that tiny frame
    j = (
        overlap.join(F.broadcast(ca), "type_a").join(F.broadcast(cb), "type_b")
        .withColumn("inter_est",
                    F.expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))"))
        .withColumn("union_est",
                    F.expr("theta_sketch_estimate(theta_union(sk_a, sk_b))"))
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_overlap"))
    )
    return j.select(
        "type_a", "type_b", "n_a", "n_b", "n_overlap", "n_union",
        ((F.abs(F.col("inter_est") - F.col("n_overlap")) / F.col("n_overlap"))
         <= 0.10).cast("int").alias("inter_ok"),
        ((F.abs(F.col("union_est") - F.col("n_union")) / F.col("n_union"))
         <= 0.05).cast("int").alias("union_ok"),
    )


@register(
    "theta_cube_serving",
    oracle="""
        WITH b AS (
            SELECT min(epoch_us(ts) // 86400000000) + 2 AS d1,
                   min(epoch_us(ts) // 86400000000) + 8 AS d2
            FROM events
        )
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
               1 AS theta_ok
        FROM events, b
        WHERE epoch_us(ts) // 86400000000 BETWEEN b.d1 AND b.d2
        GROUP BY event_type
    """,
    doc="Sketch CUBE serving — the stored-state form of the sketch tier: "
        "per-(day, event_type) theta sketches are staged to parquet ONCE "
        "(binary column, idempotent marker dir like the LSH/IVF indexes), "
        "and an arbitrary date-range distinct-user question is answered by "
        "theta_union_agg over the STORED sketches — days x types rows of "
        "bytes, zero events scan at serve time. The exact twin (computed "
        "from events in-plan, verification only) gates the estimate; the "
        "oracle pins the flag. This is what replaces nightly full-corpus "
        "COUNT(DISTINCT) at 100 TB: any rollup window is a merge of a "
        "bounded sketch table, and theta (unlike HLL) keeps intersection/ "
        "difference algebra available on the same stored state. Promoted "
        "from plans/staged.py in r10; the staged write is idempotent per "
        "(sf_dir, data fingerprint) so plan-build lint triggers it at most "
        "once, same as the LSH/IVF index queries. Day buckets are INTEGER "
        "day numbers (unix_micros div 86400000000, the engine-wide "
        "TZ-stable pattern) — the staged-era to_date(ts) form shifted day "
        "boundaries on non-UTC sessions and failed the vanilla "
        "America/Chicago sweep (caught r10; the UTC-only staged pytest "
        "could not see it).",
    tags=("analytics", "sketch", "approx"),
)
def theta_cube_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.staging import staged

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    cube = spark.read.parquet(staged(sf_dir, "thetacubed", lambda d: ev.groupBy(
        day.alias("day"), "event_type",
    ).agg(F.expr("theta_sketch_agg(user_id)").alias("sk")).write.parquet(d)))
    bounds = ev.agg(
        (F.min(day) + 2).alias("d1"),
        (F.min(day) + 8).alias("d2"),
    )
    est = (
        cube.join(F.broadcast(bounds),
                  (F.col("day") >= F.col("d1")) & (F.col("day") <= F.col("d2")))
        .groupBy("event_type")
        .agg(F.expr("theta_sketch_estimate(theta_union_agg(sk))").alias("est"))
    )
    exact = (
        ev.select("user_id", "event_type", day.alias("day"))
        .join(F.broadcast(bounds),
              (F.col("day") >= F.col("d1")) & (F.col("day") <= F.col("d2")))
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return exact.join(est, "event_type").select(
        "event_type", "n_exact",
        ((F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact")) <= 0.05)
        .cast("int").alias("theta_ok"),
    )


@register(
    "kll_quantile_rollup",
    oracle="""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               1 AS p50_ok, 1 AS p95_ok
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT 'ALL' AS o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               1 AS p50_ok, 1 AS p95_ok
        FROM orders
    """,
    doc="Mergeable quantile sketches (Datasketches KLL, "
        "kll_sketch_agg_double / kll_sketch_merge_double): one KLL sketch "
        "of o_totalprice per priority, then the GLOBAL p50/p95 answered by "
        "merging the per-group sketches — no corpus re-scan and, unlike "
        "exact percentile(), no single-node sort of all values. Estimates "
        "are gated in-plan against exact percentile BANDS (value at rank "
        "p±5%; KLL k=400 has ~1% rank error only WITH HIGH PROBABILITY — "
        "compaction is randomized, so a ±3% band had a small but nonzero "
        "flake probability; ±5% puts the band ~5 sigma out while still "
        "rejecting any broken merge), so the output is deterministic "
        "despite KLL's randomized compaction; the oracle pins the ok-flags "
        "and checks the exact group counts. The 100 TB shape: sketches are "
        "algebraic map-side state, persistable as a daily quantile cube "
        "(Karnin-Lang-Liberty, FOCS'16); exact twin kept as ground truth "
        "the same way sketch_mergeable_rollup gates HLL. Promoted from "
        "plans/staged.py in r10.",
    tags=("analytics", "sketch", "approx"),
)
def kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.expr("kll_sketch_agg_double(o_totalprice, 400)").alias("sk"),
        # exact rank bands: the value at quantile p-5% and p+5% bracket any
        # estimate whose rank error is under 5% — percentile() is exact
        F.expr("percentile(o_totalprice, array(0.45, 0.55, 0.90, 1.0))").alias("band"),
    )

    def gated(df: DataFrame) -> DataFrame:
        p50 = F.expr("kll_sketch_get_quantile_double(sk, 0.5)")
        p95 = F.expr("kll_sketch_get_quantile_double(sk, 0.95)")
        return df.select(
            "o_orderpriority", "n_orders",
            ((p50 >= F.col("band")[0]) & (p50 <= F.col("band")[1]))
            .cast("int").alias("p50_ok"),
            ((p95 >= F.col("band")[2]) & (p95 <= F.col("band")[3]))
            .cast("int").alias("p95_ok"),
        )

    total = orders.agg(
        F.count("*").alias("n_orders"),
        F.expr("percentile(o_totalprice, array(0.45, 0.55, 0.90, 1.0))").alias("band"),
    )
    # rollup tier merges the per-group sketches — no rescan of orders.
    # kll_sketch_merge_double is a PAIRWISE scalar (unlike hll_union_agg),
    # so fold it over the collected group sketches — a |groups|-sized list.
    merged = per.agg(F.collect_list("sk").alias("sks")).select(
        F.expr(
            "aggregate(slice(sks, 2, size(sks) - 1), sks[0],"
            " (acc, x) -> kll_sketch_merge_double(acc, x))"
        ).alias("sk")
    )
    total_row = gated(
        total.crossJoin(F.broadcast(merged))
        .withColumn("o_orderpriority", F.lit("ALL"))
    )
    return gated(per).unionAll(total_row)


# Shared by heavy_hitters_cms and stream_heavy_hitters: the streaming
# sketch's cells equal the batch cells by CMS mergeability (micro-batch =
# corpus shard), so the SAME batch SQL is the oracle for both. The bucket
# expression interpolates portable_h16_sql — the SAME generator the engine
# side (operators.curation.cms_probes) uses — so a change to the portable
# hash can never diverge the oracle's arithmetic from the engine's.
from quatrain_mapreduce_spark.operators.curation import (  # noqa: E402
    portable_h16_sql as _h16sql,
)

CMS_ORACLE = f"""
        WITH toks AS (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                          x -> x <> '')) AS tok
            FROM documents
        ), probes AS (
            SELECT tok, i,
                   ({_h16sql("concat(tok,'|',i)")}) % 1024 AS b
            FROM toks, (SELECT unnest(['1','2','3','4']) AS i) r
        ), cells AS (
            SELECT i, b, CAST(count(*) AS BIGINT) AS c
            FROM probes GROUP BY i, b
        ), exact AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
            FROM toks GROUP BY tok
        ), top AS (
            SELECT tok, n_exact FROM exact
            ORDER BY n_exact DESC, tok LIMIT 20
        ), topprobes AS (
            SELECT t.tok, t.n_exact, i,
                   ({_h16sql("concat(t.tok,'|',i)")}) % 1024 AS b
            FROM top t, (SELECT unnest(['1','2','3','4']) AS i) r
        )
        SELECT p.tok AS token, p.n_exact,
               CAST(min(c.c) AS BIGINT) AS cms_est,
               CAST(min(c.c) >= p.n_exact AS INT) AS one_sided_ok
        FROM topprobes p JOIN cells c ON c.i = p.i AND c.b = p.b
        GROUP BY p.tok, p.n_exact
"""


@register(
    "heavy_hitters_cms",
    oracle=CMS_ORACLE,
    doc="Count-min heavy hitters (Cormode-Muthukrishnan '05) — the "
        "frequency member of the mergeable-sketch tier (theta = distinct "
        "algebra, KLL = quantiles, CMS = point frequencies). The sketch is "
        "d=4 rows x w=1024 buckets of plain counts, built in ONE corpus "
        "pass as a map-combinable groupBy over (row, portable-hash bucket) "
        "— partial aggregation collapses every task to <=4096 cells before "
        "the (tiny, bounded) shuffle, and cell tables from different "
        "corpus shards MERGE BY ADDITION, so at 100 TB this is per-shard "
        "state folded like the theta cube, never a token-domain-sized "
        "shuffle. Estimates (min over the 4 probed cells) are DETERMINISTIC "
        "because the hash is the engine-portable md5-nibble h16: the "
        "oracle replays the identical arithmetic and the compare is an "
        "exact hash match, not a tolerance band. The exact token groupBy "
        "twin (verification only, same pattern as kll_quantile_rollup's "
        "percentile bands) supplies the true top-20 and pins the one-sided "
        "guarantee est >= exact. Supersedes the reference's exact-only "
        "frequency aggregates (MR/lib/aggregate/ValueHistogram.java:36, "
        "LongValueSum) with bounded mergeable state. The toks branch point "
        "(cells + exact twin) is deliberately NOT persisted: measured at "
        "sf1 it is a dead tie (2.64 s vs 2.65 s, the rescan is cheaper "
        "than materializing a corpus-sized exploded token frame), and at "
        "100 TB the exact twin does not run at all — only the bounded "
        "cell aggregation does.",
    tags=("analytics", "sketch", "approx", "llm-pipeline"),
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from quatrain_mapreduce_spark.operators.curation import cms_cells_of

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.expr("filter(split(lower(text), ' '), x -> x <> '')"))
        .alias("tok")
    )
    return cms_serve_top20(toks, cms_cells_of(toks))


def cms_serve_top20(
    toks: DataFrame, cells: DataFrame, hash: str = "portable"
) -> DataFrame:
    """Probe a CMS cell table for the exact top-20 tokens (verification
    twin) — shared by the batch and streaming sketch queries. ``hash``
    must match the one the cells were built with."""
    from quatrain_mapreduce_spark.operators.curation import cms_probes

    exact = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("n_exact"))
    top = exact.orderBy(F.desc("n_exact"), "tok").limit(20)
    probes = top.select(
        "tok", "n_exact", F.explode(cms_probes("tok", hash=hash)).alias("rb")
    ).select("tok", "n_exact", F.col("rb.i").alias("i"), F.col("rb.b").alias("b"))
    return (
        probes.join(F.broadcast(cells), ["i", "b"])
        .groupBy(F.col("tok").alias("token"), "n_exact")
        .agg(F.min("c").cast("bigint").alias("cms_est"))
        .select(
            "token", "n_exact", "cms_est",
            (F.col("cms_est") >= F.col("n_exact")).cast("int")
            .alias("one_sided_ok"),
        )
    )
