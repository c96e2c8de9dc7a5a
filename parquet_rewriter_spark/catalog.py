"""Query catalog — the engine's declared operator surface, each entry a
(Spark DataFrame builder, DuckDB oracle SQL) pair.

This is the correctness spine (SURVEY.md §5): every operator claimed in
SURVEY.md §2.2 appears here as a named query; the driver runs the Spark
side and the oracle SQL side-by-side at sf0.01 and hash-compares values.

Parity rules (SURVEY.md §7 "DuckDB oracle drift"):
- alias every computed column identically on both sides;
- round double aggregates (2-4 dp) on both sides — float sum order
  differs between engines;
- never return raw ns timestamps: events.ts is TIMESTAMP(NANOS); Spark
  reads it as long and we truncate to µs (sources/readers.py), so oracle
  SQL casts ts to µs (``CAST(ts AS TIMESTAMP)``) before any comparison
  arithmetic;
- deterministic top-k: always a total tiebreak order.

Spark-first notes: dimension joins are broadcast; filters sit directly
on the scan so Catalyst pushes them into the Parquet reader; everything
is built-in functions (whole-stage codegen) except where flagged.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from parquet_rewriter_spark.operators.joins import asof_join, range_join
from parquet_rewriter_spark.operators.merge import apply_mutations, delete_keys
from parquet_rewriter_spark.operators.util import cache_scope, persist
from parquet_rewriter_spark.sources.readers import load_table


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, *tags: str):
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, tags=tuple(tags))
        return fn
    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _settle(spark: SparkSession, out: DataFrame, name: str) -> DataFrame:
    """Materialize a query's (bounded, driver-safe) result to scratch
    parquet and hand back the reader, so the caches the body made can
    be released (:func:`_clean_query`) without the caller's later
    collect recomputing the lineage cold. The returned plan is a plain
    distributed scan that holds no cache.

    ORDERING CONTRACT: the round trip through parquet discards any
    ``.orderBy()`` in the query body — multi-file parquet scan order
    is not guaranteed — so catalog query outputs are UNORDERED
    relations, settled or not (the driver compare and the local oracle
    harness both canonicalize order-insensitively; the trailing
    ``.orderBy()`` many bodies carry is readability/debuggability of
    ad-hoc ``.show()`` output, not a promise). A consumer that needs
    ordered output must sort the returned relation itself."""
    import shutil

    path = os.path.join(_scratch(f"settle_{name}"), "out")
    shutil.rmtree(path, ignore_errors=True)
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _clean_query(fn):
    """Cache owner for query bodies that cache — directly or inside
    the operators they call: run the body in a :func:`cache_scope`,
    settle its result while the caches are hot, then leave the scope,
    which releases every cache the body made (and only those)."""
    import functools

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        with cache_scope():
            return _settle(spark, fn(spark, sf_dir), fn.__name__)

    return wrapped


# ---------------------------------------------------------------- scans/agg

@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 4)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "aggregation", "pushdown",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter (pushed to Parquet row groups —
    the read-side analog of the reference's zone-map skip, R5) + one
    hash aggregate with partial (map-side) combine."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("2000-12-01"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
        ).alias("sum_charge"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "revenue_forecast",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10
    """,
    "aggregation", "pushdown",
)
def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure pushdown filter + global agg — the plan
    should be scan(PushedFilters)→partial agg→final agg, no shuffle of
    raw rows."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_discount").between(0.02, 0.06)) & (F.col("l_quantity") < 10))
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


# ---------------------------------------------------------------- joins

@query(
    "revenue_by_nation",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    GROUP BY n_name
    """,
    "join", "broadcast",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: fact-to-dim star join. nation and customer are
    broadcast (dims are tiny at every SF: nation=25 rows always); only
    the orders⨝lineitem equi-join shuffles, on the join key."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    # partial-aggregate lineitem down to (l_orderkey, rev) BEFORE the
    # fact-fact join: the shuffle then carries one narrow pair per order
    # instead of every lineitem row (map-side combine does most of the
    # reduction); the dim hops stay broadcast, shuffle-free.
    rev = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"))
    )


@query(
    "top_orders_by_revenue",
    """
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    "join", "topk",
)
def top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape + global top-k. Aggregate lineitem by l_orderkey
    BEFORE the join (partial agg map-side, then one narrow shuffle of
    (key, revenue) pairs instead of full lineitem rows through a join
    shuffle) — o_orderkey is unique, so join-then-group and
    group-then-join are equivalent, and the cheap side wins at scale.
    orderBy().limit(k) runs as TakeOrderedAndProject — per-partition
    top-k then a k-row driver merge, never a full sort."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_orderkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return (
        rev.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "order_priority_count",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    "join", "semi",
)
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (no fact-row duplication,
    no distinct needed)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sat = o.join(
        li,
        (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return sat.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "join", "anti",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join (same primitive as delete_keys, R4)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return delete_keys(
        c.select("c_custkey", "c_name"),
        o.select(F.col("o_custkey").alias("c_custkey")),
        "c_custkey",
    )


@query(
    "supplier_nation_join",
    """
    SELECT n_name, r_name, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
    "join", "broadcast",
)
def supplier_nation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"), F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"))
    )


# ---------------------------------------------------------------- windows

@query(
    "top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
    "window", "topk",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — one shuffle on the group key;
    AQE handles group-count skew."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "customer_running_total",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
    "window",
)
def customer_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey", F.round(F.sum("o_totalprice").over(w), 2).alias("running_total")
    )


@query(
    "order_gap_days",
    """
    SELECT o_custkey, o_orderkey,
           date_diff('day',
                     CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey) AS DATE),
                     CAST(o_orderdate AS DATE)) AS gap_days
    FROM orders
    """,
    "window", "lag",
)
def order_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lag(F.col("o_orderdate").cast("date")).over(w)
        ).alias("gap_days"),
    )


# ---------------------------------------------------------------- grouping sets / set ops

@query(
    "status_priority_rollup",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "rollup",
)
def status_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "repeat_status_customers",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "setop",
)
def repeat_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics on both engines)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.intersect(b)


@query(
    "single_status_customers",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus <> 'O'
    """,
    "setop",
)
def single_status_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") != "O").select("o_custkey")
    return a.subtract(b)  # EXCEPT (distinct) semantics


# ---------------------------------------------------------------- scalar functions

@query(
    "part_string_functions",
    """
    SELECT p_partkey,
           lower(p_type)                                  AS type_lc,
           upper(p_brand)                                 AS brand_uc,
           substring(p_name, 1, 8)                        AS name_prefix,
           length(p_name)                                 AS name_len,
           CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num,
           concat(p_brand, ':', p_type)                   AS brand_type,
           replace(p_type, ' ', '_')                      AS type_snake
    FROM part
    """,
    "scalar", "string",
)
def part_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_type").alias("type_lc"),
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).cast("long").alias("brand_num"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


@query(
    "monthly_order_stats",
    """
    SELECT year(o_orderdate) * 100 + month(o_orderdate) AS order_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY 1
    """,
    "scalar", "datetime",
)
def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy((F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------- events / JSON / time

@query(
    "events_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1
    """,
    "json", "events",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object on the semi-structured props column (SURVEY.md
    §2.2 scalar-fns row: events.props is a JSON string)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k_bucket", F.get_json_object("props", "$.k").cast("long") % 10)
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


@query(
    "event_type_stats",
    """
    SELECT event_type,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY event_type
    """,
    "aggregation", "events",
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@query(
    "hourly_event_counts",
    """
    SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS hour_epoch,
           event_type, count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    "datetime", "events",
)
def hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window shape (batch analog of the streaming surface):
    truncate-to-hour + grouped count."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "purchase_asof_click",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, max(value) AS click_value FROM e WHERE event_type = 'click' GROUP BY 1, 2)
    SELECT p.event_id, round(c.click_value, 2) AS click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "join", "asof", "events",
)
def purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the most recent prior click's value
    per user. Implemented as union + one window pass (operators/joins.py),
    NOT an O(n·m) theta join — single shuffle on user_id."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "ts", "user_id")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    joined = asof_join(purchases, clicks, on="ts", by="user_id", value_cols=["click_value"], suffix="")
    return joined.select("event_id", F.round(F.col("click_value"), 2).alias("click_value"))


@query(
    "stream_bottomk_user_sample",
    """
    WITH u AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS uid FROM events),
    h AS (
      SELECT uid, ('0x' || substr(md5(uid), 1, 15))::BIGINT AS h FROM u
    )
    SELECT CAST(uid AS BIGINT) AS user_id, h
    FROM h ORDER BY h, uid LIMIT 16
    """,
    "streaming", "sampling", "bottom-k", "stateful",
)
def stream_bottomk_user_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bottom-k (min-wise) user sample: per hash bucket the
    stateful op keeps only its k smallest portable-hash users — state
    bounded at buckets×k forever — and the exact global bottom-16 is a
    batch sort+limit over each bucket's FINAL list. Deterministic by
    construction (md5-bridge hash, id tiebreak), so the oracle replays
    the full-stream answer with ORDER BY hash LIMIT k. The streaming
    form of consistent sampling: two streams sampled this way pick the
    SAME users, so samples stay joinable."""
    from parquet_rewriter_spark.streaming.ops import (
        run_to_memory,
        stream_bottomk_sample,
        stream_table,
    )

    ev = stream_table(spark, sf_dir, "events").select("user_id")
    drained = run_to_memory(
        stream_bottomk_sample(ev, "user_id", k=16, n_buckets=8),
        output_mode="update",
    )
    w = Window.partitionBy("bucket")
    final = (
        drained.withColumn("vmax", F.max("version").over(w))
        .filter(F.col("version") == F.col("vmax"))
    )
    return (
        final.orderBy("h", "id").limit(16)
        .select(F.col("id").cast("long").alias("user_id"), "h")
    )


@query(
    "cdc_ordered_merge_scan",
    """
    -- final state after ONE merge of a CDC batch carrying several
    -- versions per key, resolved by sequence number (highest wins):
    --   k%10=0: seq1 UPSERT price 0, seq2 UPSERT price 100 -> 100
    --   k%7=0:  seq5 DELETE; k%14=0 adds seq6 UPSERT price 7 -> kept
    WITH muts AS (
      SELECT o_orderkey AS k, 'UPSERT' AS op, 2 AS seq, 100.0 AS price
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 'UPSERT', 1, 0.0 FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, 'DELETE', 5, NULL FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, 'UPSERT', 6, 7.0 FROM orders WHERE o_orderkey % 14 = 0
    ),
    winner AS (
      SELECT k, op, price,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM muts
    ),
    final_muts AS (SELECT k, op, price FROM winner WHERE rn = 1),
    merged AS (
      SELECT o.o_orderstatus,
             COALESCE(fm.price, o.o_totalprice) AS price,
             COALESCE(fm.op, 'KEEP') AS op
      FROM orders o LEFT JOIN final_muts fm ON o.o_orderkey = fm.k
    )
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           ROUND(SUM(price), 2) AS total
    FROM merged WHERE op <> 'DELETE' GROUP BY o_orderstatus
    """,
    "storage", "cdc", "seq-ordering", "merge",
)
def cdc_ordered_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-ordered merge: one mutation batch carries SEVERAL versions
    of a key (updates, then a delete, then a re-insert) and
    ``merge_into_table(seq_col=...)`` resolves each key to its highest
    sequence — the Debezium/CDC-offset contract, applied in a single
    zone-map-pruned merge instead of one merge per version. The oracle
    replays the winner-per-key resolution with a window and joins it
    over the base relation."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("cdc_ordered"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 8),
    )

    def mk(filter_expr, op, seq, price):
        b = o.filter(filter_expr)
        if price is None:
            b = b.withColumn("o_totalprice", F.lit(None).cast("double"))
        else:
            b = b.withColumn("o_totalprice", F.lit(price))
        return b.withColumn("op", F.lit(op)).withColumn("seq", F.lit(seq).cast("long"))

    muts = (
        mk("o_orderkey % 10 = 0", "UPSERT", 2, 100.0)
        .unionByName(mk("o_orderkey % 10 = 0", "UPSERT", 1, 0.0))
        .unionByName(mk("o_orderkey % 7 = 0", "DELETE", 5, None))
        .unionByName(mk("o_orderkey % 14 = 0", "UPSERT", 6, 7.0))
    )
    merge_into_table(t, muts, seq_col="seq")
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "signup_to_purchase_latency",
    """
    WITH su AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    fp AS (
      SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS first_purchase_ts
      FROM events e JOIN su ON e.user_id = su.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= su.signup_ts
      GROUP BY e.user_id
    )
    SELECT CAST(LEAST(date_diff('day', su.signup_ts, fp.first_purchase_ts), 7)
                AS BIGINT) AS days_bucket,
           CAST(count(*) AS BIGINT) AS n_users
    FROM su JOIN fp ON su.user_id = fp.user_id
    GROUP BY 1
    """,
    "analytics", "cohort", "conversion-latency",
)
def signup_to_purchase_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert cohort curve: each user's first signup, their
    first purchase AT OR AFTER it, and the day-gap histogram (capped at
    a 7+ bucket). Two user-keyed min-aggregations and one join — the
    aggregate-first shape that avoids shipping raw event pairs through
    a window at corpus scale."""
    e = _t(spark, sf_dir, "events")
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id").agg(F.min("ts").alias("signup_ts"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id").agg(F.min("ts").alias("first_purchase_ts"))
    )
    return (
        su.join(fp, "user_id")
        .select(
            F.least(
                F.datediff(F.col("first_purchase_ts"), F.col("signup_ts")),
                F.lit(7),
            ).cast("long").alias("days_bucket")
        )
        .groupBy("days_bucket")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "source_quality_wilson",
    """
    -- rank sources by the Wilson lower bound of their long-doc rate:
    -- the small-sample-safe ranking statistic (z = 1.96)
    WITH pe AS (
      SELECT source, count(*) AS n,
             SUM(CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END) AS hits
      FROM documents GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n, CAST(hits AS BIGINT) AS hits,
           ROUND((hits / n + 1.9208 / n
                  - 1.96 * sqrt((hits / n) * (1 - hits / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lb
    FROM pe
    """,
    "analytics", "quality", "wilson",
)
def source_quality_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower bound of each source's long-document rate —
    THE ranking statistic for proportions under unequal sample sizes
    (plain rates over-rank tiny sources). One aggregation plus a
    closed-form projection; z = 1.96 constants folded (z² = 3.8416)."""
    d = _t(spark, sf_dir, "documents")
    pe = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("n_chars") >= 150).cast("long")).alias("hits"),
    )
    p = F.col("hits") / F.col("n")
    n = F.col("n")
    wilson = (
        (p + F.lit(1.9208) / n
         - F.lit(1.96) * F.sqrt(p * (1 - p) / n + F.lit(0.9604) / (n * n)))
        / (1 + F.lit(3.8416) / n)
    )
    return pe.select(
        "source", F.col("n").cast("long").alias("n"),
        F.col("hits").cast("long").alias("hits"),
        F.round(wilson, 6).alias("wilson_lb"),
    )


@query(
    "ship_latency_percentiles",
    """
    WITH lat AS (
      SELECT l_returnflag,
             date_diff('day', o_orderdate, l_shipdate) AS days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(quantile_cont(days, 0.5), 4) AS p50,
           ROUND(quantile_cont(days, 0.9), 4) AS p90,
           ROUND(quantile_cont(days, 0.99), 4) AS p99,
           CAST(max(days) AS BIGINT) AS max_days
    FROM lat GROUP BY l_returnflag
    """,
    "analytics", "percentiles", "join",
)
def ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per return flag: fact-fact
    equi-join on the order key (both sides shuffle-joined; no broadcast
    assumption at scale), then EXACT continuous percentiles — Spark's
    percentile() and DuckDB's quantile_cont share interpolation
    semantics, so the oracle matches to rounding."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_returnflag",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("days"),
    )
    return lat.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(days, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(days, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(days, 0.99)"), 4).alias("p99"),
        F.max("days").cast("long").alias("max_days"),
    )


@query(
    "stream_hourly_top_event_type",
    """
    -- per hour: the event type with the highest total value, chosen by
    -- (value, type) so ties are deterministic in both engines
    WITH h AS (
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS hour_epoch,
             event_type, SUM(value) AS v
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT hour_epoch, event_type, v,
             row_number() OVER (
               PARTITION BY hour_epoch ORDER BY v DESC, event_type) AS rn
      FROM h
    )
    SELECT hour_epoch, event_type AS top_type, ROUND(v, 2) AS top_value
    FROM r WHERE rn = 1
    """,
    "streaming", "window", "argmax",
)
def stream_hourly_top_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming arg-max per window: a (window, type) streaming
    aggregation drained complete, then the per-hour winner by
    (value, type) — deterministic ties. State is bounded at
    windows×types; the winner selection runs batch-side over the
    drained aggregate, mirroring the SQL oracle's window exactly."""
    from parquet_rewriter_spark.streaming.ops import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.sum("value").alias("v"))
    )
    drained = run_to_memory(agg, output_mode="complete")
    w = Window.partitionBy("w").orderBy(F.col("v").desc(), "event_type")
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_epoch"),
            F.col("event_type").alias("top_type"),
            F.round("v", 2).alias("top_value"),
        )
    )


@query(
    "nation_trade_balance",
    """
    -- per nation: inbound supplier revenue vs outbound customer spend
    -- and the net balance — the two fact views of the same geography
    WITH spend AS (
      SELECT c_nationkey AS nk, SUM(o_totalprice) AS outbound
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    ),
    supply AS (
      SELECT s_nationkey AS nk,
             SUM(l_extendedprice * (1 - l_discount)) AS inbound
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey
    )
    SELECT n_name,
           ROUND(COALESCE(outbound, 0), 2) AS customer_spend,
           ROUND(COALESCE(inbound, 0), 2) AS supplier_revenue,
           ROUND(COALESCE(inbound, 0) - COALESCE(outbound, 0), 2) AS balance
    FROM nation
    LEFT JOIN spend ON n_nationkey = spend.nk
    LEFT JOIN supply ON n_nationkey = supply.nk
    """,
    "analytics", "geography", "star-join",
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both fact views of one geography in a single result: customer
    spend (orders×customer) against supplier revenue (lineitem×
    supplier) per nation, with the net balance. Two independent
    broadcast-dimension aggregations meeting at the 25-row nation
    relation — no fact-fact join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey").agg(F.sum("o_totalprice").alias("outbound"))
    )
    supply = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy("s_nationkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
             .alias("inbound"))
    )
    return (
        n.join(spend, n.n_nationkey == spend.c_nationkey, "left")
        .join(supply, n.n_nationkey == supply.s_nationkey, "left")
        .select(
            "n_name",
            F.round(F.coalesce("outbound", F.lit(0.0)), 2).alias("customer_spend"),
            F.round(F.coalesce("inbound", F.lit(0.0)), 2).alias("supplier_revenue"),
            F.round(
                F.coalesce("inbound", F.lit(0.0)) - F.coalesce("outbound", F.lit(0.0)),
                2,
            ).alias("balance"),
        )
    )


@query(
    "error_burstiness_fano",
    """
    -- Fano factor (variance/mean) of per-hour error counts: >1 means
    -- bursty failures, ~1 Poisson-like background — the one-number
    -- incident-pattern screen
    WITH h AS (
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS hr,
             count(*) AS n
      FROM events WHERE event_type = 'error' GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           ROUND(AVG(n), 6) AS mean_per_hour,
           ROUND(var_samp(n) / AVG(n), 6) AS fano_factor
    FROM h
    """,
    "analytics", "reliability", "burstiness",
)
def error_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error burstiness: the Fano factor of hourly error counts (sample
    variance over mean — Poisson background sits at 1, incident bursts
    push above). One hour rollup plus one scalar aggregate."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    h = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    return h.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.avg("n"), 6).alias("mean_per_hour"),
        F.round(F.var_samp("n") / F.avg("n"), 6).alias("fano_factor"),
    )


@query(
    "top_customer_overlap",
    """
    -- do the biggest spenders order most often? overlap of the top-100
    -- customers by spend vs by order count (deterministic tiebreaks)
    WITH spend AS (
      SELECT o_custkey, SUM(o_totalprice) AS s, count(*) AS f
      FROM orders GROUP BY o_custkey
    ),
    top_s AS (SELECT o_custkey FROM spend ORDER BY s DESC, o_custkey LIMIT 100),
    top_f AS (SELECT o_custkey FROM spend ORDER BY f DESC, o_custkey LIMIT 100)
    SELECT CAST((SELECT count(*) FROM top_s JOIN top_f USING (o_custkey))
                AS BIGINT) AS n_overlap,
           CAST(100 AS BIGINT) AS k
    """,
    "analytics", "topk", "overlap",
)
def top_customer_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k set overlap: top-100 customers by spend vs by frequency,
    both as TakeOrderedAndProject (never a global sort), joined for the
    intersection size — the concentration-vs-engagement sanity check."""
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("s"), F.count(F.lit(1)).alias("f")
    )
    top_s = spend.orderBy(F.col("s").desc(), "o_custkey").limit(100).select("o_custkey")
    top_f = spend.orderBy(F.col("f").desc(), "o_custkey").limit(100).select("o_custkey")
    overlap = top_s.join(top_f, "o_custkey").count()
    return spark.createDataFrame([(overlap, 100)], "n_overlap long, k long")


@query(
    "order_gap_distribution",
    """
    -- distribution of per-customer inter-order gaps (days), capped
    -- into a 30+ bucket: the repeat-purchase cadence histogram
    WITH seq AS (
      SELECT o_custkey, o_orderdate,
             lag(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_date
      FROM orders
    )
    SELECT CAST(LEAST(date_diff('day', prev_date, o_orderdate) // 7, 4)
                AS BIGINT) AS gap_weeks_bucket,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM seq WHERE prev_date IS NOT NULL
    GROUP BY 1
    """,
    "analytics", "cadence", "window",
)
def order_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence: lag() per customer over order dates
    (one shuffle on the customer key, deterministic orderkey tiebreak),
    gaps bucketed by week with a 4+ cap. The inter-event-time histogram
    every retention model starts from."""
    o = _t(spark, sf_dir, "orders")
    seq = o.withColumn(
        "prev_date",
        F.lag("o_orderdate").over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ),
    ).filter(F.col("prev_date").isNotNull())
    bucket = F.least(
        F.floor(F.datediff(F.col("o_orderdate"), F.col("prev_date")) / 7),
        F.lit(4),
    ).cast("long")
    return seq.groupBy(bucket.alias("gap_weeks_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps")
    )


@query(
    "hourly_value_autocorr",
    """
    -- lag-1 autocorrelation of the hourly total event value: the
    -- one-number seasonality/momentum screen for a metric stream
    WITH h AS (
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS hr,
             SUM(value) AS v
      FROM events GROUP BY 1
    ),
    l AS (
      SELECT v, lag(v) OVER (ORDER BY hr) AS pv FROM h
    )
    SELECT CAST(count(*) AS BIGINT) AS n_hours,
           ROUND(corr(v, pv), 6) AS lag1_autocorr
    FROM l WHERE pv IS NOT NULL
    """,
    "analytics", "timeseries", "autocorrelation",
)
def hourly_value_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of hourly event value: hourly rollup, one
    lag over the (tiny) hour series, built-in corr — the quick
    persistence screen before fitting anything heavier. The hour series
    is aggregate-sized, so the ordered window is a non-issue; the raw
    scan never sorts."""
    e = _t(spark, sf_dir, "events")
    h = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hr")
    ).agg(F.sum("value").alias("v"))
    lagd = h.withColumn("pv", F.lag("v").over(Window.orderBy("hr"))).filter(
        F.col("pv").isNotNull()
    )
    return lagd.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.corr("v", "pv"), 6).alias("lag1_autocorr"),
    )


@query(
    "brand_price_index",
    """
    -- brand price positioning: each brand's average retail price as an
    -- index against ITS part-type average (ratio-to-category), so
    -- premium/value brands separate within comparable goods
    WITH tp AS (
      SELECT p_type, AVG(p_retailprice) AS type_avg FROM part GROUP BY p_type
    ),
    bp AS (
      SELECT p_brand, p_type, AVG(p_retailprice) AS brand_type_avg,
             count(*) AS n
      FROM part GROUP BY p_brand, p_type
    )
    SELECT p_brand,
           CAST(SUM(n) AS BIGINT) AS n_parts,
           ROUND(SUM(brand_type_avg / type_avg * n) / SUM(n), 6)
             AS avg_price_index
    FROM bp JOIN tp USING (p_type)
    GROUP BY p_brand
    """,
    "analytics", "pricing", "ratio-to-category",
)
def brand_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-category price positioning: brand×type averages indexed
    against the type average, then count-weighted per brand — two
    aggregations and a broadcast-sized join; premium vs value brands
    separate within comparable part types instead of being confounded
    by mix."""
    p = _t(spark, sf_dir, "part")
    tp = p.groupBy("p_type").agg(F.avg("p_retailprice").alias("type_avg"))
    bp = p.groupBy("p_brand", "p_type").agg(
        F.avg("p_retailprice").alias("brand_type_avg"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        bp.join(tp, "p_type")
        .groupBy("p_brand")
        .agg(
            F.sum("n").cast("long").alias("n_parts"),
            F.round(
                F.sum(F.col("brand_type_avg") / F.col("type_avg") * F.col("n"))
                / F.sum("n"),
                6,
            ).alias("avg_price_index"),
        )
    )


@query(
    "customer_rfm_segments",
    """
    -- classic RFM segmentation: per-customer recency / frequency /
    -- monetary quartiles (deterministic tiebreak by custkey), counted
    -- per (r, f, m) cell
    WITH c AS (
      SELECT o_custkey,
             max(o_orderdate) AS last_order,
             count(*) AS freq,
             SUM(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT count(*) AS n FROM c),
    scored AS (
      SELECT o_custkey,
             ((row_number() OVER (ORDER BY last_order, o_custkey) - 1)
               * 4) // (SELECT n FROM n) + 1 AS r,
             ((row_number() OVER (ORDER BY freq, o_custkey) - 1)
               * 4) // (SELECT n FROM n) + 1 AS f,
             ((row_number() OVER (ORDER BY monetary, o_custkey) - 1)
               * 4) // (SELECT n FROM n) + 1 AS m
      FROM c
    )
    SELECT CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r, f, m
    """,
    "analytics", "rfm", "segmentation", "window",
)
@_clean_query
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation WITHOUT the global-sort anti-pattern: each
    dimension's total order comes from the range-partitioned contiguous
    -id pass (operators/ids.py — the machinery that replaces a
    single-partition row_number window at scale), and the quartile is
    the closed form floor(rank*4/n)+1 — identical arithmetic in the
    oracle, deterministic custkey tiebreaks. Three range-partition
    passes over the customer-sized rollup, one cell count."""
    from parquet_rewriter_spark.operators.ids import assign_contiguous_ids

    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("o_totalprice").alias("monetary"),
    )
    n_total = c.count()

    def quartile(df, order_cols, out):
        ranked = assign_contiguous_ids(df, order_cols, id_col="__rk")
        return ranked.withColumn(
            out, (F.col("__rk") * 4 / F.lit(n_total) + 1).cast("int")
        ).drop("__rk")

    scored = quartile(c, ["last_order", "o_custkey"], "r")
    scored = quartile(scored, ["freq", "o_custkey"], "f")
    scored = quartile(scored, ["monetary", "o_custkey"], "m")
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "corpus_zipf_slope",
    """
    -- Zipf fit: slope of log(freq) over log(rank) for the top-1000
    -- token frequencies (healthy natural text ~ -1); regr_slope is the
    -- closed-form least squares both engines share
    WITH tf AS (
      SELECT t AS token, count(*) AS n
      FROM documents, LATERAL unnest(string_split(text, ' ')) AS u(t)
      GROUP BY t
    ),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank
      FROM tf
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           ROUND(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
           ROUND(regr_r2(ln(n), ln(rank)), 6) AS r2
    FROM ranked WHERE rank <= 1000
    """,
    "llm-pipeline", "corpus-stats", "zipf", "regression",
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health check: least-squares slope of the log-log token
    rank/frequency curve over the top-1000 tokens (natural language
    sits near -1; synthetic or templated text drifts off). Token
    counting is one exploded aggregate; the regression is the built-in
    closed form (regr_slope/regr_r2) — no iterative fitting."""
    d = _t(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = tf.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.col("n").desc(), "token"))
    ).filter(F.col("rank") <= 1000)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.expr("regr_slope(ln(n), ln(rank))"), 6).alias("zipf_slope"),
        F.round(F.expr("regr_r2(ln(n), ln(rank))"), 6).alias("r2"),
    )


@query(
    "source_ngram_novelty",
    """
    -- per-source corpus diversity: share of the source's DISTINCT
    -- 3-grams that appear in NO other source
    WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t
                 FROM documents),
    g AS (
      SELECT DISTINCT source,
             array_to_string(t[i:i+2], ' ') AS gram
      FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r
    ),
    spread AS (
      SELECT gram, count(DISTINCT source) AS n_sources FROM g GROUP BY gram
    )
    SELECT g.source,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           ROUND(AVG(CASE WHEN spread.n_sources = 1 THEN 1.0 ELSE 0.0 END), 6)
             AS novelty
    FROM g JOIN spread USING (gram)
    GROUP BY g.source
    """,
    "llm-pipeline", "diversity", "novelty",
)
def source_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source novelty: the share of each source's distinct
    3-grams found in no other source — the diversity/contamination
    complement of the containment scores (high novelty = the source
    adds vocabulary the mixture lacks). Gram extraction reuses the
    codegen arrays_zip layout; one distinct, one gram-keyed count, one
    join back."""
    tok = F.split(F.col("text"), " ")
    k = F.size(tok) - 2
    zipped = F.arrays_zip(*[F.slice(tok, i + 1, F.greatest(k, F.lit(1)))
                            for i in range(3)])
    d = _t(spark, sf_dir, "documents")
    g = (
        d.select("source", F.col("text"), k.alias("k"),
                 F.posexplode(zipped).alias("pos", "z"))
        .filter(F.col("pos") < F.col("k"))
        .select("source",
                F.concat_ws(" ", *[F.col("z")[str(i)] for i in range(3)])
                .alias("gram"))
        .distinct()
    )
    spread = g.groupBy("gram").agg(
        F.count_distinct("source").alias("n_sources")
    )
    return (
        g.join(spread, "gram")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_sources") == 1).cast("long")).alias("n_unique"),
            F.round(
                F.avg(F.when(F.col("n_sources") == 1, 1.0).otherwise(0.0)), 6
            ).alias("novelty"),
        )
    )


@query(
    "quantity_benford_screen",
    """
    -- first-digit distribution of line-item quantities vs the Benford
    -- expectation, with the chi-square deviation statistic — the
    -- classic bookkeeping-anomaly screen (uniform fixture quantities
    -- SHOULD deviate hard; the screen reports, never judges)
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM lineitem WHERE l_quantity >= 1
    ),
    c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT c.digit,
           CAST(c.n AS BIGINT) AS n,
           ROUND(c.n * 1.0 / t.total, 6) AS share,
           ROUND(log10(1.0 + 1.0 / c.digit), 6) AS benford_share,
           ROUND(POW(c.n * 1.0 / t.total - log10(1.0 + 1.0 / c.digit), 2)
                 / log10(1.0 + 1.0 / c.digit), 6) AS chi2_term
    FROM c, t
    """,
    "analytics", "quality", "benford",
)
def quantity_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit (Benford) screen over line-item quantities: observed
    leading-digit shares against log10(1+1/d) with per-digit chi-square
    terms — one count per digit plus a scalar total. The bookkeeping
    anomaly detector, expressed as two aggregations."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 1)
    d = li.select(
        F.substring(F.col("l_quantity").cast("bigint").cast("string"), 1, 1)
        .cast("bigint").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    share = F.col("n") / F.col("total")
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(share, 6).alias("share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(F.pow(share - benford, 2) / benford, 6).alias("chi2_term"),
    )


@query(
    "user_behavior_entropy",
    """
    -- Shannon entropy of each user's event-type mix, summarized into
    -- entropy-decile counts (diverse vs single-minded populations)
    WITH mix AS (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT user_id, SUM(n) AS tn FROM mix GROUP BY user_id),
    ent AS (
      SELECT mix.user_id,
             -SUM((n * 1.0 / tn) * ln(n * 1.0 / tn)) AS h
      FROM mix JOIN tot USING (user_id) GROUP BY mix.user_id
    )
    SELECT CAST(LEAST(CAST(floor(h / ln(2) * 4) AS BIGINT), 7) AS BIGINT)
             AS entropy_bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           ROUND(avg(h / ln(2)), 6) AS avg_bits
    FROM ent GROUP BY 1
    """,
    "analytics", "entropy", "behavior",
)
def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity: Shannon entropy (bits) of each user's
    event-type distribution, bucketed into quarter-bit bands — the
    engagement-mix segmentation. Two aggregations and a join; the
    entropy is exact, no sampling."""
    e = _t(spark, sf_dir, "events")
    mix = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = mix.groupBy("user_id").agg(F.sum("n").alias("tn"))
    p = F.col("n") / F.col("tn")
    ent = (
        mix.join(tot, "user_id")
        .groupBy("user_id")
        .agg((-F.sum(p * F.log(p))).alias("h"))
    )
    bits = F.col("h") / F.log(F.lit(2.0))
    return (
        ent.select(
            F.least(F.floor(bits * 4), F.lit(7)).cast("long")
            .alias("entropy_bucket"),
            bits.alias("bits"),
        )
        .groupBy("entropy_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("bits"), 6).alias("avg_bits"),
        )
    )


@query(
    "revenue_time_rollup",
    """
    -- day / month / grand-total revenue in ONE grouping-sets pass;
    -- grouping() flags disambiguate the NULL levels
    SELECT COALESCE(strftime(date_trunc('month', o_orderdate), '%Y-%m'), 'ALL')
             AS month,
           COALESCE(strftime(o_orderdate, '%Y-%m-%d'), 'ALL') AS day,
           CAST(GROUPING(date_trunc('month', o_orderdate)) AS INT)
             + CAST(GROUPING(o_orderdate) AS INT) AS lvl,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS (
      (date_trunc('month', o_orderdate), o_orderdate),
      (date_trunc('month', o_orderdate)),
      ()
    )
    """,
    "aggregation", "grouping-sets", "time-hierarchy",
)
def revenue_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day/month/total revenue in ONE aggregation via GROUPING SETS —
    the time-hierarchy rollup dashboards refresh constantly, computed
    without three scans or a union. grouping() flags make the NULL
    subtotal levels explicit; string-rendered keys keep the two
    engines' date semantics aligned."""
    o = _t(spark, sf_dir, "orders")
    # SQL grouping sets through the session — the engine-portable form
    # (the DataFrame-side groupingSets API is newer and adds nothing
    # here; the plan is the same single Expand + aggregate)
    o.createOrReplaceTempView("__rtr_orders")
    return spark.sql(
        """
        SELECT COALESCE(date_format(date_trunc('month', o_orderdate),
                                    'yyyy-MM'), 'ALL') AS month,
               COALESCE(date_format(o_orderdate, 'yyyy-MM-dd'), 'ALL') AS day,
               CAST(GROUPING(date_trunc('month', o_orderdate)) AS INT)
                 + CAST(GROUPING(o_orderdate) AS INT) AS lvl,
               count(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM __rtr_orders
        GROUP BY GROUPING SETS (
          (date_trunc('month', o_orderdate), o_orderdate),
          (date_trunc('month', o_orderdate)),
          ()
        )
        """
    )


@query(
    "join_skew_report",
    """
    -- skew diagnostics for the events-by-user join key: hottest keys,
    -- their share of all rows, and the p99/median frequency ratio
    WITH freq AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT SUM(n) AS total,
             quantile_cont(n, 0.5) AS med,
             quantile_cont(n, 0.99) AS p99
      FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_freq,
           ROUND(max(n) * 1.0 / max(total), 6) AS max_key_share,
           ROUND(max(p99) / max(med), 6) AS p99_over_median
    FROM freq, stats
    """,
    "diagnostics", "skew", "join",
)
def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew pre-flight: key-frequency profile of the events join
    key (hottest key's row share, p99/median frequency ratio) — the
    numbers that decide between a plain shuffle join, salting, and the
    hot/cold split join (operators/skew.py). One count per key plus a
    tiny percentile aggregate."""
    e = _t(spark, sf_dir, "events")
    freq = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    stats = freq.agg(
        F.sum("n").alias("total"),
        F.expr("percentile(n, 0.5)").alias("med"),
        F.expr("percentile(n, 0.99)").alias("p99"),
    )
    return freq.crossJoin(F.broadcast(stats)).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").cast("long").alias("max_freq"),
        F.round(F.max("n") / F.max("total"), 6).alias("max_key_share"),
        F.round(F.max("p99") / F.max("med"), 6).alias("p99_over_median"),
    )


@query(
    "maintained_table_scan",
    """
    -- data state after churn + a FULL maintenance pass (fsck repair,
    -- incremental compact, sidecar heal, vacuum): maintenance must be
    -- invisible to readers — the oracle is the churned data itself
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CASE WHEN o_orderkey % 6 = 0 THEN 1.0
                          ELSE o_totalprice END), 2) AS total
    FROM orders GROUP BY o_orderstatus
    """,
    "storage", "maintenance", "optimize",
)
def maintained_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE/VACUUM pass as a correctness gate: churn a table
    (merge re-pricing a sixth of the keys — small-file litter plus
    retired versions), plant crashed-writer debris, run the one-call
    maintenance pass (operators/maintenance.py), and read back. The
    oracle is the post-churn data — maintenance that changes ANY value,
    drops a row, or resurrects debris fails the hash compare. Also
    asserts the table's own integrity audits pass afterwards."""
    import os

    from parquet_rewriter_spark.operators.maintenance import maintain
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("maint_scan"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 8),
    )
    muts = o.filter(F.col("o_orderkey") % 6 == 0).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    merge_into_table(t, muts, allow_splice=False)
    os.makedirs(os.path.join(t.path, "_staging-crashed"), exist_ok=True)
    maintain(t, retain_versions=1, fsck_min_age_s=0.0)
    assert t.fsck() == {
        "orphan_staging": [], "orphan_tmp": [], "orphan_data": [],
        "missing": [], "orphan_branch": [],
    }
    assert t.validate()["ok"]
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "curation_survivorship_funnel",
    """
    WITH RECURSIVE quality AS (
      SELECT doc_id, text, lang FROM documents
      WHERE n_chars BETWEEN 50 AND 199
        AND len(string_split(text, ' ')) >= 8
    ),
    exact AS (
      SELECT doc_id, text, lang FROM (
        SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS s
          FROM exact),
    pairs AS (
      SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.4
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    canon AS (
      SELECT e.doc_id FROM exact e JOIN comp USING (doc_id)
      WHERE e.doc_id = comp.cluster_id
    )
    SELECT 1 AS stage_order, 'raw' AS stage,
           CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs
    UNION ALL SELECT 2, 'quality_gate',
           CAST((SELECT count(*) FROM quality) AS BIGINT)
    UNION ALL SELECT 3, 'exact_dedup',
           CAST((SELECT count(*) FROM exact) AS BIGINT)
    UNION ALL SELECT 4, 'near_dup_canonical',
           CAST((SELECT count(*) FROM canon) AS BIGINT)
    """,
    "llm-pipeline", "observability", "funnel",
)
@_clean_query
def curation_survivorship_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability: document counts through each curation
    stage (raw → quality gate → exact dedup → near-dup canonical) as a
    4-row funnel — the first dashboard every curation run needs. Each
    stage is the already-gated operator; the oracle replays the whole
    chain (recursive closure included) and compares the stage counts."""
    from parquet_rewriter_spark.functions.text import token_count
    from parquet_rewriter_spark.operators.cluster import near_dup_clusters
    from parquet_rewriter_spark.operators.dedup import exact_dedup, jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    quality = d.filter(
        F.col("n_chars").between(50, 199) & (token_count("text") >= 8)
    )
    # persisted: four consumers (both jaccard self-join sides, the
    # cluster node set, the stage-count action) otherwise each re-run
    # scan + quality filter + dedup window shuffle (guide §2.4/§5)
    exact = persist(exact_dedup(quality, ["text"], "doc_id"))
    pairs = jaccard_pairs(exact, "doc_id", "text", 0.4, block_cols=["lang"],
                          shingle_n=1)
    clusters = near_dup_clusters(exact, pairs)
    canon = clusters.filter(F.col("is_canonical"))
    counts = [
        (1, "raw", d.count()),
        (2, "quality_gate", quality.count()),
        (3, "exact_dedup", exact.count()),
        (4, "near_dup_canonical", canon.count()),
    ]
    return spark.createDataFrame(
        counts, "stage_order int, stage string, n_docs long"
    )


@query(
    "priority_mix_chi2_monthly",
    """
    -- chi-square statistic of each month's order-priority mix against
    -- the overall mix: the distribution-shift screen as one number per
    -- month (expected count = month_total * overall_share)
    WITH m AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
             o_orderpriority, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    tot AS (
      SELECT o_orderpriority, count(*) AS n_all,
             SUM(count(*)) OVER () AS n_grand
      FROM orders GROUP BY 1
    ),
    mt AS (SELECT month, SUM(n) AS n_month FROM m GROUP BY month)
    SELECT m.month,
           CAST(max(mt.n_month) AS BIGINT) AS n_orders,
           ROUND(SUM(
             POW(m.n - mt.n_month * tot.n_all / tot.n_grand, 2)
             / (mt.n_month * tot.n_all / tot.n_grand)
           ), 6) AS chi2
    FROM m JOIN mt ON m.month = mt.month
           JOIN tot ON m.o_orderpriority = tot.o_orderpriority
    GROUP BY m.month
    """,
    "analytics", "drift", "chi-square",
)
def priority_mix_chi2_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift screen: chi-square of each month's priority
    mix against the overall mix. Three aggregates and two broadcast-
    sized joins (months × priorities); the categorical complement of
    the KS drift monitor, which handles continuous columns."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_format(F.col("o_orderdate"), "yyyy-MM").alias("month"),
        "o_orderpriority",
    )
    m = o.groupBy("month", "o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    tot = (
        o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_all"))
        .withColumn("n_grand", F.sum("n_all").over(Window.partitionBy()))
    )
    mt = m.groupBy("month").agg(F.sum("n").alias("n_month"))
    exp = F.col("n_month") * F.col("n_all") / F.col("n_grand")
    return (
        m.join(mt, "month").join(tot, "o_orderpriority")
        .groupBy("month")
        .agg(
            F.max("n_month").cast("long").alias("n_orders"),
            F.round(F.sum(F.pow(F.col("n") - exp, 2) / exp), 6).alias("chi2"),
        )
    )


@query(
    "part_supplier_price_spread",
    """
    -- per part: unit-price dispersion across its suppliers (sourcing
    -- arbitrage screen); parts with a single supplier report 0 spread
    WITH up AS (
      SELECT l_partkey, l_suppkey,
             SUM(l_extendedprice) / SUM(l_quantity) AS unit_price
      FROM lineitem GROUP BY 1, 2
    ),
    sp AS (
      SELECT l_partkey,
             count(*) AS n_suppliers,
             (max(unit_price) - min(unit_price)) / avg(unit_price) AS rel_spread
      FROM up GROUP BY 1
    )
    SELECT CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(count(*) AS BIGINT) AS n_parts,
           ROUND(avg(rel_spread), 6) AS avg_rel_spread,
           ROUND(max(rel_spread), 6) AS max_rel_spread
    FROM sp GROUP BY n_suppliers
    """,
    "analytics", "sourcing", "dispersion",
)
def part_supplier_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sourcing-arbitrage screen: per (part, supplier) unit price from
    the lineitem rollup, then per-part relative spread across its
    suppliers, summarized by supplier count. Two map-combining
    aggregations — the partsupp-free reconstruction of TPC-H's
    supplier-cost comparisons on this fixture."""
    li = _t(spark, sf_dir, "lineitem")
    up = li.groupBy("l_partkey", "l_suppkey").agg(
        (F.sum("l_extendedprice") / F.sum("l_quantity")).alias("unit_price")
    )
    sp = up.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        (
            (F.max("unit_price") - F.min("unit_price")) / F.avg("unit_price")
        ).alias("rel_spread"),
    )
    return sp.groupBy("n_suppliers").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.avg("rel_spread"), 6).alias("avg_rel_spread"),
        F.round(F.max("rel_spread"), 6).alias("max_rel_spread"),
    ).select(
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        "n_parts", "avg_rel_spread", "max_rel_spread",
    )


@query(
    "segment_revenue_gini",
    """
    -- exact Gini coefficient of per-customer revenue within each
    -- market segment, via the rank-sum identity
    --   G = 2*SUM(rank*r)/(n*SUM(r)) - (n+1)/n
    -- with a deterministic rank (revenue, then custkey)
    WITH rev AS (
      SELECT c_mktsegment, c_custkey, SUM(o_totalprice) AS r
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_mktsegment, r,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY r, c_custkey) AS rnk
      FROM rev
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           ROUND(2.0 * SUM(rnk * r) / (count(*) * SUM(r))
                 - (count(*) + 1.0) / count(*), 6) AS gini
    FROM ranked GROUP BY c_mktsegment
    """,
    "analytics", "inequality", "gini", "window",
)
def segment_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer revenue per segment using the
    rank-sum identity — one rollup, one rank window, one aggregation;
    no O(n²) pairwise |xi−xj| expansion. Deterministic tie-break keeps
    both engines' ranks identical, so the oracle matches exactly."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("r", "c_custkey")
    ranked = rev.withColumn("rnk", F.row_number().over(w))
    n = F.count(F.lit(1))
    return ranked.groupBy("c_mktsegment").agg(
        n.cast("long").alias("n_customers"),
        F.round(
            F.lit(2.0) * F.sum(F.col("rnk") * F.col("r")) / (n * F.sum("r"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
    )


@query(
    "priority_sla_attainment",
    """
    -- per order priority: share of orders whose FIRST line item shipped
    -- within 30 days of the order date
    WITH first_ship AS (
      SELECT l_orderkey, min(l_shipdate) AS first_ship
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(AVG(CASE WHEN date_diff('day', o_orderdate, first_ship) <= 30
                          THEN 1.0 ELSE 0.0 END), 6) AS sla_30d_rate
    FROM orders JOIN first_ship ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    "analytics", "sla", "operational",
)
def priority_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational SLA attainment: each order's FIRST ship date (one
    map-combining min per order key), joined back to orders for the
    within-30-days rate per priority — the aggregate-then-join shape
    that keeps the fact-fact join to one row per order."""
    li = _t(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = o.join(li, o.o_orderkey == li.l_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.avg(
                F.when(
                    F.datediff(F.col("first_ship"), F.col("o_orderdate")) <= 30,
                    1.0,
                ).otherwise(0.0)
            ),
            6,
        ).alias("sla_30d_rate"),
    )


@query(
    "segment_revenue_concentration",
    """
    -- revenue concentration per market segment: share of the segment's
    -- revenue owned by its top decile of customers (a Pareto/Gini-lite
    -- measure), plus the customer counts behind it
    WITH rev AS (
      SELECT c_mktsegment, c_custkey, SUM(o_totalprice) AS r
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_mktsegment, r,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY r DESC, c_custkey) AS rn,
             count(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM rev
    )
    SELECT c_mktsegment,
           CAST(max(n) AS BIGINT) AS n_customers,
           ROUND(SUM(CASE WHEN rn * 10 <= n THEN r ELSE 0 END) / SUM(r), 6)
             AS top_decile_share
    FROM ranked GROUP BY c_mktsegment
    """,
    "analytics", "concentration", "window",
)
def segment_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (top-decile share) per market segment:
    per-customer revenue rollup, a rank window within each segment, and
    the decile share from one conditional sum — the Pareto question
    every revenue team asks, with a deterministic rank tiebreak so both
    engines agree exactly."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    rev = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    w = Window.partitionBy("c_mktsegment")
    ranked = rev.withColumn(
        "rn", F.row_number().over(w.orderBy(F.col("r").desc(), F.col("c_custkey")))
    ).withColumn("n", F.count(F.lit(1)).over(w))
    return ranked.groupBy("c_mktsegment").agg(
        F.max("n").cast("long").alias("n_customers"),
        F.round(
            F.sum(F.when(F.col("rn") * 10 <= F.col("n"), F.col("r")).otherwise(0.0))
            / F.sum("r"),
            6,
        ).alias("top_decile_share"),
    )


@query(
    "hourly_value_ohlc",
    """
    WITH e AS (
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT)
               AS hour_epoch,
             CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events WHERE value IS NOT NULL
    ),
    w AS (
      SELECT hour_epoch, value,
             first_value(value) OVER (
               PARTITION BY hour_epoch ORDER BY ts, event_id) AS open,
             first_value(value) OVER (
               PARTITION BY hour_epoch ORDER BY ts DESC, event_id DESC) AS close
      FROM e
    )
    SELECT hour_epoch,
           ROUND(max(open), 4) AS open,
           ROUND(max(value), 4) AS high,
           ROUND(min(value), 4) AS low,
           ROUND(max(close), 4) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM w GROUP BY hour_epoch
    """,
    "timeseries", "downsample", "ohlc",
)
def hourly_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (candlestick bars): per hour, the first/last
    value by (ts, event_id) via min_by/max_by over a STRUCT ordering
    key — one map-combining aggregation, no window, no sort. The
    classic financial resample expressed as a single groupBy; ties
    broken deterministically by event_id so both engines pick the same
    open/close."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch")
        )
        .agg(
            F.round(F.min_by("value", ord_key), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", ord_key), 4).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "u_shape_attribution",
    """
    WITH p AS (
      SELECT event_id AS p_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT event_id AS t_id, user_id, CAST(ts AS TIMESTAMP) AS t_ts,
             event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ),
    j AS (
      SELECT p.p_id, p.value, t.t_id, t.touch_type, t.t_ts
      FROM p JOIN t USING (user_id)
      WHERE t.t_ts > p.p_ts - INTERVAL 24 HOURS AND t.t_ts <= p.p_ts
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn,
             count(*) OVER (PARTITION BY p_id) AS n
      FROM j
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           ROUND(SUM(value * CASE WHEN n = 1 THEN 1.0
                                  WHEN n = 2 THEN 0.5
                                  WHEN rn = 1 OR rn = n THEN 0.4
                                  ELSE 0.2 / (n - 2) END), 2)
             AS attributed_value
    FROM r GROUP BY touch_type
    """,
    "analytics", "attribution", "range-join", "window",
)
def u_shape_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shape) multi-touch attribution: every click or
    view in the 24h before a purchase shares the purchase value — first
    and last touch 40% each, middles split the remaining 20% (n=1 →
    100%, n=2 → 50/50). The per-user time-band join is an equi-join on
    user_id with the band as a post-filter (operators/joins.py
    range_join — never a cross join); weights are two window passes
    over the matched touches. The single-touch as-of queries pick ONE
    touch; this distributes over ALL of them — the other half of the
    ad-tech attribution surface."""
    from parquet_rewriter_spark.operators.joins import range_join

    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", "ts", "value"
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"), "user_id", "ts",
        F.col("event_type").alias("touch_type"),
    )
    j = range_join(
        p, t, by="user_id", on="ts",
        lower=F.col("l.ts") - F.expr("INTERVAL 24 HOURS"),
        upper=F.col("l.ts"),
    ).select(
        F.col("l.p_id").alias("p_id"), F.col("l.value").alias("value"),
        F.col("r.t_id").alias("t_id"), F.col("r.touch_type").alias("touch_type"),
        F.col("r.ts").alias("t_ts"),
    )
    w = Window.partitionBy("p_id")
    r = j.withColumn(
        "rn", F.row_number().over(w.orderBy("t_ts", "t_id"))
    ).withColumn("n", F.count(F.lit(1)).over(w))
    wt = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        r.groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.round(F.sum(F.col("value") * wt), 2).alias("attributed_value"),
        )
    )


@query(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS prev_type
      FROM events
    ),
    pairs AS (
      SELECT prev_type AS from_type, event_type AS to_type
      FROM seq WHERE prev_type IS NOT NULL
    )
    SELECT from_type, to_type,
           CAST(count(*) AS BIGINT) AS n,
           ROUND(count(*) * 1.0 / SUM(count(*)) OVER (PARTITION BY from_type), 6)
             AS p
    FROM pairs GROUP BY from_type, to_type
    """,
    "analytics", "clickstream", "markov", "window",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event
    stream: lag() over (user, time) gives consecutive pairs — one
    shuffle on user_id (map-side combine on the count) — then each
    from-state row normalizes by its outgoing total via a 25-row window.
    The journey-analysis complement of the funnel query: the funnel
    checks ONE path, this measures every edge's probability."""
    e = _t(spark, sf_dir, "events")
    seq = e.withColumn(
        "prev_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ),
    ).filter(F.col("prev_type").isNotNull())
    counts = (
        seq.groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


@query(
    "purchase_asof_click_nearest",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events),
    p AS (SELECT * FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, max(value) AS click_value FROM e WHERE event_type = 'click' GROUP BY 1, 2)
    SELECT p.event_id, round(m.click_value, 2) AS click_value,
           CAST(date_diff('second', m.ts, p.ts) AS BIGINT) AS delta_s
    FROM p LEFT JOIN LATERAL (
      SELECT c.ts, c.click_value
      FROM c
      WHERE c.user_id = p.user_id
        AND abs(date_diff('second', c.ts, p.ts)) <= 600
      ORDER BY abs(date_diff('second', c.ts, p.ts)), (c.ts > p.ts), c.ts
      LIMIT 1
    ) m ON true
    """,
    "join", "asof", "nearest", "tolerance", "events",
)
def purchase_asof_click_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, NEAREST direction with a 10-minute tolerance
    (operators/joins.py): each purchase gets the click closest in time
    (either side, ties prefer the prior click — merge_asof semantics),
    or NULLs when no click lands within the bound. Still one shuffle on
    user_id: both frame directions run over the same window
    partitioning. Oracle: DuckDB LATERAL picking min |Δt| with the same
    tie rule."""
    from parquet_rewriter_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="ts",
        by="user_id",
        value_cols=["click_value"],
        suffix="_m",
        direction="nearest",
        tolerance=F.expr("INTERVAL 10 MINUTES"),
        keep_match_col=True,
    )
    return joined.select(
        "event_id",
        F.round(F.col("click_value_m"), 2).alias("click_value"),
        (F.unix_timestamp("ts") - F.unix_timestamp("ts_m")).alias("delta_s"),
    )


@query(
    "hourly_value_gapfilled",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
             count(*) AS n, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(bucket) lo, max(bucket) hi FROM hourly GROUP BY 1
    ),
    grid AS (
      SELECT b.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS bucket
      FROM bounds b
    )
    SELECT g.event_type, g.bucket,
           coalesce(h.n, CAST(0 AS BIGINT)) AS n_events,
           last_value(h.sum_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM grid g LEFT JOIN hourly h USING (event_type, bucket)
    """,
    "timeseries", "gapfill", "resample", "events",
)
def hourly_value_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization (operators/timeseries.py:
    resample_fill): each event type's irregular stream lands on an
    hourly grid spanning ITS OWN bounds (sequence + explode — no
    driver-side calendar), empty buckets get n_events=0 and
    forward-fill the last seen hourly sum. Grid join + fill window
    share one hash partitioning on the key. Oracle: DuckDB
    generate_series + IGNORE NULLS window."""
    from parquet_rewriter_spark.operators.timeseries import resample_fill

    e = _t(spark, sf_dir, "events")
    out = resample_fill(
        e,
        key="event_type",
        ts="ts",
        step="1 hour",
        aggs={
            "n": F.count(F.lit(1)),
            "sum_value": F.round(F.sum("value"), 2),
        },
        fill=["sum_value"],
    )
    return out.select(
        "event_type",
        "bucket",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.col("sum_value").alias("filled_value"),
    )


@query(
    "user_purchase_funnel",
    """
    WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
    s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
    SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS n_completed
    UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
    UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
    """,
    "timeseries", "funnel", "events",
)
def user_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase
    (operators/timeseries.py:funnel_counts): per user, each step must
    fire strictly after the previous step's matched time. ONE shuffle
    on user_id — per-step sorted time arrays as aggregates, chain
    resolved with JVM-side array filter/element_at — vs the textbook
    3-join/3-shuffle formulation the oracle uses."""
    from parquet_rewriter_spark.operators.timeseries import funnel_counts

    e = _t(spark, sf_dir, "events")
    return funnel_counts(
        e, key="user_id", ts="ts", step_col="event_type",
        steps=["view", "click", "purchase"],
    )


@query(
    "events_within_5min_pairs",
    """
    WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id FROM events)
    SELECT a.user_id, count(*) AS n_pairs
    FROM e a JOIN e b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
    "join", "range", "events",
)
def events_within_5min_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range self-join per user (operators/joins.py range_join):
    equi on user_id + time-band post-filter."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    j = range_join(
        e, e, by="user_id", on="ts",
        lower=F.col("l.ts"),
        upper=F.col("l.ts") + F.expr("INTERVAL 5 MINUTE"),
    )
    return j.groupBy(F.col("l.user_id").alias("user_id")).agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "orders_with_big_lineitem",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    GROUP BY o_orderpriority
    """,
    "subquery", "exists", "sql",
)
def orders_with_big_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS, which Catalyst decorrelates
    into a left-semi hash join — no per-row subquery execution."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_quantity > 45
        )
        GROUP BY o_orderpriority
        """
    )


@query(
    "above_avg_balance_customers",
    """
    SELECT c_mktsegment, count(*) AS n_customers,
           round(avg(c_acctbal), 2) AS avg_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
    GROUP BY c_mktsegment
    """,
    "subquery", "scalar", "sql",
)
def above_avg_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery — Catalyst executes
    it once and broadcasts the scalar into the filter."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers,
               round(avg(c_acctbal), 2) AS avg_bal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        GROUP BY c_mktsegment
        """
    )


@query(
    "min_price_part_suppliers",
    """
    SELECT p.p_partkey, p.p_brand,
           round(p.p_retailprice, 2) AS part_price
    FROM part p
    WHERE p.p_retailprice = (
      SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    ORDER BY p.p_brand, p.p_partkey
    """,
    "subquery", "correlated", "sql",
)
def min_price_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar subquery (cheapest part per
    brand) — decorrelated into an aggregate + join on the correlation
    key, not a per-row loop."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p.p_partkey, p.p_brand,
               round(p.p_retailprice, 2) AS part_price
        FROM part p
        WHERE p.p_retailprice = (
          SELECT min(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
        )
        ORDER BY p.p_brand, p.p_partkey
        """
    )


# ---------------------------------------------------------------- mutation parity

@query(
    "merge_then_aggregate",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
                          ELSE o_totalprice END), 2) AS total_price
    FROM orders
    WHERE o_orderkey % 10 <> 7
    GROUP BY o_orderstatus
    """,
    "mutation", "merge",
)
def merge_then_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core semantics as a query: upsert keys ≡3 (mod 10)
    with doubled price, delete keys ≡7, then aggregate the merged
    relation. Exercises apply_mutations (union + window dedup — R3+R4+R9)
    with a SQL-checkable outcome."""
    o = _t(spark, sf_dir, "orders")
    ups = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("op", F.lit("UPSERT"))
    )
    dels = o.filter(F.col("o_orderkey") % 10 == 7).withColumn("op", F.lit("DELETE"))
    merged = apply_mutations(o, ups.unionByName(dels), "o_orderkey")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------- text analysis

_SW = "'the','a','of','and','to','in'"
_TOK = "string_split(text, ' ')"


@query(
    "doc_token_stats",
    f"""
    SELECT doc_id,
           CAST(len({_TOK}) AS BIGINT) AS n_tokens,
           round((length(text) - len({_TOK}) + 1)::DOUBLE / len({_TOK}), 4) AS avg_token_len,
           round(len(list_filter({_TOK}, x -> x IN ({_SW})))::DOUBLE / len({_TOK}), 4) AS stopword_ratio,
           round(len(list_distinct({_TOK}))::DOUBLE / len({_TOK}), 4) AS unique_ratio
    FROM documents
    """,
    "text", "llm",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + ratio features over documents — all built-in
    string/array functions, zero Python (functions/text.py)."""
    from parquet_rewriter_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").cast("long").alias("n_tokens"),
        F.round(T.avg_token_length("text"), 4).alias("avg_token_len"),
        F.round(T.stopword_ratio("text"), 4).alias("stopword_ratio"),
        F.round(T.unique_token_ratio("text"), 4).alias("unique_ratio"),
    )


@query(
    "doc_quality_scores",
    f"""
    SELECT doc_id,
           round(0.5 * (len(list_distinct({_TOK}))::DOUBLE / len({_TOK}))
               + 0.3 * (1.0 - len(list_filter({_TOK}, x -> x IN ({_SW})))::DOUBLE / len({_TOK}))
               + 0.2 * least(length(text) / 500.0, 1.0), 4) AS quality
    FROM documents
    """,
    "text", "llm",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_rewriter_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


def _lang_case_sql() -> str:
    from parquet_rewriter_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score = {
        lang: f"len(list_filter({_TOK}, x -> x IN ({', '.join(repr(w) for w in LANG_MARKERS[lang])})))"
        for lang in langs
    }
    branches = []
    for lang in langs:
        conds = " AND ".join(
            f"{score[lang]} >= {score[o]}" for o in langs if o != lang
        )
        branches.append(f"WHEN {conds} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " END"


@query(
    "lang_id_confusion",
    f"""
    SELECT lang, {_lang_case_sql()} AS predicted, count(*) AS n_docs
    FROM documents GROUP BY 1, 2
    """,
    "text", "llm", "langid",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic vs the labeled lang column —
    the confusion matrix of the n-gram lang-ID operator."""
    from parquet_rewriter_spark.functions import text as T

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("predicted", T.lang_id("text"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "lang_distribution",
    """
    SELECT lang, source, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY lang, source
    """,
    "text", "aggregation",
)
def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("n_chars"), 4).alias("avg_chars")
    )


@query(
    "doc_sentences_udtf",
    """
    SELECT doc_id, n - 1 AS sent_idx, trim(parts[n]) AS sentence,
           length(trim(parts[n])) AS sent_chars
    FROM (SELECT doc_id, string_split(text, '.') AS parts
          FROM documents WHERE doc_id % 7 = 0),
         UNNEST(range(1, len(parts) + 1)) AS t(n)
    WHERE trim(parts[n]) <> ''
    """,
    "udtf", "lateral",
)
def doc_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF through a LATERAL join: 1→N sentence expansion per
    document. Pins the UDTF plumbing (registration, lateral correlation,
    output schema); the splitting logic itself is SQL-replayable so the
    oracle can gate it."""
    from parquet_rewriter_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.sent_chars
        FROM documents d, LATERAL split_sentences(d.text) s
        WHERE d.doc_id % 7 = 0
        """
    )


# ---------------------------------------------------------------- dedup

_DOCS_WITH_DUPS = """
    (SELECT * FROM documents
     UNION ALL
     SELECT doc_id + 1000000, text, lang, source, n_chars
     FROM documents WHERE doc_id % 7 = 0)
"""


def _docs_with_dups(spark, sf_dir):
    """documents ∪ a shifted copy of every 7th doc — deterministic
    synthetic duplicates (the fixture corpus has no exact dups)."""
    d = _t(spark, sf_dir, "documents")
    dups = d.filter(F.col("doc_id") % 7 == 0).withColumn("doc_id", F.col("doc_id") + 1000000)
    return d.unionByName(dups)


@query(
    "dedup_exact_docs",
    f"""
    SELECT doc_id, lang, n_chars FROM (
      SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM {_DOCS_WITH_DUPS} ) WHERE rn = 1
    """,
    "dedup", "llm",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy, keep lowest id) over a corpus with
    injected duplicates — operators/dedup.exact_dedup."""
    from parquet_rewriter_spark.operators.dedup import exact_dedup

    d2 = _docs_with_dups(spark, sf_dir)
    return exact_dedup(d2, ["text"], "doc_id").select("doc_id", "lang", "n_chars")


@query(
    "doc_fingerprint_dups",
    f"""
    SELECT md5(text) AS fp, count(*) AS n_copies, min(doc_id) AS keep_id
    FROM {_DOCS_WITH_DUPS}
    GROUP BY 1 HAVING count(*) > 1
    """,
    "dedup", "fingerprint",
)
def doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting (md5) → duplicate groups."""
    from parquet_rewriter_spark.functions.text import fingerprint_md5

    d2 = _docs_with_dups(spark, sf_dir)
    return (
        d2.groupBy(fingerprint_md5("text").alias("fp"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH d AS (SELECT doc_id, lang, list_distinct({_TOK}) AS s
               FROM documents WHERE n_chars < 200)
    SELECT * FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(len(list_intersect(a.s, b.s))::DOUBLE
                   / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.4
    """,
    "dedup", "jaccard",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup pairs, blocked by lang + length filter
    (operators/dedup.jaccard_pairs) — the exact-verification shape that
    MinHash/LSH approximates at scale."""
    from parquet_rewriter_spark.operators.dedup import jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") < 200)
    return jaccard_pairs(d, "doc_id", "text", 0.4, block_cols=["lang"], shingle_n=1)


@query(
    "near_dup_doc_clusters",
    f"""
    WITH RECURSIVE d AS (SELECT doc_id, lang, list_distinct({_TOK}) AS s
               FROM documents WHERE n_chars < 200),
    pairs AS (
      SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.4
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS n_members,
           doc_id = cluster_id AS is_canonical
    FROM comp
    """,
    "dedup", "cluster", "graph",
)
@_clean_query
def near_dup_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup CLUSTERS over the Jaccard pair graph
    (operators/cluster.py): min-label propagation — per round one
    edge-label join + one min-agg, state two longs per doc — against a
    DuckDB recursive-CTE transitive closure as oracle. cluster_id = min
    member doc_id; is_canonical marks the doc a dedup pipeline keeps."""
    from parquet_rewriter_spark.operators.cluster import near_dup_clusters
    from parquet_rewriter_spark.operators.dedup import jaccard_pairs

    # NOT persisted (measured r12): the three consumers re-run only a
    # bare filtered scan — recompute is cheaper than the cache churn
    # (guide §5's "reused AND expensive" test fails on the scan alone)
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") < 200)
    pairs = jaccard_pairs(d, "doc_id", "text", 0.4, block_cols=["lang"], shingle_n=1)
    return near_dup_clusters(d, pairs)


@query(
    "canonical_dedup_survivors",
    f"""
    WITH RECURSIVE d AS (SELECT doc_id, lang, n_chars, list_distinct({_TOK}) AS s
               FROM documents WHERE n_chars < 200),
    pairs AS (
      SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.4
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    ranked AS (
      SELECT d.doc_id, d.n_chars, comp.cluster_id,
             row_number() OVER (PARTITION BY comp.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn,
             count(*) OVER (PARTITION BY comp.cluster_id) - 1 AS n_dups_dropped
      FROM d JOIN comp USING (doc_id)
    )
    SELECT doc_id, n_chars, cluster_id, n_dups_dropped
    FROM ranked WHERE rn = 1
    """,
    "dedup", "cluster", "canonical", "quality",
)
@_clean_query
def canonical_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup (operators/cluster.py:canonical_dedup): the
    near-dup clusters of the Jaccard pair graph each surrender all but
    their highest-quality member (quality = n_chars here — longest doc
    wins, doc_id breaks ties rerun-stably). Oracle: DuckDB recursive-CTE
    closure + the same rank window. This is the step between "found
    near-dups" and "training corpus": survivors ∪ singletons, with the
    per-survivor count of dropped dups."""
    from parquet_rewriter_spark.operators.cluster import canonical_dedup
    from parquet_rewriter_spark.operators.dedup import jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") < 200)
    pairs = jaccard_pairs(d, "doc_id", "text", 0.4, block_cols=["lang"], shingle_n=1)
    return canonical_dedup(d, pairs, quality="n_chars").select(
        "doc_id", "n_chars", "cluster_id", "n_dups_dropped"
    )


@query(
    "mixture_token_budget_sample",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             sum(n_chars) OVER (
               PARTITION BY source
               ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296 / 4294967296.0,
                        doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_before
      FROM documents
    )
    SELECT doc_id, source, n_chars
    FROM ranked
    WHERE coalesce(cum_before, 0) <
          (CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 2500.0 ELSE 1200.0 END)
    """,
    "sampling", "mixture", "curriculum", "llm",
)
def mixture_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture sampling
    (operators/sampling.py:mixture_sample): build a training mix by
    taking docs per source — in deterministic portable-hash order —
    until each source's char budget is met (2500 chars for src0-9,
    1200 for src10-19; ≤1 doc overshoot). The oracle replays the
    exclusive running-total predicate with the same hash ordering."""
    from parquet_rewriter_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    budgets = {f"src{i}": (2500.0 if i < 10 else 1200.0) for i in range(20)}
    return mixture_sample(
        d, source_col="source", weight_col="n_chars", budgets=budgets, key="doc_id"
    ).select("doc_id", "source", "n_chars")


@query("incremental_dedup_index", None, "dedup", "index", "incremental", "lsh")
@_clean_query
def incremental_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTENT MinHash index
    (operators/dedup_index.py): signatures live in a SortedTable keyed
    by doc_id and are maintained by the engine's own merge core — build
    over the corpus once, `add` an ingest batch (signatures the batch
    only; dirty-file pruning bounds the rewrite), then screen a probe
    batch against the whole index without re-signaturing the corpus.
    Probe docs are exact copies of corpus docs, so each must hit its
    original at est_jaccard 1.0 (plus its ingested twin where one
    exists). Hash family isn't SQL-portable → rows-only; the
    estimate-vs-true-Jaccard band is tested in tests/test_dedup_index.py,
    and `incremental_dedup_index_portable` runs the SAME lifecycle
    under the md5-bridge family with a full hash-compared oracle."""
    from parquet_rewriter_spark.operators.dedup_index import MinhashDedupIndex

    d = _t(spark, sf_dir, "documents")
    idx = MinhashDedupIndex.build(
        spark, _scratch("mh_index"), d, num_hashes=32, bands=16
    )
    ingest = d.filter(F.col("doc_id") % 9 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    idx.add(ingest)
    probe = d.filter(F.col("doc_id") % 9 == 3).withColumn(
        "doc_id", F.col("doc_id") + 3_000_000
    )
    return idx.near_dups_of(probe, threshold=0.9)


@query(
    "incremental_dedup_index_portable",
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 9 = 0
    ),
    probe AS (
      SELECT doc_id + 3000000 AS doc_id, text FROM documents
      WHERE doc_id % 9 = 3
    ),
    cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
    csh AS (
      SELECT doc_id, array_to_string(list_slice(w, j, j + 2), ' ') AS sh
      FROM cw, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(j)
    ),
    cb AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483648 AS base
      FROM csh
    ),
    chs AS (
      SELECT doc_id, i.i,
             min((base * 2654435761 + i.i + 1) % 4294967296) AS h
      FROM cb CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) i
      GROUP BY doc_id, i.i
    ),
    pw AS (SELECT doc_id, string_split(text, ' ') AS w FROM probe),
    psh AS (
      SELECT doc_id, array_to_string(list_slice(w, j, j + 2), ' ') AS sh
      FROM pw, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(j)
    ),
    pb AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483648 AS base
      FROM psh
    ),
    phs AS (
      SELECT doc_id, i.i,
             min((base * 2654435761 + i.i + 1) % 4294967296) AS h
      FROM pb CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) i
      GROUP BY doc_id, i.i
    ),
    cbk AS (
      SELECT doc_id, i // 2 AS band,
             string_agg(CAST(h AS VARCHAR), '_' ORDER BY i) AS bkey
      FROM chs GROUP BY doc_id, i // 2
    ),
    pbk AS (
      SELECT doc_id, i // 2 AS band,
             string_agg(CAST(h AS VARCHAR), '_' ORDER BY i) AS bkey
      FROM phs GROUP BY doc_id, i // 2
    ),
    cand AS (
      SELECT DISTINCT p.doc_id AS batch_id, c.doc_id AS index_id
      FROM pbk p JOIN cbk c ON p.band = c.band AND p.bkey = c.bkey
      WHERE p.doc_id <> c.doc_id
    ),
    est AS (
      SELECT cand.batch_id, cand.index_id,
             round(sum(CASE WHEN ph.h = ch.h THEN 1 ELSE 0 END) / 32.0, 4)
               AS est_jaccard
      FROM cand
      JOIN phs ph ON ph.doc_id = cand.batch_id
      JOIN chs ch ON ch.doc_id = cand.index_id AND ch.i = ph.i
      GROUP BY cand.batch_id, cand.index_id
    )
    SELECT batch_id, index_id, est_jaccard
    FROM est WHERE est_jaccard >= 0.9
    """,
    "dedup", "index", "incremental", "lsh", "portable",
)
@_clean_query
def incremental_dedup_index_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental dedup index with the ENGINE-PORTABLE hash family
    (operators/dedup_index.py, hash_family='portable': md5-bridge base,
    Knuth multiplicative components, string band keys — the same family
    that oracles minhash_portable_near_dup_pairs). Same lifecycle as
    the production rows-only twin `incremental_dedup_index`: build the
    index over the corpus, `add` an ingest batch of exact copies
    (merge core maintains the signature table), screen a probe batch
    against the WHOLE index without re-signaturing the corpus. The
    oracle replays every signature, band bucket, candidate, and
    component-match estimate in SQL, so the hash compare certifies the
    index machinery end to end — each probe doc must surface its
    original (and its ingested twin) at est_jaccard 1.0."""
    from parquet_rewriter_spark.operators.dedup_index import MinhashDedupIndex

    d = _t(spark, sf_dir, "documents")
    idx = MinhashDedupIndex.build(
        spark, _scratch("mh_index_p"), d, num_hashes=32, bands=16,
        hash_family="portable",
    )
    ingest = d.filter(F.col("doc_id") % 9 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    idx.add(ingest)
    probe = d.filter(F.col("doc_id") % 9 == 3).withColumn(
        "doc_id", F.col("doc_id") + 3_000_000
    )
    return idx.near_dups_of(probe, threshold=0.9)


@query("minhash_near_dup_pairs", None, "dedup", "minhash", "lsh")
@_clean_query
def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection over a corpus with injected
    duplicates: word-3-gram shingles (the standard document unit — the
    fixture's word-set similarity is pathologically dense because the
    synthetic vocabulary is ~40 words; 3-grams restore discrimination),
    banded xxhash64 signatures → bucket self-join → exact-Jaccard verify
    ≥0.5. Non-SQL-expressible (xxhash64 family) → rows-only check; the
    S-curve recall properties are asserted in tests/test_llm_ops.py."""
    from parquet_rewriter_spark.operators.dedup import minhash_lsh_pairs

    # persisted: the with-dups union feeds both the signature build and
    # the verify-phase semi-join (operator-internal second corpus pass);
    # without the cache each pass re-runs scan + union (guide §5 —
    # reused and nontrivial to recompute; MEMORY_AND_DISK default keeps
    # it disk-backed at scale).
    d2 = persist(_docs_with_dups(spark, sf_dir))
    return minhash_lsh_pairs(
        d2, "doc_id", "text", threshold=0.5, num_hashes=48, bands=16, shingle_n=3
    )


@query("simhash_near_pairs", None, "dedup", "simhash")
@_clean_query
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (64-bit, built-in bit ops) near pairs within hamming ≤ 12,
    pigeonhole-blocked (13 blocks → at least one matches exactly, so
    recall is TOTAL by construction). Rows-only (hash family not
    portable to SQL); recall is asserted against brute-force hamming in
    tests/test_llm_ops.py."""
    from parquet_rewriter_spark.operators.dedup import simhash_near_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(d, "doc_id", "text", max_hamming=12)


@query(
    "embedding_near_dup_pairs",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT * FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) WHERE cos_sim >= 0.45
    """,
    "dedup", "embedding",
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force verify shape; the
    LSH-bucketed scale path is ann_lsh_topk)."""
    from parquet_rewriter_spark.operators.dedup import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(e, "vec_id", "embedding", 0.45)


@query(
    "winnow_fingerprint_pairs",
    """
    WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    grams AS (
      SELECT doc_id, n AS pos,
             greatest(length(text) - 7, 1) AS n_grams,
             substring(text, n, 8) AS gram
      FROM docs, UNNEST(range(1, greatest(length(text) - 7, 1) + 1)) AS t(n)
    ),
    wins AS (
      SELECT doc_id, pos, n_grams,
             min(gram) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams
    ),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= greatest(n_grams - 3, 1)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
    "dedup", "winnowing", "rolling-hash",
)
def winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint dedup by winnowing (SIGMOD 2003) over a
    doc sample: docs sharing >= 3 window-min 8-gram fingerprints. The
    oracled entry uses the lexicographic-min selector (engine-portable);
    production uses xxhash64-min (use_hash=True, same plan shape)."""
    from parquet_rewriter_spark.operators.dedup import winnow_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return winnow_pairs(
        d, "doc_id", "text", k=8, window=4, min_shared=3, use_hash=False
    )


@query(
    "column_storage_docs",
    """
    -- footer-only replay of the engine's distributed footer walk; the
    -- correctness gate runs at sf=0.01, so the metadata source names
    -- that fixture file directly (views cannot carry file metadata)
    SELECT path_in_schema AS column,
           count(*) AS n_chunks,
           sum(num_values)::BIGINT AS n_values,
           sum(total_compressed_size)::BIGINT AS compressed_bytes,
           sum(total_uncompressed_size)::BIGINT AS uncompressed_bytes
    FROM parquet_metadata('/root/testdata/sf0.01/documents.parquet')
    GROUP BY 1 ORDER BY 1
    """,
    "storage", "metadata", "profiling",
)
def column_storage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column storage report from parquet FOOTERS only (no data
    page read): which columns dominate bytes and how well they
    compress — the first question a 100 TB storage bill raises. One
    distributed job over the file list; DuckDB's parquet_metadata()
    replays the identical footer walk (stats.py:column_storage_report)."""
    from parquet_rewriter_spark.stats import column_storage_report

    return column_storage_report(
        spark, [os.path.join(sf_dir, "documents.parquet")]
    )


# ---------------------------------------------------------------- similarity search

@query(
    "cosine_topk_bruteforce",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT e.vec_id AS id,
           round(list_dot_product(e.v, q.v)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v))), 4) AS cos_sim
    FROM e, q
    ORDER BY cos_sim DESC, id
    LIMIT 10
    """,
    "similarity", "topk",
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 to the vec_id=0 query vector — brute-force
    baseline (TakeOrderedAndProject: per-partition heap, k-row merge)."""
    from parquet_rewriter_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return cosine_topk(e, "vec_id", "embedding", qv, k=10)


@query(
    "ann_ivf_rebalanced_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT e.vec_id AS id,
           round(list_dot_product(e.v, q.v)
                 / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v))), 4) AS cos_sim
    FROM e, q
    ORDER BY cos_sim DESC, id
    LIMIT 10
    """,
    "ann", "index", "maintenance",
)
def ann_ivf_rebalanced_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell rebalancing as an oracle-gated operation: build a
    deliberately under-celled index (2 cells — both oversized for the
    corpus), split them with rebalance(cap = n/3), then answer a
    full-probe top-10. The split must lose NOTHING: the answer equals
    DuckDB's brute-force exact cosine top-10. Exercises per-cell
    sub-centroid training, the single moved-rows merge, and the
    codebook-first commit ordering (operators/ann_index.py:rebalance)."""
    from parquet_rewriter_spark.operators.ann_index import IVFVectorIndex

    emb = _t(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    idx = IVFVectorIndex.create(
        spark, _scratch("ivf_rebal"), emb, n_cells=2, max_records_per_file=1024
    )
    n = emb.count()
    idx.rebalance(max_vectors_per_cell=max(n // 3, 1))
    return idx.topk(qv, k=10, n_probe=int(idx.centroids.shape[0]))


def _planted_ann_candidates(spark, sf_dir):
    """embeddings ∪ 12 positively-scaled copies of vector 0 (ids
    1_000_001..1_000_012). Positive scaling preserves direction
    exactly, so each copy's cosine to vector 0 is 1.0, every LSH sign
    bit equals the base's (dot products scale by a positive constant),
    and IVF/PQ assignments of the ROW-NORMALIZED copies equal the
    base's. The fixture's best off-cluster cosine is ≈0.37 — an ANN
    method that probes correctly MUST return {0} ∪ planted as the
    top-13, which makes approximate recall SQL-checkable: the oracle
    brute-forces the same fixture, so a hash match IS recall 1.0."""
    e = _t(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") == 0).select("embedding")
    qv = [float(x) for x in base.first()[0]]
    planted = (
        spark.range(1, 13)
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("id") + 1_000_000).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x * (F.lit(1.0) + F.col("id") / F.lit(100.0)),
            ).alias("embedding"),
        )
    )
    cand = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)
    return cand, qv


_PLANTED_ANN_ORACLE = """
    WITH q AS (
      SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
    ),
    planted AS (
      SELECT CAST(1000000 + j AS BIGINT) AS id,
             list_transform(q.qe, x -> x * (1.0 + j / 100.0)) AS embedding
      FROM q, (SELECT unnest(generate_series(1, 12)) AS j)
    ),
    cand AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS embedding
      FROM embeddings
      UNION ALL
      SELECT id, embedding FROM planted
    )
    SELECT c.id, round(list_cosine_similarity(c.embedding, q.qe), 4) AS cos_sim
    FROM cand c, q
    ORDER BY cos_sim DESC, c.id
    LIMIT 13
"""


@query("ann_lsh_recall_gate", _PLANTED_ANN_ORACLE,
       "similarity", "ann", "lsh", "recall")
def ann_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH recall gate on the planted-cluster fixture
    (_planted_ann_candidates): the 13-way top-k must equal the oracle's
    brute-force top-13 exactly — scaled copies share the query's bucket
    by construction, so any miss means the bucketing or multiprobe
    broke, not that the approximation got unlucky. Complements the
    rows-only ann_lsh_topk on the unstructured fixture (recall there is
    honestly partial and stays un-oracled)."""
    from parquet_rewriter_spark.operators.similarity import ann_lsh_topk

    cand, qv = _planted_ann_candidates(spark, sf_dir)
    return ann_lsh_topk(cand, "vec_id", "embedding", qv, k=13, n_planes=8)


@query("ann_ivf_recall_gate", _PLANTED_ANN_ORACLE,
       "similarity", "ann", "ivf", "recall")
def ann_ivf_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall gate on the planted-cluster fixture: the copies'
    normalized direction equals the base's, so they assign to one cell
    — the cell nearest the query, probed first. A hash mismatch means
    cell assignment or probe selection regressed."""
    from parquet_rewriter_spark.operators.similarity import ann_ivf_topk

    cand, qv = _planted_ann_candidates(spark, sf_dir)
    return ann_ivf_topk(cand, "vec_id", "embedding", qv, k=13,
                        n_centroids=16, n_probe=4)


@query("ann_pq_recall_gate", _PLANTED_ANN_ORACLE,
       "similarity", "ann", "pq", "recall")
def ann_pq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall gate on the planted-cluster fixture: row-normalized
    copies encode to the base's exact codes, tying its ADC score, so
    all 13 sit far inside the top-100 rerank set and exact rerank must
    reproduce the brute-force top-13."""
    from parquet_rewriter_spark.operators.similarity import ann_pq_topk

    cand, qv = _planted_ann_candidates(spark, sf_dir)
    return ann_pq_topk(cand, "vec_id", "embedding", qv, k=13,
                       m=8, n_codes=64, rerank=100)


@query("ann_ivfpq_recall_gate", _PLANTED_ANN_ORACLE,
       "similarity", "ann", "ivf", "pq", "recall")
def ann_ivfpq_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite recall gate on the planted-cluster fixture
    (operators/similarity.py:ann_ivfpq_topk — the FAISS ``IVFx,PQy``
    stack: IVF cells prune ROWS, PQ codes shrink BYTES per probed row,
    exact rerank restores float precision): the normalized copies
    assign to the base's cell AND encode to its exact codes, so the
    probed+ADC candidate set must contain all 13 and the rerank must
    reproduce the brute-force top-13. A hash mismatch localizes to
    cell assignment, code assignment, or the ADC table — the three
    moving parts a production IVF-PQ deployment tunes."""
    from parquet_rewriter_spark.operators.similarity import ann_ivfpq_topk

    cand, qv = _planted_ann_candidates(spark, sf_dir)
    return ann_ivfpq_topk(cand, "vec_id", "embedding", qv, k=13,
                          n_centroids=16, n_probe=4, m=8, n_codes=64,
                          rerank=100)


@query("ann_ivfpq_index_gate", _PLANTED_ANN_ORACLE,
       "similarity", "ann", "ivf", "pq", "index", "recall")
def ann_ivfpq_index_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTENT IVF index with PQ codes at rest
    (operators/ann_index.py: create(pq_m=) + topk(via_pq=True)): every
    row stores an m-byte pq_code column beside the float vector; a
    probe manifest-prunes to the cells' files, scores them from the
    CODE column alone (the scoring scan's ReadSchema excludes the
    vector — pinned in tests), and exact-reranks the driver-bounded
    shortlist via the Bloom point-lookup. On the planted-cluster
    fixture the result must equal the brute-force top-13 — the oracled
    proof that the byte-shrunk probe path loses nothing the rerank
    can't recover."""
    from parquet_rewriter_spark.operators.ann_index import IVFVectorIndex

    cand, qv = _planted_ann_candidates(spark, sf_dir)
    idx = IVFVectorIndex.create(
        spark, _scratch("ivfpq_idx"), cand, n_cells=16,
        max_records_per_file=_scaled_mrpf(cand, 16), pq_m=8, pq_n_codes=64,
    )
    return idx.topk(qv, k=13, n_probe=4, via_pq=True, rerank=100)


@query("ann_lsh_topk", None, "similarity", "ann", "lsh")
def ann_lsh_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane LSH bucketing with
    1-bit multiprobe — the scale path (scan |probed buckets|, not the
    table). Rows-only: approximation has no SQL oracle; recall vs the
    exact path is asserted in tests/test_llm_ops.py."""
    from parquet_rewriter_spark.operators.similarity import ann_lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ann_lsh_topk(e, "vec_id", "embedding", qv, k=10, n_planes=8)


@query("ann_ivf_topk", None, "similarity", "ann", "ivf")
def ann_ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via an IVF index (driver-sampled spherical
    k-means cells, probe the 4 nearest of 16) — the
    partition-pruning scale path alongside the LSH one. Rows-only:
    recall vs the exact path is asserted in tests/test_llm_ops.py."""
    from parquet_rewriter_spark.operators.similarity import ann_ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ann_ivf_topk(e, "vec_id", "embedding", qv, k=10, n_centroids=16, n_probe=4)


# ---------------------------------------------------------------- multimodal

@query(
    "binary_blob_metadata",
    """
    SELECT doc_id AS media_id, 'image' AS modality, 'txt' AS format,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
    "multimodal", "binary",
)
def binary_blob_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal schema plumbing: opaque binary payload + typed
    metadata (sources/multimodal.blob_table); payload dropped from the
    result, metadata oracled."""
    from parquet_rewriter_spark.sources.multimodal import blob_table

    d = _t(spark, sf_dir, "documents")
    return blob_table(d, "doc_id", "text").select(
        "media_id", "modality", "format", "n_bytes", "checksum"
    )


@query(
    "multimodal_decode_features",
    """
    SELECT doc_id AS media_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(16 + CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) % 64
                AS BIGINT) AS width,
           CAST(16 + CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) % 64
                AS BIGINT) AS height
    FROM documents
    """,
    "multimodal", "mapinpandas",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode pipeline over binary payloads
    (deterministic stub decoder — media libs absent; the distributed
    plumbing is the thing under test). The stub derives dims from an
    md5 digest precisely so the oracle can replay every cell in SQL
    (md5-bridge); with PIL present the decode is real and the query
    reverts to rows-only semantics."""
    from parquet_rewriter_spark.sources.multimodal import blob_table, decode_image

    d = _t(spark, sf_dir, "documents")
    return decode_image(blob_table(d, "doc_id", "text"), fake=True).select(
        "media_id",
        "n_bytes",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


# ---------------------------------------------------------------- streaming
# Each entry runs a Structured Streaming query to completion with
# Trigger.AvailableNow into a memory sink (streaming/ops.run_to_memory),
# making the stream's output a deterministic function of the fixture —
# and therefore oracle-able with plain batch SQL.

@query(
    "stream_tumbling_counts",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "streaming", "window", "watermark",
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h event-time windows over a file-source stream, with a
    1h watermark bounding state; complete-mode drain matches batch
    GROUP BY exactly (streaming/ops.py)."""
    from parquet_rewriter_spark.streaming import run_to_memory, stream_events, tumbling_counts

    ev = stream_events(spark, sf_dir)
    return run_to_memory(tumbling_counts(ev), output_mode="complete")


@query(
    "stream_sliding_counts",
    """
    SELECT time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP))
             - INTERVAL 5 MINUTE * off AS window_start,
           count(*) AS n_events
    FROM events, UNNEST([0, 1]) AS t(off)
    GROUP BY 1
    """,
    "streaming", "window", "sliding",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10m/5m windows — each event lands in 2 overlapping
    windows (oracle: explicit 2-slide expansion)."""
    from parquet_rewriter_spark.streaming import run_to_memory, sliding_counts, stream_events

    ev = stream_events(spark, sf_dir)
    return run_to_memory(sliding_counts(ev), output_mode="complete")


@query(
    "stream_session_windows",
    """
    WITH m AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                    OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                       >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), g AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, value ROWS UNBOUNDED PRECEDING) AS sess
      FROM m
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM g GROUP BY user_id, sess
    """,
    "streaming", "session-window",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30m inactivity gap) — Spark's
    session_window merges state incrementally; the oracle is the classic
    gaps-and-islands rewrite. Session end = last event + gap."""
    from parquet_rewriter_spark.streaming import run_to_memory, session_window_stats, stream_events

    ev = stream_events(spark, sf_dir)
    return run_to_memory(session_window_stats(ev), output_mode="complete")


@query(
    "stream_dedup_events",
    """
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
    FROM events
    """,
    "streaming", "dedup", "watermark",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the stream unioned with a copy of every
    5th event (exact duplicate rows) and collapsed back to the original
    relation by dropDuplicatesWithinWatermark(event_id)."""
    from parquet_rewriter_spark.streaming import dedup_within_watermark, run_to_memory, stream_events

    ev = stream_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type", "value")
    dups = ev.filter(F.col("event_id") % 5 == 0)
    return run_to_memory(dedup_within_watermark(ev.unionByName(dups), ["event_id"]))


@query(
    "stream_purchase_click_join",
    """
    SELECT l.user_id, l.event_id AS purchase_id, r.event_id AS click_id,
           CAST(l.ts AS TIMESTAMP) AS purchase_ts, CAST(r.ts AS TIMESTAMP) AS click_ts
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'purchase' AND r.event_type = 'click'
     AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP)
     AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
    """,
    "streaming", "stream-stream-join",
)
def stream_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases ⨝ clicks ≤30m before, per
    user) — watermarks on both sides bound the buffered state; drained
    with AvailableNow it equals the batch range join (the oracle)."""
    from parquet_rewriter_spark.streaming import run_to_memory, stream_events, stream_stream_interval_join

    ev = stream_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    joined = stream_stream_interval_join(purchases, clicks, key="user_id")
    return run_to_memory(
        joined.select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("event_id_r").alias("click_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("ts_r").alias("click_ts"),
        )
    )


# ---------------------------------------------------------------- set ops / cube

@query(
    "status_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "aggregation", "cube",
)
def status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims — all 4 grouping-set combinations in one
    shuffle (Spark expands grouping sets before the exchange)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "active_user_intersection",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    "setops",
)
def active_user_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) of two filtered scans of the same
    table — one shuffle on the set key."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clickers.intersect(buyers)


@query(
    "browsers_never_err",
    """
    SELECT user_id FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    "setops",
)
def browsers_never_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT — viewers with no error events."""
    ev = _t(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id")
    erroring = ev.filter(F.col("event_type") == "error").select("user_id")
    return viewers.subtract(erroring)


@query(
    "embedding_array_stats",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum'), 4) AS vec_sum,
           round(list_aggregate(CAST(embedding AS DOUBLE[]), 'max'), 4) AS vec_max,
           round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 4) AS l2_norm
    FROM embeddings
    """,
    "array-functions",
)
def embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (aggregate/transform) over the
    embedding column — JVM-side, no Python (functions/vector.py)."""
    from parquet_rewriter_spark.functions.vector import norm

    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 4).alias("vec_sum"),
        F.round(F.array_max(v), 4).alias("vec_max"),
        F.round(norm("embedding"), 4).alias("l2_norm"),
    )


# ---------------------------------------------------------------- aggregation breadth

@query(
    "customer_order_breadth",
    """
    SELECT o_custkey,
           count(DISTINCT o_orderstatus) AS n_statuses,
           string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) >= 8
    """,
    "aggregation", "collect",
)
def customer_order_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_distinct + collect_list (canonicalized to a sorted joined
    string so the value-hash is engine-portable) + HAVING."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count_distinct("o_orderstatus").alias("n_statuses"),
            F.array_join(F.array_sort(F.collect_list("o_orderstatus")), ",").alias("statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_orders") >= 8)
    )


@query(
    "priority_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
    """,
    "aggregation", "grouping-sets", "sql",
)
def priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL surface (spark.sql over
    registered views) — one shuffle, expand-before-exchange."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


@query(
    "weighted_avg_discount",
    """
    SELECT l_returnflag,
           round(sum(l_discount * l_quantity) / sum(l_quantity), 6) AS wavg_discount
    FROM lineitem GROUP BY l_returnflag
    """,
    "aggregation", "pandas-udf", "udaf",
)
def weighted_avg_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg Pandas UDF (Arrow-batched UDAF): quantity-weighted
    average discount. The Python path is the demo; the identical
    built-in expression is the production form (functions beat UDFs)."""
    from parquet_rewriter_spark.functions.udafs import weighted_mean

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_mean("l_discount", "l_quantity"), 6).alias("wavg_discount")
    )


@query(
    "rolling_30d_revenue",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2) AS rev_30d
    FROM orders
    """,
    "window", "range-frame",
)
def rolling_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (time-based, not row-count): per-customer
    trailing-30-day revenue — rangeBetween over epoch seconds."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rev_30d"),
    )


@query(
    "knn_join_sample",
    """
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 20),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT * FROM (
      SELECT q.vec_id AS qid, e.vec_id AS nid,
             round(list_dot_product(q.v, e.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cos_sim,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round(list_dot_product(q.v, e.v)
                                  / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 4) DESC,
                                e.vec_id) AS rank
      FROM q, e
    ) WHERE rank <= 3
    """,
    "similarity", "knn-join",
)
def knn_join_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch kNN join: 3 nearest neighbors (self included, rank 1) for
    each of 20 query vectors — broadcast small query side, per-query
    top-k via window. Rank ties break on rounded cos then neighbor id
    on BOTH sides, so the cutoff is engine-portable."""
    from parquet_rewriter_spark.operators.similarity import knn_join

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    out = knn_join(q, e, "vec_id", "vec_id", "embedding", k=3)
    qid, nid = out.columns[0], out.columns[1]
    return out.select(
        F.col(qid).alias("qid"), F.col(nid).alias("nid"), "cos_sim", "rank"
    )


@query(
    "frame_sample_offsets",
    """
    SELECT doc_id AS media_id, (n - 1) * 1024 AS frame_offset
    FROM documents,
         UNNEST(range(1, CAST(ceil(greatest(octet_length(CAST(text AS BLOB)), 1) / 1024.0) AS BIGINT) + 1)) AS t(n)
    """,
    "multimodal", "expansion",
)
def frame_sample_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N mapInPandas expansion (video frame sampling stub): one row
    per 1 KiB 'frame' of each payload; the offsets are oracled, the
    per-frame digest is engine-local."""
    from parquet_rewriter_spark.sources.multimodal import blob_table, frame_sample

    d = _t(spark, sf_dir, "documents")
    return frame_sample(blob_table(d, "doc_id", "text"), every_n_bytes=1024).select(
        "media_id", "frame_offset"
    )


@query(
    "order_value_percentiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.25), 2) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 2) AS p75,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    "aggregation", "percentile",
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SURVEY.md §2.2 aggregation row)
    via the built-in `percentile` aggregate — linear interpolation,
    matching DuckDB's quantile_cont. At 100 TB swap for
    `percentile_approx` (mergeable sketch, no per-group sort buffer);
    this entry pins the exact semantics."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 2).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.50)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 2).alias("p75"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "customer_balance_deciles",
    """
    SELECT decile, count(*) AS n_customers,
           round(min(c_acctbal), 2) AS min_bal,
           round(max(c_acctbal), 2) AS max_bal,
           round(sum(c_acctbal), 2) AS sum_bal
    FROM (
      SELECT c_acctbal,
             ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer
    ) GROUP BY decile
    """,
    "window", "ntile",
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile deciles over account balance (deterministic tiebreak on
    c_custkey). A global ORDER BY window is a single-partition sort —
    fine for a dimension table; for a 100 TB fact column compute decile
    boundaries with approx_percentile and bucket by range instead (no
    global sort). This entry pins the exact ntile semantics."""
    c = _t(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        c.select("c_acctbal", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
        )
    )


@query(
    "status_pivot_by_priority",
    """
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS rev_f,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS rev_o,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS rev_p
    FROM orders GROUP BY o_orderpriority
    """,
    "aggregation", "pivot",
)
def status_pivot_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) with an explicit value list — the explicit list
    skips the extra distinct-values job Spark otherwise runs before it
    can even plan, leaving just the two-phase pivot aggregate."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return p.select(
        "o_orderpriority",
        F.col("F").alias("rev_f"),
        F.col("O").alias("rev_o"),
        F.col("P").alias("rev_p"),
    )


@query(
    "approx_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, TRUE AS approx_ok
    FROM events GROUP BY event_type
    """,
    "aggregation", "approx",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count;
    the oracled contract is `exact value + sketch within 10%`. At
    100 TB the sketch is the production path — mergeable partial
    aggregates, no exact distinct shuffle of the full key set."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("n_approx"),
        )
        .select(
            "event_type",
            "n_users",
            (F.abs(F.col("n_approx") - F.col("n_users"))
             <= 0.1 * F.col("n_users")).alias("approx_ok"),
        )
    )


@query(
    "user_event_type_map",
    """
    SELECT user_id,
           string_agg(event_type || ':' || n, ',' ORDER BY event_type) AS type_counts,
           count(*) AS n_types,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    ) GROUP BY user_id
    """,
    "map", "higher-order",
)
def user_event_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface (SURVEY.md §2.2 scalar-fns row): build a
    per-user map<event_type, count> with map_from_entries, then read it
    back through map_entries + transform + map_keys/map_values —
    canonicalized to a sorted string so the hash is engine-portable."""
    e = _t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = F.map_from_entries(F.array_sort(F.collect_list(F.struct("event_type", "n"))))
    return (
        counts.groupBy("user_id")
        .agg(m.alias("type_map"))
        .select(
            "user_id",
            F.array_join(
                F.transform(
                    F.map_entries("type_map"),
                    lambda kv: F.concat_ws(":", kv["key"], kv["value"].cast("string")),
                ),
                ",",
            ).alias("type_counts"),
            F.size(F.map_keys("type_map")).cast("long").alias("n_types"),
            F.aggregate(
                F.map_values("type_map"), F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("n_events"),
        )
    )


@query(
    "events_props_keyset",
    """
    SELECT array_to_string(list_sort(json_keys(props)), ',') AS keyset,
           count(*) AS n_events
    FROM events GROUP BY keyset
    """,
    "map", "json",
)
def events_props_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json → MapType on the semi-structured props column, then
    map_keys — the schema-on-read promotion SURVEY.md §1.3 flags for
    events.props."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            F.array_join(
                F.array_sort(
                    F.map_keys(F.from_json("props", "map<string,string>"))
                ),
                ",",
            ).alias("keyset")
        )
        .groupBy("keyset")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------- storage ops in the gate
# These run the mutation/storage layer end-to-end inside the correctness
# gate: build a SortedTable in a scratch dir, run the storage operator,
# and return a relational result the oracle can replay on the raw table.


def _scaled_mrpf(df, n_files: int = 8) -> int:
    """Scratch-table file sizing: target a constant file COUNT across
    scale factors instead of a fixed rows-per-file. A 2k-rows/file
    setting calibrated at sf0.01 (8 files) explodes into 75 files at
    sf0.1 — the composite queries then measure fixture construction,
    not the operator. count() over parquet is footer-only (no column
    scan), so the calibration costs one metadata action."""
    n = df.count()
    return max(1, -(-n // n_files))

def _scratch(name: str) -> str:
    import shutil
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"prs_catalog_{name}")
    shutil.rmtree(d, ignore_errors=True)
    return d


@query(
    "zorder_then_filter_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 100000 AND o_custkey < 500
    GROUP BY o_orderstatus
    """,
    "storage", "zorder",
)
def zorder_then_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout end-to-end: rewrite orders z-ordered on
    (o_custkey, o_totalprice), then run a two-dimensional selective
    filter over the rewritten files — both predicates prune files via
    footer min/max because each file covers a compact rectangle of the
    key space (multi-column zone maps; plain key-sort prunes only its
    one sort column). Oracle replays the same filter+agg on the
    original table — a lossless layout rewrite makes them identical."""
    from parquet_rewriter_spark.operators.zorder import zorder_write

    o = _t(spark, sf_dir, "orders")
    path = _scratch("zorder_orders")
    zorder_write(o, path, ["o_custkey", "o_totalprice"], num_files=16)
    back = spark.read.parquet(path)
    return (
        back.filter(
            F.col("o_totalprice").between(50000, 100000) & (F.col("o_custkey") < 500)
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "hilbert_then_filter_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 100000 AND o_custkey < 500
    GROUP BY o_orderstatus
    """,
    "storage", "hilbert", "clustering",
)
def hilbert_then_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout end-to-end (operators/zorder.py:hilbert_*):
    unlike Morton, the Hilbert curve is CONTINUOUS, so each range-
    partitioned file covers one compact CONNECTED region of
    (o_custkey, o_totalprice) space and footer min/max prune strictly
    tighter on average (Moon et al., TKDE 2001). Same lossless-rewrite
    oracle as the Morton query: filter+agg results must be identical
    to the original table's."""
    from parquet_rewriter_spark.operators.zorder import hilbert_write

    o = _t(spark, sf_dir, "orders")
    path = _scratch("hilbert_orders")
    hilbert_write(o, path, ["o_custkey", "o_totalprice"], num_files=16)
    back = spark.read.parquet(path)
    return (
        back.filter(
            F.col("o_totalprice").between(50000, 100000) & (F.col("o_custkey") < 500)
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "compact_then_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
    "storage", "compaction",
)
def compact_then_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15 bulk re-chunk: orders → SortedTable (small files) → compact to
    4× file size → scan the compacted snapshot. Content must be
    byte-for-byte the original relation (oracle: plain aggregate)."""
    from parquet_rewriter_spark.operators.compact import compact
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("compact"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o, 16)
    )
    compact(t, max_records_per_file=_scaled_mrpf(o, 4))
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "bulk_bucketed_merge_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(CASE WHEN o_orderkey % 3 = 0
                          THEN o_totalprice * 2 ELSE o_totalprice END), 2) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
    "storage", "merge",
)
def bulk_bucketed_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The zero-sampling bulk-merge write path under driver
    verification: a broad mutation batch (every 3rd key, doubling the
    price) merged with ``bucket_write_min_bytes=0`` so the write
    exchanges on manifest-derived, identity-remapped bucket ids (one
    bucket per partition, no RangePartitioning sampling job — the plan
    large clusters take by default above the 1 GiB dirty-byte
    threshold; operators/merge.py:bucket_partition_by_key). The oracle
    replays the mutation arithmetic relationally."""
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, OP_UPSERT, merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("bulk_bucketed"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 16),
    )
    muts = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    merge_into_table(t, muts, allow_splice=False, bucket_write_min_bytes=0)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "schema_evolution_scan",
    """
    SELECT o_orderstatus,
           count(CASE WHEN o_orderkey % 100 = 1 THEN 'gold' END) AS n_vip,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    "storage", "schema-evolution",
)
def schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution through merge: upsert full records
    carrying a NEW column (vip_tier) for 1% of keys — only dirty files
    are rewritten with the wider schema; untouched files keep their
    bytes and read() null-fills the new column from the manifest schema
    (operators/merge.py + table.py:_reader)."""
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, OP_UPSERT, merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("schema_evo"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o)
    )
    muts = (
        o.filter(F.col("o_orderkey") % 100 == 1)
        .withColumn("vip_tier", F.lit("gold"))
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    merge_into_table(t, muts)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("vip_tier").alias("n_vip"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "key_range_scan",
    """
    SELECT o_orderpriority, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey BETWEEN 2000 AND 6999
    GROUP BY o_orderpriority
    """,
    "storage", "scan",
)
def key_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's primary read pattern (seekToKey + stats skip,
    ParquetRewriter.java:253-301) as a query operator: SortedTable
    key-range read with DRIVER-side manifest pruning — non-overlapping
    files are dropped before Spark lists them (tests/test_time_travel.py
    pins the inputFiles set)."""
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("range_scan"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o, 16)
    )
    return (
        t.read_range(2000, 6999)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "secondary_zonemap_scan",
    """
    SELECT o_orderpriority, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31 23:59:59'
      AND o_totalprice >= 100000
    GROUP BY o_orderpriority
    """,
    "storage", "zonemap",
)
def secondary_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary zone maps: the manifest tracks per-file min/max for
    NON-key columns (table.py stats_cols), and read_where prunes files
    on the DRIVER against those bounds — the reference's key-stats skip
    (ParquetRewriter.java:253-301) generalized to any tracked column.
    Here orders is keyed on o_orderkey but filtered on (o_orderdate,
    o_totalprice); pruning selectivity tracks how clustered the layout
    is, correctness never does (stat-less files are always kept and the
    residual predicate is pushed into the scan)."""
    import datetime as dt

    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark,
        _scratch("zonemap_orders"),
        o,
        key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 12),
        stats_cols=["o_orderdate", "o_totalprice"],
    )
    return (
        t.read_where(
            {
                "o_orderdate": (
                    dt.datetime(1996, 1, 1),
                    dt.datetime(1996, 12, 31, 23, 59, 59),
                ),
                "o_totalprice": (100_000.0, None),
            }
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "bloom_pointlookup_scan",
    """
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders WHERE o_custkey IN (42, 777, 1234)
    GROUP BY o_custkey
    """,
    "storage", "bloom",
)
def bloom_pointlookup_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom filters (operators/bloom.py): o_custkey is
    high-cardinality and UNCLUSTERED in an o_orderkey-sorted layout, so
    zone maps cannot prune a customer lookup — every file's custkey
    range overlaps. The bloom sidecar answers "might this file contain
    custkey 42" per file with no false negatives; read_point scans only
    candidate files with the exact predicate pushed to the survivors."""
    from parquet_rewriter_spark.operators.bloom import read_point
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark,
        _scratch("bloom_orders"),
        o,
        key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 12),
        bloom_cols=["o_custkey"],
    )
    return (
        read_point(t, "o_custkey", [42, 777, 1234])
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "incremental_matview_refresh",
    """
    WITH cents AS (
      SELECT o_orderkey, o_orderdate,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders
    ),
    mutated AS (
      SELECT o_orderdate,
             CASE WHEN o_orderkey BETWEEN 200 AND 299 THEN price_cents + 100000
                  ELSE price_cents END AS price_cents
      FROM cents WHERE o_orderkey NOT BETWEEN 700 AND 749
      UNION ALL
      SELECT o_orderdate, price_cents + 50000 FROM cents WHERE o_orderkey < 100
    )
    SELECT o_orderdate AS order_day, count(*) AS n_orders,
           round(sum(price_cents) / 100.0, 2) AS revenue
    FROM mutated GROUP BY o_orderdate
    """,
    "mutation", "cdc", "matview",
)
def incremental_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (operators/matview.py):
    materialize daily order count+revenue, apply a mutation batch to the
    BASE table (update keys 200-299 at +$1000, delete 700-749, insert
    +$500 copies of keys <100 shifted past the tail — key-clustered so
    the commit dirties one file, the cost model the refresh inherits),
    then refresh the view from the commit's change feed — signed
    per-group deltas merged into the view, never a full re-aggregation.
    Revenue is maintained in integer
    CENTS: exact view maintenance needs an order-independent sum, which
    doubles don't give (float addition drifts by summation order) —
    integer/decimal is the standard MV answer. The oracle recomputes the
    final aggregate from scratch; matching proves the fold is exact."""
    from parquet_rewriter_spark.operators.matview import MaterializedAggregate
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").withColumn(
        "price_cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    base = SortedTable.create(
        spark, _scratch("mv_base"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o)
    )
    mv = MaterializedAggregate(
        base,
        _scratch("mv_view"),
        group_col="o_orderdate",
        aggs={"n_orders": ("count",), "cents": ("sum", "price_cents")},
    )
    mv.build()
    ups = (
        o.filter(F.col("o_orderkey").between(200, 299))
        .withColumn("price_cents", F.col("price_cents") + F.lit(100_000))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    ins = (
        o.filter(F.col("o_orderkey") < 100)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10_000_000))
        .withColumn("price_cents", F.col("price_cents") + F.lit(50_000))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    dels = o.filter(F.col("o_orderkey").between(700, 749)).withColumn(
        OP_COLUMN, F.lit("DELETE")
    )
    merge_into_table(base, ups.unionByName(ins).unionByName(dels))
    mv.refresh()
    return mv.read().select(
        F.col("o_orderdate").alias("order_day"),
        F.col("n_orders"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
    )


@query(
    "retention_delete_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE NOT (o_orderdate < TIMESTAMP '1996-01-01' AND o_orderstatus = 'F')
    GROUP BY o_orderstatus
    """,
    "mutation", "retention",
)
def retention_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate delete (operators/merge.py:delete_where) as a
    retention sweep: age out finished orders older than a cutoff. The
    ``prune`` ranges ride the secondary zone maps so the victim scan
    reads only files whose o_orderdate range reaches below the cutoff;
    the delete itself rewrites only files containing victims. Oracle:
    aggregate over the surviving rows."""
    import datetime as dt

    from parquet_rewriter_spark.operators.merge import delete_where
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark,
        _scratch("retention_orders"),
        o,
        key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
        stats_cols=["o_orderdate"],
    )
    delete_where(
        t,
        (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderstatus") == "F"),
        prune={"o_orderdate": (None, dt.datetime(1995, 12, 31, 23, 59, 59))},
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "mor_delete_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE (o_orderkey % 13 <> 0 AND NOT (o_orderstatus = 'F' AND o_totalprice < 50000))
       OR o_orderkey % 39 = 0
    GROUP BY o_orderstatus
    """,
    "mutation", "deletion-vectors", "merge-on-read",
)
def mor_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion vectors end-to-end
    (operators/deletion_vectors.py): a key-set delete and a predicate
    delete each write ONLY tombstone sidecars (zero data files
    rewritten — the commit metrics assert it), the scan subtracts them
    with one broadcast anti-join, and a later upsert RESURRECTS a
    tombstoned subset by rewriting just the files it touches (retiring
    their tombstones). The oracle replays the set algebra over the raw
    fixture: survivors = (not key-deleted and not predicate-deleted) ∪
    re-upserted. Note the predicate delete does NOT re-kill resurrected
    rows — it ran before the upsert; order matters and the oracle
    encodes it."""
    from parquet_rewriter_spark.operators.deletion_vectors import (
        delete_keys_mor,
        delete_where_mor,
    )
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, OP_UPSERT, merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("mor_orders"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o)
    )
    r1 = delete_keys_mor(t, o.filter(F.col("o_orderkey") % 13 == 0).select("o_orderkey"))
    r2 = delete_where_mor(t, (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000))
    assert r1["data_files_rewritten"] == 0 and r2["data_files_rewritten"] == 0
    merge_into_table(
        t,
        o.filter(F.col("o_orderkey") % 39 == 0).withColumn(OP_COLUMN, F.lit(OP_UPSERT)),
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "conditional_merge_scan",
    """
    WITH survivors AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
                  ELSE o_totalprice END AS p
      FROM orders
      WHERE NOT (o_orderkey % 7 = 0 AND o_orderstatus = 'F')
    ),
    ins AS (
      SELECT 'N' AS o_orderstatus, o_totalprice AS p
      FROM orders WHERE o_orderkey % 11 = 0 AND o_totalprice > 150000
    )
    SELECT o_orderstatus, count(*) AS n_orders, round(sum(p), 2) AS revenue
    FROM (SELECT * FROM survivors UNION ALL SELECT * FROM ins)
    GROUP BY o_orderstatus
    """,
    "mutation", "merge", "conditional",
)
def conditional_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style MERGE INTO with WHEN clauses
    (operators/merge_conditional.py): WHEN MATCHED AND t.status='F'
    THEN DELETE, WHEN MATCHED THEN UPDATE SET price=s.price, WHEN NOT
    MATCHED AND s.price>150k THEN INSERT — first clause wins, untouched
    rows pass through, and at the table level only files whose key
    range overlaps a source key are rewritten (zone-map planning).
    Source: every 7th order with a 10% price bump (updates/deletes) ∪
    every 11th order re-keyed negative (insert candidates). The oracle
    replays the clause algebra in SQL over the raw fixture."""
    from parquet_rewriter_spark.operators.merge_conditional import (
        merge_conditional_into_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("condmerge_orders"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    src = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0)
            .withColumn("o_orderkey", -(F.col("o_orderkey") + 1))
            .withColumn("o_orderstatus", F.lit("N"))
        )
    )
    merge_conditional_into_table(
        t,
        src,
        matched=[
            ("t.o_orderstatus = 'F'", "delete", None),
            (None, "update", {"o_totalprice": "s.o_totalprice"}),
        ],
        not_matched=[("s.o_totalprice > 150000", None)],
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "incremental_compact_then_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
    FROM (
      SELECT o_orderstatus, o_totalprice FROM orders
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 500 = 7
      UNION ALL
      SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 500 = 13
    ) GROUP BY o_orderstatus
    """,
    "storage", "compaction",
)
def incremental_compact_then_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental compaction: fragment the layout with two small
    tail-insert merges, heal ONLY the undersized files
    (operators/compact.py:compact_incremental — adequately-sized files
    pass through by name, cost ∝ small-file fraction), then scan.
    Oracle: aggregate over orders plus the two inserted row sets."""
    from parquet_rewriter_spark.operators.compact import compact_incremental
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, OP_UPSERT, merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("inc_compact"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o)
    )
    for i, mod in enumerate((7, 13)):
        muts = (
            o.filter(F.col("o_orderkey") % 500 == mod)
            .withColumn("o_orderkey", F.col("o_orderkey") + (i + 1) * 10_000_000)
            .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
        )
        merge_into_table(t, muts, allow_splice=False)
    compact_incremental(t, target_records_per_file=_scaled_mrpf(o), min_fill=0.5)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "table_changes_feed",
    """
    SELECT o_orderkey AS key, 'update_postimage' AS change_type,
           round(o_totalprice + 1000.0, 2) AS price
    FROM orders WHERE o_orderkey % 10 = 3
    UNION ALL
    SELECT o_orderkey, 'delete', round(o_totalprice, 2)
    FROM orders WHERE o_orderkey % 10 = 7
    UNION ALL
    SELECT o_orderkey - 1000000, 'insert', round(o_totalprice, 2)
    FROM orders WHERE o_orderkey < 5
    """,
    "mutation", "cdc",
)
def table_changes_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between snapshots: orders → SortedTable, merge a known
    mutation set (update %10=3 at +1000, delete %10=7, insert copies of
    the head keys shifted to -1e6), then snapshot_diff(v0, v1) must
    reproduce exactly that mutation set — the inverse of the
    reference's validateMutations reconstruction
    (ParquetRewriterTests.java:215-244). Reads only churned files, so
    the feed costs O(dirty bytes), not O(table bytes)."""
    from parquet_rewriter_spark.operators.cdc import snapshot_diff
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("cdc_orders"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o)
    )
    ups = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn("op", F.lit("UPSERT"))
    )
    ins = (
        o.filter(F.col("o_orderkey") < 5)
        .withColumn("o_orderkey", F.col("o_orderkey") - F.lit(1_000_000))
        .withColumn("op", F.lit("UPSERT"))
    )
    dels = o.filter(F.col("o_orderkey") % 10 == 7).withColumn("op", F.lit("DELETE"))
    merge_into_table(t, ups.unionByName(ins).unionByName(dels))
    feed = snapshot_diff(t, from_version=0, to_version=1)
    return feed.select(
        F.col("o_orderkey").alias("key"),
        F.col("_change_type").alias("change_type"),
        F.round("o_totalprice", 2).alias("price"),
    )


@query(
    "stream_table_changes",
    """
    SELECT o_orderkey AS key, 'update_preimage' AS change_type,
           round(o_totalprice, 2) AS price, CAST(1 AS BIGINT) AS commit_version
    FROM orders WHERE o_orderkey BETWEEN 200 AND 299
    UNION ALL
    SELECT o_orderkey, 'update_postimage', round(o_totalprice + 1000.0, 2), CAST(1 AS BIGINT)
    FROM orders WHERE o_orderkey BETWEEN 200 AND 299
    UNION ALL
    SELECT o_orderkey, 'delete', round(o_totalprice, 2), CAST(2 AS BIGINT)
    FROM orders WHERE o_orderkey BETWEEN 700 AND 749
    """,
    "streaming", "cdc",
)
def stream_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side change feed, consumed as a STREAM: two merges append
    their row-level deltas (full preimage CDF form) to the table's
    ``_changelog/`` (operators/cdc.py:write_changelog), and
    ``stream_changes`` tails that directory as a schema-pinned
    file-source stream — the Delta-CDF read pattern on plain parquet.
    Drained with AvailableNow, the feed must equal the known mutation
    sets of both commits, each stamped with its ``_commit_version``.
    Mutations are KEY-CLUSTERED ranges so each commit dirties one file
    and the post-commit diff reads only that churn — the cost model this
    feed is supposed to have (a scattered %10 pattern would dirty every
    file and re-read the table per commit)."""
    from parquet_rewriter_spark.operators.cdc import (
        CHANGE_TYPE_COL,
        COMMIT_VERSION_COL,
        stream_changes,
    )
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
    from parquet_rewriter_spark.streaming import run_to_memory
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("cl_orders"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o)
    )
    ups = (
        o.filter(F.col("o_orderkey").between(200, 299))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(t, ups, changelog=True)
    dels = o.filter(F.col("o_orderkey").between(700, 749)).withColumn(
        OP_COLUMN, F.lit("DELETE")
    )
    merge_into_table(t, dels, changelog=True)
    feed = stream_changes(t).select(
        F.col("o_orderkey").alias("key"),
        F.col(CHANGE_TYPE_COL).alias("change_type"),
        F.round("o_totalprice", 2).alias("price"),
        F.col(COMMIT_VERSION_COL).alias("commit_version"),
    )
    return run_to_memory(feed, state_partitions=None)


@query(
    "csv_roundtrip_agg",
    """
    SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
    FROM nation GROUP BY n_regionkey
    """,
    "sources", "csv",
)
def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source round-trip (header + explicit schema on read —
    schema inference is a driver-side full scan; never at scale)."""
    n = _t(spark, sf_dir, "nation")
    path = _scratch("csv_nation")
    n.write.option("header", True).csv(path)
    back = spark.read.option("header", True).schema(n.schema).csv(path)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"), F.min("n_name").alias("first_name")
    )


@query(
    "orc_roundtrip_agg",
    """
    SELECT s_nationkey, count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS sum_bal
    FROM supplier GROUP BY s_nationkey
    """,
    "sources", "orc",
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip — the columnar secondary format
    (typed, footer-described, predicate-pushdown-capable like Parquet).
    The oracle replays the aggregate on the original Parquet: a lossless
    round-trip makes them identical."""
    s = _t(spark, sf_dir, "supplier")
    path = _scratch("orc_supplier")
    s.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("sum_bal"),
    )


@query(
    "json_roundtrip_agg",
    """
    SELECT s_nationkey, count(*) AS n_suppliers, round(sum(s_acctbal), 2) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
    "sources", "json",
)
def json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip with explicit schema."""
    s = _t(spark, sf_dir, "supplier")
    path = _scratch("json_supplier")
    s.write.json(path)
    back = spark.read.schema(s.schema).json(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


# ------------------------------------------------- pipeline operators 2


@query(
    "user_session_stats",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
        FROM marked
    ),
    sessions AS (
        SELECT user_id, session_idx, count(*) AS n_events,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        FROM numbered GROUP BY user_id, session_idx
    )
    SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events_total,
           max(n_events) AS max_session_events, CAST(sum(dur_us) AS BIGINT) AS total_dur_us
    FROM sessions GROUP BY user_id
    """,
    "sessionize", "events", "windows",
)
def user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) + per-user rollup: gap
    detection, session numbering, and BOTH aggregations ride one hash
    exchange on user_id (operators/sessionize.py). Durations are µs
    integers end-to-end — exact in Spark and the oracle alike."""
    from parquet_rewriter_spark.operators.sessionize import sessionize

    e = _t(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", gap_minutes=30.0)
    per_session = s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events_total"),
        F.max("n_events").alias("max_session_events"),
        F.sum("dur_us").alias("total_dur_us"),
    )


_SPLIT_U = "((doc_id % 2147483648) * 2654435761 + 0) % 4294967296 / 4294967296.0"


@query(
    "train_val_test_split",
    f"""
    SELECT CASE WHEN {_SPLIT_U} < 0.8 THEN 'train'
                WHEN {_SPLIT_U} < 0.9 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM documents GROUP BY 1, 2
    """,
    "sampling", "split",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split by multiplicative hash of doc_id
    (operators/sampling.py) — a pure projection (no shuffle, no RNG),
    stable under retries/repartitioning; id_checksum proves the oracle
    assigns the IDENTICAL rows, not just the same counts."""
    from parquet_rewriter_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("id_checksum"))
    )


@query(
    "stratified_sample_docs",
    f"""
    WITH u AS (
        SELECT lang, doc_id, {_SPLIT_U} AS u FROM documents
    ),
    r AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM u
    )
    SELECT lang, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM r WHERE rn <= ceil(n * 0.1) GROUP BY lang
    """,
    "sampling", "stratified",
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-fraction stratified sample: lowest 10% of hash(doc_id) per
    lang stratum — exact counts (unlike Bernoulli sampleBy) and fully
    reproducible; one shuffle on the stratum column."""
    from parquet_rewriter_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    samp = stratified_sample(d, ["lang"], 0.1, "doc_id")
    return samp.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"), F.sum("doc_id").alias("id_checksum")
    )


@query(
    "doc_tfidf_topterms",
    """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(nd.n_docs::DOUBLE / dfreq.dfreq), 4) AS tfidf
        FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nd
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rk
        FROM scored
    )
    SELECT doc_id, term, tfidf, rk FROM ranked WHERE rk <= 3
    """,
    "text", "tfidf",
)
def doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (functions/text.py): one
    corpus-sized shuffle (doc×term counts), vocabulary-sized document
    frequencies broadcast back, per-doc top-k ranked on the rounded
    score so Spark and the oracle order identically."""
    from parquet_rewriter_spark.functions.text import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "doc_id", "text", k=3)


@query(
    "orders_snapshot_diff",
    """
    WITH r AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 101 = 5
                    THEN round(o_totalprice + 10, 2) ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 97 != 3
        UNION ALL
        SELECT -o_orderkey - 1 AS o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey % 97 = 3
    ),
    l AS (SELECT o_orderkey, o_totalprice FROM orders),
    d AS (
        SELECT CASE WHEN l.o_orderkey IS NULL THEN 'added'
                    WHEN r.o_orderkey IS NULL THEN 'removed'
                    WHEN l.o_totalprice IS NOT DISTINCT FROM r.o_totalprice
                         THEN 'unchanged'
                    ELSE 'changed' END AS diff_status
        FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
    )
    SELECT diff_status, count(*) AS n_keys FROM d GROUP BY diff_status
    """,
    "diff", "reconciliation",
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed snapshot reconciliation (operators/diff.py): synthesize a
    second snapshot with ~1% deletes (re-keyed as adds), ~1% price
    changes, then classify every key via one full-outer join with
    null-safe struct comparison. The general-input complement of the
    manifest-pruned table_changes CDC feed."""
    from parquet_rewriter_spark.operators.diff import diff_summary

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    changed_price = F.when(
        F.col("o_orderkey") % 101 == 5, F.round(F.col("o_totalprice") + 10, 2)
    ).otherwise(F.col("o_totalprice"))
    kept = (
        o.filter(F.col("o_orderkey") % 97 != 3)
        .select("o_orderkey", changed_price.alias("o_totalprice"))
    )
    added = o.filter(F.col("o_orderkey") % 97 == 3).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"), "o_totalprice"
    )
    return diff_summary(o, kept.unionAll(added), "o_orderkey")


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", '{m}' AS metric, {expr} AS value FROM lineitem"""
    for c in _PROFILE_COLS
    for m, expr in (
        ("n_rows", "CAST(count(*) AS DOUBLE)"),
        ("n_null", f"CAST(count(*) - count({c}) AS DOUBLE)"),
        ("n_distinct", f"CAST(count(DISTINCT {c}) AS DOUBLE)"),
        ("min", f"round(CAST(min({c}) AS DOUBLE), 4)"),
        ("max", f"round(CAST(max({c}) AS DOUBLE), 4)"),
        ("mean", f"round(avg({c}), 4)"),
    )
)


@query(
    "lineitem_numeric_profile",
    _PROFILE_ORACLE,
    "profiling", "quality",
)
def lineitem_numeric_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling in ONE aggregation pass over the scan
    (operators/profile.py): all metrics for all columns in a single
    partial+final hash agg, unpivoted via stack (zero-shuffle
    generator). exact_distinct=True here so the oracle can replay it;
    the default is HyperLogLog++ for 100 TB inputs."""
    from parquet_rewriter_spark.operators.profile import profile_numeric

    li = _t(spark, sf_dir, "lineitem")
    return profile_numeric(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        exact_distinct=True,
    )


@query(
    "orders_constraint_report",
    """
    WITH checks AS (
      SELECT count(*) AS n,
             sum(CASE WHEN NOT coalesce(o_totalprice > 0, false) THEN 1 ELSE 0 END) AS v1,
             sum(CASE WHEN NOT coalesce(o_orderdate >= TIMESTAMP '1990-01-01', false) THEN 1 ELSE 0 END) AS v2,
             sum(CASE WHEN NOT coalesce(o_custkey IS NOT NULL, false) THEN 1 ELSE 0 END) AS v3,
             sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), false) THEN 1 ELSE 0 END) AS v4,
             sum(CASE WHEN NOT coalesce(o_totalprice < 100000, false) THEN 1 ELSE 0 END) AS v5
      FROM orders
    )
    SELECT rule, CAST(n_violations AS BIGINT) AS n_violations, n AS n_rows,
           round(1.0 - n_violations / CAST(n AS DOUBLE), 6) AS pass_rate
    FROM (
      SELECT 'positive_price' AS rule, v1 AS n_violations, n FROM checks
      UNION ALL SELECT 'date_sane', v2, n FROM checks
      UNION ALL SELECT 'custkey_not_null', v3, n FROM checks
      UNION ALL SELECT 'status_domain', v4, n FROM checks
      UNION ALL SELECT 'price_under_100k', v5, n FROM checks
    )
    """,
    "quality", "constraints",
)
def orders_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraints (operators/quality.py):
    five rules over orders — including one that actually fails
    (price_under_100k) — validated in ONE aggregation pass: a
    sum(CASE...) per rule inside a single partial+final hash agg, then
    stack-unpivoted. Rule count never changes the scan count."""
    from parquet_rewriter_spark.operators.quality import check_constraints

    o = _t(spark, sf_dir, "orders")
    return check_constraints(
        o,
        {
            "positive_price": "o_totalprice > 0",
            "date_sane": "o_orderdate >= TIMESTAMP '1990-01-01'",
            "custkey_not_null": "o_custkey IS NOT NULL",
            "status_domain": "o_orderstatus IN ('O','F','P')",
            "price_under_100k": "o_totalprice < 100000",
        },
    )


# ------------------------------------------------- llm pipeline operators 3


@query(
    "doc_chunks",
    """
    WITH n AS (
      SELECT doc_id, text,
             CAST(greatest(1, floor((length(text) - 20 + 79) / 80.0)) AS BIGINT) AS nc
      FROM documents
    ),
    idx AS (SELECT doc_id, text, unnest(range(nc)) AS chunk_idx FROM n)
    SELECT doc_id, chunk_idx,
           substring(text, CAST(chunk_idx * 80 + 1 AS INT), 100) AS chunk,
           length(substring(text, CAST(chunk_idx * 80 + 1 AS INT), 100)) AS chunk_len
    FROM idx
    """,
    "llm", "chunking",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (functions/chunk.py): 100-char windows with
    20-char overlap — the pre-tokenization step of context-window
    packing. Chunk count is integer arithmetic, the explode is a
    generator (no shuffle), the substring codegen: one narrow map stage
    at any corpus size."""
    from parquet_rewriter_spark.functions.chunk import chunk_text

    d = _t(spark, sf_dir, "documents")
    out = chunk_text(d, "text", size=100, overlap=20)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
        F.length("chunk").alias("chunk_len"),
    )


@query(
    "pii_redaction_stats",
    r"""
    WITH synth AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or call 555-123-4567'
                  ELSE text END AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(t, '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}')) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
    FROM synth
    """,
    "llm", "pii",
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (functions/pii.py): deterministic synthetic
    emails/phones are injected into every 5th document (the fixture
    corpus carries none), then counted and redacted with pure
    regexp expressions — patterns restricted to the Java∩RE2 common
    subset so the DuckDB oracle replays them byte-for-byte (md5 of the
    redacted text must match)."""
    from parquet_rewriter_spark.functions import pii

    d = _t(spark, sf_dir, "documents")
    synth = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or call 555-123-4567"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return synth.select(
        "doc_id",
        pii.count_emails("t").cast("long").alias("n_emails"),
        pii.count_phones("t").cast("long").alias("n_phones"),
        F.md5(pii.redact("t")).alias("redacted_md5"),
    )


@query(
    "corpus_top_bigrams",
    """
    WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
    b AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM tok
    )
    SELECT bigram, count(*) AS n FROM b
    GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
    "llm", "ngram",
)
def corpus_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: top-20 adjacent word pairs. The pair
    generator is a per-row transform (no shuffle); one hash aggregate
    + TakeOrderedAndProject does the rest — corpus-size-proportional
    with a single shuffle, the shape n-gram LM stats need at scale."""
    d = _t(spark, sf_dir, "documents")
    pairs = d.select(
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 2 THEN "
                "transform(sequence(1, size(split(text, ' ')) - 1), "
                "i -> concat(element_at(split(text, ' '), i), ' ', "
                "element_at(split(text, ' '), i + 1))) "
                "ELSE array() END"
            )
        ).alias("bigram")
    )
    return (
        pairs.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(20)
    )


@query(
    "contamination_check",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, g8 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))) AS g8
        FROM tok WHERE len(t) >= 8
      )
    ),
    bench AS (SELECT DISTINCT g8 FROM grams WHERE doc_id % 10 = 0),
    hits AS (
      SELECT g.doc_id, count(DISTINCT g.g8) AS n_shared
      FROM grams g JOIN bench b USING (g8)
      WHERE g.doc_id % 10 <> 0 GROUP BY g.doc_id
    )
    SELECT d.doc_id, CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
           coalesce(h.n_shared, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 10 <> 0
    """,
    "llm", "contamination",
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination: flag training documents sharing
    any word-8-gram with the held-out set (doc_id % 10 = 0 here; in a
    real pipeline, the benchmark corpus). The benchmark gram set is
    broadcast (it is the small side by construction), so the check is
    one broadcast join over the training grams — no all-pairs document
    comparison at any scale."""
    d = _t(spark, sf_dir, "documents")
    g8 = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 8 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 7), "
        "i -> array_join(slice(split(text, ' '), i, 8), ' ')) "
        "ELSE array() END"
    )
    # no shared pre-distinct on the exploded grams: bench dedups
    # itself below and the hits aggregate counts DISTINCT grams, so
    # the (doc_id, g8) distinct was a full shuffle of the gram
    # explosion buying nothing (guide §2.4)
    grams = d.select("doc_id", F.explode(g8).alias("g8"))
    bench = grams.filter(F.col("doc_id") % 10 == 0).select("g8").distinct()
    train = grams.filter(F.col("doc_id") % 10 != 0)
    hits = (
        train.join(F.broadcast(bench), "g8")
        .groupBy("doc_id")
        .agg(F.count_distinct("g8").alias("n_shared"))
    )
    base = d.filter(F.col("doc_id") % 10 != 0).select("doc_id")
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        (F.coalesce(F.col("n_shared"), F.lit(0)) > 0).alias("contaminated"),
    )


@query(
    "pack_training_sequences",
    """
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             len(string_split(text, ' '))::BIGINT AS n_tok
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tok,
             COALESCE(CAST(sum(n_tok) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS bef
      FROM t
    )
    SELECT doc_id, shard,
           CAST(bef // 2048 AS BIGINT) AS seq_id,
           CAST(bef % 2048 AS BIGINT) AS seq_offset,
           (bef % 2048 + n_tok) > 2048 AS spans_boundary
    FROM c
    """,
    "llm", "packing",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing (operators/packing.py): docs
    concatenate in id order within hash shards and cut every 2048
    tokens — each doc gets its (shard, seq_id, seq_offset) placement,
    spans_boundary marks docs the materializer splits. Sharding keeps
    the window a balanced hash exchange instead of one global sort; the
    assignment is a pure function of (ids, token counts), so the SQL
    oracle replays it exactly."""
    from parquet_rewriter_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents")
    packed = pack_sequences(
        d,
        "doc_id",
        F.size(F.split(F.col("text"), " ")),
        max_tokens=2048,
        num_shards=8,
        shard_col=(F.col("doc_id") % 8),
    )
    return packed.select("doc_id", "shard", "seq_id", "seq_offset", "spans_boundary")


@query(
    "doc_repetition_scores",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r
      WHERE len(t) >= 3
    ),
    stats AS (
      SELECT doc_id, count(*) AS n_grams, count(DISTINCT g) AS n_distinct
      FROM grams GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(s.n_grams, 0) AS n_grams,
           round(CASE WHEN s.n_grams IS NULL THEN 0.0
                      ELSE 1.0 - s.n_distinct::DOUBLE / s.n_grams END, 4)
               AS dup_ratio,
           COALESCE(1.0 - s.n_distinct::DOUBLE / s.n_grams > 0.2, FALSE)
               AS is_repetitive
    FROM documents d LEFT JOIN stats s USING (doc_id)
    """,
    "llm", "quality", "repetition",
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: fraction of duplicate word
    3-grams per doc (1 - distinct/total). Explode → one hash agg with
    count + count_distinct per doc — no UDF, no per-doc set beyond the
    aggregation's own state; docs shorter than 3 tokens score 0."""
    d = _t(spark, sf_dir, "documents")
    g3 = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 3 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 2), "
        "i -> array_join(slice(split(text, ' '), i, 3), ' ')) "
        "ELSE array() END"
    )
    stats = (
        d.select("doc_id", F.explode(g3).alias("g"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_distinct("g").alias("n_distinct"),
        )
    )
    ratio = 1.0 - F.col("n_distinct").cast("double") / F.col("n_grams")
    return (
        d.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.round(F.coalesce(ratio, F.lit(0.0)), 4).alias("dup_ratio"),
            F.coalesce(ratio > 0.2, F.lit(False)).alias("is_repetitive"),
        )
    )


# ------------------------------------------------- layout + skew operators in the gate


@query(
    "bucketed_colocated_join",
    """
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    "layout", "bucketing", "join",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through a BUCKETED layout (operators/bucketing.py):
    both tables written hash-bucketed on the order key, so the join
    plans over the co-located bucketed scans with no Exchange on either
    side — the 100 TB strategy of paying the shuffle once at layout
    time. The post-join aggregation is the only exchange left (pinned
    in tests/test_plans.py). Oracle replays the plain join — a layout
    rewrite is lossless."""
    from parquet_rewriter_spark.operators.bucketing import bucketed_join, write_bucketed

    o = _t(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "okey")
    l = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "okey")
    write_bucketed(o, "prs_cat_b_orders", "okey", 8, path=_scratch("bkt_orders"))
    write_bucketed(l, "prs_cat_b_lineitem", "okey", 8, path=_scratch("bkt_lineitem"))
    j = bucketed_join(spark, "prs_cat_b_lineitem", "prs_cat_b_orders", on="okey")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


@query(
    "hot_key_split_join",
    """
    WITH skewed AS (
      SELECT CASE WHEN l_orderkey % 4 = 0 THEN 0 ELSE l_orderkey END AS k,
             l_extendedprice, l_discount
      FROM lineitem
    )
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM skewed JOIN orders ON k = o_orderkey
    GROUP BY o_orderpriority
    """,
    "skew", "join",
)
def hot_key_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact join via hot/cold splitting (operators/skew.py):
    25% of lineitem rows are remapped onto ONE order key — the straggler
    shape that stalls a plain shuffle join at scale. hot_keys finds the
    heavy keys in one bounded aggregation; their rows ride a broadcast
    join (never shuffled), the cold rest takes the normal path, and the
    union equals the plain join — which is exactly what the oracle
    computes."""
    from parquet_rewriter_spark.operators.skew import hot_cold_split_join

    l = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 4 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("o_orderkey"),
        "l_extendedprice",
        "l_discount",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = hot_cold_split_join(l, o, "o_orderkey", hot_min_count=10_000)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


@query(
    "skew_safe_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_distinct
    FROM events GROUP BY event_type
    """,
    "skew", "aggregation",
)
def skew_safe_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) via the distinct-first rewrite
    (operators/skew.skew_safe_count_distinct): dedup on (group, value)
    spreads a heavy group over all its value pairs, then a light count —
    no per-group distinct set ever materializes in one task."""
    from parquet_rewriter_spark.operators.skew import skew_safe_count_distinct

    e = _t(spark, sf_dir, "events")
    return skew_safe_count_distinct(e, "event_type", "user_id")



# ------------------------------------------------------- search / fuzzy / sketch

from parquet_rewriter_spark.operators.search import bm25_sql

_BM25_TERMS = ["join", "window", "scan"]


@query(
    "bm25_search",
    bm25_sql(_BM25_TERMS, k=15),
    "search", "bm25", "inverted-index",
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (operators/search.py): the inverted
    index is a (term, doc_id, tf) relation built by explode + hash agg;
    a query touches only its own terms' postings and finishes with
    TakeOrderedAndProject top-k. At 100 TB the postings are persisted
    bucketed by term, turning each query into a |query-terms|-partition
    scan."""
    from parquet_rewriter_spark.operators.search import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, "doc_id", "text", _BM25_TERMS, k=15)


@query(
    "fuzzy_part_match",
    """
    WITH names AS (
      SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name
    )
    SELECT a.id AS id_a, b.id AS id_b, a.s AS name_a, b.s AS name_b,
           CAST(levenshtein(a.s, b.s) AS INTEGER) AS edit_dist
    FROM names a JOIN names b
      ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1
    WHERE levenshtein(a.s, b.s) <= 1
    """,
    "fuzzy", "join", "blocking",
)
def fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy self-join with LOSSLESS q-gram blocking
    (operators/fuzzy.py, Gravano count-filter): candidates come from a
    shared-bigram join + length band, verified by levenshtein — never
    the n² cross join the all-pairs oracle runs. Upstream distinct()
    collapses the name column first (64 distinct names here; at corpus
    scale the distinct universe is what you block, not the rows)."""
    from parquet_rewriter_spark.operators.fuzzy import fuzzy_self_join

    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("id"))
        .select("id", F.col("p_name").alias("s"))
    )
    return fuzzy_self_join(names, "id", "s", max_dist=1, q=2).withColumn(
        "edit_dist", F.col("edit_dist").cast("int")
    )


@query(
    "quality_weighted_sample",
    f"""
    WITH keyed AS (
      SELECT doc_id, lang, source, n_chars,
             -ln(greatest(((doc_id % 2147483648) * 2654435761 + 7) % 4294967296
                          / 4294967296.0, 1.1641532182693481e-10))
             / n_chars AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, source, n_chars
    FROM keyed ORDER BY es_key, doc_id LIMIT 50
    """,
    "sampling", "weighted",
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis exponential arrival keys over the portable unit hash,
    operators/sampling.py:weighted_sample): inclusion probability
    proportional to a quality weight (n_chars here), exactly k rows,
    identical selection on any cluster size — the training-mix sampler.
    Plan is one TakeOrderedAndProject, no full-table shuffle."""
    from parquet_rewriter_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(d, "doc_id", "n_chars", k=50, salt=7).select(
        "doc_id", "lang", "source", "n_chars"
    )


@query(
    "heavy_hitter_tokens",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, count(*) AS n_occurrences
    FROM toks WHERE token <> ''
    GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 20
    """,
    "sketch", "heavy-hitters",
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens via a Space-Saving sketch
    (operators/sketch.py): capacity-bounded per-partition summaries
    (mapInPandas, no shuffle), one tiny merge agg, then an EXACT rescore
    of only the sketch's candidates — the full token universe is never
    grouped. The oracle is the exact top-k, which the
    sketch-with-rescore provably reproduces when the summary guarantee
    holds (capacity >> k)."""
    from parquet_rewriter_spark.operators.sketch import heavy_hitters_topk

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    return heavy_hitters_topk(toks, "token", k=20, capacity=1024)


# shared by the batch and streaming Count-Min queries: the streaming
# fold is a commutative counter sum, so both produce this exact result
_CMS_ORACLE = """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t
                 FROM documents),
    exact AS (SELECT t, CAST(count(*) AS BIGINT) AS exact_n
              FROM tok WHERE t <> '' GROUP BY t),
    probes AS (SELECT t, exact_n FROM exact
               ORDER BY exact_n DESC, t LIMIT 15),
    js AS (SELECT unnest(generate_series(0, 2)) AS j),
    cells AS (
      SELECT j,
             ('0x' || substr(md5(t || ':' || CAST(j + 1 AS VARCHAR)), 1, 15))::BIGINT
               % 1024 AS bucket,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM tok CROSS JOIN js
      WHERE t <> ''
      GROUP BY 1, 2
    ),
    probe_cells AS (
      SELECT p.t, p.exact_n, js.j,
             ('0x' || substr(md5(p.t || ':' || CAST(js.j + 1 AS VARCHAR)), 1, 15))::BIGINT
               % 1024 AS bucket
      FROM probes p CROSS JOIN js
    )
    SELECT pc.t AS token, max(pc.exact_n) AS exact_n,
           CAST(min(c.cnt) AS BIGINT) AS cms_est,
           CAST(min(c.cnt) AS BIGINT) - max(pc.exact_n) AS overcount
    FROM probe_cells pc JOIN cells c ON c.j = pc.j AND c.bucket = pc.bucket
    GROUP BY pc.t
    """


@query(
    "cms_token_frequency_bounds",
    _CMS_ORACLE,
    "sketch", "count-min", "mergeable",
)
def cms_token_frequency_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates for the corpus's exact
    top-15 tokens (operators/countmin.py, depth 3 × width 1024). The
    sketch's md5-bridge hash family is engine-portable, so the oracle
    replays the ENTIRE construction cell-for-cell — every counter, every
    bucket, every min — not just the final numbers. ``overcount`` (est −
    exact, always ≥ 0) exposes the sketch's one-sided error budget.
    Scale shape: the sketch is ≤ 3·1024 rows whatever the corpus size —
    built with one hash aggregate whose map-side combine caps per-
    partition output at d·w counters — and lookups broadcast it."""
    from parquet_rewriter_spark.operators.countmin import (
        countmin_build,
        countmin_lookup,
    )

    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t")).filter(
        F.col("t") != ""
    )
    sketch = countmin_build(tok, "t", depth=3, width=1024)
    probes = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "t")
        .limit(15)
    )
    est = countmin_lookup(sketch, probes, "t", depth=3, width=1024)
    return est.select(
        F.col("t").alias("token"),
        "exact_n",
        F.col("est").cast("long").alias("cms_est"),
        (F.col("est").cast("long") - F.col("exact_n")).alias("overcount"),
    )


@query(
    "stream_cms_token_frequencies",
    _CMS_ORACLE,
    "streaming", "sketch", "count-min", "stateful",
)
def stream_cms_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min build as a STREAMING stateful aggregation: the
    cell projection (operators/countmin.py:countmin_cells) feeds a
    plain streaming groupBy-sum whose state is bounded at depth·width
    rows BY CONSTRUCTION — the sketch property turned into a Structured
    Streaming state bound, no custom stateful operator needed. Complete
    mode re-emits the running sketch per micro-batch; after the drain
    the newest emission IS the corpus sketch, cell-for-cell identical
    to the batch build (counter addition commutes), so batch and stream
    share one DuckDB oracle. Probing reuses the batch lookup."""
    from parquet_rewriter_spark.operators.countmin import (
        countmin_cells,
        countmin_lookup,
    )
    from parquet_rewriter_spark.streaming.ops import run_to_memory, stream_table

    docs = stream_table(spark, sf_dir, "documents")
    tok_s = docs.select(F.explode(F.split("text", " ")).alias("t")).filter(
        F.col("t") != ""
    )
    sketch_stream = (
        countmin_cells(tok_s, "t", depth=3, width=1024)
        .groupBy("j", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )
    sketch = run_to_memory(sketch_stream, output_mode="complete")
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(F.split("text", " ")).alias("t")).filter(
        F.col("t") != ""
    )
    probes = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "t")
        .limit(15)
    )
    est = countmin_lookup(sketch, probes, "t", depth=3, width=1024)
    return est.select(
        F.col("t").alias("token"),
        "exact_n",
        F.col("est").cast("long").alias("cms_est"),
        (F.col("est").cast("long") - F.col("exact_n")).alias("overcount"),
    )


def _minhash_portable_cte(docs_sql: str) -> str:
    """The WITH-body replaying operators/dedup.py:
    minhash_lsh_pairs_portable over ``docs_sql`` — emits CTEs up to
    ``pairs`` (id_a, id_b, jaccard ≥ 0.5). Shared by the pair query
    and the cross-source contamination matrix so the sketch replay
    lives in one place."""
    return f"""docs AS (SELECT * FROM {docs_sql} AS dd),
    d AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
    sh AS (
      SELECT doc_id, array_to_string(list_slice(w, j, j + 2), ' ') AS sh
      FROM d, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS t(j)
    ),
    b AS (
      SELECT doc_id, sh,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483648 AS base
      FROM sh
    ),
    hs AS (
      SELECT doc_id, i.i,
             min((base * 2654435761 + i.i + 1) % 4294967296) AS h
      FROM b CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS i) i
      GROUP BY doc_id, i.i
    ),
    bandkeys AS (
      SELECT doc_id, i // 3 AS band,
             string_agg(CAST(h AS VARCHAR), '_' ORDER BY i) AS bkey
      FROM hs GROUP BY doc_id, i // 3
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM bandkeys a
      JOIN bandkeys b2 ON a.band = b2.band AND a.bkey = b2.bkey
                      AND a.doc_id < b2.doc_id
    ),
    sets AS (SELECT doc_id, list_distinct(list(sh)) AS s FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b,
             round(len(list_intersect(sa.s, sb.s))::DOUBLE
                   / len(list_distinct(list_concat(sa.s, sb.s))), 4) AS jaccard
      FROM cand c
      JOIN sets sa ON sa.doc_id = c.id_a
      JOIN sets sb ON sb.doc_id = c.id_b
      WHERE round(len(list_intersect(sa.s, sb.s))::DOUBLE
                  / len(list_distinct(list_concat(sa.s, sb.s))), 4) >= 0.5
    )"""


@query(
    "minhash_portable_near_dup_pairs",
    f"""
    WITH {_minhash_portable_cte(_DOCS_WITH_DUPS)}
    SELECT id_a, id_b, jaccard FROM pairs
    """,
    "dedup", "minhash", "lsh", "portable",
)
@_clean_query
def minhash_portable_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the engine-portable hash family
    (operators/dedup.py:minhash_lsh_pairs_portable): one md5 per
    shingle, Knuth-derived 48-hash family, 16 string band keys, exact
    string-Jaccard verify ≥0.5. Unlike the xxhash64 production twin
    (`minhash_near_dup_pairs`, rows-only), the oracle replays the
    ENTIRE sketch — signatures, buckets, candidates, verify — so the
    hash compare certifies the LSH machinery itself, not just row
    counts."""
    from parquet_rewriter_spark.operators.dedup import minhash_lsh_pairs_portable

    d2 = _docs_with_dups(spark, sf_dir)
    return minhash_lsh_pairs_portable(
        d2, "doc_id", "text", threshold=0.5, num_hashes=48, bands=16, shingle_n=3
    )


_DOCS_CROSS_DUPS = """
    (SELECT * FROM documents
     UNION ALL
     SELECT doc_id + 1000000, text, lang, 'mirror_' || source, n_chars
     FROM documents WHERE doc_id % 5 = 0)
"""


def _docs_cross_dups(spark, sf_dir):
    """documents ∪ a shifted copy of every 5th doc under a MIRRORED
    source name — synthetic cross-source duplication, so the
    contamination matrix has off-diagonal mass to measure."""
    d = _t(spark, sf_dir, "documents")
    dups = (
        d.filter(F.col("doc_id") % 5 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("source", F.concat(F.lit("mirror_"), F.col("source")))
    )
    return d.unionByName(dups)


@query(
    "cross_source_contamination_matrix",
    f"""
    WITH {_minhash_portable_cte(_DOCS_CROSS_DUPS)},
    src AS (SELECT doc_id, source FROM docs)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           count(*) AS n_pairs, round(avg(jaccard), 4) AS avg_jaccard
    FROM pairs p
    JOIN src sa ON sa.doc_id = p.id_a
    JOIN src sb ON sb.doc_id = p.id_b
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "dedup", "minhash", "llm-pipeline", "contamination",
)
@_clean_query
def cross_source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH sources duplicate WHICH: the portable MinHash+LSH pair
    stream rolled up into a source×source matrix (n_pairs, mean
    verified Jaccard per unordered source pair) — the report that
    decides which crawl snapshots/dumps to drop before pretraining.
    Pairs come from the banded sketch (never all-pairs); the source
    lookup joins the tiny pair relation against (doc_id, source) and
    the rollup is one hash aggregate. The oracle replays the whole
    sketch AND the matrix."""
    from parquet_rewriter_spark.operators.dedup import minhash_lsh_pairs_portable

    # persisted: four consumers (signature build, verify semi-join, and
    # the two source-lookup sides below) otherwise each re-run the
    # cross-dups scan + union (guide §5).
    d2 = persist(_docs_cross_dups(spark, sf_dir))
    pairs = minhash_lsh_pairs_portable(
        d2, "doc_id", "text", threshold=0.5, num_hashes=48, bands=16, shingle_n=3
    )
    src = d2.select("doc_id", "source")
    j = (
        pairs.join(
            src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")),
            "id_a",
        ).join(
            src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 4).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@query(
    "region_nation_revenue_shares",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, round(rev, 2) AS revenue,
           round(rev / sum(rev) OVER (PARTITION BY region), 4)
             AS share_of_region,
           round(sum(rev) OVER (PARTITION BY region)
                 / sum(rev) OVER (), 4) AS region_share_of_total
    FROM rev
    """,
    "olap", "hierarchy", "ratio-to-parent",
)
def region_nation_revenue_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent across the region → nation hierarchy: each
    nation's share of its region and each region's share of the total,
    in one pass. The fact collapses to a 25-row (region, nation)
    aggregate FIRST (broadcast dims, map-side combine), so the two
    ratio windows — including the global one, normally a
    single-partition red flag — run over 25 rows, not the fact table.
    The safe place for a global window is after the aggregate, never
    before; the plan encodes that rule."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = (
        li.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
                li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        F.round("rev", 2).alias("revenue"),
        F.round(F.col("rev") / F.sum("rev").over(w_region), 4).alias("share_of_region"),
        F.round(F.sum("rev").over(w_region) / F.sum("rev").over(w_all), 4)
        .alias("region_share_of_total"),
    )


@query(
    "dow_adjusted_revenue_anomalies",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
             -- DuckDB dayofweek is 0=Sunday; Spark's is 1=Sunday
             CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
             sum(o_totalprice) AS rev
      FROM orders GROUP BY 1, 2
    ),
    prof AS (
      SELECT dow, avg(rev) AS dow_mean FROM daily GROUP BY dow
    )
    SELECT strftime(daily.d, '%Y-%m-%d') AS day, daily.dow,
           round(daily.rev, 2) AS revenue,
           round(daily.rev / prof.dow_mean, 4) AS seasonal_ratio,
           (daily.rev / prof.dow_mean NOT BETWEEN 0.5 AND 1.5) AS anomalous
    FROM daily JOIN prof ON prof.dow = daily.dow
    WHERE daily.rev / prof.dow_mean NOT BETWEEN 0.8 AND 1.25
    """,
    "timeseries", "seasonality", "anomaly",
)
def dow_adjusted_revenue_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: daily revenue divided by
    its day-of-week mean profile, flagging days whose deseasonalized
    ratio leaves the band — the adjustment that stops every weekend
    from reading as an anomaly. Two aggregates (daily rollup, then the
    7-row profile broadcast back) and a codegen ratio; no windows, no
    Python. Mean division is a single double op per day, so rounding
    to 4 keeps both engines identical."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("d"),
        F.dayofweek("o_orderdate").cast("long").alias("dow"),
    ).agg(F.sum("o_totalprice").alias("rev"))
    prof = daily.groupBy("dow").agg(F.avg("rev").alias("dow_mean"))
    ratio = F.col("rev") / F.col("dow_mean")
    return (
        daily.join(F.broadcast(prof), "dow")
        .filter((ratio < 0.8) | (ratio > 1.25))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dow",
            F.round("rev", 2).alias("revenue"),
            F.round(ratio, 4).alias("seasonal_ratio"),
            ((ratio < 0.5) | (ratio > 1.5)).alias("anomalous"),
        )
    )


@query(
    "brand_association_rules",
    """
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM baskets),
    item AS (SELECT p_brand, count(*) AS supp FROM baskets GROUP BY 1),
    pair AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS supp_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT pair.brand_a, pair.brand_b,
           CAST(pair.supp_ab AS BIGINT) AS supp_ab,
           round(pair.supp_ab::DOUBLE / ia.supp, 4) AS confidence_a_to_b,
           round(pair.supp_ab::DOUBLE * n.n_baskets / (ia.supp * ib.supp), 4)
             AS lift
    FROM pair
    JOIN item ia ON ia.p_brand = pair.brand_a
    JOIN item ib ON ib.p_brand = pair.brand_b
    CROSS JOIN n
    WHERE pair.supp_ab >= 40
    """,
    "market-basket", "association-rules", "join",
)
@_clean_query
def brand_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets at the BRAND level (25
    brands → the pair space is bounded at 300 whatever the corpus
    size): support, confidence, and lift per co-purchased brand pair.
    Scale shape: distinct (basket, brand) first (one map-combining
    shuffle), self-join on the basket key — fan-out is basket-size²,
    bounded by the small per-order item count — then two broadcast
    joins of the 25-row item-support relation. Integer supports keep
    the ratios bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = persist(
        li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                li.l_partkey == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
        # four consumers (total, item supports, both self-join sides):
        # without the persist each re-runs the scan+distinct pipeline
    )
    n_baskets = persist(baskets.select(F.count_distinct("l_orderkey").alias("n")))
    item = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("supp"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pair = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.p_brand") < F.col("b.p_brand")))
        .groupBy(F.col("a.p_brand").alias("brand_a"),
                 F.col("b.p_brand").alias("brand_b"))
        .agg(F.count(F.lit(1)).alias("supp_ab"))
        .filter(F.col("supp_ab") >= 40)
    )
    ia = item.select(F.col("p_brand").alias("brand_a"), F.col("supp").alias("supp_a"))
    ib = item.select(F.col("p_brand").alias("brand_b"), F.col("supp").alias("supp_b"))
    return (
        pair.join(F.broadcast(ia), "brand_a")
        .join(F.broadcast(ib), "brand_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "brand_a",
            "brand_b",
            "supp_ab",
            F.round(F.col("supp_ab") / F.col("supp_a"), 4).alias("confidence_a_to_b"),
            F.round(F.col("supp_ab") * F.col("n") / (F.col("supp_a") * F.col("supp_b")), 4)
            .alias("lift"),
        )
    )


@query(
    "stream_window_approx_users",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
             count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT window_start, CAST(n_exact AS BIGINT) AS n_exact,
           TRUE AS approx_within_10pct
    FROM w
    """,
    "streaming", "window", "approx-distinct", "sketch",
)
def stream_window_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct counting INSIDE a streaming windowed aggregate:
    ``approx_count_distinct`` is a mergeable sketch, so Structured
    Streaming folds it per window with bounded state (one sketch per
    window, not a user set — the state bound exact streaming distinct
    cannot offer). Drained complete-mode windows are compared against
    the exact per-window distinct (computed batch-side), folding the
    ≤10% HLL error contract into the oracle-checked output the same way
    the batch `approx_distinct_users` query does."""
    from parquet_rewriter_spark.streaming.ops import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir)
    win = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        # explicit rsd=0.02: the default 5% is a standard-deviation
        # TARGET, not a per-window ≤10% bound — at 2% rsd a window
        # outside 10% is a 5σ event, making the oracle's TRUE robust
        .agg(F.approx_count_distinct("user_id", 0.02).alias("n_approx"))
    )
    drained = run_to_memory(win, output_mode="complete")
    e = _t(spark, sf_dir, "events")
    exact = e.groupBy(F.window("ts", "6 hours").alias("w")).agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return (
        drained.join(exact, drained.w == exact.w)
        .select(
            drained.w.start.alias("window_start"),
            "n_exact",
            (F.abs(F.col("n_approx") - F.col("n_exact"))
             <= 0.1 * F.col("n_exact")).alias("approx_within_10pct"),
        )
    )


@query(
    "referential_orphans_report",
    """
    SELECT 'lineitem->orders' AS fk,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
             AS n_orphans,
           CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT),
           CAST((SELECT count(*) FROM orders) AS BIGINT)
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    """,
    "quality", "referential-integrity", "anti-join",
)
def referential_orphans_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep: orphan counts for the three fact→dim
    foreign keys, each a LEFT ANTI join (the NOT EXISTS decorrelation).
    Parent key sets broadcast where dimension-sized (customer, part);
    the lineitem→orders probe shuffles both sides on the key. The
    cross-table complement of the single-table constraint engine
    (operators/quality.py) — together they are the ingestion gate's
    full rule surface."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    checks = [
        ("lineitem->orders",
         li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"),
                 "left_anti"),
         li),
        ("orders->customer",
         o.join(F.broadcast(c.select("c_custkey")),
                o.o_custkey == F.col("c_custkey"), "left_anti"),
         o),
        ("lineitem->part",
         li.join(F.broadcast(p.select("p_partkey")),
                 li.l_partkey == F.col("p_partkey"), "left_anti"),
         li),
    ]
    rows = [(name, orphans.count(), base.count()) for name, orphans, base in checks]
    return spark.createDataFrame(rows, "fk string, n_orphans long, n_rows long")


@query(
    "rolling_7d_distinct_users",
    """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             user_id
      FROM events
    ),
    fan AS (
      SELECT d + off.o AS win_day, user_id
      FROM du, UNNEST([0, 1, 2, 3, 4, 5, 6]) AS off(o)
    ),
    days AS (SELECT DISTINCT d FROM du)
    SELECT strftime(f.win_day, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT f.user_id) AS BIGINT) AS wau
    FROM fan f JOIN days ON days.d = f.win_day
    GROUP BY f.win_day
    """,
    "timeseries", "rolling-distinct", "wau",
)
@_clean_query
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU) per day — the rolling-DISTINCT
    aggregate a range window cannot express (window count_distinct is
    unsupported, and distinct doesn't decompose over sliding frames).
    Scalable shape: collapse events to distinct (day, user) FIRST (one
    shuffle, map-side combine), fan each row into the 7 windows it
    belongs to (codegen explode of a constant array — fan-out bounded
    at 7×distinct-days-×-users, not 7×events), then one count-distinct
    per window day, restricted to days that actually exist in the
    data."""
    e = _t(spark, sf_dir, "events")
    du = persist(e.select(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"), "user_id"
    ).distinct())  # fan-out and the day list both read it
    fan = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"), "d", "user_id"
    ).select(F.date_add("d", F.col("o")).alias("win_day"), "user_id")
    days = du.select("d").distinct()
    return (
        fan.join(F.broadcast(days), fan.win_day == days.d, "left_semi")
        .groupBy(F.date_format("win_day", "yyyy-MM-dd").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@query(
    "corpus_curation_pipeline",
    f"""
    WITH RECURSIVE quality AS (
      SELECT doc_id, text, lang, n_chars FROM documents
      WHERE n_chars BETWEEN 50 AND 199
        AND len(string_split(text, ' ')) >= 8
    ),
    exact AS (
      SELECT doc_id, text, lang, n_chars FROM (
        SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM quality
      ) WHERE rn = 1
    ),
    d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS s
          FROM exact),
    pairs AS (
      SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.4
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    canon AS (
      SELECT e.doc_id, e.lang, e.text, comp.cluster_id
      FROM exact e JOIN comp USING (doc_id)
      WHERE e.doc_id = comp.cluster_id
    ),
    split AS (
      SELECT *, CASE WHEN ((cluster_id % 2147483648) * 2654435761 + 0)
                          % 4294967296 / 4294967296.0 < 0.9
                     THEN 'train' ELSE 'test' END AS split
      FROM canon
    )
    SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM split GROUP BY split, lang
    """,
    "pipeline", "capstone", "dedup", "split",
)
@_clean_query
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE: the full corpus-curation pipeline as ONE verified
    composition — quality gate (length + token-count) → exact dedup
    (keep lowest id per text) → near-dup clustering → canonical
    survivor per cluster → leakage-safe split by cluster id → per-split
    token accounting. Every stage is an already-gated operator; this
    entry proves they COMPOSE, with the DuckDB oracle replaying the
    entire pipeline (including the recursive transitive closure) in one
    statement. id_checksum certifies identical surviving documents, not
    just identical counts."""
    from parquet_rewriter_spark.functions.text import token_count
    from parquet_rewriter_spark.operators.cluster import near_dup_clusters
    from parquet_rewriter_spark.operators.dedup import exact_dedup, jaccard_pairs
    from parquet_rewriter_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    quality = d.filter(
        F.col("n_chars").between(50, 199) & (token_count("text") >= 8)
    )
    # persisted: four consumers (both jaccard self-join sides, the
    # cluster node set, the canonical join) otherwise each re-run the
    # scan + quality filter + dedup window shuffle (guide §2.4/§5)
    exact = persist(exact_dedup(quality, ["text"], "doc_id"))
    pairs = jaccard_pairs(exact, "doc_id", "text", 0.4, block_cols=["lang"],
                          shingle_n=1)
    clusters = near_dup_clusters(exact, pairs)
    canon = exact.join(
        clusters.filter(F.col("is_canonical")).select("doc_id", "cluster_id"),
        "doc_id",
    )
    split = hash_split(canon, "cluster_id", {"train": 0.9, "test": 0.1})
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("long")).alias("total_tokens"),
        F.sum("doc_id").alias("id_checksum"),
    )


@query(
    "weighted_median_price",
    """
    WITH b AS (
      SELECT l_returnflag, CAST(floor(l_extendedprice / 64.0) AS BIGINT) AS bin,
             sum(l_quantity) AS bw
      FROM lineitem GROUP BY 1, 2
    ),
    bc AS (
      SELECT l_returnflag, bin, bw,
             sum(bw) OVER (PARTITION BY l_returnflag ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS cum,
             sum(bw) OVER (PARTITION BY l_returnflag) AS tw
      FROM b
    ),
    star AS (
      SELECT l_returnflag, min(bin) AS bstar, max(tw) AS tw
      FROM bc WHERE cum >= tw / 2 GROUP BY l_returnflag
    ),
    below AS (
      SELECT bc.l_returnflag, bc.cum - bc.bw AS below, star.tw, star.bstar
      FROM bc JOIN star
        ON bc.l_returnflag = star.l_returnflag AND bc.bin = star.bstar
    ),
    inbin AS (
      SELECT li.l_returnflag, li.l_extendedprice AS p, sum(li.l_quantity) AS w,
             max(below.below) AS below, max(below.tw) AS tw
      FROM lineitem li JOIN below
        ON li.l_returnflag = below.l_returnflag
       AND CAST(floor(li.l_extendedprice / 64.0) AS BIGINT) = below.bstar
      GROUP BY 1, 2
    ),
    cc AS (
      SELECT l_returnflag, p, tw,
             below + sum(w) OVER (PARTITION BY l_returnflag ORDER BY p
                                  ROWS UNBOUNDED PRECEDING) AS cw
      FROM inbin
    )
    SELECT l_returnflag, round(min(p), 2) AS weighted_median,
           round(max(tw), 1) AS total_weight
    FROM cc WHERE cw >= tw / 2 GROUP BY l_returnflag
    """,
    "aggregation", "weighted-quantile", "two-phase",
)
@_clean_query
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantity-weighted median per return flag, computed with
    the two-phase binned search that survives 100 TB: phase one
    aggregates weights into fixed-width value bins (one map-combining
    shuffle; the bin relation is ~bins×groups rows) and walks the tiny
    bin-level running sum to find the bin containing the half-weight
    crossing; phase two re-aggregates ONLY the crossing bin's rows and
    resolves the exact value inside it. No per-group sort of the fact
    table ever happens — the naive single-window form funnels every
    group's rows through one task, the classic unscalable shape this
    query exists to avoid. Integer weights keep every comparison exact
    in binary; division by 64 (a power of two) is exact in both
    engines."""
    li = _t(spark, sf_dir, "lineitem")
    bin_col = F.floor(F.col("l_extendedprice") / 64.0).cast("long")
    b = persist(li.groupBy("l_returnflag", bin_col.alias("bin")).agg(
        F.sum("l_quantity").alias("bw")
    ))  # bins×groups rows; crossing search reads it twice
    wspec = Window.partitionBy("l_returnflag")
    bc = b.select(
        "l_returnflag",
        "bin",
        "bw",
        F.sum("bw").over(
            wspec.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.sum("bw").over(wspec).alias("tw"),
    )
    star = (
        bc.filter(F.col("cum") >= F.col("tw") / 2)
        .groupBy("l_returnflag")
        .agg(F.min("bin").alias("bstar"), F.max("tw").alias("tw_all"))
    )
    below = bc.join(
        star.withColumnRenamed("l_returnflag", "rf"),
        (bc.l_returnflag == F.col("rf")) & (bc.bin == F.col("bstar")),
    ).select(
        "rf",
        (F.col("cum") - F.col("bw")).alias("below"),
        F.col("tw_all").alias("tw"),
        "bstar",
    )
    inbin = (
        li.join(
            F.broadcast(below),
            (li.l_returnflag == F.col("rf")) & (bin_col == F.col("bstar")),
        )
        .groupBy("l_returnflag", F.col("l_extendedprice").alias("p"))
        .agg(
            F.sum("l_quantity").alias("w"),
            F.max("below").alias("below"),
            F.max("tw").alias("tw"),
        )
    )
    cc = inbin.select(
        "l_returnflag",
        "p",
        "tw",
        (
            F.col("below")
            + F.sum("w").over(
                Window.partitionBy("l_returnflag")
                .orderBy("p")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        ).alias("cw"),
    )
    return (
        cc.filter(F.col("cw") >= F.col("tw") / 2)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("p"), 2).alias("weighted_median"),
            F.round(F.max("tw"), 1).alias("total_weight"),
        )
    )


@query(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE d AS (SELECT doc_id, lang, list_distinct({_TOK}) AS s
               FROM documents WHERE n_chars < 200),
    pairs AS (
      SELECT * FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      ) WHERE jaccard >= 0.4
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
    assigned AS (
      SELECT comp.doc_id, comp.cluster_id,
             CASE WHEN ((cluster_id % 2147483648) * 2654435761 + 0)
                       % 4294967296 / 4294967296.0 < 0.9
                  THEN 'train' ELSE 'test' END AS split
      FROM comp
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM assigned GROUP BY split
    """,
    "sampling", "split", "dedup", "leakage",
)
@_clean_query
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/test split: hash-split by near-dup CLUSTER id
    instead of doc id, so a document and its near-duplicates land in
    the same split by construction — the contamination channel a plain
    per-doc split leaves open (a test doc's near-twin in train is
    leakage the contamination n-gram check may miss). Composition of
    the pair graph (operators/dedup.py), connected components
    (operators/cluster.py), and the portable hash split
    (operators/sampling.py) — all machinery already gated
    individually; id_checksum proves the oracle assigns the identical
    documents."""
    from parquet_rewriter_spark.operators.cluster import near_dup_clusters
    from parquet_rewriter_spark.operators.dedup import jaccard_pairs
    from parquet_rewriter_spark.operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") < 200)
    pairs = jaccard_pairs(d, "doc_id", "text", 0.4, block_cols=["lang"], shingle_n=1)
    assign = near_dup_clusters(d, pairs).select("doc_id", "cluster_id")
    split = hash_split(assign, "cluster_id", {"train": 0.9, "test": 0.1})
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("cluster_id").alias("n_clusters"),
        F.sum("doc_id").alias("id_checksum"),
    )


@query(
    "image_patch_grid",
    """
    WITH dims AS (
      SELECT doc_id AS media_id,
             16 + n_chars % 64 AS width,
             16 + (n_chars * 7) % 64 AS height
      FROM documents
    ),
    g AS (
      SELECT media_id, width, height,
             greatest(CAST(floor((width - 16) / 16.0) AS INTEGER) + 1, 1) AS nx,
             greatest(CAST(floor((height - 16) / 16.0) AS INTEGER) + 1, 1) AS ny
      FROM dims
    )
    SELECT media_id,
           CAST(ix.i * 16 AS BIGINT) AS patch_x,
           CAST(iy.i * 16 AS BIGINT) AS patch_y,
           16 AS patch_size
    FROM g,
         UNNEST(generate_series(0, nx - 1)) AS ix(i),
         UNNEST(generate_series(0, ny - 1)) AS iy(i)
    """,
    "multimodal", "vision", "patches",
)
def image_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch-grid sampling (sources/multimodal.py:patch_grid):
    one row per 16×16 patch origin over each image's decoded
    dimensions — the 2-D analog of frame sampling, pure codegen'd
    sequence-explode arithmetic with no shuffle and no Python.
    Dimensions here derive deterministically from doc metadata (the
    container lacks image codecs — the decode UDF is the stubbed
    boundary); the byte-level crop belongs inside decode_image."""
    from parquet_rewriter_spark.sources.multimodal import patch_grid

    d = _t(spark, sf_dir, "documents")
    dims = d.select(
        F.col("doc_id").alias("media_id"),
        (16 + F.col("n_chars") % 64).cast("int").alias("width"),
        (16 + (F.col("n_chars") * 7) % 64).cast("int").alias("height"),
    )
    out = patch_grid(dims, patch=16, stride=16)
    return out.select(
        "media_id",
        F.col("patch_x").cast("long").alias("patch_x"),
        F.col("patch_y").cast("long").alias("patch_y"),
        F.col("patch_size").cast("int").alias("patch_size"),
    )


@query(
    "constrained_merge_scan",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS bad_batch_rejected
    FROM (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey BETWEEN 400 AND 449
                  THEN 99999.0 ELSE o_totalprice END AS o_totalprice
      FROM orders
    )
    GROUP BY o_orderstatus
    """,
    "storage", "constraints", "governance",
)
def constrained_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline CHECK constraints on merge (operators/merge.py): a batch
    carrying negative prices must be rejected atomically — version and
    bytes untouched — and a clean batch through the same gate lands.
    The oracle's expected table state contains ONLY the clean batch's
    effect; ``bad_batch_rejected`` folds the rejection proof in."""
    from parquet_rewriter_spark.operators.merge import (
        ConstraintViolationError,
        merge_into_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("constrained_orders"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    rules = {"price_positive": "o_totalprice > 0"}
    bad = (
        o.filter(F.col("o_orderkey").between(500, 549))
        .withColumn("o_totalprice", F.lit(-5.0))
        .withColumn("op", F.lit("UPSERT"))
    )
    v0 = t.manifest().version
    rejected = False
    try:
        merge_into_table(t, bad, constraints=rules)
    except ConstraintViolationError:
        rejected = t.manifest().version == v0
    good = (
        o.filter(F.col("o_orderkey").between(400, 449))
        .withColumn("o_totalprice", F.lit(99999.0))
        .withColumn("op", F.lit("UPSERT"))
    )
    merge_into_table(t, good, constraints=rules)
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .withColumn("bad_batch_rejected", F.lit(rejected))
    )


@query(
    "stream_pyds_table_changes",
    """
    SELECT o_orderkey AS key, 'update_preimage' AS change_type,
           round(o_totalprice, 2) AS price, CAST(1 AS BIGINT) AS commit_version
    FROM orders WHERE o_orderkey BETWEEN 300 AND 399
    UNION ALL
    SELECT o_orderkey, 'update_postimage', round(o_totalprice + 500.0, 2), CAST(1 AS BIGINT)
    FROM orders WHERE o_orderkey BETWEEN 300 AND 399
    UNION ALL
    SELECT o_orderkey, 'delete', round(o_totalprice, 2), CAST(2 AS BIGINT)
    FROM orders WHERE o_orderkey BETWEEN 800 AND 849
    """,
    "streaming", "cdc", "python-datasource",
)
def stream_pyds_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changelog consumed through the PYTHON STREAMING DATA SOURCE
    (sources/pyds.py:SortedTableChangesDataSource) instead of the
    file-source tail: offsets are the table's own COMMIT VERSIONS
    ({"version": N}), so restarts resume exactly after the last commit
    processed and replays are reproducible by construction — the
    Spark-4 streaming DataSource API carrying the engine's commit log
    as its offset domain. Same two-merge scenario as the file-source
    twin (`stream_table_changes`); the drained feed must equal both
    commits' known mutation sets."""
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, merge_into_table
    from parquet_rewriter_spark.sources.pyds import register_changes
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("pyds_cl_orders"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    ups = (
        o.filter(F.col("o_orderkey").between(300, 399))
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
        .withColumn(OP_COLUMN, F.lit("UPSERT"))
    )
    merge_into_table(t, ups, changelog=True)
    dels = o.filter(F.col("o_orderkey").between(800, 849)).withColumn(
        OP_COLUMN, F.lit("DELETE")
    )
    merge_into_table(t, dels, changelog=True)

    import uuid

    register_changes(spark)
    name = f"pyds_changes_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("sorted_table_changes")
        .option("path", t.path).load()
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    if not q.awaitTermination(120):  # timeout → partial sink, fail loudly
        q.stop()
        raise TimeoutError("sorted_table_changes stream did not drain in 120s")
    return spark.table(name).select(
        F.col("o_orderkey").alias("key"),
        F.col("_change_type").alias("change_type"),
        F.round("o_totalprice", 2).alias("price"),
        F.col("_commit_version").alias("commit_version"),
    )


@query(
    "stream_drift_alerts",
    """
    WITH dec AS (
      SELECT d, round(qs[d], 6) AS q
      FROM (SELECT quantile_cont(value,
                     [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
            FROM events),
           UNNEST([1,2,3,4,5,6,7,8,9]) AS t(d)
    ),
    win AS (
      SELECT time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
             value
      FROM events
    ),
    gaps AS (
      SELECT w.window_start, dec.d,
             abs(dec.d / 10.0
                 - sum(CASE WHEN w.value <= dec.q THEN 1 ELSE 0 END)::DOUBLE
                   / count(*)) AS gap,
             count(*) AS n
      FROM win w CROSS JOIN dec
      GROUP BY w.window_start, dec.d
    )
    SELECT window_start, CAST(max(n) AS BIGINT) AS n_events,
           round(max(gap), 6) AS ks_stat,
           max(gap) > 0.15 AS drifted
    FROM gaps GROUP BY window_start
    """,
    "streaming", "drift", "monitoring",
)
def stream_drift_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: per 6-hour event-time window, an
    approximate two-sample KS of the window's value distribution
    against the WHOLE-corpus baseline, evaluated at the baseline's nine
    deciles — the standard streaming approximation (the sup over a
    fixed quantile grid lower-bounds the true KS and needs only nine
    conditional counters per window, stateless beyond the windowed
    aggregate). Baseline deciles come from one bounded batch aggregate
    and ride the streaming plan as literals; the windowed counts are a
    PLAIN streaming aggregation (complete mode), state = windows ×
    10 longs. Oracle replays grid, counts, and sup exactly."""
    from parquet_rewriter_spark.streaming.ops import run_to_memory, stream_events

    e = _t(spark, sf_dir, "events")
    decs = [
        round(q, 6)
        for q in e.select(
            F.percentile("value", F.array(*[F.lit(d / 10.0) for d in range(1, 10)]))
        ).first()[0]
    ]
    ev = stream_events(spark, sf_dir)
    counters = [
        F.sum(F.when(F.col("value") <= F.lit(q), 1).otherwise(0)).alias(f"c{i}")
        for i, q in enumerate(decs)
    ]
    win = (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), *counters)
    )
    drained = run_to_memory(win, output_mode="complete")
    gap = F.greatest(
        *[
            F.abs(F.lit((i + 1) / 10.0) - F.col(f"c{i}") / F.col("n"))
            for i in range(9)
        ]
    )
    return drained.select(
        F.col("w.start").alias("window_start"),
        F.col("n").alias("n_events"),
        F.round(gap, 6).alias("ks_stat"),
        (gap > 0.15).alias("drifted"),
    )


@query(
    "simhash_portable_near_pairs",
    f"""
    WITH docs AS (SELECT * FROM {_DOCS_WITH_DUPS} AS dd),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
    bitsum AS (
      SELECT doc_id, bb.b, sum(((h >> bb.b) & 1) * 2 - 1) AS v
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS b) bb
      GROUP BY doc_id, bb.b
    ),
    fp AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS f
      FROM bitsum GROUP BY doc_id
    ),
    blk AS (
      SELECT doc_id, f, k.k, (f >> (12 * k.k)) & 4095 AS bv
      FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
    FROM blk a
    JOIN blk b ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 3
    """,
    "dedup", "simhash", "portable",
)
@_clean_query
def simhash_portable_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the engine-portable hash family
    (operators/dedup.py:simhash_portable_near_pairs): 48-bit
    fingerprints from md5-bridge token hashes, 4 pigeonhole blocks
    (total recall at Hamming ≤ 3 by construction), popcount verify.
    The oracle reproduces fingerprints, blocks, candidates, and
    distances bit-for-bit — the xxhash64 production twin
    (`simhash_near_pairs`) stays rows-only for speed."""
    from parquet_rewriter_spark.operators.dedup import simhash_portable_near_pairs

    d2 = _docs_with_dups(spark, sf_dir)
    return simhash_portable_near_pairs(d2, "doc_id", "text", max_hamming=3)


@query(
    "doc_compression_quality",
    None,
    "text", "quality", "compression",
)
def doc_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality gate (functions/text.py:
    compression_ratio): zlib ratio per document as the cheap
    boilerplate detector — repetitive machine-generated text compresses
    far below natural prose. Arrow-batched pandas UDF (zlib has no SQL
    replay → rows-only check; the monotonicity contract —
    repetitive ≪ natural — is property-tested). Flags the corpus tail
    outside the [0.3, 0.95] band the usual pre-training filters keep."""
    from parquet_rewriter_spark.functions.text import compression_ratio

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        compression_ratio("text").alias("zlib_ratio"),
    )
    return scored.select(
        "doc_id",
        "zlib_ratio",
        (~F.col("zlib_ratio").between(0.3, 0.95)).alias("flagged"),
    )


@query(
    "routed_scan_report",
    """
    SELECT 'key_range' AS probe, 'zone_maps' AS strategy, TRUE AS pruned,
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderkey BETWEEN 100 AND 500) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'price_band', 'zone_maps', FALSE,
           CAST((SELECT count(*) FROM orders
                 WHERE o_totalprice >= 0.0) AS BIGINT)
    UNION ALL
    SELECT 'customer_point', 'bloom', TRUE,
           CAST((SELECT count(*) FROM orders
                 WHERE o_custkey IN (42, 777)) AS BIGINT)
    UNION ALL
    SELECT 'priority_filter', 'full_scan', FALSE,
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderpriority = '1-URGENT') AS BIGINT)
    """,
    "storage", "router", "pruning",
)
def routed_scan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan routing (operators/router.py): one table carrying all three
    skipping structures — key zone map, secondary zone maps on
    o_totalprice, Bloom sidecar on o_custkey — and four probes that
    must each pick the right one: the key range through ``read_where``
    (driver-pruned, files skipped), the price band ALSO through
    ``read_where`` but skipping nothing — o_totalprice is uncorrelated
    with the key-sorted layout, the documented "pruning is a layout
    property, correctness isn't" contract — the customer point lookup
    through the Bloom candidates, and the untracked priority filter
    through a full scan. Row counts prove the routing never changes
    results; the ``pruned`` boolean records whether the chosen
    structure actually skipped files."""
    from parquet_rewriter_spark.operators.router import smart_read
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark,
        _scratch("router_orders"),
        o,
        key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 12),
        stats_cols=["o_totalprice"],
        bloom_cols=["o_custkey"],
    )
    probes = [
        ("key_range", dict(ranges={"o_orderkey": (100, 500)})),
        ("price_band", dict(ranges={"o_totalprice": (0.0, None)})),
        ("customer_point", dict(equals={"o_custkey": [42, 777]})),
        ("priority_filter", dict(equals={"o_orderpriority": ["1-URGENT"]})),
    ]
    from concurrent.futures import ThreadPoolExecutor

    def _probe(item):
        name, kwargs = item
        df, rep = smart_read(t, **kwargs)
        pruned = rep["files_scanned"] < rep["files_total"]
        return (name, rep["strategy"], pruned, df.count())

    # the four probes are independent reads of ONE immutable snapshot —
    # overlap them so each count's task tail back-fills the next probe's
    # scan instead of serializing four fixed per-job latencies (guide
    # §2.6); pool.map keeps the output row order deterministic
    with ThreadPoolExecutor(max_workers=2) as pool:
        rows = list(pool.map(_probe, probes))
    return spark.createDataFrame(
        rows, "probe string, strategy string, pruned boolean, n_rows long"
    )


@query(
    "multi_table_txn_scan",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_final,
           TRUE AS consistent_during_crash,
           TRUE AS consistent_after
    FROM orders WHERE o_orderkey % 10 <> 0
    GROUP BY o_orderstatus
    """,
    "storage", "transaction", "multi-table",
)
def multi_table_txn_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table atomic transaction (operators/txn_catalog.py): an
    orders table and its status rollup pinned by a catalog pointer.
    A simulated writer crash — the base table's delete merge lands but
    the catalog never flips — must leave catalog readers on the OLD,
    mutually-consistent pair (base group counts still equal the
    rollup); the completed transaction then flips both pins in one
    atomic commit. The result folds both consistency probes in as
    booleans the oracle requires TRUE."""
    from parquet_rewriter_spark.operators.merge import OP_COLUMN, OP_UPSERT, merge_into_table
    from parquet_rewriter_spark.operators.txn_catalog import TransactionCatalog
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    a = SortedTable.create(spark, _scratch("txncat_orders"), o, key="o_orderkey")
    summary = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_orders"))
    b = SortedTable.create(spark, _scratch("txncat_summary"), summary,
                           key="o_orderstatus")
    cat = TransactionCatalog.create(
        spark, _scratch("txncat_ptr"), {"orders": a, "summary": b}
    )

    def consistent() -> bool:
        base_counts = (
            cat.read("orders").groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_base"))
        )
        view = cat.read("summary")
        return (
            base_counts.join(view, "o_orderstatus", "full")
            .filter(
                F.coalesce("n_base", F.lit(-1)) != F.coalesce("n_orders", F.lit(-2))
            )
            .count()
            == 0
        )

    # txn 1 — "crashes" after the base merge, before the catalog flip:
    # the table's own head advances, catalog readers must not see it
    from parquet_rewriter_spark.operators.merge import delete_where

    delete_where(a, F.col("o_orderkey") % 10 == 0)
    during_crash_ok = consistent()

    # txn 2 — completes: refresh the rollup from the base's HEAD state,
    # then flip both pins atomically
    new_summary = (
        a.read().groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    merge_into_table(b, new_summary)
    cat.commit({"orders": a.manifest().version, "summary": b.manifest().version})
    after_ok = consistent()

    return cat.read("summary").select(
        "o_orderstatus",
        F.col("n_orders").alias("n_final"),
        F.lit(during_crash_ok).alias("consistent_during_crash"),
        F.lit(after_ok).alias("consistent_after"),
    )


@query(
    "copurchase_reach_2hop",
    """
    WITH RECURSIVE items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b USING (l_orderkey)
      WHERE a.l_partkey <> b.l_partkey
    ),
    reach(part, hop) AS (
      SELECT CAST(0 AS BIGINT) AS part, 0 AS hop
      UNION ALL
      SELECT e.v, reach.hop + 1
      FROM e JOIN reach ON e.u = reach.part
      WHERE reach.hop < 2
    )
    SELECT part, CAST(min(hop) AS BIGINT) AS min_hops,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM reach GROUP BY part
    """,
    "graph", "recursive-cte", "sql",
)
def copurchase_reach_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native RECURSIVE CTE (Spark 4 SQL surface): parts reachable from
    part 0 within two co-purchase hops, with min hop distance and path
    multiplicity. Executed as literal SQL — the engine's recursion
    (iterative union-all expansion, same shape the label-propagation
    operator hand-rolls in operators/cluster.py) against DuckDB's
    recursive CTE as oracle. The hop bound makes the recursion depth
    static, so both engines terminate identically."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(REGISTRY["copurchase_reach_2hop"].oracle)


@query(
    "variant_props_stats",
    """
    SELECT event_type,
           CAST(count(json_extract(props, '$.k')) AS BIGINT) AS n_with_k,
           CAST(sum(json_extract(props, '$.k')::INTEGER) AS BIGINT) AS k_sum,
           CAST(min(json_extract(props, '$.k')::INTEGER) AS BIGINT) AS k_min,
           CAST(max(json_extract(props, '$.k')::INTEGER) AS BIGINT) AS k_max
    FROM events GROUP BY event_type
    """,
    "variant", "semi-structured", "json",
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    ``parse_json`` once into a Variant column (binary-encoded,
    shreddable — the open-format path for schema-on-read at scale,
    cheaper than per-path string re-parsing), then typed
    ``variant_get`` extractions feeding a plain aggregate. The oracle
    reads the same paths with DuckDB's JSON extraction."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json("props").alias("p")
    ).select(
        "event_type",
        F.try_variant_get(F.col("p"), "$.k", "long").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("k_sum"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


@query(
    "source_length_drift_ks",
    """
    WITH g AS (SELECT DISTINCT source AS gs FROM documents
               WHERE source IS NOT NULL),
    tagged AS (
      SELECT g.gs, d.n_chars AS v,
             CASE WHEN d.source = g.gs THEN 1 ELSE 0 END AS in_src
      FROM documents d CROSS JOIN g
    ),
    counts AS (
      SELECT gs, v, CAST(sum(in_src) AS DOUBLE) AS ca,
             CAST(sum(1 - in_src) AS DOUBLE) AS cb
      FROM tagged GROUP BY gs, v
    ),
    cdfs AS (
      SELECT gs,
             sum(ca) OVER (PARTITION BY gs ORDER BY v
                           ROWS UNBOUNDED PRECEDING)
               / sum(ca) OVER (PARTITION BY gs) AS fa,
             sum(cb) OVER (PARTITION BY gs ORDER BY v
                           ROWS UNBOUNDED PRECEDING)
               / sum(cb) OVER (PARTITION BY gs) AS fb,
             sum(ca) OVER (PARTITION BY gs) AS na,
             sum(cb) OVER (PARTITION BY gs) AS nb
      FROM counts
    )
    SELECT gs AS source, CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(max(abs(fa - fb)), 6) AS ks_stat
    FROM cdfs GROUP BY gs
    """,
    "drift", "monitoring", "ks",
)
def source_length_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-drift monitor (operators/drift.py): per-source two-sample
    Kolmogorov–Smirnov statistic of the document-length distribution vs
    the rest of the corpus — the check that catches a crawler update
    silently shifting one source's length profile. The corpus is read
    ONCE (per-(source, value) counts with map-side combine); the G-way
    expansion, CDFs, and sup-gap run on the distinct-value relation
    (rest = total − source by subtraction). Counts are exact integers
    so the oracle reproduces D bit-for-bit."""
    from parquet_rewriter_spark.operators.drift import ks_drift_by_group

    d = _t(spark, sf_dir, "documents")
    return ks_drift_by_group(d, "n_chars", "source")


@query(
    "source_length_drift_psi",
    """
    WITH gv AS (
      SELECT source AS gs, n_chars AS v, count(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    vt AS (SELECT v, sum(n) AS t FROM gv GROUP BY v),
    rng AS (SELECT min(v) AS lo, max(v) AS hi FROM vt),
    g AS (SELECT DISTINCT gs FROM gv WHERE gs IS NOT NULL),
    binned AS (
      SELECT v, t,
             CASE WHEN v IS NULL THEN -1
                  WHEN hi = lo THEN 0
                  ELSE least(9, CAST(floor((v - lo) / ((hi - lo) / 10.0))
                                 AS INT))
             END AS bin
      FROM vt, rng
    ),
    per_bin AS (
      SELECT g.gs, b.bin,
             CAST(sum(coalesce(gv.n, 0)) AS DOUBLE) AS ca,
             CAST(sum(b.t - coalesce(gv.n, 0)) AS DOUBLE) AS cb
      FROM binned b
      CROSS JOIN g
      LEFT JOIN gv ON gv.gs = g.gs AND gv.v IS NOT DISTINCT FROM b.v
      GROUP BY g.gs, b.bin
    ),
    probs AS (
      SELECT gs,
             greatest(ca / sum(ca) OVER (PARTITION BY gs), 1e-6) AS pa,
             greatest(cb / sum(cb) OVER (PARTITION BY gs), 1e-6) AS pb,
             sum(ca) OVER (PARTITION BY gs) AS na,
             sum(cb) OVER (PARTITION BY gs) AS nb
      FROM per_bin
    )
    SELECT gs AS source, CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
    FROM probs GROUP BY gs
    """,
    "drift", "monitoring", "psi",
)
def source_length_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source vs the rest
    (operators/drift.py:psi_drift_by_group) — the production
    model-monitoring staple (PSI > 0.25 = major shift), on the same
    one-corpus-pass subtraction plan as the KS twin: equal-width
    binning happens on the DISTINCT-VALUE relation (distinct values
    weighted by their counts ≡ binning raw rows), probabilities floored
    at 1e-6 for empty bins, all arithmetic integer counts + double
    division so the oracle replays PSI to the digit."""
    from parquet_rewriter_spark.operators.drift import psi_drift_by_group

    d = _t(spark, sf_dir, "documents")
    return psi_drift_by_group(d, "n_chars", "source")


_FIXED_BIN_PSI_SQL = """
    WITH b AS (
      SELECT source AS g,
             CASE WHEN n_chars IS NULL THEN -1 ELSE
             (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 250 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 350 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) END AS bin
      FROM documents
    ),
    bins AS (SELECT unnest(generate_series(-1, 4)) AS bin),
    g AS (SELECT DISTINCT g FROM b WHERE g IS NOT NULL),
    cnt AS (SELECT g, bin, count(*) AS n FROM b GROUP BY 1, 2),
    tot AS (SELECT bin, sum(n) AS t FROM cnt GROUP BY bin),
    grid AS (SELECT g.g, bins.bin FROM g CROSS JOIN bins),
    cells AS (
      SELECT grid.g, grid.bin,
             CAST(coalesce(cnt.n, 0) AS DOUBLE) AS ca,
             CAST(coalesce(tot.t, 0) - coalesce(cnt.n, 0) AS DOUBLE) AS cb
      FROM grid
      LEFT JOIN cnt ON cnt.g = grid.g AND cnt.bin = grid.bin
      LEFT JOIN tot ON tot.bin = grid.bin
    ),
    probs AS (
      SELECT g,
             greatest(ca / sum(ca) OVER (PARTITION BY g), 1e-6) AS pa,
             greatest(cb / sum(cb) OVER (PARTITION BY g), 1e-6) AS pb,
             sum(ca) OVER (PARTITION BY g) AS na,
             sum(cb) OVER (PARTITION BY g) AS nb
      FROM cells
    )
    SELECT g AS source, CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
    FROM probs GROUP BY g
    """


@query(
    "incremental_drift_monitor",
    _FIXED_BIN_PSI_SQL,
    "drift", "monitoring", "psi", "incremental", "sidecar",
)
def incremental_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI served from a PERSISTENT, incrementally-maintained sidecar
    (operators/driftstats.py): each file carries its per-(source, bin)
    count matrix under DECLARED bin edges; matrices are additive, so
    the corpus histogram — and PSI per source vs rest — is a driver sum
    over ≤ |G|·(B+1) integers with NO data scan once the sidecar is
    complete. The sequence: seed the table missing a contiguous doc_id
    range → build (one matrix per file) → one merge inserts the gap and
    rewrites a small head range → refresh builds matrices ONLY for the
    churned files (asserted ≪ table) → PSI from the sidecar. The oracle
    recomputes fixed-bin PSI from scratch over the final corpus, so a
    hash match proves the incremental histogram converged bit-for-bit
    to the from-scratch counts."""
    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        psi_from_stats,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    n = int(d.agg(F.max("doc_id")).first()[0]) + 1
    gap_lo, gap_hi = n // 3, n // 3 + max(1, n // 10)
    head_hi = max(1, n // 20)
    seed = d.filter(
        ~((F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi))
    )
    t = SortedTable.create(
        spark, _scratch("driftstats"), seed, key="doc_id",
        max_records_per_file=_scaled_mrpf(seed, 9),
    )
    built0 = build_drift_stats(t, "n_chars", "source", EDGES)
    assert built0 == len(t.manifest().files)  # one matrix per file

    muts = d.filter(
        ((F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi))
        | (F.col("doc_id") < head_hi)
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)

    built1 = build_drift_stats(t, "n_chars", "source", EDGES)
    # refresh ∝ churn: only files the merge wrote need new matrices
    assert 0 < built1 < len(t.manifest().files)
    return psi_from_stats(t, "n_chars", "source", EDGES)


@query(
    "auto_drift_monitor_scan",
    _FIXED_BIN_PSI_SQL,
    "drift", "monitoring", "psi", "incremental", "sidecar", "auto-maintain",
)
def auto_drift_monitor_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-MAINTAINED drift monitor
    (operators/driftstats.py:enable_drift_monitor): the monitor spec is
    registered IN THE MANIFEST (metadata commit, inherited through
    every later commit like sketch_cols/rename_map), so the merge that
    follows refreshes count matrices for exactly the files it rewrote
    with NO explicit build call — the query asserts the sidecar is
    complete BEFORE asking for PSI, proving the hook ran rather than
    the reader self-healing. Oracle: from-scratch fixed-bin PSI over
    the final corpus."""
    from parquet_rewriter_spark.operators.driftstats import (
        _have_files,
        _spec_id,
        enable_drift_monitor,
        psi_from_stats,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    n = int(d.agg(F.max("doc_id")).first()[0]) + 1
    gap_lo, gap_hi = n // 6, n // 6 + max(1, n // 9)
    seed = d.filter(
        ~((F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi))
    )
    t = SortedTable.create(
        spark, _scratch("autodrift"), seed, key="doc_id",
        max_records_per_file=_scaled_mrpf(seed, 9),
    )
    enable_drift_monitor(t, "n_chars", "source", EDGES)
    muts = d.filter(
        (F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi)
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)
    m = t.manifest()
    assert m.drift_specs  # registration survived the merge commit
    # the merge hook covered its files: nothing left for self-heal
    have = _have_files(t, _spec_id("n_chars", "source", EDGES))
    assert {e.name for e in m.files} <= have
    return psi_from_stats(t, "n_chars", "source", EDGES)


@query(
    "stream_incremental_drift",
    _FIXED_BIN_PSI_SQL,
    "streaming", "drift", "psi", "incremental", "exactly-once", "sidecar",
)
def stream_incremental_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upkeep of the declared-bin drift sidecar
    (streaming/ops.py:stream_maintain_drift): a third of the documents
    seed the table + its per-file (source, bin) count matrices; the
    full corpus then flows through foreachBatch — each micro-batch
    merges exactly-once and re-counts ONLY the files its commit
    rewrote. The final sidecar-summed PSI must equal DuckDB's
    from-scratch fixed-bin PSI over all documents: a skipped refresh,
    a double-counted matrix, or a stale file's rows anywhere flips the
    hash."""
    import tempfile
    import uuid as _uuid

    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        psi_from_stats,
    )
    from parquet_rewriter_spark.streaming.ops import (
        stream_maintain_drift,
        stream_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    t = SortedTable.create(
        spark, _scratch("sdrift"), d.filter(F.col("doc_id") % 3 == 0),
        key="doc_id", max_records_per_file=_scaled_mrpf(d, 9),
    )
    build_drift_stats(t, "n_chars", "source", EDGES)
    stream = stream_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ckpt = tempfile.mkdtemp(prefix=f"sdrift_ckpt_{_uuid.uuid4().hex[:8]}_")
    stream_maintain_drift(
        stream, t, "n_chars", "source", EDGES,
        checkpoint_dir=ckpt, timeout_s=240,
    )
    return psi_from_stats(t, "n_chars", "source", EDGES)


@query(
    "source_lang_drift_chi2",
    """
    WITH gv AS (
      SELECT source AS g, lang AS v, count(*) AS n
      FROM documents GROUP BY 1, 2
    ),
    vt AS (SELECT v, sum(n) AS t FROM gv GROUP BY v),
    g AS (SELECT DISTINCT g FROM gv WHERE g IS NOT NULL),
    cells AS (
      SELECT g.g, vt.v, vt.t,
             CAST(coalesce(gv.n, 0) AS DOUBLE) AS ca,
             CAST(vt.t - coalesce(gv.n, 0) AS DOUBLE) AS cb
      FROM vt CROSS JOIN g
      LEFT JOIN gv ON gv.g = g.g AND gv.v = vt.v
    ),
    w AS (
      SELECT g, t, ca, cb,
             sum(ca) OVER (PARTITION BY g) AS na,
             sum(cb) OVER (PARTITION BY g) AS nb
      FROM cells
    )
    SELECT g AS source,
           CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           CAST(count(*) - 1 AS BIGINT) AS dof,
           round(sum(  pow(ca - na * t / (na + nb), 2) / (na * t / (na + nb))
                     + pow(cb - nb * t / (na + nb), 2) / (nb * t / (na + nb))),
                 4) AS chi2
    FROM w GROUP BY g
    """,
    "drift", "monitoring", "chi2", "categorical",
)
def source_lang_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (operators/drift.py:chi2_drift_by_group):
    per-source chi-square homogeneity of the LANGUAGE mix vs the rest
    of the corpus — the drift check for discrete columns where KS
    (needs an order) and PSI (needs numeric bins) do not apply. Same
    one-corpus-pass shared stage as the other drift statistics; exact
    integer counts + double expectation arithmetic, replayed by the
    oracle to the digit."""
    from parquet_rewriter_spark.operators.drift import chi2_drift_by_group

    d = _t(spark, sf_dir, "documents")
    return chi2_drift_by_group(d, "lang", "source")


@query(
    "snapshot_drift_psi",
    """
    WITH ob AS (
      SELECT CASE WHEN n_chars IS NULL THEN -1 ELSE
             (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 250 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 350 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) END AS bin
      FROM documents WHERE doc_id % 3 <> 0
    ),
    nb2 AS (
      SELECT CASE WHEN n_chars IS NULL THEN -1 ELSE
             (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 250 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 350 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) END AS bin
      FROM documents
    ),
    bins AS (SELECT unnest(generate_series(-1, 4)) AS bin),
    oc AS (SELECT bin, count(*) AS n FROM ob GROUP BY bin),
    nc AS (SELECT bin, count(*) AS n FROM nb2 GROUP BY bin),
    cells AS (
      SELECT b.bin,
             CAST(coalesce(oc.n, 0) AS DOUBLE) AS co,
             CAST(coalesce(nc.n, 0) AS DOUBLE) AS cn
      FROM bins b
      LEFT JOIN oc ON oc.bin = b.bin
      LEFT JOIN nc ON nc.bin = b.bin
    ),
    tots AS (
      SELECT co, cn, sum(co) OVER () AS so, sum(cn) OVER () AS sn
      FROM cells
    )
    SELECT CAST(max(so) AS BIGINT) AS n_old,
           CAST(max(sn) AS BIGINT) AS n_new,
           round(sum((greatest(cn / sn, 1e-6) - greatest(co / so, 1e-6))
                     * ln(greatest(cn / sn, 1e-6)
                          / greatest(co / so, 1e-6))), 6) AS psi
    FROM tots
    """,
    "drift", "monitoring", "psi", "time-travel", "sidecar",
)
def snapshot_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIFT OVER TIME from the sidecar + time travel
    (operators/driftstats.py:psi_between_versions): PSI of the whole
    corpus's length distribution between the pre-ingest snapshot and
    the current one — "did this batch shift the table?" — answered by
    summing each snapshot's per-file count matrices; no data file is
    read (retired files' matrices persist until vacuum, so historical
    snapshots stay summable). The oracle recomputes both histograms
    from the raw rows each snapshot logically contained."""
    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        psi_between_versions,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    t = SortedTable.create(
        spark, _scratch("snapdrift"), d.filter(F.col("doc_id") % 3 != 0),
        key="doc_id", max_records_per_file=_scaled_mrpf(d, 9),
    )
    v0 = t.manifest().version
    build_drift_stats(t, "n_chars", "source", EDGES)
    muts = d.filter(F.col("doc_id") % 3 == 0).withColumn(
        "op", F.lit("UPSERT")
    )
    merge_into_table(t, muts, allow_splice=False)
    build_drift_stats(t, "n_chars", "source", EDGES)
    return psi_between_versions(t, "n_chars", "source", EDGES, v_old=v0)


@query(
    "source_length_drift_w1",
    """
    WITH g AS (SELECT DISTINCT source AS gs FROM documents
               WHERE source IS NOT NULL),
    tagged AS (
      SELECT g.gs, d.n_chars AS v,
             CASE WHEN d.source = g.gs THEN 1 ELSE 0 END AS in_src
      FROM documents d CROSS JOIN g
    ),
    counts AS (
      SELECT gs, v, CAST(sum(in_src) AS DOUBLE) AS ca,
             CAST(sum(1 - in_src) AS DOUBLE) AS cb
      FROM tagged GROUP BY gs, v
    ),
    cdfs AS (
      SELECT gs, v,
             sum(ca) OVER (PARTITION BY gs ORDER BY v
                           ROWS UNBOUNDED PRECEDING)
               / sum(ca) OVER (PARTITION BY gs) AS fa,
             sum(cb) OVER (PARTITION BY gs ORDER BY v
                           ROWS UNBOUNDED PRECEDING)
               / sum(cb) OVER (PARTITION BY gs) AS fb,
             sum(ca) OVER (PARTITION BY gs) AS na,
             sum(cb) OVER (PARTITION BY gs) AS nb
      FROM counts
    ),
    gaps AS (
      SELECT gs, na, nb,
             abs(fa - fb)
               * CAST(lead(v) OVER (PARTITION BY gs ORDER BY v) - v
                      AS DOUBLE) AS area
      FROM cdfs
    )
    SELECT gs AS source, CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(sum(area), 6) AS w1
    FROM gaps GROUP BY gs
    """,
    "drift", "monitoring", "wasserstein",
)
def source_length_drift_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 drift (operators/drift.py:w1_drift_by_group):
    per-source earth-mover distance of the length distribution vs the
    rest — the magnitude-sensitive companion to the KS sup-gap (KS
    says IF mass moved, W1 says HOW FAR). Shares the drift family's
    one-corpus-pass stage and the KS CDFs; one extra lead() on the
    same group partitioning."""
    from parquet_rewriter_spark.operators.drift import w1_drift_by_group

    d = _t(spark, sf_dir, "documents")
    return w1_drift_by_group(d, "n_chars", "source")


@query(
    "incremental_drift_ks",
    """
    WITH b AS (
      SELECT source AS g,
             (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 250 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 350 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) AS bin
      FROM documents WHERE n_chars IS NOT NULL
    ),
    bins AS (SELECT unnest(generate_series(0, 4)) AS bin),
    g AS (SELECT DISTINCT g FROM b WHERE g IS NOT NULL),
    cnt AS (SELECT g, bin, count(*) AS n FROM b GROUP BY 1, 2),
    tot AS (SELECT bin, sum(n) AS t FROM cnt GROUP BY bin),
    grid AS (SELECT g.g, bins.bin FROM g CROSS JOIN bins),
    cells AS (
      SELECT grid.g, grid.bin,
             CAST(coalesce(cnt.n, 0) AS DOUBLE) AS ca,
             CAST(coalesce(tot.t, 0) - coalesce(cnt.n, 0) AS DOUBLE) AS cb
      FROM grid
      LEFT JOIN cnt ON cnt.g = grid.g AND cnt.bin = grid.bin
      LEFT JOIN tot ON tot.bin = grid.bin
    ),
    cdfs AS (
      SELECT g,
             sum(ca) OVER (PARTITION BY g ORDER BY bin
                           ROWS UNBOUNDED PRECEDING)
               / sum(ca) OVER (PARTITION BY g) AS fa,
             sum(cb) OVER (PARTITION BY g ORDER BY bin
                           ROWS UNBOUNDED PRECEDING)
               / sum(cb) OVER (PARTITION BY g) AS fb,
             sum(ca) OVER (PARTITION BY g) AS na,
             sum(cb) OVER (PARTITION BY g) AS nb
      FROM cells
    )
    SELECT g AS source, CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(max(abs(fa - fb)), 6) AS ks_stat
    FROM cdfs GROUP BY g
    """,
    "drift", "monitoring", "ks", "incremental", "sidecar",
)
def incremental_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned KS served from the SAME incrementally-maintained sidecar
    PSI uses (operators/driftstats.py:ks_from_stats): per-(source, bin)
    count matrices are additive, and the binned empirical CDFs — hence
    the sup-gap at the declared edges — are driver arithmetic over
    ≤ |G|·(B+2) integers, giving CDF-shaped drift the same churn-cost
    path PSI has (the scan path stays the exact statistic). Lifecycle:
    seed missing a doc_id gap → build → one merge inserts the gap and
    rewrites a head range → refresh touches only churned files →
    binned KS from the sidecar. The oracle recomputes the binned
    statistic from the raw rows, so a hash match proves both the
    incremental histogram and the KS arithmetic."""
    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        ks_from_stats,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    n = int(d.agg(F.max("doc_id")).first()[0]) + 1
    gap_lo, gap_hi = n // 4, n // 4 + max(1, n // 8)
    seed = d.filter(
        ~((F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi))
    )
    t = SortedTable.create(
        spark, _scratch("driftks"), seed, key="doc_id",
        max_records_per_file=_scaled_mrpf(seed, 9),
    )
    build_drift_stats(t, "n_chars", "source", EDGES)
    muts = d.filter(
        (F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi)
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)
    built = build_drift_stats(t, "n_chars", "source", EDGES)
    assert 0 < built < len(t.manifest().files)  # refresh ∝ churn
    return ks_from_stats(t, "n_chars", "source", EDGES)


@query(
    "incremental_drift_w1",
    """
    WITH b AS (
      SELECT source AS g,
             (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 250 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 350 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) AS bin
      FROM documents WHERE n_chars IS NOT NULL
    ),
    bins AS (SELECT unnest(generate_series(0, 4)) AS bin),
    g AS (SELECT DISTINCT g FROM b WHERE g IS NOT NULL),
    cnt AS (SELECT g, bin, count(*) AS n FROM b GROUP BY 1, 2),
    tot AS (SELECT bin, sum(n) AS t FROM cnt GROUP BY bin),
    grid AS (SELECT g.g, bins.bin FROM g CROSS JOIN bins),
    cells AS (
      SELECT grid.g, grid.bin,
             CAST(coalesce(cnt.n, 0) AS DOUBLE) AS ca,
             CAST(coalesce(tot.t, 0) - coalesce(cnt.n, 0) AS DOUBLE) AS cb
      FROM grid
      LEFT JOIN cnt ON cnt.g = grid.g AND cnt.bin = grid.bin
      LEFT JOIN tot ON tot.bin = grid.bin
    ),
    cdfs AS (
      SELECT g, bin,
             sum(ca) OVER (PARTITION BY g ORDER BY bin
                           ROWS UNBOUNDED PRECEDING)
               / sum(ca) OVER (PARTITION BY g) AS fa,
             sum(cb) OVER (PARTITION BY g ORDER BY bin
                           ROWS UNBOUNDED PRECEDING)
               / sum(cb) OVER (PARTITION BY g) AS fb,
             sum(ca) OVER (PARTITION BY g) AS na,
             sum(cb) OVER (PARTITION BY g) AS nb
      FROM cells
    )
    SELECT g AS source, CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(sum(CASE WHEN bin <= 2 THEN abs(fa - fb) * 100.0
                          ELSE 0.0 END), 6) AS w1
    FROM cdfs GROUP BY g
    """,
    "drift", "monitoring", "wasserstein", "incremental", "sidecar",
)
def incremental_drift_w1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned Wasserstein-1 from the drift sidecar
    (operators/driftstats.py:w1_from_stats): the CDFs are only known at
    the declared edges, so W1 is the Riemann sum over the interior edge
    gaps — |F_grp − F_rest| at each edge times the gap to the next
    (here uniform 100-char gaps), the truncated-support approximation
    of the exact scan statistic. Same incremental lifecycle as the PSI
    and KS monitors: seed missing a gap → build → merge → churn-only
    refresh → statistic from ≤ |G|·(B+2) integers. The oracle replays
    the binned area from the raw rows."""
    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        w1_from_stats,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    n = int(d.agg(F.max("doc_id")).first()[0]) + 1
    gap_lo, gap_hi = n // 5, n // 5 + max(1, n // 8)
    seed = d.filter(
        ~((F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi))
    )
    t = SortedTable.create(
        spark, _scratch("driftw1"), seed, key="doc_id",
        max_records_per_file=_scaled_mrpf(seed, 9),
    )
    build_drift_stats(t, "n_chars", "source", EDGES)
    muts = d.filter(
        (F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi)
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)
    built = build_drift_stats(t, "n_chars", "source", EDGES)
    assert 0 < built < len(t.manifest().files)  # refresh ∝ churn
    return w1_from_stats(t, "n_chars", "source", EDGES)


@query(
    "incremental_drift_chi2",
    """
    WITH b AS (
      SELECT source AS g,
             CASE WHEN n_chars IS NULL THEN -1 ELSE
             (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 250 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 350 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) END AS bin
      FROM documents
    ),
    g AS (SELECT DISTINCT g FROM b WHERE g IS NOT NULL),
    cnt AS (SELECT g, bin, count(*) AS n FROM b GROUP BY 1, 2),
    tot AS (SELECT bin, sum(n) AS t FROM cnt GROUP BY bin),
    cells AS (
      SELECT g.g, tot.bin, CAST(tot.t AS DOUBLE) AS t,
             CAST(coalesce(cnt.n, 0) AS DOUBLE) AS ca,
             CAST(tot.t - coalesce(cnt.n, 0) AS DOUBLE) AS cb
      FROM tot CROSS JOIN g
      LEFT JOIN cnt ON cnt.g = g.g AND cnt.bin = tot.bin
    ),
    w AS (
      SELECT g, t, ca, cb,
             sum(ca) OVER (PARTITION BY g) AS na,
             sum(cb) OVER (PARTITION BY g) AS nb
      FROM cells
    )
    SELECT g AS source,
           CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           CAST(count(*) - 1 AS BIGINT) AS dof,
           round(sum(  pow(ca - na * t / (na + nb), 2) / (na * t / (na + nb))
                     + pow(cb - nb * t / (na + nb), 2) / (nb * t / (na + nb))),
                 4) AS chi2
    FROM w GROUP BY g
    """,
    "drift", "monitoring", "chi2", "incremental", "sidecar",
)
def incremental_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity over the DECLARED BINS from the drift
    sidecar (operators/driftstats.py:chi2_from_stats) — unlike binned
    KS/W1 this is not an approximation but the exact chi-square of the
    binned contingency table (binning IS the categorization; the NULL
    bin is its own category when present, corpus-empty bins drop —
    zero expectation has no term). Completes the from-stats family:
    PSI, KS, W1, and chi-square all answerable from the same additive
    count matrices at churn cost. Oracle recomputes the binned table
    from raw rows."""
    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        chi2_from_stats,
    )
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    t = SortedTable.create(
        spark, _scratch("driftchi2"), d, key="doc_id",
        max_records_per_file=_scaled_mrpf(d, 9),
    )
    built = build_drift_stats(t, "n_chars", "source", EDGES)
    assert built == len(t.manifest().files)
    return chi2_from_stats(t, "n_chars", "source", EDGES)


@query(
    "source_length_drift_psi_deciles",
    """
    WITH vc AS (
      SELECT n_chars AS v, count(*) AS n FROM documents
      WHERE n_chars IS NOT NULL GROUP BY v
    ),
    cum AS (
      SELECT v, sum(n) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c,
             sum(n) OVER () AS N
      FROM vc
    ),
    edges AS (
      SELECT DISTINCT e FROM (
        SELECT j, min(v) AS e
        FROM cum, unnest(generate_series(1, 9)) t(j)
        WHERE CAST(c AS DOUBLE) >= j * CAST(N AS DOUBLE) / 10.0
        GROUP BY j)
    ),
    b AS (
      SELECT d.source AS g,
             CASE WHEN d.n_chars IS NULL THEN -1
                  ELSE (SELECT count(*) FROM edges e
                        WHERE d.n_chars > e.e) END AS bin
      FROM documents d
    ),
    bins AS (
      SELECT unnest(generate_series(-1, (SELECT count(*) FROM edges)))
        AS bin
    ),
    g AS (SELECT DISTINCT g FROM b WHERE g IS NOT NULL),
    cnt AS (SELECT g, bin, count(*) AS n FROM b GROUP BY 1, 2),
    tot AS (SELECT bin, sum(n) AS t FROM cnt GROUP BY bin),
    grid AS (SELECT g.g, bins.bin FROM g CROSS JOIN bins),
    cells AS (
      SELECT grid.g, grid.bin,
             CAST(coalesce(cnt.n, 0) AS DOUBLE) AS ca,
             CAST(coalesce(tot.t, 0) - coalesce(cnt.n, 0) AS DOUBLE) AS cb
      FROM grid
      LEFT JOIN cnt ON cnt.g = grid.g AND cnt.bin = grid.bin
      LEFT JOIN tot ON tot.bin = grid.bin
    ),
    probs AS (
      SELECT g,
             greatest(ca / sum(ca) OVER (PARTITION BY g), 1e-6) AS pa,
             greatest(cb / sum(cb) OVER (PARTITION BY g), 1e-6) AS pb,
             sum(ca) OVER (PARTITION BY g) AS na,
             sum(cb) OVER (PARTITION BY g) AS nb
      FROM cells
    )
    SELECT g AS source, CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(sum((pa - pb) * ln(pa / pb)), 6) AS psi
    FROM probs GROUP BY g
    """,
    "drift", "monitoring", "psi", "quantile", "incremental", "sidecar",
)
def source_length_drift_psi_deciles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PSI under EQUAL-FREQUENCY (decile) bins — the production
    convention (operators/drift.py:quantile_edges): edges are exact
    order statistics of the baseline population, derived in one
    corpus pass from the distinct-value relation (guarded, no global
    sort), frozen into a REGISTERED monitor, and served from the
    auto-maintained sidecar after a churn merge. Every stage is
    counting + one float comparison, so the oracle re-derives the
    edges AND the PSI from raw rows — a hash match certifies the
    quantile derivation, the registration, the merge hook, and the
    from-stats arithmetic together."""
    from parquet_rewriter_spark.operators.drift import quantile_edges
    from parquet_rewriter_spark.operators.driftstats import (
        enable_drift_monitor,
        psi_from_stats,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    edges = quantile_edges(d, "n_chars", 10)
    t = SortedTable.create(
        spark, _scratch("decdrift"), d.filter(F.col("doc_id") % 5 != 0),
        key="doc_id", max_records_per_file=_scaled_mrpf(d, 9),
    )
    enable_drift_monitor(t, "n_chars", "source", edges)
    muts = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "op", F.lit("UPSERT")
    )
    merge_into_table(t, muts, allow_splice=False)
    return psi_from_stats(t, "n_chars", "source", edges)


@query(
    "incremental_lang_drift_chi2",
    """
    WITH b AS (
      SELECT source AS g,
             CASE WHEN lang IS NULL THEN -1 ELSE
             (CASE WHEN lang > 'de' THEN 1 ELSE 0 END
              + CASE WHEN lang > 'en' THEN 1 ELSE 0 END
              + CASE WHEN lang > 'es' THEN 1 ELSE 0 END
              + CASE WHEN lang > 'fr' THEN 1 ELSE 0 END
              + CASE WHEN lang > 'zh' THEN 1 ELSE 0 END) END AS bin
      FROM documents
    ),
    g AS (SELECT DISTINCT g FROM b WHERE g IS NOT NULL),
    cnt AS (SELECT g, bin, count(*) AS n FROM b GROUP BY 1, 2),
    tot AS (SELECT bin, sum(n) AS t FROM cnt GROUP BY bin),
    cells AS (
      SELECT g.g, tot.bin, CAST(tot.t AS DOUBLE) AS t,
             CAST(coalesce(cnt.n, 0) AS DOUBLE) AS ca,
             CAST(tot.t - coalesce(cnt.n, 0) AS DOUBLE) AS cb
      FROM tot CROSS JOIN g
      LEFT JOIN cnt ON cnt.g = g.g AND cnt.bin = tot.bin
    ),
    w AS (
      SELECT g, t, ca, cb,
             sum(ca) OVER (PARTITION BY g) AS na,
             sum(cb) OVER (PARTITION BY g) AS nb
      FROM cells
    )
    SELECT g AS source,
           CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           CAST(count(*) - 1 AS BIGINT) AS dof,
           round(sum(  pow(ca - na * t / (na + nb), 2) / (na * t / (na + nb))
                     + pow(cb - nb * t / (na + nb), 2) / (nb * t / (na + nb))),
                 4) AS chi2
    FROM w GROUP BY g
    """,
    "drift", "monitoring", "chi2", "categorical", "incremental", "sidecar",
)
def incremental_lang_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL drift at churn cost: the count-matrix sidecar
    monitors a STRING column exactly by declaring the sorted category
    alphabet as its edges — ``bin(v) = #{edges < v}`` maps category i
    to bin i bijectively, so chi2_from_stats over the matrices IS the
    per-category homogeneity test (the incremental twin of the scan
    path source_lang_drift_chi2; a post-registration NEW category folds
    into its lexicographic neighbor's bin — coarser, still
    drift-visible). Auto-maintained end to end: the monitor is
    REGISTERED, the merge hook refreshes the churned files, the query
    asserts completeness before reading. Oracle recomputes the binned
    contingency table from raw rows."""
    from parquet_rewriter_spark.operators.driftstats import (
        _have_files,
        _spec_id,
        chi2_from_stats,
        enable_drift_monitor,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    LANGS = ["de", "en", "es", "fr", "zh"]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    t = SortedTable.create(
        spark, _scratch("langdrift"), d.filter(F.col("doc_id") % 4 != 0),
        key="doc_id", max_records_per_file=_scaled_mrpf(d, 9),
    )
    enable_drift_monitor(t, "lang", "source", LANGS)
    muts = d.filter(F.col("doc_id") % 4 == 0).withColumn(
        "op", F.lit("UPSERT")
    )
    merge_into_table(t, muts, allow_splice=False)
    have = _have_files(t, _spec_id("lang", "source", LANGS))
    assert {e.name for e in t.manifest().files} <= have  # hook-complete
    return chi2_from_stats(t, "lang", "source", LANGS)


_TL_BIN = """CASE WHEN n_chars IS NULL THEN -1 ELSE
             (CASE WHEN n_chars > 150 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 250 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 350 THEN 1 ELSE 0 END
              + CASE WHEN n_chars > 450 THEN 1 ELSE 0 END) END"""


@query(
    "drift_timeline_psi",
    f"""
    WITH snaps AS (
      SELECT 0 AS step, {_TL_BIN} AS bin
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT 1, {_TL_BIN} FROM documents WHERE doc_id % 3 IN (0, 1)
      UNION ALL
      SELECT 2, {_TL_BIN} FROM documents
    ),
    bins AS (SELECT unnest(generate_series(-1, 4)) AS bin),
    steps AS (SELECT unnest(generate_series(0, 2)) AS step),
    cnt AS (SELECT step, bin, count(*) AS n FROM snaps GROUP BY 1, 2),
    grid AS (SELECT s.step, b.bin FROM steps s CROSS JOIN bins b),
    cells AS (
      SELECT grid.step, grid.bin, CAST(coalesce(cnt.n, 0) AS DOUBLE) AS c
      FROM grid LEFT JOIN cnt ON cnt.step = grid.step AND cnt.bin = grid.bin
    ),
    tots AS (
      SELECT step, bin, c, sum(c) OVER (PARTITION BY step) AS nt
      FROM cells
    ),
    base AS (SELECT bin, c AS cb, nt AS nb FROM tots WHERE step = 0)
    SELECT CAST(t.step AS BIGINT) AS step,
           CAST(max(t.nt) AS BIGINT) AS n_rows,
           round(sum((greatest(t.c / t.nt, 1e-6) - greatest(b.cb / b.nb, 1e-6))
                     * ln(greatest(t.c / t.nt, 1e-6)
                          / greatest(b.cb / b.nb, 1e-6))), 6) AS psi
    FROM tots t JOIN base b ON b.bin = t.bin
    GROUP BY t.step
    """,
    "drift", "monitoring", "psi", "time-travel", "timeline", "sidecar",
)
def drift_timeline_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHEN did the corpus shift (operators/driftstats.py:psi_timeline):
    whole-table PSI of every retained snapshot vs the first one, in ONE
    call — one sidecar scan joined to a broadcast (version, file)
    membership relation built from the manifests; no data file is read
    once matrices exist, and retired files' matrices keep historical
    snapshots summable until vacuum. Lifecycle: three commits growing
    the corpus by thirds; versions map to deterministic steps 0..2 for
    the oracle, which recomputes each snapshot's fixed-bin PSI vs the
    baseline from the raw rows each snapshot logically contained
    (step 0 is the baseline vs itself — exactly 0)."""
    from pyspark.sql.window import Window as _W

    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        psi_timeline,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    t = SortedTable.create(
        spark, _scratch("drifttl"), d.filter(F.col("doc_id") % 3 == 0),
        key="doc_id", max_records_per_file=_scaled_mrpf(d, 9),
    )
    build_drift_stats(t, "n_chars", "source", EDGES)
    for wave in (1, 2):
        muts = d.filter(F.col("doc_id") % 3 == wave).withColumn(
            "op", F.lit("UPSERT")
        )
        merge_into_table(t, muts, allow_splice=False)
        build_drift_stats(t, "n_chars", "source", EDGES)
    tl = psi_timeline(t, "n_chars", "source", EDGES)
    return tl.select(
        (F.row_number().over(_W.orderBy("version")) - 1)
        .cast("long").alias("step"),
        F.col("n_rows"),
        F.col("psi"),
    )


@query(
    "drift_timeline_by_source",
    f"""
    WITH snaps AS (
      SELECT 0 AS step, source AS g, {_TL_BIN} AS bin
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT 1, source, {_TL_BIN} FROM documents WHERE doc_id % 3 IN (0, 1)
      UNION ALL
      SELECT 2, source, {_TL_BIN} FROM documents
    ),
    bins AS (SELECT unnest(generate_series(-1, 4)) AS bin),
    steps AS (SELECT unnest(generate_series(0, 2)) AS step),
    g AS (SELECT DISTINCT source AS g FROM documents
          WHERE source IS NOT NULL),
    cnt AS (
      SELECT step, g, bin, count(*) AS n FROM snaps
      WHERE g IS NOT NULL GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT s.step, g.g, b.bin FROM steps s CROSS JOIN g CROSS JOIN bins b
    ),
    cells AS (
      SELECT grid.step, grid.g, grid.bin,
             CAST(coalesce(cnt.n, 0) AS DOUBLE) AS c
      FROM grid LEFT JOIN cnt ON cnt.step = grid.step AND cnt.g = grid.g
                             AND cnt.bin = grid.bin
    ),
    tots AS (
      SELECT step, g, bin, c,
             sum(c) OVER (PARTITION BY step, g) AS nt
      FROM cells
    ),
    base AS (SELECT g, bin, c AS cb, nt AS nb FROM tots WHERE step = 0)
    SELECT CAST(t.step AS BIGINT) AS step, t.g AS source,
           CAST(max(t.nt) AS BIGINT) AS n_rows,
           round(sum((greatest(t.c / t.nt, 1e-6) - greatest(b.cb / b.nb, 1e-6))
                     * ln(greatest(t.c / t.nt, 1e-6)
                          / greatest(b.cb / b.nb, 1e-6))), 6) AS psi
    FROM tots t JOIN base b ON b.g = t.g AND b.bin = t.bin
    GROUP BY t.step, t.g
    """,
    "drift", "monitoring", "psi", "time-travel", "timeline", "sidecar",
)
def drift_timeline_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH source shifted, and when
    (operators/driftstats.py:psi_timeline_by_group): per retained
    snapshot, each source's PSI against its OWN baseline distribution —
    the per-group drill-down of the whole-table timeline, from the same
    one-scan sidecar + broadcast membership join, ≤ |versions|·|G|·(B+2)
    driver integers. Three commits growing the corpus by thirds; the
    oracle recomputes every (step, source) cell from the raw rows each
    snapshot logically contained (step 0 = baseline vs itself, all
    zeros)."""
    from pyspark.sql.window import Window as _W

    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        psi_timeline_by_group,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    t = SortedTable.create(
        spark, _scratch("drifttlg"), d.filter(F.col("doc_id") % 3 == 0),
        key="doc_id", max_records_per_file=_scaled_mrpf(d, 9),
    )
    build_drift_stats(t, "n_chars", "source", EDGES)
    for wave in (1, 2):
        muts = d.filter(F.col("doc_id") % 3 == wave).withColumn(
            "op", F.lit("UPSERT")
        )
        merge_into_table(t, muts, allow_splice=False)
        build_drift_stats(t, "n_chars", "source", EDGES)
    tl = psi_timeline_by_group(t, "n_chars", "source", EDGES)
    steps = tl.select("version").distinct().select(
        "version",
        (F.row_number().over(_W.orderBy("version")) - 1)
        .cast("long").alias("step"),
    )
    return tl.join(F.broadcast(steps), "version").select(
        "step", "source", "n_rows", "psi"
    )


@query(
    "snapshot_drift_stats",
    f"""
    WITH ob AS (
      SELECT {_TL_BIN} AS bin FROM documents WHERE doc_id % 3 <> 0
    ),
    nb2 AS (
      SELECT {_TL_BIN} AS bin FROM documents
    ),
    bins AS (SELECT unnest(generate_series(-1, 4)) AS bin),
    oc AS (SELECT bin, count(*) AS n FROM ob GROUP BY bin),
    nc AS (SELECT bin, count(*) AS n FROM nb2 GROUP BY bin),
    cells AS (
      SELECT b.bin,
             CAST(coalesce(oc.n, 0) AS DOUBLE) AS co,
             CAST(coalesce(nc.n, 0) AS DOUBLE) AS cn
      FROM bins b
      LEFT JOIN oc ON oc.bin = b.bin
      LEFT JOIN nc ON nc.bin = b.bin
    ),
    tots AS (
      SELECT bin, co, cn, sum(co) OVER () AS so, sum(cn) OVER () AS sn
      FROM cells
    ),
    psis AS (
      SELECT CAST(max(so) AS BIGINT) AS n_old,
             CAST(max(sn) AS BIGINT) AS n_new,
             round(sum((greatest(cn / sn, 1e-6) - greatest(co / so, 1e-6))
                       * ln(greatest(cn / sn, 1e-6)
                            / greatest(co / so, 1e-6))), 6) AS psi
      FROM tots
    ),
    cdf AS (
      SELECT bin,
             sum(co) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
               / sum(co) OVER () AS fo,
             sum(cn) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
               / sum(cn) OVER () AS fn2
      FROM tots WHERE bin >= 0
    ),
    ksw AS (
      SELECT round(max(abs(fo - fn2)), 6) AS ks_stat,
             round(sum(CASE WHEN bin <= 2 THEN abs(fo - fn2) * 100.0
                            ELSE 0.0 END), 6) AS w1
      FROM cdf
    ),
    chis AS (
      SELECT round(sum(
               pow(co - so * (co + cn) / (so + sn), 2)
                 / (so * (co + cn) / (so + sn))
               + pow(cn - sn * (co + cn) / (so + sn), 2)
                 / (sn * (co + cn) / (so + sn))), 4) AS chi2,
             CAST(count(*) - 1 AS BIGINT) AS dof
      FROM tots WHERE co + cn > 0
    )
    SELECT n_old, n_new, psi, ks_stat, w1, chi2, dof
    FROM psis CROSS JOIN ksw CROSS JOIN chis
    """,
    "drift", "monitoring", "psi", "ks", "wasserstein", "chi2",
    "time-travel", "sidecar",
)
def snapshot_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every binned two-snapshot drift statistic in ONE call
    (operators/driftstats.py:drift_between_versions): PSI (all bins,
    NULL bin included), binned KS and binned W1 over the ordered bins,
    and the chi-square of the two-snapshot contingency table with its
    dof — "did this batch shift the corpus, and how", answered from
    each snapshot's sidecar matrices without reading a data file. Same
    lifecycle as snapshot_drift_psi (seed two thirds, merge the rest,
    compare v0 to current); the oracle recomputes all four statistics
    from the raw rows each snapshot logically contained."""
    from parquet_rewriter_spark.operators.driftstats import (
        build_drift_stats,
        drift_between_versions,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    EDGES = [150, 250, 350, 450]
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    t = SortedTable.create(
        spark, _scratch("snapdrift2"), d.filter(F.col("doc_id") % 3 != 0),
        key="doc_id", max_records_per_file=_scaled_mrpf(d, 9),
    )
    v0 = t.manifest().version
    build_drift_stats(t, "n_chars", "source", EDGES)
    muts = d.filter(F.col("doc_id") % 3 == 0).withColumn(
        "op", F.lit("UPSERT")
    )
    merge_into_table(t, muts, allow_splice=False)
    build_drift_stats(t, "n_chars", "source", EDGES)
    return drift_between_versions(t, "n_chars", "source", EDGES, v_old=v0)


@query(
    "source_score_drift_ks_binned",
    """
    WITH sc AS (
      SELECT source,
             CAST(n_chars AS DOUBLE) + (doc_id % 997) / 997.0 AS score
      FROM documents
    ),
    rng AS (SELECT min(score) AS lo, max(score) AS hi FROM sc),
    qv AS (
      SELECT source,
             least(31, floor((score - lo) / ((hi - lo) / 32.0))) AS v
      FROM sc, rng
    ),
    g AS (SELECT DISTINCT source AS gs FROM qv WHERE source IS NOT NULL),
    tagged AS (
      SELECT g.gs, q.v,
             CASE WHEN q.source = g.gs THEN 1 ELSE 0 END AS in_src
      FROM qv q CROSS JOIN g
    ),
    counts AS (
      SELECT gs, v, CAST(sum(in_src) AS DOUBLE) AS ca,
             CAST(sum(1 - in_src) AS DOUBLE) AS cb
      FROM tagged GROUP BY gs, v
    ),
    cdfs AS (
      SELECT gs,
             sum(ca) OVER (PARTITION BY gs ORDER BY v
                           ROWS UNBOUNDED PRECEDING)
               / sum(ca) OVER (PARTITION BY gs) AS fa,
             sum(cb) OVER (PARTITION BY gs ORDER BY v
                           ROWS UNBOUNDED PRECEDING)
               / sum(cb) OVER (PARTITION BY gs) AS fb,
             sum(ca) OVER (PARTITION BY gs) AS na,
             sum(cb) OVER (PARTITION BY gs) AS nb
      FROM counts
    )
    SELECT gs AS source, CAST(max(na) AS BIGINT) AS n_group,
           CAST(max(nb) AS BIGINT) AS n_rest,
           round(max(abs(fa - fb)), 6) AS ks_stat
    FROM cdfs GROUP BY gs
    """,
    "drift", "monitoring", "ks", "quantized",
)
def source_score_drift_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINNED KS on a NEAR-UNIQUE continuous column — the guarded
    scale path (operators/drift.py:_quantized + the max_distinct
    assert): a synthesized per-document quality score (n_chars plus a
    doc_id-derived fraction, near-unique by construction) would
    funnel |V| ≈ n rows through the drift family's one unpartitioned
    window, so the guard demands ``quantize=``; 32 equal-width bins
    bound the distinct-value relation and the statistic becomes the
    documented binned-KS approximation. The oracle replays the exact
    same binning arithmetic (same IEEE ops, same order), so the hash
    match proves the quantized path end to end — KS is invariant
    under the monotone bin→center map, so DuckDB can rank raw bin
    ids."""
    from parquet_rewriter_spark.operators.drift import ks_drift_by_group

    d = _t(spark, sf_dir, "documents").select(
        "source",
        (F.col("n_chars").cast("double")
         + (F.col("doc_id") % 997) / 997.0).alias("score"),
    )
    return ks_drift_by_group(
        d, "score", "source", quantize=32, max_distinct=10_000
    )


@query(
    "copurchase_triangle_count",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                   WHERE l_partkey % 4 = 0),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b USING (l_orderkey)
      WHERE a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0)
      GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN du.d * 16777216 + e0.u < dv.d * 16777216 + e0.v
                  THEN e0.u ELSE e0.v END AS s,
             CASE WHEN du.d * 16777216 + e0.u < dv.d * 16777216 + e0.v
                  THEN e0.v ELSE e0.u END AS t
      FROM e0 JOIN deg du ON du.node = e0.u JOIN deg dv ON dv.node = e0.v
    ),
    r AS (SELECT node, d * 16777216 + node AS rank FROM deg),
    wedges AS (
      SELECT e1.s AS u, e1.t AS v, e2.t AS w
      FROM o e1 JOIN o e2 ON e1.s = e2.s
      JOIN r rv ON rv.node = e1.t
      JOIN r rw ON rw.node = e2.t
      WHERE rv.rank < rw.rank
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM wedges JOIN o ON o.s = wedges.v AND o.t = wedges.w
    """,
    "graph", "triangles", "join",
)
@_clean_query
def copurchase_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-purchase graph via DEGREE-ORDERED
    edge orientation (Suri & Vassilvitskii, "Counting triangles and the
    curse of the last reducer", WWW 2011): every edge points from its
    lower-(degree, id) endpoint, wedges pair the out-edges of each
    apex, and a semi-check against the oriented edge set closes them.
    The orientation is the scale story — wedge volume is Σ out-deg²
    with out-degrees capped at O(√|E|), so a celebrity node never
    produces a quadratic reducer. Three hash joins, no cartesian; the
    oracle replays the identical orientation arithmetic. Runs on a
    deterministic quarter of the part catalog: the synthetic basket data is so
    co-occurrence-dense (~120 avg degree) that the full graph's wedge
    volume is benchmark-hostile without changing what the plan
    demonstrates."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 4 == 0)
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    e0 = persist(
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    rank = (F.col("d") * F.lit(16777216) + F.col("node")).alias("rank")
    r = deg.select("node", rank)
    o = persist(
        e0.join(r.withColumnRenamed("node", "u").withColumnRenamed("rank", "ru"), "u")
        .join(r.withColumnRenamed("node", "v").withColumnRenamed("rank", "rv"), "v")
        .select(
            F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    e1, e2 = o.alias("e1"), o.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.s") == F.col("e2.s"))
        .join(r.withColumnRenamed("node", "nv").withColumnRenamed("rank", "rkv"),
              F.col("e1.t") == F.col("nv"))
        .join(r.withColumnRenamed("node", "nw").withColumnRenamed("rank", "rkw"),
              F.col("e2.t") == F.col("nw"))
        .filter(F.col("rkv") < F.col("rkw"))
        .select(F.col("e1.t").alias("wv"), F.col("e2.t").alias("ww"))
    )
    closed = wedges.join(
        o, (o.s == F.col("wv")) & (o.t == F.col("ww")), "left_semi"
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "ivf_refined_cell_balance",
    None,
    "similarity", "ivf", "kmeans", "iterative",
)
def ivf_refined_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means refinement of the IVF index
    (operators/similarity.py:kmeans_refine_distributed): centroids
    initialized on a bounded driver sample, then two Lloyd iterations
    over the FULL embedding table — per iteration one Arrow-batched
    assignment pass plus one k·dim-row aggregate; only the centroid
    matrix ever reaches the driver. Output compares per-cell population
    under sample-trained vs refined centroids — the balance that bounds
    IVF probe cost at scale. Iterative + pandas-UDF, so no SQL oracle
    (rows-only check); the numpy-reference equivalence is pinned in
    tests/test_llm_ops.py."""
    from parquet_rewriter_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
        kmeans_refine_distributed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    c0 = kmeans_centroids(emb, "embedding", n_centroids=16)
    c1 = kmeans_refine_distributed(emb, "embedding", c0, iters=2)
    before = (
        ivf_assign(emb, "embedding", c0)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_sample_trained"))
    )
    after = (
        ivf_assign(emb, "embedding", c1)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_refined"))
    )
    return before.join(after, "centroid_id", "full").select(
        "centroid_id",
        F.coalesce("n_sample_trained", F.lit(0)).alias("n_sample_trained"),
        F.coalesce("n_refined", F.lit(0)).alias("n_refined"),
    )


@query(
    "contrastive_negative_pairs",
    """
    WITH n AS (SELECT count(*) AS n_items FROM documents),
    anch AS (SELECT doc_id, lang FROM documents WHERE doc_id % 97 = 0),
    cand AS (
      SELECT a.doc_id, a.lang, js.j AS salt,
             ((a.doc_id % 2147483648) * 2654435761 + js.j + 1)
               % 4294967296 % n.n_items AS neg_id
      FROM anch a
      CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j) js
      CROSS JOIN n
    ),
    surv AS (
      SELECT c.doc_id, c.salt, c.neg_id, d.lang AS neg_lang,
             row_number() OVER (PARTITION BY c.doc_id ORDER BY c.salt) AS rk
      FROM cand c JOIN documents d ON d.doc_id = c.neg_id
      WHERE c.neg_id <> c.doc_id AND d.lang <> c.lang
    )
    SELECT doc_id, CAST(rk AS BIGINT) AS neg_rank, neg_id, neg_lang
    FROM surv WHERE rk <= 3
    """,
    "sampling", "contrastive", "training",
)
def contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives (operators/sampling.py:
    negative_samples): 3 negatives per anchor doc, drawn by Knuth-hash
    over the contiguous doc_id space, rejecting same-language docs as
    positives. Pure-projection candidate generation + one equi join to
    fetch the negative's attributes + one rank window — reproducible on
    any cluster shape, and the oracle replays every draw. The sampled
    pair list is what a contrastive embedding trainer consumes."""
    from parquet_rewriter_spark.operators.sampling import negative_samples

    d = _t(spark, sf_dir, "documents")
    n_items = d.count()
    anchors = d.select("doc_id", "lang").filter(F.col("doc_id") % 97 == 0)
    items = d.select("doc_id", F.col("lang").alias("neg_lang"))
    out = negative_samples(
        anchors,
        items,
        "doc_id",
        n_items,
        k=3,
        reject=F.col("neg_lang") == F.col("lang"),
    )
    return out.select(
        "doc_id",
        F.col("neg_rank").cast("long").alias("neg_rank"),
        "neg_id",
        "neg_lang",
    )


@query(
    "stream_heavy_hitter_tokens",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, count(*) AS n_occurrences
    FROM toks WHERE token <> ''
    GROUP BY token ORDER BY n_occurrences DESC, token LIMIT 20
    """,
    "streaming", "sketch", "heavy-hitters", "stateful",
)
def stream_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters as a CUSTOM stateful operator
    (streaming/ops.py:stream_heavy_hitters): documents arrive as a file
    stream, tokens hash-shard into 8 groups, and each shard maintains a
    capacity-bounded Space-Saving summary in applyInPandasWithState
    state — bounded memory however many distinct tokens the stream
    carries, update-mode emissions per micro-batch. After the drain the
    newest per-shard summaries name the candidates; an exact batch
    rescore of only those candidates reproduces the true top-20 (same
    guarantee as the batch sketch twin, which shares this oracle)."""
    from parquet_rewriter_spark.streaming.ops import (
        final_heavy_hitter_summary,
        run_to_memory,
        stream_heavy_hitters,
        stream_table,
    )

    docs = stream_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token")).filter(
        F.col("token") != ""
    )
    emissions = run_to_memory(
        stream_heavy_hitters(toks, "token", n_shards=8, capacity=1024),
        output_mode="update",
    )
    summary = final_heavy_hitter_summary(emissions)
    lb = summary.select((F.col("count") - F.col("err")).alias("lb"))
    kth = lb.orderBy(F.col("lb").desc()).limit(20).agg(F.min("lb")).first()[0]
    cand = [r["item"] for r in summary.filter(F.col("count") >= kth).collect()]
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(cand))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(20)
    )


@query(
    "tdigest_price_quantiles",
    """
    SELECT o_orderstatus, q, TRUE AS within_band
    FROM (SELECT DISTINCT o_orderstatus FROM orders)
    CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS q)
    """,
    "sketch", "quantiles", "tdigest", "mergeable",
)
def tdigest_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest quantiles (operators/quantile_digest.py):
    per-status p50/p90/p99 of o_totalprice via one shuffle-per-group
    digest kernel. The digest is approximate, so the oracle pins the
    digest's CONTRACT rather than its raw values: for every (status,
    prob) the achieved rank of the estimate — the exact fraction of
    rows at or below it, computed relationally against the data — must
    sit within 2% of the requested prob (tests assert the tighter <1%
    band; quantile_digest rank-error guarantee). The oracle replays the
    booleans as TRUE, the established computed-boolean discipline."""
    from parquet_rewriter_spark.operators.quantile_digest import grouped_quantiles

    o = _t(spark, sf_dir, "orders")
    ests = grouped_quantiles(
        o, ["o_orderstatus"], "o_totalprice", [0.5, 0.9, 0.99], compression=200
    ).selectExpr(
        "o_orderstatus",
        "stack(3, 0.5D, q_0_5, 0.9D, q_0_9, 0.99D, q_0_99) AS (q, est)",
    )
    x = o.select(
        "o_orderstatus", F.col("o_totalprice").cast("double").alias("x")
    )
    return (
        x.join(F.broadcast(ests), "o_orderstatus")
        .groupBy("o_orderstatus", "q")
        .agg(
            (
                F.abs(
                    F.avg((F.col("x") <= F.col("est")).cast("double"))
                    - F.first("q")
                )
                <= F.lit(0.02)
            ).alias("within_band")
        )
    )


@query(
    "stream_enriched_nation_revenue",
    """
    SELECT n.n_name AS nation, count(*) AS n_purchases,
           round(sum(e.value), 2) AS revenue
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE e.event_type = 'purchase'
    GROUP BY n.n_name
    """,
    "streaming", "join", "broadcast", "enrichment",
)
def stream_enriched_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joins two STATIC
    dimension tables (customer → nation, both broadcast — no shuffle of
    the stream, no stream-state) before a windowless global aggregate.
    This is the canonical streaming-ETL shape: per-record enrichment
    costs one broadcast hash probe per dim, and the only stateful op is
    the final aggregate. Drained via AvailableNow; oracle is the batch
    join."""
    from parquet_rewriter_spark.streaming.ops import run_to_memory, stream_events

    ev = stream_events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    c = F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    n = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    enriched = ev.join(c, ev.user_id == c.c_custkey).join(
        n, F.col("c_nationkey") == n.n_nationkey
    )
    agg = enriched.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("revenue"),
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "scd2_customer_status_history",
    """
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER w AS prev_status
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    starts AS (
      SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from, o_orderkey
      FROM ordered
      WHERE prev_status IS NULL OR o_orderstatus <> prev_status
    )
    SELECT o_custkey AS custkey, o_orderstatus AS status, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           (lead(valid_from) OVER w2 IS NULL) AS is_current
    FROM starts
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY valid_from, o_orderkey)
    """,
    "scd2", "window", "cdc",
)
def scd2_customer_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: compress each customer's
    order-status run into a validity interval (valid_from, valid_to,
    is_current) — the history-table shape a warehouse derives from a
    change feed. Two window passes over ONE shuffle on custkey (both
    windows share the partitioning, so Catalyst reuses the exchange)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    starts = (
        o.select(
            "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey",
            F.lag("o_orderstatus").over(w).alias("prev_status"),
        )
        .filter(
            F.col("prev_status").isNull()
            | (F.col("o_orderstatus") != F.col("prev_status"))
        )
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return starts.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w2).alias("valid_to"),
        F.lead("o_orderdate").over(w2).isNull().alias("is_current"),
    )


@query("ann_pq_topk", None, "similarity", "ann", "pq", "compression")
def ann_pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py:ann_pq_topk):
    vectors compressed to 8 one-byte codes (32x vs the 64-dim float
    fixture; ratio grows with dim), scored by ADC table lookup, exact-reranked top-10
    from the top-100 PQ candidates.
    Rows-only (k-means hash family is not SQL-portable); recall vs the
    exact path is asserted in tests/test_llm_ops.py."""
    from parquet_rewriter_spark.operators.similarity import ann_pq_topk

    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return ann_pq_topk(e, "vec_id", "embedding", qv, k=10, m=8, n_codes=64, rerank=100)


@query(
    "incremental_bm25_search",
    bm25_sql(
        _BM25_TERMS, k=15,
        table="(SELECT * FROM documents WHERE (doc_id % 11) <> 3) corpus_final",
    ),
    "search", "bm25", "incremental", "index", "cdc",
)
@_clean_query
def incremental_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from a PERSISTENT, incrementally-maintained index
    (operators/search_index.py): docs live in a SortedTable (the
    mutation core), postings in a term-bucketed derived layout refreshed
    from the table's own CDC feed — refresh cost ∝ batch + touched
    buckets, never corpus. The sequence: build over a corpus that is
    missing some docs and has STALE text for others → one upsert batch
    fixes both → one delete batch retires docs → search. The oracle
    recomputes BM25 from scratch over the final corpus, so a hash match
    proves the incremental index converged to the from-scratch state."""
    from parquet_rewriter_spark.operators.search_index import SearchIndex

    d = _t(spark, sf_dir, "documents")
    stale = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.substring("text", 1, 40)).otherwise(
            F.col("text")
        ),
    ).filter(F.col("doc_id") % 7 != 0)
    idx = SearchIndex.build(spark, _scratch("bm25_index"), stale, n_buckets=16)
    batch = d.filter((F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 5 == 0))
    idx.add(batch)
    idx.remove(d.filter(F.col("doc_id") % 11 == 3).select("doc_id"))
    return idx.search(_BM25_TERMS, k=15)


# --------------------------------------------- TPC-H decorrelation shapes
#
# The oracles below are written in the classic TPC-H style — correlated
# scalar subqueries, EXISTS/NOT EXISTS with correlated inequality — the
# forms a reference user's SQL frontend produces. The Spark builders
# show the engine-side DECORRELATION each form needs to run distributed:
# a correlated scalar agg becomes a grouped pre-aggregate joined back
# (broadcast when small); a global scalar becomes a 1-row broadcast
# cross join; EXISTS/NOT EXISTS over the same fact becomes window
# functions over the correlation key (one shuffle, no self-join).
# Catalyst performs the same rewrites on spark.sql() input; doing them
# explicitly keeps the physical plan pinned and testable.


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2')
        AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    "tpch", "join", "broadcast",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between two nations by ship
    year. Both nation filters are applied BEFORE the fact joins (via the
    broadcast dims), so the lineitem⨝orders shuffle carries only the
    ~2/25ths of rows belonging to the two nations — filter-through-dim
    pushdown, the pattern that matters when lineitem is 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    # dim-side pruning first: suppliers/customers of the two nations are
    # small → broadcast them into the fact scans (semi-join pushdown)
    s2 = s.join(F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
                s.s_nationkey == F.col("n_nationkey")).select("s_suppkey", "supp_nation")
    c2 = c.join(F.broadcast(n.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
                c.c_nationkey == F.col("n_nationkey")).select("c_custkey", "cust_nation")
    return (
        li.join(F.broadcast(s2), li.l_suppkey == s2.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c2), o.o_custkey == c2.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
    "tpch", "join", "conditional-agg",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (adapted to the fixture's columns): NATION_3's share of
    AMERICA-region PROMO-part purchase volume per order year. The
    numerator/denominator pair decorrelates into ONE conditional
    aggregation (sum(when)/sum) — a single pass, no second join back."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust_in_region = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(n.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_nation), li.l_suppkey == F.col("s_suppkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust_in_region), o.o_custkey == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q11_important_parts",
    """
    SELECT l_partkey, round(sum(l_extendedprice * l_quantity), 2) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * l_quantity) >
           (SELECT sum(l_extendedprice * l_quantity) * 0.00084 FROM lineitem)
    """,
    "tpch", "scalar-subquery", "decorrelation",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (partsupp-free fixture → lineitem value): parts
    whose total traded value exceeds a fraction of the GLOBAL total.
    The correlated-free scalar subquery decorrelates to a 1-row
    aggregate cross-joined (broadcast) into the HAVING filter; the base
    grouped aggregate is computed ONCE and reused for both sides via a
    self-contained two-level agg — not two scans of lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("pv")
    )
    # the decorrelated scalar is ONE row — collect it and inline as a
    # literal (the legitimate driver-side scale class; a cached/
    # checkpointed reuse of per_part would leave executor storage
    # behind after the query). The returned plan stays one scan.
    tv = per_part.agg(F.sum("pv").alias("tv")).first()["tv"]
    if tv is None:  # empty aggregate (no lineitem rows at tiny SFs)
        return per_part.filter(F.lit(False)).select(
            "l_partkey", F.round("pv", 2).alias("part_value")
        )
    return (
        per_part.filter(F.col("pv") > F.lit(float(tv)) * 0.00084)
        .select("l_partkey", F.round("pv", 2).alias("part_value"))
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    "tpch", "scalar-subquery", "view-reuse",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue. The revenue
    view is computed once and cached for its two uses (max + filter);
    the scalar max broadcasts into the filter. Ship-date predicate is
    pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    # the scalar max is ONE row — collect and inline (max is order-free
    # exact, so the literal equals any recompute bit-for-bit); no cache
    # outlives the query
    mx = rev.agg(F.max("total_revenue").alias("mx")).first()["mx"]
    if mx is None:  # empty quarter at tiny SFs: no top supplier
        rev = rev.filter(F.lit(False))
        mx = 0.0
    return (
        rev.filter(F.col("total_revenue") == F.lit(float(mx)))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue"))
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#12'
      AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    "tpch", "correlated-subquery", "decorrelation",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from small-quantity orders of one brand. The
    correlated per-part avg decorrelates to a grouped pre-aggregate
    over ONLY the brand's parts (semi-join pruning before the avg — at
    100 TB the avg never touches the other brands' rows), broadcast
    back into the quantity filter."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12").select("p_partkey")
    brand_li = li.join(F.broadcast(p), li.l_partkey == F.col("p_partkey")).drop("p_partkey")
    avg_q = brand_li.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.avg("l_quantity") * 0.5).alias("qlim")
    )
    return (
        brand_li.join(F.broadcast(avg_q), F.col("l_partkey") == F.col("ap"))
        .filter(F.col("l_quantity") < F.col("qlim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "q21_last_shipper",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    "tpch", "exists", "not-exists", "window-decorrelation",
)
def q21_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (fixture has no receipt/commit dates → "last to
    ship" stands in for "late"): lineitems on multi-supplier 'F' orders
    where NO other supplier shipped later. Both correlated subqueries
    (EXISTS + NOT EXISTS with inequality) decorrelate into WINDOW
    functions over l_orderkey — one shuffle on the correlation key, no
    self-joins:
      EXISTS(other supplier)         → count(distinct supplier) ≥ 2, via
                                       dense_rank over two orderings
                                       (distinct-count has no window form)
      NOT EXISTS(other shipped later) → my shipdate ≥ max(OTHER suppliers'
                                       shipdate), computed as a two-level
                                       per-(order,supplier) max + top-2
                                       ranking per order."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    flines = li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi")
    # per-(order, supplier) max shipdate — collapses the fact before any
    # window work (map-side combine on the shuffle)
    per_supp = flines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max")
    )
    w = Window.partitionBy("l_orderkey").orderBy(F.col("supp_max").desc())
    ranked = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "supp_max",
        F.count(F.lit(1)).over(Window.partitionBy("l_orderkey")).alias("n_supps"),
        F.max("supp_max").over(Window.partitionBy("l_orderkey")).alias("max1"),
        F.row_number().over(w).alias("rk"),
    )
    # max shipdate among the OTHER suppliers = overall max, unless I am
    # its unique holder — then it is the 2nd-ranked supplier's max
    second = ranked.filter(F.col("rk") == 2).select(
        F.col("l_orderkey").alias("o2"), F.col("supp_max").alias("max2")
    )
    omax = (
        ranked.filter(F.col("n_supps") >= 2)  # EXISTS: another supplier
        .join(second, ranked.l_orderkey == F.col("o2"), "left")
        .select(
            F.col("l_orderkey").alias("wo"),
            F.col("l_suppkey").alias("ws"),
            F.when(F.col("supp_max") < F.col("max1"), F.col("max1"))
            .otherwise(F.col("max2"))
            .alias("other_max"),
        )
    )
    # NOT EXISTS is evaluated PER l1 ROW (its own shipdate, not the
    # supplier's max): join the per-(order,supplier) other_max back to
    # the fact rows and keep only rows shipped at-or-after every other
    # supplier's last shipment
    # shuffle join on the correlation key (omax is fact-proportional —
    # never broadcast); both sides hash-partition on l_orderkey
    qual = flines.join(
        omax,
        (flines.l_orderkey == F.col("wo")) & (flines.l_suppkey == F.col("ws")),
    ).filter(F.col("l_shipdate") >= F.col("other_max"))
    return (
        qual.join(F.broadcast(s), qual.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@query(
    "q9_profit_by_nation_year",
    """
    SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity), 2) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
    "tpch", "join", "star",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (fixture has no partsupp → supply cost proxied as
    0.6·p_retailprice): profit per supplier-nation per ship year. Plan:
    the selective p_name filter runs FIRST and the surviving part keys
    broadcast into the lineitem scan (with runtime bloom pruning the
    fact side at 100 TB); supplier and nation broadcast too, so the only
    shuffle is the final (nation, year) aggregate — partial map-side
    combine collapses the fact before it moves."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")),
                li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("l_shipdate").cast("long").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
    )


@query(
    "q10_returned_revenue",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(max(c_acctbal), 2) AS acctbal
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "tpch", "join", "topk",
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns in one
    quarter. The date filter prunes orders at the parquet scan; the
    returnflag filter prunes lineitem the same way; the filtered orders
    side is quarter-sized so it broadcasts into the fact join, and
    nation broadcasts into the group keys. One shuffle (the customer
    aggregate), then TakeOrderedAndProject for the top-20 — no global
    sort."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(o.select("o_orderkey", "o_custkey")),
                li.l_orderkey == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.round(F.max("c_acctbal"), 2).alias("acctbal"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q12_late_shipment_priority",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus
    """,
    "tpch", "join", "conditional-agg",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (fixture has no shipmode → l_linestatus stands
    in): late shipments (>90 days after order) split by order priority
    class. The late predicate correlates both sides, so it evaluates
    post-join; the join itself shuffles on orderkey with the priority
    column reduced to a boolean BEFORE the aggregate's map-side
    combine."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
                li.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "q13_customer_order_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON o_custkey = c_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
    "tpch", "outer-join", "histogram",
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (comment filter → priority filter): distribution of
    non-5-LOW order counts per customer INCLUDING zero-order customers
    — the left outer join is the point (count(o_orderkey) counts only
    matched rows). Two aggregates, each one shuffle; the second input
    is customer-sized, the histogram is tiny."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o.select("o_custkey", "o_orderkey"),
               c.c_custkey == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q14_promo_revenue_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
    "tpch", "join", "ratio",
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo parts' share of one month's revenue. The month
    filter reaches the lineitem scan (row-group pruning on the shipdate
    zone maps — the read-side analog of R5); part reduces to a
    (p_partkey, is_promo boolean) broadcast; numerator and denominator
    ride ONE aggregate."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("is_promo"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q16_supplier_part_variety",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    "tpch", "anti-join", "count-distinct",
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp → lineitem as the supplier-part
    relation): distinct suppliers per (brand, type, size), excluding
    suppliers in deficit. NOT IN decorrelates to a broadcast anti-join
    (the exclusion set is supplier-sized and non-null, so NOT IN ≡
    anti); part's triple filter broadcasts; count(distinct) shuffles
    once on the group keys with Spark's two-phase distinct expansion."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p.select("p_partkey", "p_brand", "p_type", "p_size")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q19_bracketed_disjunction_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch", "disjunction", "pushdown",
)
def q19_bracketed_disjunction_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: three disjunctive brand/size/quantity brackets. The
    part-only implication of the disjunction (brand ∈ {1,2,3}) is
    factored out MANUALLY and pushed to the part scan — Catalyst does
    not infer per-side implications of a cross-table OR — so part
    shrinks to three brands before broadcasting; the full bracket
    predicate evaluates post-join in codegen."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    )
    j = li.join(F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
                li.l_partkey == F.col("p_partkey"))
    bracket = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 10)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 20)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 30)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(bracket).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("revenue")
    )


@query(
    "q20_dominant_shippers",
    """
    WITH sp AS (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS sq
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'SMALL'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    tot AS (SELECT l_partkey, sum(sq) AS tq FROM sp GROUP BY l_partkey)
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM sp JOIN tot USING (l_partkey)
      WHERE sq > 0.5 * tq
    )
    """,
    "tpch", "nested-agg", "semi-join",
)
def q20_dominant_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty → shipped quantity): suppliers that
    shipped over half of some SMALL part's 1996 volume. The inner
    nested aggregate reuses ITS OWN partitioning: per-(supplier, part)
    sums, then per-part totals joined back on l_partkey — both sides of
    that join are already hashed on l_partkey, and the qualifying
    supplier set IN-reduces to a distinct broadcast semi-join against
    supplier. l_quantity values are small integers, so the 0.5·total
    comparison is exact in binary on both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    s = _t(spark, sf_dir, "supplier")
    sp = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("sq"))
        # consumed by the per-part total AND the back-join — identical
        # subtrees, so ReuseExchange shares the shuffle without a cache
        # (a persist here would outlive the query: executor-storage leak)
    )
    tot = sp.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    dominant = (
        sp.join(tot, "l_partkey")
        .filter(F.col("sq") > 0.5 * F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(dominant, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


# ------------------------------------------------- corpus pipeline ops v3


@query(
    "segment_dedup_docs",
    """
    WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    segs AS (
      SELECT doc_id, i AS pos,
             array_to_string(w[(i*10+1):((i+1)*10)], ' ') AS seg
      FROM docs, LATERAL (
        SELECT unnest(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS i
      )
    ),
    firsts AS (
      SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      FROM segs
    )
    SELECT doc_id AS id,
           count(*) AS n_segs,
           count(*) FILTER (rn = 1) AS n_kept,
           coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (rn = 1), '')
             AS dedup_text
    FROM firsts GROUP BY doc_id
    """,
    "llm-pipeline", "dedup", "segment",
)
def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated-segment removal (C4-style paragraph dedup,
    parameterized to 10-word windows for the single-line fixture): a
    segment survives only at its first (doc_id, pos) occurrence; docs
    are reconstructed from their surviving segments in order."""
    from parquet_rewriter_spark.operators.dedup import segment_dedup

    d = _t(spark, sf_dir, "documents")
    return segment_dedup(d, "doc_id", "text", words_per_segment=10)


@query(
    "distinct_sketch_users",
    """
    -- contract row: the sidecar-union estimate must land within 5% of
    -- the exact distinct (HLL lgK=12 ~ 1.6% standard error, so 5% is
    -- a >3-sigma bound), computed WITHOUT scanning a data file
    SELECT 'all' AS label,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_5pct
    FROM events
    """,
    "storage", "sketch", "zone-map", "approx-distinct",
)
def distinct_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count zone maps (operators/distinct_sketch.py): per-file
    HLL sketches in a sidecar, unioned for a scan-free COUNT DISTINCT.
    The query materializes events as a SortedTable, sketches each file
    once, and answers the corpus-wide distinct-user question from
    kilobytes of sidecar — the oracle recomputes the exact count and
    the 5% contract is folded into the compared output."""
    from parquet_rewriter_spark.operators.distinct_sketch import (
        approx_distinct_range,
        build_distinct_sketches,
    )
    from parquet_rewriter_spark.table import SortedTable

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    t = SortedTable.create(
        spark, _scratch("distinct_sketch_events"), ev, key="event_id",
        max_records_per_file=_scaled_mrpf(ev, 16),
    )
    build_distinct_sketches(t, ["user_id"])
    approx = approx_distinct_range(t, "user_id")
    exact = ev.select(F.count_distinct("user_id")).first()[0]
    return spark.createDataFrame(
        [("all", int(exact), abs(approx - exact) <= 0.05 * exact)],
        "label string, n_exact long, within_5pct boolean",
    )


@query(
    "stream_distinct_sketch_users",
    """
    -- the sidecar estimate after ALL micro-batches have merged must
    -- land within 5% of the exact distinct over the full stream
    SELECT 'streamed' AS label,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_5pct
    FROM events
    """,
    "streaming", "sketch", "approx-distinct", "storage",
)
def stream_distinct_sketch_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the distinct-count zone maps: events
    stream into a SortedTable via foreachBatch merges (a third seeds
    the table, pre-sketched), then ONE sidecar refresh sketches only
    the files the stream's merges rewrote — file immutability makes the
    refresh incremental for free, whether run per-epoch or after the
    drain. The final scan-free estimate must match the exact distinct
    over everything that flowed through, which is the oracle."""
    import uuid as _uuid

    from parquet_rewriter_spark.operators.distinct_sketch import (
        approx_distinct_range,
        build_distinct_sketches,
    )
    from parquet_rewriter_spark.streaming.ops import (
        stream_merge_into_table,
        stream_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    tbl = SortedTable.create(
        spark, _scratch("sds_base"), ev.filter(F.col("event_id") % 3 == 0),
        key="event_id", max_records_per_file=_scaled_mrpf(ev, 8),
    )
    build_distinct_sketches(tbl, ["user_id"])
    stream = stream_table(spark, sf_dir, "events").select("event_id", "user_id")
    ckpt = _scratch(f"sds_ckpt_{_uuid.uuid4().hex[:8]}")
    stream_merge_into_table(stream, tbl, ckpt, txn_app="sds")
    build_distinct_sketches(tbl, ["user_id"])
    approx = approx_distinct_range(tbl, "user_id")
    exact = ev.select(F.count_distinct("user_id")).first()[0]
    return spark.createDataFrame(
        [("streamed", int(exact), abs(approx - exact) <= 0.05 * exact)],
        "label string, n_exact long, within_5pct boolean",
    )


@query(
    "substring_dup_token_stats",
    """
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
      SELECT doc_id, source, i - 1 AS pos,
             array_to_string(t[i:i+9], ' ') AS gram
      FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 8)) AS i) r
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    hit AS (SELECT doc_id, pos AS s, pos + 10 AS e FROM g JOIN dup USING (gram)),
    cov AS (
      SELECT doc_id,
             GREATEST(e - GREATEST(s, COALESCE(MAX(e) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)), 0)
               AS covered
      FROM hit
    ),
    per_doc AS (SELECT doc_id, SUM(covered) AS dup_tokens FROM cov GROUP BY doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (COALESCE(dup_tokens, 0) > 0) AS BIGINT)
             AS docs_with_dups,
           CAST(SUM(len(t)) AS BIGINT) AS total_tokens,
           CAST(SUM(COALESCE(dup_tokens, 0)) AS BIGINT) AS dup_tokens,
           ROUND(SUM(COALESCE(dup_tokens, 0)) / SUM(len(t)), 6) AS dup_frac
    FROM tok LEFT JOIN per_doc USING (doc_id)
    GROUP BY source
    """,
    "llm-pipeline", "dedup", "substring", "lee-et-al",
)
def substring_dup_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring deduplication accounting (Lee et al. 2022): every
    10-token gram occurring >= 2 times corpus-wide marks its span;
    per-source stats over the UNIONED span coverage (the ordered
    interval sweep as one window pass — no per-doc loops). Gram
    counting is one gram-keyed groupBy with map-side partials, the hit
    join a gram-keyed equi-join; at corpus scale the gram hashes first
    (identical plan shape), here it joins by string so DuckDB replays
    the whole pipeline cell-for-cell."""
    from parquet_rewriter_spark.operators.dedup import substring_dup_stats

    d = _t(spark, sf_dir, "documents")
    return substring_dup_stats(
        d, "doc_id", "text", window=10, group_cols=["source"]
    )


@query(
    "doc_stable_ids",
    """
    SELECT doc_id, lang,
           row_number() OVER (ORDER BY lang, doc_id) - 1 AS stable_id
    FROM documents
    """,
    "llm-pipeline", "ids", "zipwithindex",
)
@_clean_query
def doc_stable_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense global ids equal to row_number()-1 over (lang, doc_id) —
    but produced WITHOUT the single-partition global sort: range
    partition + per-partition counts + offset-shifted local indices
    (operators/ids.py). The oracle IS the global row_number, so a hash
    match proves the distributed assignment is exact."""
    from parquet_rewriter_spark.operators.ids import assign_contiguous_ids

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return assign_contiguous_ids(d, ["lang", "doc_id"], id_col="stable_id")


@query(
    "semantic_dedup_survivors",
    """
    WITH RECURSIVE e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (  -- identical pair rule to the embedding_near_dup_pairs oracle
      SELECT * FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
      ) WHERE cos_sim >= 0.45
    ),
    edges AS (  -- undirected, small-id labels propagate upward
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach AS (  -- transitive closure: every id a node can reach
      SELECT s AS id, d AS r FROM edges
      UNION
      SELECT reach.id, edges.d FROM reach JOIN edges ON reach.r = edges.s
    ),
    comp AS (
      SELECT v.vec_id,
             least(v.vec_id, coalesce(min(reach.r), v.vec_id)) AS cluster_id
      FROM embeddings v LEFT JOIN reach ON v.vec_id = reach.id
      GROUP BY v.vec_id
    )
    SELECT cluster_id, count(*) AS n_members,
           min(vec_id) AS survivor_id
    FROM comp GROUP BY cluster_id
    HAVING count(*) > 1
    """,
    "llm-pipeline", "dedup", "semantic", "embedding",
)
@_clean_query
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: exact cosine pairs (blocked
    matmul — operators/blockmatrix, no row cross-join) → connected
    components (min-label propagation, operators/cluster.py) → one
    survivor per multi-member cluster. The DuckDB oracle recomputes
    components via a recursive transitive closure, so a hash match
    proves both the pair recall AND the component labeling."""
    from parquet_rewriter_spark.operators.cluster import near_dup_clusters
    from parquet_rewriter_spark.operators.dedup import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(e, "vec_id", "embedding", threshold=0.45)
    clusters = near_dup_clusters(e, pairs, id_col="vec_id")
    return (
        clusters.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("survivor_id"),
        )
        .filter(F.col("n_members") > 1)
    )


@query(
    "wap_publish_scan",
    """
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
    -- batch 1 (every 30th key, totalprice negated) FAILS the audit and
    -- must leave no trace; batch 2 (every 15th key, price+1000) passes
    merged AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 15 = 0 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM base
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM merged GROUP BY o_orderstatus
    """,
    "storage", "wap", "quality", "governance",
)
def wap_publish_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (operators/wap.py): a poisoned batch
    (negative prices) is staged on a zero-copy clone, fails its audit,
    and is discarded without the main table ever changing; a clean
    batch then publishes. The oracle is the final expected state — a
    hash match proves the rejected batch left NO trace AND the
    accepted one fully landed."""
    from parquet_rewriter_spark.operators.wap import write_audit_publish
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    t = SortedTable.create(
        spark, _scratch("wap_orders"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 16),
    )
    rules = {"price_nonneg": "o_totalprice >= 0"}
    bad = o.filter(F.col("o_orderkey") % 30 == 0).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    r1 = write_audit_publish(t, bad, rules, audit_changed_only=True)
    assert not r1["published"] and r1["failed_rules"] == ["price_nonneg"]
    good = o.filter(F.col("o_orderkey") % 15 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000
    )
    r2 = write_audit_publish(t, good, rules, audit_changed_only=True)
    assert r2["published"], r2
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "branch_publish_scan",
    """
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
    -- the branch bumps every 20th key's price and deletes every 40th;
    -- fast-forward publish makes exactly that state main's next version
    merged AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 500
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM base WHERE o_orderkey % 40 <> 0
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           bool_and(TRUE) AS main_isolated_preflight
    FROM merged GROUP BY o_orderstatus
    """,
    "storage", "branch", "refs", "governance",
)
def branch_publish_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writable branch refs (operators/branch.py): fork a zero-copy
    branch, run a real merge on it (price bumps + deletes), prove MAIN
    is byte-identical mid-flight (row count AND revenue fold into the
    hashed boolean), then fast-forward publish — main's next version IS
    the branch head, adopted by hard links. The oracle is the final
    expected state plus the isolation proof."""
    from parquet_rewriter_spark.operators.branch import (
        create_branch, delete_branch, fast_forward, get_branch,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    t = SortedTable.create(
        spark, _scratch("branch_orders"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 16),
    )
    pre = t.read().agg(
        F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
    ).first()
    create_branch(t, "exp")
    ups = (
        o.filter(F.col("o_orderkey") % 20 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 500)
        .withColumn("op", F.lit("UPSERT"))
    )
    dels = (
        o.filter(F.col("o_orderkey") % 40 == 0)
        .withColumn("op", F.lit("DELETE"))
    )
    merge_into_table(get_branch(t, "exp"), ups.unionByName(dels))
    mid = t.read().agg(
        F.count(F.lit(1)), F.round(F.sum("o_totalprice"), 2)
    ).first()
    isolated = bool(tuple(pre) == tuple(mid))
    fast_forward(t, "exp")
    delete_branch(t, "exp")
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.lit(isolated).alias("main_isolated_preflight"),
        )
    )


@query(
    "branch_rebase_publish_scan",
    """
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 4 = 0),
    -- branch sets price 111 on keys%4=0 < 40; main (after the fork)
    -- sets 222 on 20 <= keys < 60. Rebase replays the branch delta ON
    -- TOP of main, so the branch wins the 20..39 overlap
    merged AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey < 40 THEN 111.0
                  WHEN o_orderkey < 60 THEN 222.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM base
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           bool_and(TRUE) AS ff_refused_preflight
    FROM merged GROUP BY o_orderstatus
    """,
    "storage", "branch", "refs", "rebase", "cdc",
)
def branch_rebase_publish_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverged-lineage publish (operators/branch.py:rebase_branch):
    after the fork, BOTH lineages commit — fast_forward must refuse
    (the refusal folds into the hashed boolean), then rebase re-forks
    the branch from current main and replays its row-level CDC delta as
    one merge (branch wins overlapping keys — deterministic, the
    replayed mutation lands last), and the publish goes through. The
    oracle encodes the exact conflict-resolution semantics."""
    from parquet_rewriter_spark.operators.branch import (
        create_branch, delete_branch, fast_forward, get_branch, rebase_branch,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
    t = SortedTable.create(
        spark, _scratch("branch_rebase"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 16),
    )
    create_branch(t, "exp")
    merge_into_table(
        get_branch(t, "exp"),
        o.filter(F.col("o_orderkey") < 40)
        .withColumn("o_totalprice", F.lit(111.0))
        .withColumn("op", F.lit("UPSERT")),
    )
    merge_into_table(
        t,
        o.filter((F.col("o_orderkey") >= 20) & (F.col("o_orderkey") < 60))
        .withColumn("o_totalprice", F.lit(222.0))
        .withColumn("op", F.lit("UPSERT")),
    )
    refused = False
    try:
        fast_forward(t, "exp")
    except ValueError:
        refused = True
    rebase_branch(t, "exp")
    fast_forward(t, "exp")
    delete_branch(t, "exp")
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.lit(refused).alias("ff_refused_preflight"),
        )
    )


@query(
    "catalog_branch_publish_scan",
    """
    WITH o AS (SELECT * FROM orders WHERE o_orderkey % 5 = 0),
    c AS (SELECT * FROM customer WHERE c_custkey % 3 = 0),
    -- the catalog branch bumps every 25th order's price AND flags every
    -- 9th customer's balance; one catalog commit publishes both
    om AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 25 = 0 THEN o_totalprice + 100
                  ELSE o_totalprice END AS o_totalprice
      FROM o
    ),
    cm AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 9 = 0 THEN -1.0 ELSE c_acctbal END AS c_acctbal
      FROM c
    )
    SELECT cm.c_mktsegment, count(*) AS n_orders,
           round(sum(om.o_totalprice), 2) AS revenue,
           round(sum(cm.c_acctbal), 2) AS acct_sum,
           bool_and(TRUE) AS catalog_isolated_preflight
    FROM om JOIN cm ON om.o_custkey = cm.c_custkey
    GROUP BY cm.c_mktsegment
    """,
    "storage", "branch", "catalog", "txn", "governance",
)
def catalog_branch_publish_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table branch publish (operators/branch.py:
    create_catalog_branch + publish_catalog_branch over
    operators/txn_catalog.py): ONE logical branch forks BOTH tables at
    their catalog-pinned versions, each gets its own merge, catalog
    readers stay on the old mutually-consistent pin set mid-flight
    (both isolation probes fold into the hashed boolean), then the
    per-table fast-forwards land and a SINGLE catalog commit flips both
    pins together. The oracle is the post-publish cross-table join."""
    from parquet_rewriter_spark.operators.branch import (
        create_catalog_branch, publish_catalog_branch,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.txn_catalog import TransactionCatalog
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    base = _scratch("catalog_branch")
    to = SortedTable.create(
        spark, os.path.join(base, "orders"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 8),
    )
    tc = SortedTable.create(
        spark, os.path.join(base, "cust"), c, key="c_custkey",
        max_records_per_file=_scaled_mrpf(c, 8),
    )
    cat = TransactionCatalog.create(
        spark, os.path.join(base, "cat"), {"orders": to, "cust": tc}
    )
    brs = create_catalog_branch(cat, "exp")
    merge_into_table(
        brs["orders"],
        o.filter(F.col("o_orderkey") % 25 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 100)
        .withColumn("op", F.lit("UPSERT")),
    )
    merge_into_table(
        brs["cust"],
        c.filter(F.col("c_custkey") % 9 == 0)
        .withColumn("c_acctbal", F.lit(-1.0))
        .withColumn("op", F.lit("UPSERT")),
    )
    orig_rev = o.agg(F.round(F.sum("o_totalprice"), 2)).first()[0]
    mid_rev = cat.read("orders").agg(F.round(F.sum("o_totalprice"), 2)).first()[0]
    orig_flags = c.filter(F.col("c_acctbal") == -1.0).count()
    mid_flags = cat.read("cust").filter(F.col("c_acctbal") == -1.0).count()
    isolated = bool(mid_rev == orig_rev and mid_flags == orig_flags)
    publish_catalog_branch(cat, "exp")
    return (
        cat.read("orders")
        .join(cat.read("cust"), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.round(F.sum("c_acctbal"), 2).alias("acct_sum"),
            F.lit(isolated).alias("catalog_isolated_preflight"),
        )
    )


@query(
    "lineitem_unpivot_measures",
    """
    WITH agg AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2)      AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_price,
             round(sum(l_discount), 2)      AS sum_disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, measure, value FROM (
      SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
      UNION ALL
      SELECT l_returnflag, 'sum_price', sum_price FROM agg
      UNION ALL
      SELECT l_returnflag, 'sum_disc', sum_disc FROM agg
    )
    """,
    "relational", "unpivot", "melt",
)
def lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot/melt (the inverse of pivot): aggregate first
    (5 rows), then ``DataFrame.unpivot`` — the melt never touches the
    fact table, and unpivot itself is a zero-shuffle projection
    (Expand node)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    )


@query(
    "purchase_error_overlap",
    """
    WITH p AS (
      SELECT event_id AS p_id, user_id,
             ts - INTERVAL 2 MINUTE AS p_start, ts + INTERVAL 2 MINUTE AS p_end
      FROM events WHERE event_type = 'purchase'
    ),
    e AS (
      SELECT event_id AS e_id, user_id,
             ts - INTERVAL 2 MINUTE AS e_start, ts + INTERVAL 2 MINUTE AS e_end
      FROM events WHERE event_type = 'error'
    )
    SELECT p.p_id, e.e_id, p.user_id,
           (epoch_us(least(p.p_end, e.e_end))
            - epoch_us(greatest(p.p_start, e.e_start))) // 1000000 AS overlap_s
    FROM p JOIN e ON p.user_id = e.user_id
     AND p.p_start <= e.e_end AND e.e_start <= p.p_end
    """,
    "join", "interval-overlap", "binned",
)
def purchase_error_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (operators/joins.py:interval_join): ±2-min
    windows around purchases vs errors of the same user. The oracle is
    the bare inequality join; the Spark plan is bin-bucketed — one hash
    shuffle on (user, time-bin), no cross join, overlap-start filter
    instead of a dedup shuffle."""
    from parquet_rewriter_spark.operators.joins import interval_join

    ev = _t(spark, sf_dir, "events")
    two = F.expr("INTERVAL 2 MINUTES")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        (F.col("ts") - two).alias("p_start"),
        (F.col("ts") + two).alias("p_end"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        "user_id",
        (F.col("ts") - two).alias("e_start"),
        (F.col("ts") + two).alias("e_end"),
    )
    j = interval_join(
        p, e, "p_start", "p_end", "e_start", "e_end",
        by="user_id", bin_seconds=240,
    )
    return j.select(
        F.col("l.p_id").alias("p_id"),
        F.col("r.e_id").alias("e_id"),
        F.col("l.user_id").alias("user_id"),
        (
            (
                F.least(F.unix_micros("l.p_end"), F.unix_micros("r.e_end"))
                - F.greatest(F.unix_micros("l.p_start"), F.unix_micros("r.e_start"))
            )
            / F.lit(1_000_000)
        ).cast("long").alias("overlap_s"),
    )


@query(
    "stream_value_anomalies",
    """
    WITH baseline AS (
      SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(e.value, 2) AS value,
           round((e.value - b.mu) / b.sigma, 4) AS zscore
    FROM events e JOIN baseline b ON e.event_type = b.event_type
    WHERE abs(e.value - b.mu) > 2.5 * b.sigma
    """,
    "streaming", "anomaly", "stream-static",
)
def stream_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly detection against a STATIC baseline: per-type
    mean/σ computed batch-side (the "trained profile"), broadcast into
    the stream; each record is flagged stateless-ly when it deviates
    > 2.5σ. No stream state at all — the shape that scales to any
    event rate. Drained via AvailableNow; oracle is the batch join."""
    from parquet_rewriter_spark.streaming.ops import run_to_memory, stream_events

    base = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.avg("value").alias("mu"),
            F.stddev_pop("value").alias("sigma"),
        )
    )
    ev = stream_events(spark, sf_dir)
    flagged = (
        ev.join(F.broadcast(base), "event_type")
        .filter(F.abs(F.col("value") - F.col("mu")) > 2.5 * F.col("sigma"))
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias("zscore"),
        )
    )
    return run_to_memory(flagged, output_mode="append")


@query(
    "schema_ddl_lifecycle_scan",
    """
    -- final state after: create -> ADD COLUMN p_score -> merge scores
    -- for p_partkey%4=0 -> DROP COLUMN p_retailprice -> RESTORE to the
    -- pre-drop version (so p_retailprice is back, scores retained) ->
    -- RENAME COLUMN p_score TO quality_score (metadata-only) -> merge
    -- MORE scores through the new name for p_partkey%4=2
    SELECT p_type, count(*) AS n_parts,
           round(sum(CASE WHEN p_partkey % 4 = 0 THEN p_size * 1.5
                          WHEN p_partkey % 4 = 2 THEN p_size * 2.0 END), 2)
             AS score_sum,
           round(sum(p_retailprice), 2) AS retail_sum
    FROM part GROUP BY p_type
    """,
    "storage", "ddl", "schema-evolution", "restore", "rename",
)
def schema_ddl_lifecycle_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only DDL lifecycle on the mutation core: ADD COLUMN
    null-fills without touching a file; a merge then writes values for
    a quarter of the keys; DROP COLUMN hides a physical column; RESTORE
    rolls back to the pre-drop snapshot as a new commit. The oracle is
    the expected final state — proving the add survived the merge, the
    drop was non-destructive, and restore recovered the hidden bytes."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    p = _t(spark, sf_dir, "part")
    t = SortedTable.create(
        spark, _scratch("ddl_part"), p, key="p_partkey",
        max_records_per_file=_scaled_mrpf(p, 8),
    )
    t.add_column("p_score", "double")
    muts = t.read().filter(F.col("p_partkey") % 4 == 0).withColumn(
        "p_score", F.col("p_size") * 1.5
    )
    merge_into_table(t, muts)
    v_before_drop = t.manifest().version
    t.drop_column("p_retailprice")
    assert "p_retailprice" not in t.read().columns
    t.restore(v_before_drop)
    # metadata-only RENAME (no file rewritten), then a merge that
    # addresses the column by its NEW logical name — writers translate
    # back to the stable physical name (table.py rename_map)
    t.rename_column("p_score", "quality_score")
    muts2 = t.read().filter(F.col("p_partkey") % 4 == 2).withColumn(
        "quality_score", F.col("p_size") * 2.0
    )
    merge_into_table(t, muts2)
    return (
        t.read()
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("quality_score"), 2).alias("score_sum"),
            F.round(F.sum("p_retailprice"), 2).alias("retail_sum"),
        )
    )


# --------------------------------------------- round-3 tail: export / LM / sketches


@query(
    "webdataset_export_summary",
    """
    WITH t AS (
      SELECT doc_id, lang, source, strlen(text) AS sz FROM documents
    ),
    r AS (
      SELECT doc_id, sz,
             (row_number() OVER (ORDER BY sz DESC, doc_id) - 1) % 4 AS shard
      FROM t
    )
    SELECT shard::INT AS shard, count(*) AS n_samples,
           sum(sz)::BIGINT AS payload_bytes
    FROM r GROUP BY shard ORDER BY shard
    """,
    "llm", "export", "multimodal", "webdataset",
)
@_clean_query
def webdataset_export_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard export as an oracle-gated op: the corpus is
    ACTUALLY written as 4 tar shards (<key>.txt payload + <key>.json
    metadata members, one sequential archive per shard, streamed with
    bounded memory — operators/export.py:write_webdataset_shards), and
    the writer's own report of what it put in each tar must equal the
    SQL replay of the deterministic size-balanced assignment. strlen =
    UTF-8 bytes on both engines (the bytes that land in the archive)."""
    from parquet_rewriter_spark.operators.export import write_webdataset_shards

    d = _t(spark, sf_dir, "documents")
    rep = write_webdataset_shards(
        d, _scratch("wds_export"), "doc_id", "text", "txt",
        meta_cols=("lang", "source"), n_shards=4,
    )
    return rep.select("shard", "n_samples", "payload_bytes").orderBy("shard")


@query(
    "training_shard_summary",
    """
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    r AS (
      SELECT doc_id, n_tok,
             (row_number() OVER (ORDER BY n_tok DESC, doc_id) - 1) % 8 AS shard
      FROM t
    )
    SELECT shard::INT AS shard, count(*) AS n_docs,
           sum(n_tok)::BIGINT AS total_tokens
    FROM r GROUP BY shard ORDER BY shard
    """,
    "llm", "export", "sharding",
)
@_clean_query
def training_shard_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard export (operators/export.py): round-robin
    over the descending-token-count total order — LPT-style balance
    with NO single-partition sort (the rank comes from the
    range-partitioned contiguous-id pass). The oracle replays the
    assignment with the window function the operator deliberately
    avoids; per-shard totals must agree exactly."""
    from parquet_rewriter_spark.operators.export import assign_shards, shard_summary

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    sharded = assign_shards(d, n_shards=8, size_col="n_tok", tiebreak_cols=["doc_id"])
    return (
        shard_summary(sharded, size_col="n_tok")
        .select("shard", "n_docs", F.col("total_size").alias("total_tokens"))
    )


@query(
    "doc_lm_scores",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    big AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i) r
      WHERE len(t) >= 2
    ),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM big GROUP BY w1, w2),
    c1 AS (SELECT w1, sum(n12) AS n1 FROM c12 GROUP BY w1),
    v AS (SELECT count(DISTINCT x) AS v FROM (SELECT unnest(t) AS x FROM tok)),
    s AS (
      SELECT b.doc_id, count(*) AS n_bigrams,
             round(avg(ln((n12 + 1.0) / (n1 + v.v))), 4) AS avg_logp
      FROM big b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      GROUP BY b.doc_id
    )
    SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
           COALESCE(s.avg_logp, 0.0) AS avg_logp
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
    "llm", "quality", "language-model",
)
def doc_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores: every doc scored under an
    add-one-smoothed bigram model trained on the corpus itself
    (functions/lm.py) — one model aggregation + n-gram-keyed shuffle
    joins, all JVM-side, replayed exactly by the oracle."""
    from parquet_rewriter_spark.functions.lm import score_documents

    return score_documents(_t(spark, sf_dir, "documents"))


@query(
    "user_decayed_value",
    """
    WITH ref AS (SELECT max(ts) AS rts FROM events)
    SELECT user_id,
           round(sum(value * pow(0.5, (epoch_us(rts) - epoch_us(ts)) / 1e6
                                      / (7 * 86400))), 4) AS decayed_sum,
           round(sum(pow(0.5, (epoch_us(rts) - epoch_us(ts)) / 1e6
                               / (7 * 86400))), 4) AS decayed_weight,
           count(*) AS n_events
    FROM events, ref
    GROUP BY user_id
    """,
    "timeseries", "decay",
)
def user_decayed_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed per-user activity (7-day half-life,
    referenced to the newest event): recency-weighted scoring with a
    1-row broadcast for the reference time and ONE hash shuffle on
    user_id (operators/timeseries.py:decayed_agg)."""
    from parquet_rewriter_spark.operators.timeseries import decayed_agg

    ev = _t(spark, sf_dir, "events")
    return decayed_agg(ev, key="user_id", ts="ts", value="value").select(
        "user_id",
        F.round("decayed_sum", 4).alias("decayed_sum"),
        F.round("decayed_weight", 4).alias("decayed_weight"),
        "n_events",
    )


@query(
    "incremental_distinct_users",
    """
    WITH merged AS (
      SELECT user_id FROM events
      UNION ALL
      SELECT user_id + 100000 FROM events WHERE event_type = 'signup'
    )
    SELECT count(DISTINCT user_id) AS exact_users,
           TRUE AS within_5pct, TRUE AS index_complete
    FROM merged
    """,
    "storage", "sketch", "distinct-index",
)
def incremental_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file HLL sketch sidecar on the mutation core
    (operators/distinct_index.py): build events as a SortedTable, index
    user_id, merge a batch of NEW users (insert-only upserts), refresh
    — the refresh sketches ONLY the commit's new files — then estimate
    distinct users from the sketch union. The oracle checks the exact
    count; the booleans assert the estimate landed within the 5% band
    and that the refresh covered every live file (both computed, not
    assumed, on the Spark side)."""
    from parquet_rewriter_spark.operators.distinct_index import (
        estimate_distinct,
        refresh_distinct_index,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    ev = _t(spark, sf_dir, "events")
    t = SortedTable.create(
        spark, _scratch("distinct_idx"), ev, key="event_id",
        max_records_per_file=_scaled_mrpf(ev, 8),
    )
    refresh_distinct_index(t, ["user_id"])
    muts = (
        ev.filter(F.col("event_type") == "signup")
        .withColumn("event_id", F.col("event_id") + F.lit(1_000_000_000))
        .withColumn("user_id", F.col("user_id") + F.lit(100_000))
    )
    merge_into_table(t, muts)
    refresh_distinct_index(t, ["user_id"])
    est = estimate_distinct(t, "user_id")
    exact = t.read().select(F.count_distinct("user_id")).first()[0]
    within = est is not None and abs(est - exact) / exact <= 0.05
    return spark.createDataFrame(
        [(int(exact), bool(within), est is not None)],
        "exact_users long, within_5pct boolean, index_complete boolean",
    )


@query(
    "stream_quality_route_summary",
    """
    WITH flags AS (
      SELECT CASE WHEN NOT coalesce(value < 100, FALSE) THEN 1 ELSE 0 END AS v1,
             CASE WHEN NOT coalesce(event_type <> 'error', FALSE) THEN 1 ELSE 0 END AS v2
      FROM events
    )
    SELECT 'clean' AS rule,
           sum(CASE WHEN v1 = 0 AND v2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_rows
    FROM flags
    UNION ALL
    SELECT 'type_not_error', sum(v2)::BIGINT FROM flags
    UNION ALL
    SELECT 'value_under_100', sum(v1)::BIGINT FROM flags
    """,
    "streaming", "quality", "routing",
)
def stream_quality_route_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract routing on ingest (streaming/ops.py:
    stream_quality_route): the events stream is split per micro-batch
    into clean and quarantine sinks, quarantine rows tagged with every
    failed rule. The summary — clean row count + per-rule violation
    counts read back from the SINKS — must equal the batch CASE-sum
    replay, proving no row was lost or double-routed."""
    import shutil

    from parquet_rewriter_spark.streaming.ops import stream_events, stream_quality_route

    base = _scratch("quality_route")
    clean_dir = os.path.join(base, "clean")
    quar_dir = os.path.join(base, "quarantine")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    rules = {
        "value_under_100": "value < 100",
        "type_not_error": "event_type <> 'error'",
    }
    stream_quality_route(
        stream_events(spark, sf_dir), rules, clean_dir, quar_dir, ckpt
    )
    clean_n = spark.read.parquet(clean_dir).count()
    per_rule = (
        spark.read.parquet(quar_dir)
        .select(F.explode("_violated_rules").alias("rule"))
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    one = spark.createDataFrame([("clean", clean_n)], "rule string, n_rows long")
    return one.unionByName(per_rule)


@query(
    "stream_purchase_click_leftjoin",
    """
    WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         cut AS (SELECT least(max(CASE WHEN event_type = 'purchase' THEN ts END),
                            max(CASE WHEN event_type = 'click' THEN ts END))
                        - INTERVAL 65 MINUTE AS t1 FROM events)
    SELECT p.user_id, p.ts AS p_ts, p.event_id AS purchase_id,
           c.event_id AS click_id, c.event_id IS NOT NULL AS matched
    FROM p CROSS JOIN cut
    LEFT JOIN c ON c.user_id = p.user_id
               AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.ts <= cut.t1
    """,
    "streaming", "join", "outer",
)
def stream_purchase_click_leftjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase, with its
    click within the 30-min window when one exists — unmatched
    purchases null-emit only after the watermark proves no match can
    still arrive (bounded state, no double counting). Null-emission
    near the stream's END depends on the final watermark (max ts − 1 h
    delay), so the comparison restricts BOTH engines to the provably
    CLOSED region — purchases older than max(ts) − 65 min, where the
    watermark guarantees every match and every null-emit has fired —
    and there the drained stream must equal the batch left join
    row-for-row. The open tail's emission timing stays pinned in
    tests/test_streaming.py."""
    from parquet_rewriter_spark.streaming import (
        run_to_memory,
        stream_events,
        stream_stream_interval_join,
    )

    ev = stream_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    joined = stream_stream_interval_join(
        purchases, clicks, key="user_id", how="left_outer"
    )
    drained = run_to_memory(
        joined.select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_id_r").alias("click_id"),
            F.col("event_id_r").isNotNull().alias("matched"),
        )
    )
    # closed-region cutoff computed IN-ENGINE (no driver datetime, so
    # LTZ/NTZ sessions both type it against the stream's own ts)
    # the engine's global watermark is the MIN of the two streams'
    # watermarks — the cutoff must use the EARLIER of the two maxima
    evb = _t(spark, sf_dir, "events")
    wm_base = F.least(
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
    )
    cut = evb.agg((wm_base - F.expr("INTERVAL 65 MINUTES")).alias("__t1"))
    return (
        drained.join(F.broadcast(cut), F.col("p_ts") <= F.col("__t1"))
        .drop("__t1")
    )


@query(
    "stream_purchase_click_fulljoin",
    """
    WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         cut AS (SELECT least(max(CASE WHEN event_type = 'purchase' THEN ts END),
                            max(CASE WHEN event_type = 'click' THEN ts END))
                        - INTERVAL 65 MINUTE AS t1,
                        least(max(CASE WHEN event_type = 'purchase' THEN ts END),
                              max(CASE WHEN event_type = 'click' THEN ts END))
                        - INTERVAL 95 MINUTE AS t2 FROM events)
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.ts AS p_ts, c.ts AS c_ts,
           (p.event_id IS NOT NULL AND c.event_id IS NOT NULL) AS matched
    FROM p FULL JOIN c ON c.user_id = p.user_id
                      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 30 MINUTE
    CROSS JOIN cut
    WHERE (p.ts IS NOT NULL AND p.ts <= cut.t1)
       OR (p.ts IS NULL AND c.ts <= cut.t2)
    """,
    "streaming", "join", "outer",
)
def stream_purchase_click_fulljoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the reconciliation
    shape: every purchase AND every click, matched where the 30-min
    window allows; unmatched rows of EITHER stream null-emit exactly
    once, after the watermark proves no partner can still arrive. The
    comparison restricts both engines to the provably CLOSED region —
    purchase rows older than max(ts) − 65 min; unmatched clicks older
    than max(ts) − 95 min (their match window extends 30 min forward)
    — where the drained stream must equal the batch full join
    row-for-row; the open tail's emission timing stays pinned in
    tests/test_streaming.py."""
    from parquet_rewriter_spark.streaming import (
        run_to_memory,
        stream_events,
        stream_stream_interval_join,
    )

    ev = stream_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    joined = stream_stream_interval_join(
        purchases, clicks, key="user_id", how="full_outer"
    )
    drained = run_to_memory(
        joined.select(
            F.col("event_id").alias("purchase_id"),
            F.col("event_id_r").alias("click_id"),
            F.col("ts").alias("p_ts"),
            F.col("ts_r").alias("c_ts"),
            (F.col("event_id").isNotNull() & F.col("event_id_r").isNotNull()).alias("matched"),
        )
    )
    evb = _t(spark, sf_dir, "events")
    wm_base = F.least(
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
    )
    cut = evb.agg(
        (wm_base - F.expr("INTERVAL 65 MINUTES")).alias("__t1"),
        (wm_base - F.expr("INTERVAL 95 MINUTES")).alias("__t2"),
    )
    keep = (F.col("p_ts").isNotNull() & (F.col("p_ts") <= F.col("__t1"))) | (
        F.col("p_ts").isNull() & (F.col("c_ts") <= F.col("__t2"))
    )
    return drained.join(F.broadcast(cut), keep).drop("__t1", "__t2")


@query(
    "lineitem_correlations",
    """
    SELECT col_a, col_b, round(r, 4) AS corr_r, n
    FROM (
      SELECT count(*) AS n,
             corr(l_quantity, l_extendedprice) AS r_qty_price,
             corr(l_quantity, l_discount)      AS r_qty_disc,
             corr(l_quantity, l_tax)           AS r_qty_tax,
             corr(l_extendedprice, l_discount) AS r_price_disc,
             corr(l_extendedprice, l_tax)      AS r_price_tax,
             corr(l_discount, l_tax)           AS r_disc_tax
      FROM lineitem
    ) s, LATERAL (VALUES
      ('l_quantity', 'l_extendedprice', s.r_qty_price),
      ('l_quantity', 'l_discount',      s.r_qty_disc),
      ('l_quantity', 'l_tax',           s.r_qty_tax),
      ('l_extendedprice', 'l_discount', s.r_price_disc),
      ('l_extendedprice', 'l_tax',      s.r_price_tax),
      ('l_discount', 'l_tax',           s.r_disc_tax)
    ) v(col_a, col_b, r)
    """,
    "profiling", "statistics",
)
def lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the fact table's numeric
    measures — the feature-drift / profiling companion to
    `lineitem_numeric_profile`. ALL 6 pairs come out of ONE partial+final
    hash aggregation (each `corr` is a streaming co-moment aggregate),
    stack-unpivoted into tidy (col_a, col_b, r) rows: the pair count
    never changes the scan count, same discipline as operators/profile.py."""
    li = _t(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice"),
        ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"),
        ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"),
        ("l_discount", "l_tax"),
    ]
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.corr(a, b).alias(f"r_{i}") for i, (a, b) in enumerate(pairs)],
    )
    rows = [
        F.struct(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
            F.round(F.col(f"r_{i}"), 4).alias("corr_r"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    return (
        agg.select(F.explode(F.array(*rows)).alias("p"), "n")
        .select("p.col_a", "p.col_b", "p.corr_r", "n")
    )


_SCD2_HISTORY_CTE = """
    ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER w AS prev_status
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    starts AS (
      SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from, o_orderkey
      FROM ordered
      WHERE prev_status IS NULL OR o_orderstatus <> prev_status
    ),
    hist AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status, valid_from,
             lead(valid_from) OVER w2 AS valid_to
      FROM starts
      WINDOW w2 AS (PARTITION BY o_custkey ORDER BY valid_from, o_orderkey)
    )
"""


@query(
    "scd2_pointintime_status",
    f"""
    WITH {_SCD2_HISTORY_CTE},
    snaps AS (
      SELECT unnest([TIMESTAMP '1996-01-01', TIMESTAMP '1997-01-01',
                     TIMESTAMP '1998-01-01', TIMESTAMP '1999-01-01',
                     TIMESTAMP '2000-01-01', TIMESTAMP '2001-01-01']) AS snap_ts
    )
    SELECT s.snap_ts, h.status, count(*) AS n_customers
    FROM hist h JOIN snaps s
      ON h.valid_from <= s.snap_ts
     AND (h.valid_to > s.snap_ts OR h.valid_to IS NULL)
    GROUP BY s.snap_ts, h.status
    """,
    "scd2", "temporal-join", "pit",
)
def scd2_pointintime_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: the SCD2 customer-status history
    probed at yearly snapshot dates — "how many customers were in each
    status as of Jan 1" — the PIT-correctness shape every feature store
    needs. The snapshot dim is a 6-row broadcast against the
    interval-validity predicate (each history row joins ≤ |snapshots|
    rows, never a blowup), then ONE hash aggregation on
    (snapshot, status). History build = one custkey shuffle as in
    scd2_customer_status_history."""
    hist = scd2_customer_status_history(spark, sf_dir)
    snaps = spark.createDataFrame(
        [(f"{y}-01-01",) for y in range(1996, 2002)], "d string"
    ).select(F.to_timestamp("d").alias("snap_ts"))
    return (
        hist.join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("snap_ts"))),
        )
        .groupBy("snap_ts", "status")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "partition_pruned_scan",
    """
    SELECT o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    "storage", "partitioning", "pruning",
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition layout + partition pruning: orders written
    `o_orderstatus=X/` partitioned (sources/sinks.py), then a
    status-filtered aggregate. The filter resolves against DIRECTORY
    NAMES during planning — non-matching partitions are never listed,
    let alone read (`PartitionFilters` in the scan node, pinned in
    tests/test_plans.py). The directory-partition twin of the
    manifest's zone-map file pruning: both turn a predicate into
    "don't even open it"."""
    from parquet_rewriter_spark.sources.sinks import write_partitioned

    o = _t(spark, sf_dir, "orders")
    path = _scratch("part_prune")
    write_partitioned(o, path, ["o_orderstatus"])
    return (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "python_ds_key_range_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
    GROUP BY o_orderstatus
    """,
    "sources", "python-datasource", "zone-map",
)
def python_ds_key_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SortedTable surfaced as a first-class Spark format via the
    Python DataSource API (sources/pyds.py): a key-range read plans ONE
    InputPartition per zone-map-overlapping file (non-matching files
    never become tasks) and each task's pyarrow read skips row groups
    by footer stats before the exact vectorized residual filter — the
    reference's seekToKey economics implemented inside the source.
    Oracle: the same range predicate over the raw relation (the layout
    + source are lossless)."""
    from parquet_rewriter_spark.sources.pyds import register
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    t = SortedTable.create(
        spark, _scratch("pyds"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 8),
    )
    register(spark)
    df = (
        spark.read.format("sorted_table")
        .option("path", t.path)
        .option("key_lo", "1000")
        .option("key_hi", "2999")
        .load()
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "python_ds_pushdown_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderkey >= 2000 AND o_orderkey < 6000
      AND o_totalprice <= 150000
    GROUP BY o_orderstatus
    """,
    "sources", "python-datasource", "filter-pushdown",
)
def python_ds_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter PUSHDOWN through the Python DataSource (Spark 4
    pushFilters): the predicates arrive as ordinary .filter() calls —
    no source options — and the source uses them to prune files (key
    zone maps + secondary col_stats) and row groups (footer stats)
    while returning every filter as unsupported so Spark re-applies the
    exact comparisons. Same lossless oracle shape as the option-driven
    range scan."""
    from parquet_rewriter_spark.sources.pyds import register
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    t = SortedTable.create(
        spark, _scratch("pyds_push"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 8), stats_cols=["o_totalprice"],
    )
    register(spark)
    df = (
        spark.read.format("sorted_table").option("path", t.path).load()
        .filter(
            (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 6000)
            & (F.col("o_totalprice") <= 150000)
        )
    )
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "vacuum_then_scan",
    """
    WITH final AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 100 = 0 THEN 0.0 ELSE o_totalprice END
                 AS o_totalprice
      FROM orders WHERE o_orderkey % 100 <> 1
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           TRUE AS files_collected, TRUE AS single_version
    FROM final GROUP BY o_orderstatus
    """,
    "storage", "vacuum", "lifecycle",
)
def vacuum_then_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage GC closes the lifecycle: create → two mutation commits
    (zero-priced upserts, then deletes) → vacuum(retain_versions=1).
    The vacuum must actually collect garbage (superseded data files
    removed, old manifests dropped — both computed, not assumed) while
    the surviving snapshot still reads EXACTLY the merged relation the
    oracle replays. Cost model: vacuum is driver-side manifest set
    arithmetic + unlinks — rows ∝ retained files, no data read."""
    from parquet_rewriter_spark.operators.merge import (
        OP_COLUMN,
        OP_DELETE,
        merge_into_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = SortedTable.create(
        spark, _scratch("vacuum"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 8),
    )
    merge_into_table(
        t, o.filter(F.col("o_orderkey") % 100 == 0).withColumn("o_totalprice", F.lit(0.0))
    )
    merge_into_table(
        t,
        o.filter(F.col("o_orderkey") % 100 == 1).withColumn(OP_COLUMN, F.lit(OP_DELETE)),
    )
    n_versions_before = len(t.versions())
    removed = t.vacuum(retain_versions=1)
    collected = bool(removed) and n_versions_before > 1
    single = len(t.versions()) == 1
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select(
            "o_orderstatus", "n_orders", "revenue",
            F.lit(collected).alias("files_collected"),
            F.lit(single).alias("single_version"),
        )
    )


@query(
    "timestamp_asof_scan",
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
    "storage", "time-travel", "asof",
)
def timestamp_asof_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp time travel: capture a wall-clock instant after the
    initial commit, run a destructive merge (zero out every 10th
    order), then `read_asof(t)` — the as-of read resolves to the
    pre-merge snapshot and must reproduce the ORIGINAL relation the
    oracle aggregates, proving mutations never rewrite history.
    Resolution is driver-side commit-log arithmetic (table.py:
    version_asof); no data read to pick the version."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = SortedTable.create(
        spark, _scratch("asof"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 8),
    )
    t_before = t.history()[-1]["committed_at"]
    merge_into_table(
        t, o.filter(F.col("o_orderkey") % 10 == 0).withColumn("o_totalprice", F.lit(0.0))
    )
    return (
        t.read_asof(t_before)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "nb_lang_confusion",
    """
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (SELECT w, lang, count(*) AS c FROM tok GROUP BY w, lang),
    n_lang AS (SELECT lang, sum(c) AS n_l FROM counts GROUP BY lang),
    vocab AS (SELECT DISTINCT w FROM counts),
    v AS (SELECT count(*) AS v FROM vocab),
    grid AS (SELECT vocab.w, n_lang.lang, n_lang.n_l FROM vocab CROSS JOIN n_lang),
    lik AS (
      SELECT g.w, g.lang,
             ln((coalesce(c.c, 0) + 1.0) / (g.n_l + v.v)) AS log_pwl
      FROM grid g LEFT JOIN counts c ON g.w = c.w AND g.lang = c.lang CROSS JOIN v
    ),
    priors AS (
      SELECT lang,
             ln(count(*)::DOUBLE / (SELECT count(*) FROM documents)) AS log_prior
      FROM documents GROUP BY lang
    ),
    tok2 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    ll AS (
      SELECT t.doc_id, l.lang, sum(l.log_pwl) AS ll
      FROM tok2 t JOIN lik l USING (w) GROUP BY t.doc_id, l.lang
    ),
    scored AS (
      SELECT ll.doc_id, ll.lang, round(ll.ll + p.log_prior, 6) AS score
      FROM ll JOIN priors p USING (lang)
    ),
    pred AS (
      SELECT doc_id, lang AS pred FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, lang) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT d.lang, p.pred, count(*) AS n_docs
    FROM documents d JOIN pred p USING (doc_id)
    GROUP BY d.lang, p.pred
    """,
    "llm", "classifier", "naive-bayes",
)
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes language classifier trained AND applied relationally
    (functions/classify.py): add-one-smoothed token likelihoods from
    one aggregation, token-keyed shuffle-join inference, per-doc argmax
    on rounded scores. The confusion matrix vs the fixture labels is
    the output; the oracle replays training and inference in SQL —
    "model training as a query", no ML library, no Python in the plan."""
    from parquet_rewriter_spark.functions.classify import confusion_matrix

    return confusion_matrix(
        _t(spark, sf_dir, "documents"), "doc_id", "text", "lang"
    )


@query(
    "gopher_quality_flags",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS t FROM documents),
    per AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
    doc AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(c * length(t)) AS BIGINT) AS char_sum,
             max(c) AS top_cnt,
             CAST(sum(CASE WHEN t IN ({_SW}) THEN c ELSE 0 END) AS BIGINT) AS stop_hits
      FROM per GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           round(char_sum::DOUBLE / n_tokens, 4) AS mean_tok_len,
           round(top_cnt::DOUBLE / n_tokens, 4) AS top_tok_ratio,
           stop_hits,
           n_tokens BETWEEN 10 AND 100000 AS len_ok,
           char_sum::DOUBLE / n_tokens BETWEEN 2.0 AND 10.0 AS wlen_ok,
           top_cnt::DOUBLE / n_tokens <= 0.25 AS rep_ok,
           stop_hits >= 1 AS stop_ok,
           (n_tokens BETWEEN 10 AND 100000)
             AND (char_sum::DOUBLE / n_tokens BETWEEN 2.0 AND 10.0)
             AND (top_cnt::DOUBLE / n_tokens <= 0.25)
             AND (stop_hits >= 1) AS keep
    FROM doc
    """,
    "llm", "quality", "filter", "gopher",
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filter (functions/filters.py): token
    count band, mean-token-length band, top-token repetition cap, and
    stopword presence — every metric from ONE explode + two map-side-
    combining hash aggs (the repetition ratio needs per-token counts, so
    the others ride the same shuffle for free). Flags + keep verdict per
    doc; the oracle replays the full rule algebra over unnest."""
    from parquet_rewriter_spark.functions.filters import gopher_doc_metrics

    return gopher_doc_metrics(_t(spark, sf_dir, "documents"))


@query(
    "badword_filter_summary",
    f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN len(list_intersect({_TOK},
                ['crash','panic','corrupt'])) > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           round(sum(CASE WHEN len(list_intersect({_TOK},
                ['crash','panic','corrupt'])) > 0 THEN 1 ELSE 0 END)::DOUBLE
                / count(*), 4) AS flagged_frac
    FROM documents
    GROUP BY lang
    """,
    "llm", "quality", "filter", "c4",
)
def badword_filter_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filter: ``arrays_overlap`` against an inline
    blocklist — pure codegen projection, zero shuffles before the
    summary agg (functions/filters.py:badword_flag). Per-lang flagged
    counts; the keep/drop split itself is a filter on the same column."""
    from parquet_rewriter_spark.functions.filters import badword_flag

    d = _t(spark, sf_dir, "documents")
    flag = badword_flag("text").cast("int")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(flag).cast("long").alias("n_flagged"),
        F.round(F.sum(flag) / F.count(F.lit(1)), 4).alias("flagged_frac"),
    )


@query(
    "corpus_training_order",
    f"""
    SELECT * FROM (
      SELECT row_number() OVER (ORDER BY {{u}}, doc_id) AS train_rank,
             doc_id, source
      FROM documents
    ) WHERE train_rank <= 50
    """.format(u="((doc_id % 2147483648) * 2654435761 + 7919) % 4294967296 / 4294967296.0"),
    "llm", "shuffle", "training-order",
)
def corpus_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    portable-hash sort key (operators/sampling.py:portable_unit — no
    RNG, rerun-stable on any partitioning), and the epoch order is the
    sort by it. At scale the full order is materialized by
    ``repartitionByRange(hash)`` + local sort (no single-partition
    global sort); here the query surfaces the first 50 docs of epoch
    order via TakeOrderedAndProject (per-partition heaps, no shuffle of
    the full table)."""
    from parquet_rewriter_spark.operators.sampling import portable_unit

    d = _t(spark, sf_dir, "documents")
    u = portable_unit("doc_id", salt=7919)
    top = d.select(u.alias("u"), "doc_id", "source").orderBy("u", "doc_id").limit(50)
    # rank the surviving 50 rows (tiny — single partition by construction)
    w = Window.orderBy("u", "doc_id")
    return top.select(F.row_number().over(w).alias("train_rank"), "doc_id", "source")


@query(
    "stream_user_totals",
    """
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    "streaming", "stateful", "transformWithState",
)
def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful running totals per user via Spark 4's
    ``transformWithStateInPandas`` (typed ValueState handles; falls
    back to ``applyInPandasWithState`` with identical semantics when
    the TWS protobuf runtime is absent — streaming/ops.py:
    user_totals_tws). The fixture is one file → one micro-batch → one
    update-mode emission per user, so the final table equals the batch
    GROUP BY and the oracle is exact; multi-batch state carry is pinned
    in test_streaming.py."""
    from parquet_rewriter_spark.streaming.ops import (
        run_to_memory,
        stream_events,
        user_totals_tws,
    )

    ev = stream_events(spark, sf_dir)
    return run_to_memory(user_totals_tws(ev), output_mode="update")


@query(
    "nation_revenue_trend",
    """
    WITH monthly AS (
      SELECT n_name,
             date_trunc('month', o_orderdate) AS m,
             sum(o_totalprice) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, date_trunc('month', o_orderdate)
    ),
    xy AS (
      SELECT n_name,
             CAST(row_number() OVER (PARTITION BY n_name ORDER BY m) AS DOUBLE) AS x,
             CAST(rev AS DOUBLE) AS y
      FROM monthly
    ),
    fit AS (
      SELECT n_name, count(*) AS n_months,
             (count(*) * sum(x*y) - sum(x) * sum(y))
               / (count(*) * sum(x*x) - sum(x) * sum(x)) AS slope,
             sum(x) AS sx, sum(y) AS sy, CAST(count(*) AS DOUBLE) AS cnt
      FROM xy GROUP BY n_name
    )
    SELECT n_name, n_months,
           round(slope, 4) AS slope,
           round((sy - slope * sx) / cnt, 4) AS intercept,
           round((sy + slope * (cnt * (cnt + 1) - sx)) / cnt, 4)
             AS next_month_forecast
    FROM fit
    """,
    "timeseries", "regression", "forecast",
)
def nation_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend as relational algebra: monthly revenue per
    nation → closed-form least squares (slope/intercept from the five
    classic sums) + next-month forecast — ONE window for the month
    index and ONE hash agg per nation; no ML library, no Python, no
    per-group fitting loop. The month index rides row_number over the
    per-nation month order (both engines agree: months are distinct)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_nationkey", "n_name", F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.partitionBy("n_name").orderBy("m")
    xy = monthly.select(
        "n_name",
        F.row_number().over(w).cast("double").alias("x"),
        F.col("rev").cast("double").alias("y"),
    )
    cnt, sx, sy, sxy, sxx = (
        F.count(F.lit(1)).cast("double"),
        F.sum("x"),
        F.sum("y"),
        F.sum(F.col("x") * F.col("y")),
        F.sum(F.col("x") * F.col("x")),
    )
    slope = (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx)
    intercept = (sy - slope * sx) / cnt
    forecast = (sy + slope * (cnt * (cnt + 1) - sx)) / cnt
    return xy.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_months"),
        F.round(slope, 4).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
        F.round(forecast, 4).alias("next_month_forecast"),
    )


@query(
    "order_value_histogram",
    """
    WITH b AS (
      SELECT least(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9) AS bucket
      FROM orders
    )
    SELECT bucket,
           round(bucket * 50000.0, 1) AS lo,
           round((bucket + 1) * 50000.0, 1) AS hi,
           count(*) AS n_orders
    FROM b GROUP BY bucket
    """,
    "histogram", "profile",
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram as one map-side-combining hash agg: bucket
    id from integer arithmetic on the scanned column (codegen, no UDF,
    no sort), top bucket clamps the tail. 10 buckets of width 50k; the
    shuffle moves ≤10 rows per partition regardless of table size."""
    o = _t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(9))
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "bucket",
            F.round(F.col("bucket") * 50000.0, 1).alias("lo"),
            F.round((F.col("bucket") + 1) * 50000.0, 1).alias("hi"),
            "n_orders",
        )
    )


@query(
    "part_entity_resolution",
    """
    WITH RECURSIVE names AS (
      SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name
    ),
    pairs AS (
      SELECT a.id AS ia, b.id AS ib FROM names a JOIN names b
      ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1
      WHERE levenshtein(a.s, b.s) <= 1
    ),
    edges AS (SELECT ia AS a, ib AS b FROM pairs
              UNION SELECT ib, ia FROM pairs),
    reach(id, r) AS (
      SELECT id, id FROM names
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
    ),
    comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
    name_ent AS (SELECT n.s, c.component FROM names n JOIN comp c USING (id))
    SELECT cn.s AS entity_name,
           count(DISTINCT ne.s) AS n_variants,
           count(*) AS n_parts,
           round(sum(p.p_retailprice), 2) AS total_retail
    FROM part p
    JOIN name_ent ne ON p.p_name = ne.s
    JOIN names cn ON cn.id = ne.component
    GROUP BY cn.s
    """,
    "entity-resolution", "fuzzy", "cluster", "composition",
)
@_clean_query
def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution as a composition of three existing
    operators: blocked fuzzy self-join (operators/fuzzy.py — q-gram
    count-filter, never n²) finds name variants at edit distance ≤1,
    connected components (operators/cluster.py — min-label propagation)
    merges transitive variants into entities, and a canonical name
    (the minimum-id member's) labels each entity's rollup over the base
    rows. The oracle replays it with all-pairs levenshtein + a
    recursive-CTE closure — the distributed plan does the same work
    with blocking + bounded label propagation."""
    from parquet_rewriter_spark.operators.cluster import connected_components
    from parquet_rewriter_spark.operators.fuzzy import fuzzy_self_join

    p = _t(spark, sf_dir, "part")
    names = persist(
        p.groupBy("p_name")
        .agg(F.min("p_partkey").alias("id"))
        .select("id", F.col("p_name").alias("s"))
    )
    pairs = fuzzy_self_join(names, "id", "s", max_dist=1, q=2)
    comp = connected_components(
        pairs.select("id_a", "id_b"), "id_a", "id_b", nodes=names.select("id")
    )
    name_ent = names.join(comp, "id").select("s", "comp")
    canon = names.select(F.col("id").alias("comp"), F.col("s").alias("entity_name"))
    out = (
        p.join(name_ent, p.p_name == name_ent.s)
        .join(F.broadcast(canon), "comp")
        .groupBy("entity_name")
        .agg(
            F.countDistinct("s").alias("n_variants"),
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.sum("p_retailprice"), 2).alias("total_retail"),
        )
    )
    return out


@query(
    "ann_ivf_index_lifecycle",
    """
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id <> 1
      UNION ALL
      SELECT 10000000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id = 0
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0)
    SELECT corpus.vec_id AS id,
           round(list_dot_product(corpus.v, q.v)
                 / (sqrt(list_dot_product(corpus.v, corpus.v))
                    * sqrt(list_dot_product(q.v, q.v))), 4) AS cos_sim
    FROM corpus, q
    ORDER BY cos_sim DESC, id
    LIMIT 10
    """,
    "ann", "index", "incremental", "storage",
)
def ann_ivf_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent IVF ANN index on the mutation core
    (operators/ann_index.py): create → add a probe-identical vector →
    delete vec 1 → FULL-probe query. The composite cell-major key makes
    probes manifest-pruned key-range scans (the reference's seekToKey),
    and add/delete rewrite only touched cells' files. A full probe
    scans every cell, so the answer must equal DuckDB's brute-force
    exact cosine top-10 over (corpus ∪ added) \\ deleted — which is
    what the oracle computes: the lifecycle's net state, hash-gated.
    Partial-probe recall/pruning stay pinned in tests/test_ann_index.py
    and the ann_ivf_topk query."""
    from parquet_rewriter_spark.operators.ann_index import IVFVectorIndex

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    idx = IVFVectorIndex.create(
        spark, _scratch("ivf_index"), emb, n_cells=8, max_records_per_file=1024
    )
    from parquet_rewriter_spark.operators.util import local_df

    # size-aware local batch: a plain createDataFrame slices 1 row over
    # every core and the whole add() mutation plan (Arrow assign, merge
    # union, window, write) inherits 32-task stages to move one vector
    added = local_df(
        spark,
        [(10_000_000, qvec, -1)],
        "vec_id long, embedding array<float>, label int",
    )
    idx.add(added)
    idx.delete([1])
    return idx.topk(qvec, k=10, n_probe=int(idx.centroids.shape[0]))


_PR_D = 0.85
_PR_ITERS = 3


@query(
    "part_copurchase_pagerank",
    f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT a AS id FROM pairs),
    deg AS (SELECT a AS id, count(*) AS out_deg FROM pairs GROUP BY a),
    n AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    pr0 AS (SELECT id, 1.0 AS pr FROM nodes),
    pr1 AS (
      SELECT nodes.id,
             (1 - {_PR_D}) + {_PR_D} * coalesce(sum(p.pr / d.out_deg * (SELECT n FROM n)), 0)
               / (SELECT n FROM n) AS pr
      FROM nodes
      LEFT JOIN pairs e ON e.b = nodes.id
      LEFT JOIN pr0 p ON p.id = e.a
      LEFT JOIN deg d ON d.id = e.a
      GROUP BY nodes.id
    ),
    pr2 AS (
      SELECT nodes.id,
             (1 - {_PR_D}) + {_PR_D} * coalesce(sum(p.pr / d.out_deg), 0) AS pr
      FROM nodes
      LEFT JOIN pairs e ON e.b = nodes.id
      LEFT JOIN pr1 p ON p.id = e.a
      LEFT JOIN deg d ON d.id = e.a
      GROUP BY nodes.id
    ),
    pr3 AS (
      SELECT nodes.id,
             (1 - {_PR_D}) + {_PR_D} * coalesce(sum(p.pr / d.out_deg), 0) AS pr
      FROM nodes
      LEFT JOIN pairs e ON e.b = nodes.id
      LEFT JOIN pr2 p ON p.id = e.a
      LEFT JOIN deg d ON d.id = e.a
      GROUP BY nodes.id
    )
    SELECT id AS l_partkey, round(pr, 4) AS pagerank
    FROM pr3
    ORDER BY round(pr, 4) DESC, l_partkey LIMIT 20
    """,
    "graph", "pagerank", "iterative",
)
@_clean_query
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-graph PageRank as relational algebra: the co-purchase
    graph (parts sharing an order) built with one self-join on the
    order key, then three power iterations — each ONE
    contribution join + ONE hash agg on the node id, the classic
    distributed shape (edges partitioned by dst; at scale, pre-hash-
    partition edges once and every iteration reuses that layout without
    re-shuffling — same discipline as operators/cluster.py's label
    propagation). Normalized so ranks are O(1): init pr=1, dangling
    mass dropped (documented simplification both engines share). The
    oracle unrolls the same three iterations in SQL."""
    li = _t(spark, sf_dir, "lineitem")
    # per-order pair generation as ONE grouped collect_set + double
    # explode instead of distinct + self-join: the map-side-combined
    # set aggregate replaces the items-distinct exchange AND the
    # self-join's two exchanges (guide §2.4 — remove shuffles
    # outright); orders are small groups, so the explode² is the same
    # row count the join produced, and the edge SET is identical
    # (collect_set dedups within the order exactly as DISTINCT did)
    sets = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    pairs = (
        sets.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    # ONE exchange builds the whole cached edge relation (r12 left
    # four): hash-partition the raw pairs on the join key, then let
    # every edge-scale step RIDE that partitioning — the (src, dst)
    # dedup (HashPartitioning(src) satisfies the aggregate's
    # ClusteredDistribution(src, dst): equal pairs share src), the
    # out-degree as a whole-partition window count over src (no deg
    # groupBy + join pass), and pr₀'s distinct-src seed below. The
    # cache still reports hashpartitioning(src), so each iteration's
    # contribution join shuffles only the small pr relation (pinned in
    # test_plans.py).
    e = persist(
        pairs.repartition(F.col("src"))
        .dropDuplicates(["src", "dst"])
        .withColumn(
            "out_deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
    )
    pr = e.select(F.col("src").alias("id")).distinct().withColumn("pr", F.lit(1.0))
    for _ in range(_PR_ITERS):
        contrib = (
            e.join(pr, e.src == pr.id)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("out_deg")).alias("mass"))
        )
        pr = (
            pr.select("id")
            .join(contrib, pr.id == contrib.dst, "left")
            .select(
                "id",
                (F.lit(1 - _PR_D) + F.lit(_PR_D) * F.coalesce("mass", F.lit(0.0))).alias("pr"),
            )
        )
    out = (
        pr.select(
            F.col("id").alias("l_partkey"), F.round("pr", 4).alias("pagerank")
        )
        .orderBy(F.col("pagerank").desc(), "l_partkey")
        .limit(20)
    )
    return out


@query(
    "txn_exactly_once_scan",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(CASE WHEN o_orderkey % 50 = 9 THEN o_totalprice + 1000.0
                          ELSE o_totalprice END), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    "mutation", "streaming", "exactly-once", "txn",
)
def txn_exactly_once_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once merge replay through manifest txn watermarks (the
    Delta (appId, version) pattern, table.py:Manifest.txns): epoch 1
    adds +1000 to keys ≡9 (mod 50) — a NON-idempotent increment — and
    is then REPLAYED (crash between commit and checkpoint write). The
    replay must be skipped: the oracle is the base with the increment
    applied exactly once. A double-apply (+2000) hash-mismatches."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("txn_once"), o, key="o_orderkey", max_records_per_file=_scaled_mrpf(o)
    )

    def increment_epoch(epoch: int) -> dict:
        mut = (
            t.read()
            .filter(F.col("o_orderkey") % 50 == 9)
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
            .withColumn("op", F.lit("UPSERT"))
        )
        return merge_into_table(t, mut, txn=("txn_demo", epoch))

    increment_epoch(1)
    replay = increment_epoch(1)  # crash-replay of the same epoch
    assert replay.get("skipped_txn_replay") is True
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "hidden_partition_event_scan",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE user_id = 7
      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-02 00:00:00'
      AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-05 00:00:00'
    GROUP BY event_type
    """,
    "partitioning", "pruning", "hidden-partitioning",
)
def hidden_partition_event_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style hidden partitioning (sources/partitioning.py):
    events written partitioned by day(ts) x bucket(user_id, 8) — but
    the QUERY only states base-column predicates. The reader derives
    the partition predicates from the saved transform spec, so the scan
    directory-prunes to 3 days x 1 bucket at plan time (PartitionFilters
    — pinned in test_plans.py) while the row predicate pushes into the
    surviving files. Same result as the unpartitioned oracle scan."""
    import datetime as dt

    from parquet_rewriter_spark.sources.partitioning import (
        read_hidden_partitioned,
        write_hidden_partitioned,
    )

    ev = _t(spark, sf_dir, "events")
    path = _scratch("hidden_part_events")
    write_hidden_partitioned(ev, path, [("day", "ts"), ("bucket", "user_id", 8)])
    lo = dt.datetime(2024, 1, 2)
    hi = dt.datetime(2024, 1, 5) - dt.timedelta(microseconds=1)
    df = read_hidden_partitioned(
        spark, path, eq={"user_id": 7}, ranges={"ts": (lo, hi)}
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "gdpr_forget_customer_scan",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price,
           TRUE AS erased_everywhere
    FROM orders
    WHERE o_custkey <> 421
    GROUP BY o_orderstatus
    """,
    "mutation", "gdpr", "retention", "vacuum",
)
def gdpr_forget_customer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten as a storage lifecycle: predicate delete of
    one customer's orders (victim scan pushes the predicate into the
    parquet scan; only victim-bearing files rewrite), then vacuum the
    PRE-DELETE snapshots — erasure is not real while time travel can
    resurrect the rows. The proof rides the result: every RETAINED
    version is scanned for residuals and the count folds into the
    ``erased_everywhere`` boolean the oracle expects TRUE (a single
    surviving row anywhere in retained history hash-mismatches)."""
    from parquet_rewriter_spark.operators.merge import delete_where
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("gdpr"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    delete_where(t, F.col("o_custkey") == 421)
    t.vacuum(retain_versions=1)  # pre-delete history must be collectable
    residual = 0
    for v in t.versions():
        residual += t.read(version=v).filter(F.col("o_custkey") == 421).count()
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.lit(residual == 0).alias("erased_everywhere"),
    )


@query(
    "type_widening_scan",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN o_orderkey < 100 THEN 3000000000
                         ELSE o_custkey END) AS BIGINT) AS custkey_sum
    FROM orders
    GROUP BY o_orderstatus
    """,
    "mutation", "schema-evolution", "widening",
)
def type_widening_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-widening schema evolution on merge: the table starts with a
    32-bit o_custkey; a mutation batch arrives with 64-bit values that
    overflow int. The merge widens the pinned schema (int→long), dirty
    files rewrite wide, CLEAN files stay as written and up-cast on read
    — the additive-evolution contract extended to element types. The
    post-merge aggregate only sums correctly if widening really
    happened (3e9 wraps negative in int32)."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").withColumn(
        "o_custkey", F.col("o_custkey").cast("int")
    )
    t = SortedTable.create(
        spark, _scratch("widen"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    muts = (
        o.filter(F.col("o_orderkey") < 100)
        .withColumn("o_custkey", F.lit(3_000_000_000).cast("long"))
        .withColumn("op", F.lit("UPSERT"))
    )
    merge_into_table(t, muts)
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_custkey").cast("long").alias("custkey_sum"),
    )


@query(
    "benchmark_containment_scores",
    """
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, g3 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS g3
        FROM tok WHERE len(t) >= 3
      )
    ),
    bench AS (SELECT DISTINCT g3 FROM grams WHERE doc_id % 10 = 0),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM grams
            WHERE doc_id % 10 <> 0 GROUP BY doc_id),
    hits AS (
      SELECT g.doc_id, count(*) AS n_shared
      FROM grams g JOIN bench b USING (g3)
      WHERE g.doc_id % 10 <> 0 GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
           round(coalesce(h.n_shared, 0)::DOUBLE / t.n_grams, 4) AS containment
    FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
    """,
    "llm", "contamination", "containment",
)
def benchmark_containment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED contamination (Lee et al. / GPT-3 appendix style): per
    training doc, the FRACTION of its distinct word-3-grams contained
    in the benchmark gram set — a containment score, not a boolean, so
    thresholds are a downstream policy choice. Plan: distinct-gram
    explode (one shuffle on (doc, gram)), benchmark side aggregated
    then broadcast into the hit join, two map-combining aggs."""
    from parquet_rewriter_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("t")).filter(F.size("t") >= 3)
    grams = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.concat_ws(" ", F.slice("t", i + 1, 3)),
            )
        ).alias("g3"),
    ).distinct()
    bench = grams.filter(F.col("doc_id") % 10 == 0).select("g3").distinct()
    train = grams.filter(F.col("doc_id") % 10 != 0)
    tot = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train.join(F.broadcast(bench), "g3")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return tot.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
        F.round(F.coalesce("n_shared", F.lit(0)) / F.col("n_grams"), 4).alias(
            "containment"
        ),
    )


@query(
    "order_value_quartile_buckets",
    """
    WITH b AS (
      SELECT round(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice), 2) AS q1,
             round(percentile_cont(0.50) WITHIN GROUP (ORDER BY o_totalprice), 2) AS q2,
             round(percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice), 2) AS q3
      FROM orders
    )
    SELECT CASE WHEN o_totalprice <= q1 THEN 0
                WHEN o_totalprice <= q2 THEN 1
                WHEN o_totalprice <= q3 THEN 2
                ELSE 3 END AS quartile,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders CROSS JOIN b
    GROUP BY 1
    """,
    "profile", "discretization", "quantile",
)
def order_value_quartile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile discretization (feature binning): EXACT interpolated
    quartile boundaries from one aggregation, broadcast back as a 1-row
    dimension, bucket by comparison — the standard two-pass binning
    shape (at 100 TB swap the exact percentile for percentile_approx
    and nothing else changes). Boundaries rounded to 2dp on both
    engines so the bucket edges are bit-identical."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 2).alias("q1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 2).alias("q2"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 2).alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(bucket.alias("quartile"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "replica_sync_scan",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
                          ELSE o_totalprice END), 2) AS total_price
    FROM orders
    WHERE o_orderkey % 10 <> 7
    GROUP BY o_orderstatus
    """,
    "mutation", "cdc", "replication", "exactly-once",
)
def replica_sync_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table replication over the CDC feed
    (operators/replicate.py): seed a replica from a snapshot, churn the
    SOURCE (upsert keys ≡3 with doubled price, delete keys ≡7), sync —
    the catch-up reads only churned source files and merges
    zone-map-pruned into the replica, bookmarked exactly-once by a
    (replica, src-version) txn watermark — then double-fire the sync to
    prove the replay no-ops. The aggregate runs on the REPLICA; the
    oracle replays the source mutations directly."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.replicate import replicate
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    src = SortedTable.create(
        spark, _scratch("repl_src"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    dst_path = _scratch("repl_dst")
    replicate(src, dst_path)

    ups = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("op", F.lit("UPSERT"))
    )
    dels = o.filter(F.col("o_orderkey") % 10 == 7).withColumn("op", F.lit("DELETE"))
    merge_into_table(src, ups.unionByName(dels))

    r = replicate(src, dst_path)
    assert r["mode"] == "incremental"
    r2 = replicate(src, dst_path)  # double-fire
    assert r2["mode"] == "noop"
    return (
        SortedTable(spark, dst_path)
        .read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "stream_matview_user_totals",
    """
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
    "streaming", "matview", "incremental", "exactly-once",
)
def stream_matview_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance end-to-end
    (streaming/ops.py:stream_maintain_aggregate): a third of the events
    seed a SortedTable with a per-user count/sum view built on it; the
    FULL event stream then flows through foreachBatch — each
    micro-batch merges into the base (txn-watermarked exactly-once) and
    folds ONLY that commit's signed CDC deltas into the view. The final
    view must equal the one-shot GROUP BY over all events, which is
    exactly the oracle."""
    import tempfile
    import uuid as _uuid

    from parquet_rewriter_spark.operators.matview import MaterializedAggregate
    from parquet_rewriter_spark.streaming.ops import (
        stream_maintain_aggregate,
        stream_table,
    )
    from parquet_rewriter_spark.sources.readers import normalize_events_ts
    from parquet_rewriter_spark.table import SortedTable

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = ev.filter(F.col("event_id") % 3 == 0)
    tbl = SortedTable.create(
        spark, _scratch("smv_base"), base, key="event_id",
        max_records_per_file=_scaled_mrpf(ev),
    )
    mv = MaterializedAggregate(
        tbl,
        _scratch("smv_view"),
        group_col="user_id",
        aggs={"n_events": ("count",), "total_value": ("sum", "value")},
    )
    mv.build()
    stream = normalize_events_ts(stream_table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "value"
    )
    ckpt = tempfile.mkdtemp(prefix=f"smv_ckpt_{_uuid.uuid4().hex[:8]}_")
    stream_maintain_aggregate(stream, mv, checkpoint_dir=ckpt, timeout_s=240)
    return mv.read().select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 2).alias("total_value"),
    )


@query(
    "stream_csv_ingest_counts",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
    "streaming", "sources", "csv",
)
def stream_csv_ingest_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source streaming from CSV (the landing-zone ingest shape):
    orders written as a 3-file CSV drop-zone, streamed with a pinned
    schema (inference on a stream is impossible, and on a landing zone
    it is a full pre-scan), drained with AvailableNow through a
    complete-mode aggregation — equal to the batch GROUP BY, which is
    the oracle. Same pattern as the parquet streams; only the source
    format changes."""
    from parquet_rewriter_spark.streaming.ops import run_to_memory

    o = _t(spark, sf_dir, "orders")
    path = _scratch("csv_stream_orders")
    o.repartition(3).write.option("header", True).csv(path)
    stream = (
        spark.readStream.schema(o.schema)
        .option("header", True)
        .option("maxFilesPerTrigger", "1")
        .csv(path)
    )
    agg = stream.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    return run_to_memory(agg, output_mode="complete")


@query(
    "stream_user_value_ewma",
    """
    WITH seq AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           round(sum(CASE WHEN rn = 1 THEN value * pow(0.7, n - 1)
                          ELSE 0.3 * value * pow(0.7, n - rn) END), 4) AS ewma
    FROM seq GROUP BY user_id
    """,
    "streaming", "stateful", "ewma", "order-sensitive",
)
def stream_user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE custom streaming state (streaming/ops.py:
    user_value_ewma): per-user EWMA folded in event-time order across
    micro-batches — running totals commute, EWMA does not, so this pins
    that the state pipeline preserves order. The oracle is the EWMA
    closed form (x_1·(1-α)^(n-1) + Σ α·(1-α)^(n-i)·x_i) as one window +
    one aggregation."""
    from parquet_rewriter_spark.streaming.ops import (
        run_to_memory,
        stream_events,
        user_value_ewma,
    )

    ev = stream_events(spark, sf_dir)
    return run_to_memory(user_value_ewma(ev, alpha=0.3), output_mode="update")


@query(
    "weekly_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(CAST(ts AS TIMESTAMP))) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id,
             date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS act_week
      FROM events e
    )
    SELECT f.cohort_week,
           CAST(date_diff('week', f.cohort_week, a.act_week) AS BIGINT) AS week_offset,
           count(DISTINCT a.user_id) AS n_active
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY f.cohort_week, date_diff('week', f.cohort_week, a.act_week)
    """,
    "analytics", "retention", "cohort",
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics shape:
    users bucketed by first-seen week, activity counted per (cohort,
    week offset). Two aggregations share one hash exchange on user_id
    (first-week agg and the distinct-activity dedup both key on it);
    the final (cohort, offset) rollup is a second, tiny exchange. The
    first-week relation stays broadcast-size (one row per user) at any
    event volume."""
    ev = _t(spark, sf_dir, "events").select("user_id", F.date_trunc("week", "ts").alias("w"))
    firsts = ev.groupBy("user_id").agg(F.min("w").alias("cohort_week"))
    activity = ev.distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(
                (F.unix_micros("w") - F.unix_micros("cohort_week"))
                / (7 * 24 * 3600 * 1_000_000)
            ).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "per_source_sample_k",
    """
    SELECT source, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ((doc_id % 2147483648) * 2654435761 + 99) % 4294967296, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 20
    """,
    "sampling", "reservoir", "per-group",
)
def per_source_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-group sampling (the fixed-budget companion to the
    fraction-based stratified_sample): rank by a deterministic portable
    hash within each group, keep the k lowest — rerun-stable on any
    partitioning, no RNG, one hash exchange on the group key (vs true
    reservoir sampling's sequential pass, which doesn't distribute).
    k=20 docs per source."""
    from parquet_rewriter_spark.operators.sampling import portable_unit

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(portable_unit("doc_id", salt=99), "doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("source", "doc_id", "n_chars")
    )


@query(
    "order_price_mad_outliers",
    """
    WITH med AS (
      SELECT o_orderstatus,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS med
      FROM orders GROUP BY o_orderstatus
    ),
    mad AS (
      SELECT o.o_orderstatus,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(o.o_totalprice - m.med)) AS mad,
             max(m.med) AS med
      FROM orders o JOIN med m USING (o_orderstatus)
      GROUP BY o.o_orderstatus
    )
    SELECT o.o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN abs(o.o_totalprice - m.med) > 5 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(max(m.med), 2) AS median_price,
           round(max(m.mad), 2) AS mad_price
    FROM orders o JOIN mad m USING (o_orderstatus)
    GROUP BY o.o_orderstatus
    """,
    "profile", "outliers", "robust-stats",
)
def order_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median absolute deviation
    (two exact-median passes — median, then median of |x - median| —
    each one agg with the 1-row-per-group result broadcast back into
    the join), flagging rows beyond 5·MAD. The classic robust
    alternative to z-scores when the tail itself corrupts the mean.
    At scale, swap exact medians for percentile_approx unchanged."""
    o = _t(spark, sf_dir, "orders")
    med = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    mad = (
        o.join(F.broadcast(med), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(abs(o_totalprice - med), 0.5)").alias("mad"),
            F.max("med").alias("med"),
        )
    )
    j = o.join(F.broadcast(mad), "o_orderstatus")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.abs(F.col("o_totalprice") - F.col("med")) > 5 * F.col("mad"), 1)
            .otherwise(0)
        ).cast("long").alias("n_outliers"),
        F.round(F.max("med"), 2).alias("median_price"),
        F.round(F.max("mad"), 2).alias("mad_price"),
    )


@query(
    "suppliers_covering_brand",
    """
    SELECT s.s_suppkey, s.s_name FROM supplier s
    WHERE NOT EXISTS (
      SELECT 1 FROM part p
      WHERE p.p_brand = 'Brand#1'
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_suppkey = s.s_suppkey AND l.l_partkey = p.p_partkey
        )
    )
    """,
    "relational-division", "subquery", "join",
)
def suppliers_covering_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION (the textbook double-NOT-EXISTS): suppliers
    that have shipped EVERY part of Brand#1. Decorrelated Spark shape:
    count the distinct brand parts each supplier ships (one semi-joined
    agg after a broadcast of the brand's part list) and compare with
    the brand's total — the division collapses to two aggregates and
    one broadcast, no correlated per-supplier probing."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    sup = _t(spark, sf_dir, "supplier")
    total = p.select(F.countDistinct("p_partkey").alias("n_total"))
    per_supp = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_partkey").alias("n_parts"))
    )
    covering = per_supp.crossJoin(F.broadcast(total)).filter(
        F.col("n_parts") == F.col("n_total")
    )
    return (
        sup.join(covering, sup.s_suppkey == covering.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@query(
    "metadata_only_table_stats",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderkey) AS BIGINT) AS key_min,
           CAST(max(o_orderkey) AS BIGINT) AS key_max,
           round(min(o_totalprice), 2) AS price_min,
           round(max(o_totalprice), 2) AS price_max,
           TRUE AS metadata_only
    FROM orders
    WHERE o_custkey <> 421
    """,
    "storage", "metadata", "manifest", "fast-path",
)
def metadata_only_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(*)/min/max answered FROM THE MANIFEST — zero file opens,
    zero Spark jobs (operators/metadata_agg.py; the Iceberg/Delta
    metadata-aggregate fast path). The table is first mutated (CoW
    predicate delete) so the answer proves the manifest's per-file row
    counts and zone maps stay EXACT through the rewrite path — the
    oracle replays the same delete as a WHERE clause over raw orders.
    At 100 TB this path is a driver-side dict fold over manifest
    entries vs a million-footer scan. Exactness is asserted, not
    assumed: the operator flags DV snapshots as bounds-inexact and
    this query would raise rather than return a guessed answer."""
    from parquet_rewriter_spark.operators.merge import delete_where
    from parquet_rewriter_spark.operators.metadata_agg import metadata_aggregate
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("metadata_agg"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o), stats_cols=["o_totalprice"],
    )
    delete_where(t, F.col("o_custkey") == 421)
    agg = metadata_aggregate(t)
    assert agg["metadata_only"] and agg["rows_exact"] and agg["bounds_exact"]
    price = agg["columns"]["o_totalprice"]
    row = [(
        int(agg["rows"]),
        int(agg["key"]["min"]),
        int(agg["key"]["max"]),
        round(float(price["min"]), 2),
        round(float(price["max"]), 2),
        True,
    )]
    return spark.createDataFrame(
        row,
        "n_rows long, key_min long, key_max long, "
        "price_min double, price_max double, metadata_only boolean",
    )


@query(
    "dpp_partitioned_join",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE quarter(o_orderdate) = 2
    GROUP BY 1
    """,
    "partitioning", "pruning", "dpp", "join",
)
def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: orders written partitioned by month,
    joined to a month-dimension filtered on a NON-partition attribute
    (quarter) — so which fact partitions survive is only knowable at
    runtime. Catalyst broadcasts the dim and injects a
    dynamicpruningexpression into the fact scan's PartitionFilters
    (pinned in test_plans.py): the fact side reads ~1/4 of its
    partitions without any static predicate. This is the star-schema
    scan pattern at 100 TB — the date dim names the partitions, the
    engine prunes the fact before reading it. The dim join is 1:1 per
    month, so the oracle collapses to a plain WHERE quarter filter."""
    o = _t(spark, sf_dir, "orders")
    fact = o.withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
    fact_path = _scratch("dpp_fact")
    (
        fact.repartition("order_month")  # one file per partition dir
        .write.mode("overwrite").partitionBy("order_month").parquet(fact_path)
    )
    dim = fact.select(
        "order_month", F.quarter("o_orderdate").cast("long").alias("order_quarter")
    ).distinct()
    dim_path = _scratch("dpp_dim")
    dim.write.mode("overwrite").parquet(dim_path)

    f = spark.read.parquet(fact_path)
    d = spark.read.parquet(dim_path).filter(F.col("order_quarter") == 2)
    return (
        f.join(F.broadcast(d), "order_month")
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@query(
    "partition_evolution_scan",
    """
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE user_id = 3
      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-04 00:00:00'
      AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-12 00:00:00'
    GROUP BY event_type
    """,
    "partitioning", "pruning", "hidden-partitioning", "evolution",
)
def partition_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION (Iceberg's marquee layout feature):
    events before Jan 8 are written partitioned by day(ts) only; the
    spec then evolves to day(ts) x bucket(user_id, 8) and the rest is
    appended under the new layout — not one old byte rewritten
    (asserted in test_partitioning.py). The query window straddles the
    boundary: each epoch's scan prunes under ITS OWN spec (old dirs by
    day; new dirs by day x bucket) and the union is indistinguishable
    from a plain filter over the original events — which is exactly
    what the oracle runs. At 100 TB this is the difference between a
    sidecar swap and a multi-day re-partitioning rewrite when a table's
    access pattern shifts."""
    import datetime as dt

    from parquet_rewriter_spark.sources.partitioning import (
        append_hidden_partitioned,
        evolve_partition_spec,
        read_hidden_partitioned,
        write_hidden_partitioned,
    )

    ev = _t(spark, sf_dir, "events")
    cutoff = dt.datetime(2024, 1, 8)
    path = _scratch("partition_evolution")
    write_hidden_partitioned(ev.filter(F.col("ts") < cutoff), path, [("day", "ts")])
    evolve_partition_spec(path, [("day", "ts"), ("bucket", "user_id", 8)])
    append_hidden_partitioned(ev.filter(F.col("ts") >= cutoff), path)

    lo, hi = dt.datetime(2024, 1, 4), dt.datetime(2024, 1, 12)
    df = read_hidden_partitioned(
        spark, path, eq={"user_id": 3}, ranges={"ts": (lo, hi)}
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "tagged_snapshot_scan",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    "storage", "time-travel", "refs", "vacuum",
)
def tagged_snapshot_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named snapshot refs (Iceberg-style tags) as a RETENTION promise:
    the freshly-created table is tagged ``train-v1``, a third of its
    customers are then deleted, and vacuum(retain_versions=1) GCs
    history — yet the tagged snapshot and its files survive the sweep
    (vacuum pins every tagged version), so ``read("train-v1")``
    reproduces the exact pre-delete input. The oracle aggregates raw
    orders: only if the tag really pinned the old files through both
    the delete and the GC do the numbers match. The query also asserts
    the UNTAGGED intermediate is actually gone — retention must be the
    tag's doing, not vacuum being lazy."""
    from parquet_rewriter_spark.operators.merge import delete_where
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("tagged_snap"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    t.tag("train-v1")
    delete_where(t, F.col("o_custkey") % 3 == 0)
    delete_where(t, F.col("o_custkey") % 3 == 1)  # an untagged intermediate
    t.vacuum(retain_versions=1)
    kept = t.versions()
    assert len(kept) == 2, kept  # tagged + current only — middle GC'd
    assert t.resolve_ref("train-v1") == kept[0]
    return t.read("train-v1").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


_COV_TRACE_SQL = " + ".join(f"var_pop(embedding[{i}])" for i in range(1, 65))


@query(
    "embedding_covariance_probe",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round({_COV_TRACE_SQL}, 4) AS trace,
           round(10000 * var_pop(embedding[1]), 2) AS var_1,
           round(10000 * var_pop(embedding[6]), 2) AS var_6,
           round(10000 * covar_pop(embedding[1], embedding[2]), 2) AS cov_1_2,
           round(10000 * covar_pop(embedding[11], embedding[21]), 2) AS cov_11_21
    FROM embeddings
    """,
    "embeddings", "pca", "statistics", "sufficient-stats",
)
def embedding_covariance_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d×d covariance of the embedding corpus from ONE pass of
    per-partition sufficient statistics (operators/pca.py): each task
    reduces its rows to (n, Σx, ΣxxT) with a single BLAS matmul, the
    driver sums one 33 KB triple per partition and closes the form.
    The oracle recomputes the probed entries cell-by-cell in DuckDB
    (var_pop/covar_pop over 1-indexed list elements, trace as the sum
    of all 64 variances) — matching proves the distributed sums are
    the algebraic covariance, not an approximation. This matrix is the
    input to the PCA projection (embedding_pca_projection); covariances
    are scaled ×10⁴ before rounding because their natural magnitude
    (~1e-4) sits below the 2-decimal comparison grid."""
    import numpy as np

    from parquet_rewriter_spark.operators.pca import covariance_stats

    df = _t(spark, sf_dir, "embeddings")
    n, _, cov = covariance_stats(df)
    row = [(
        int(n),
        round(float(np.trace(cov)), 4),
        round(float(cov[0, 0]) * 10000, 2),
        round(float(cov[5, 5]) * 10000, 2),
        round(float(cov[0, 1]) * 10000, 2),
        round(float(cov[10, 20]) * 10000, 2),
    )]
    return spark.createDataFrame(
        row,
        "n_vectors long, trace double, var_1 double, var_6 double, "
        "cov_1_2 double, cov_11_21 double",
    )


@query(
    "embedding_pca_projection",
    """
    SELECT unnest([1, 2, 3, 4]) AS component,
           TRUE AS var_matches_eigenvalue,
           TRUE AS centered,
           TRUE AS orthogonal
    """,
    "embeddings", "pca", "projection", "dimensionality-reduction",
)
def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project every embedding onto the top-4 principal axes: covariance
    in one sufficient-statistics pass, d×d eigh on the driver, then a
    map-only broadcast matmul back over the rows (no shuffle, no second
    aggregate). The eigendecomposition itself is not SQL-replayable, so
    the oracle pins PCA's DEFINING invariants, each computed
    distributed over the actual projections (computed-boolean
    discipline): per component, the projection's population variance
    equals its eigenvalue (rtol 1e-6), the projection is centered, and
    it is uncorrelated with every other component. Exact-vs-numpy
    row-level equality stays pinned in tests/test_pca.py."""
    import math

    from parquet_rewriter_spark.operators.pca import pca_components, pca_project

    df = _t(spark, sf_dir, "embeddings")
    k = 4
    vals, _comps, _mean, _total = pca_components(df, k)
    proj = pca_project(df, k)
    aggs = []
    for i in range(k):
        p = F.element_at("pca", i + 1)
        aggs += [F.avg(p * p).alias(f"s2_{i}"), F.avg(p).alias(f"m_{i}")]
        for j in range(i + 1, k):
            aggs.append(
                F.avg(p * F.element_at("pca", j + 1)).alias(f"x_{i}_{j}")
            )
    row = proj.agg(*aggs).first()
    out = []
    for i in range(k):
        m_i = row[f"m_{i}"]
        var = row[f"s2_{i}"] - m_i * m_i
        scale = max(float(vals[i]), 1e-12)
        ortho = all(
            abs(row[f"x_{min(i, j)}_{max(i, j)}"] - m_i * row[f"m_{j}"])
            <= 1e-6 * math.sqrt(scale * max(float(vals[j]), 1e-12))
            for j in range(k)
            if j != i
        )
        out.append(
            (
                i + 1,
                bool(abs(var - float(vals[i])) <= 1e-6 * scale),
                bool(abs(m_i) <= 1e-6 * math.sqrt(scale)),
                bool(ortho),
            )
        )
    return spark.createDataFrame(
        out,
        "component long, var_matches_eigenvalue boolean, "
        "centered boolean, orthogonal boolean",
    )


@query(
    "symlink_manifest_export_scan",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_custkey % 5 <> 0
    GROUP BY o_orderstatus
    """,
    "storage", "interop", "export", "manifest",
)
def symlink_manifest_export_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interop escape hatch (operators/interop.py): after a CoW delete,
    the snapshot is published as a Hive-style symlink manifest — the
    exact file list an engine that can't speak our manifest protocol
    (Presto/Athena SymlinkTextInputFormat) would read. The returned
    aggregate is computed the way THAT engine would: raw parquet over
    the listed paths, no native reader involved — matching the oracle
    proves the listing is exactly the committed snapshot (no orphan
    staging files leaked in, no live file missed). Snapshots that can't
    be represented as plain files (deletion vectors, renames) refuse to
    export rather than publish wrong data."""
    from parquet_rewriter_spark.operators.interop import (
        read_symlink_manifest,
        write_symlink_manifest,
    )
    from parquet_rewriter_spark.operators.merge import delete_where
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("symlink_export"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    delete_where(t, F.col("o_custkey") % 5 == 0)
    info = write_symlink_manifest(t)
    ext = read_symlink_manifest(spark, t.path)
    assert info["rows"] == t.stats()["rows"]
    return ext.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "incremental_embedding_covariance",
    f"""
    WITH cur AS (
      SELECT CASE WHEN vec_id < 50
                  THEN list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
                  ELSE embedding END AS embedding
      FROM embeddings
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round({_COV_TRACE_SQL}, 4) AS trace,
           round(10000 * var_pop(embedding[1]), 2) AS var_1,
           round(10000 * covar_pop(embedding[1], embedding[2]), 2) AS cov_1_2
    FROM cur
    """,
    "embeddings", "pca", "incremental", "sufficient-stats", "sidecar",
)
def incremental_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT covariance maintained incrementally (operators/covstats.py):
    every immutable data file carries its sufficient-statistic triple
    (n, Σx, ΣxxT) in a sidecar — triples are additive, so the corpus
    covariance is a driver-side sum over live files' kilobyte rows, no
    scan. After a merge doubles the first 50 vectors, the refresh
    re-computes ONLY the rewritten files' triples (asserted: churn <
    table) and the summed answer must match DuckDB's full recompute
    over the mutated corpus — churn-proportional upkeep with zero
    approximation, the matview idea applied to second moments."""
    import numpy as np

    from parquet_rewriter_spark.operators.covstats import (
        build_covariance_stats,
        covariance_from_stats,
    )
    from parquet_rewriter_spark.operators.merge import (
        OP_COLUMN,
        OP_UPSERT,
        merge_into_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    emb = _t(spark, sf_dir, "embeddings")
    t = SortedTable.create(
        spark, _scratch("inc_cov"), emb, key="vec_id",
        max_records_per_file=_scaled_mrpf(emb),
    )
    build_covariance_stats(t, "embedding")
    total = len(t.manifest().files)

    mut = (
        t.read()
        .filter(F.col("vec_id") < 50)
        .withColumn(
            "embedding", F.expr("transform(embedding, x -> CAST(x * 2 AS FLOAT))")
        )
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    merge_into_table(t, mut)
    rebuilt = build_covariance_stats(t, "embedding")
    assert rebuilt < total, (rebuilt, total)  # churn, not the table

    n, _, cov = covariance_from_stats(t, "embedding")
    row = [(
        int(n),
        round(float(np.trace(cov)), 4),
        round(float(cov[0, 0]) * 10000, 2),
        round(float(cov[0, 1]) * 10000, 2),
    )]
    return spark.createDataFrame(
        row, "n_vectors long, trace double, var_1 double, cov_1_2 double"
    )


@query(
    "embedding_mahalanobis_mean",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(64.0 AS DOUBLE) AS mean_m2
    FROM embeddings
    """,
    "embeddings", "outliers", "mahalanobis", "pca",
)
def embedding_mahalanobis_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mahalanobis outlier scores for every embedding (map-only scoring
    against the one-pass population moments, operators/pca.py). The
    oracle pins a mathematical identity, not a tautology: for ANY data,
    the population average of (x−μ)ᵀΣ⁻¹(x−μ) is exactly d (= 64, the
    embedding dimension) — trace(Σ⁻¹Σ). Spark must reproduce 64.0000 at
    4 decimals, which simultaneously checks the distributed moment
    sums, the eigendecomposition-based inverse, and the whitened
    scoring pass. The scores themselves are the corpus outlier screen
    (large m² = far from the corpus in decorrelated units)."""
    from parquet_rewriter_spark.operators.pca import mahalanobis_scores

    df = _t(spark, sf_dir, "embeddings")
    out = mahalanobis_scores(df)
    return out.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(F.avg("m2"), 4).alias("mean_m2"),
    )


@query(
    "column_purge_scan",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(CASE WHEN o_orderkey < 100 THEN o_totalprice + 1
                          ELSE o_totalprice END), 2) AS total_price,
           TRUE AS purged_everywhere
    FROM orders
    GROUP BY o_orderstatus
    """,
    "storage", "ddl", "purge", "gdpr",
)
def column_purge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level erasure end-to-end: DROP COLUMN is metadata-only
    (bytes stay — 'not projected' is not 'gone'), so purge_columns
    (operators/compact.py) rewrites exactly the live files whose
    physical schema still carries the dropped column; files a post-drop
    merge already wrote clean pass through by name. The proof rides the
    result: every live file's parquet footer is checked for the purged
    column and folded into ``purged_everywhere`` (a single surviving
    byte flips the hash), while the aggregate must still match the
    oracle's replay of the merge — erasure without collateral damage."""
    import pyarrow.parquet as pq

    from parquet_rewriter_spark.operators.compact import purge_columns
    from parquet_rewriter_spark.operators.merge import (
        OP_COLUMN,
        OP_UPSERT,
        merge_into_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("col_purge"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    t.drop_column("o_orderpriority")
    mut = (
        t.read().filter(F.col("o_orderkey") < 100)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .withColumn(OP_COLUMN, F.lit(OP_UPSERT))
    )
    merge_into_table(t, mut)
    res = purge_columns(t)
    assert res["files_rewritten"] > 0
    purged = all(
        "o_orderpriority"
        not in pq.ParquetFile(os.path.join(t.path, e.name)).schema_arrow.names
        for e in t.manifest().files
    )
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.lit(purged).alias("purged_everywhere"),
    )


@query(
    "hyperplane_lsh_portable_pairs",
    """
    WITH planes AS (
      SELECT j, i,
             (('0x' || substr(md5('hp' || j || '_' || i), 1, 15))::BIGINT % 2001 - 1000) AS w
      FROM range(0, 16) p(j), range(1, 65) d(i)
    ),
    q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ),
    el AS (
      SELECT vec_id, d.i AS i, q[d.i] AS v FROM q, range(1, 65) d(i)
    ),
    bits AS (
      SELECT el.vec_id, p.j,
             CASE WHEN SUM(el.v * p.w) >= 0 THEN '1' ELSE '0' END AS b
      FROM el JOIN planes p ON p.i = el.i
      GROUP BY el.vec_id, p.j
    ),
    sigb AS (
      SELECT vec_id, j // 4 AS band, string_agg(b, '' ORDER BY j) AS sig
      FROM bits GROUP BY vec_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM sigb a JOIN sigb b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    ),
    norms AS (
      SELECT vec_id, SUM(v * v) AS nq FROM el GROUP BY vec_id
    ),
    dots AS (
      SELECT c.a_id, c.b_id, SUM(ea.v * eb.v) AS dot
      FROM cand c
      JOIN el ea ON ea.vec_id = c.a_id
      JOIN el eb ON eb.vec_id = c.b_id AND eb.i = ea.i
      GROUP BY c.a_id, c.b_id
    )
    SELECT d.a_id, d.b_id,
           round(CAST(d.dot AS DOUBLE) / (sqrt(na.nq) * sqrt(nb.nq)), 4) AS cos_sim
    FROM dots d
    JOIN norms na ON na.vec_id = d.a_id
    JOIN norms nb ON nb.vec_id = d.b_id
    WHERE round(CAST(d.dot AS DOUBLE) / (sqrt(na.nq) * sqrt(nb.nq)), 4) >= 0.45
    """,
    "embeddings", "lsh", "near-dup", "portable-oracle",
)
@_clean_query
def hyperplane_lsh_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane LSH over embeddings, fully SQL-replayable
    (operators/dedup.py:hyperplane_lsh_pairs_portable): md5-bridge
    plane weights + integer-quantized vectors make every signature bit,
    band bucket, candidate pair, and verified cosine EXACTLY
    reproducible in DuckDB — float reduction order can't flip a sign
    or a rounding boundary because all sums are commutative BIGINT
    arithmetic. This upgrades the embedding-LSH path to the same
    hash-compared oracle status the portable MinHash/SimHash twins
    have; the production path keeps float BLAS (faster), this twin is
    the correctness gate. Candidates come from a band-key self-join —
    never all-pairs — and the exact verify touches only candidates."""
    from parquet_rewriter_spark.operators.dedup import hyperplane_lsh_pairs_portable

    df = _t(spark, sf_dir, "embeddings")
    return hyperplane_lsh_pairs_portable(df, "vec_id", "embedding")


@query(
    "cms_selfjoin_size_events",
    """
    WITH f AS (
      SELECT user_id, count(*) AS c FROM events GROUP BY user_id
    ),
    exact AS (
      SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM f
    ),
    cells AS (
      SELECT j.j,
             ('0x' || substr(md5(CAST(e.user_id AS VARCHAR) || ':' ||
                                 CAST(j.j + 1 AS VARCHAR)), 1, 15))::BIGINT % 2048 AS bucket,
             count(*) AS cnt
      FROM events e, range(0, 4) j(j)
      GROUP BY j.j, bucket
    ),
    ip AS (
      SELECT j, sum(cnt * cnt) AS p FROM cells GROUP BY j
    ),
    est AS (
      SELECT CAST(min(p) AS BIGINT) AS est_f2 FROM ip
    )
    SELECT exact_f2, est_f2, TRUE AS upper_bound FROM exact, est
    """,
    "sketch", "countmin", "join-size", "planner", "F2",
)
def cms_selfjoin_size_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from sketches — the planner trick: the CMS
    inner product Σ_bucket cntA·cntB upper-bounds the equi-join size
    Σ_v f_A(v)·f_B(v), and the min over depth rows is the tightest such
    bound (operators/countmin.py:countmin_inner_product). Here A = B =
    events.user_id, so the estimated quantity is the second frequency
    moment F₂ — the self-join size a planner consults before picking a
    skew strategy. The portable md5-bridge hash makes every cell, every
    inner product, and therefore the exact estimate SQL-replayable: the
    oracle recomputes both the true F₂ and the sketch's estimate and
    they must agree with Spark's to the digit — a 2048×4-cell summary
    pricing a 10⁸-row self-join without scanning it twice."""
    from parquet_rewriter_spark.operators.countmin import (
        countmin_build,
        countmin_inner_product,
    )

    ev = _t(spark, sf_dir, "events").select("user_id")
    with cache_scope():
        sk = persist(countmin_build(ev, "user_id"))
        est = countmin_inner_product(sk, sk).first()["est"]
    exact = (
        ev.groupBy("user_id").count()
        .agg(F.sum(F.col("count") * F.col("count")).alias("f2"))
        .first()["f2"]
    )
    row = [(int(exact), int(est), bool(est >= exact))]
    return spark.createDataFrame(
        row, "exact_f2 long, est_f2 long, upper_bound boolean"
    )


@query(
    "update_where_scan",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(CASE WHEN o_custkey < 100 AND o_orderstatus = 'O'
                          THEN round(o_totalprice * 1.1, 2)
                          ELSE o_totalprice END), 2) AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    "mutation", "update", "storage", "pruning",
)
def update_where_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate UPDATE as a storage mutation (operators/merge.py:
    update_where — the triad's third leg beside upsert and
    delete_where): a 10% price adjustment for one segment runs as a
    victim scan with the predicate pushed into the parquet reader and a
    normal merge write — only victim-bearing files rewrite (the
    dirty-fraction contract). Key updates are refused (an upsert under
    a new key would duplicate, not move). The oracle replays the UPDATE
    as a CASE expression over raw orders."""
    from parquet_rewriter_spark.operators.merge import update_where
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("update_where"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    res = update_where(
        t,
        (F.col("o_custkey") < 100) & (F.col("o_orderstatus") == "O"),
        {"o_totalprice": F.round(F.col("o_totalprice") * 1.1, 2)},
    )
    assert res["files_dirty"] <= res["files_total"]
    return t.read().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "sort_order_evolution_scan",
    """
    WITH k AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             (o_orderkey - (o_orderkey % 4294967296))
               + (((o_orderkey % 4294967296) * 1327217885) % 4294967296)
               AS o_hashkey
      FROM orders
    ),
    mut AS (
      SELECT o_orderkey, o_hashkey, o_orderstatus,
             CASE WHEN o_orderkey % 1000 = 7 THEN 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM k WHERE o_orderkey % 997 <> 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           CAST(sum(CASE WHEN o_hashkey BETWEEN 0 AND 268435455
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range
    FROM mut GROUP BY o_orderstatus
    """,
    "storage", "lifecycle", "rekey", "sort-order", "mutation",
)
def sort_order_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORT-ORDER EVOLUTION (operators/rekey.py): the table is created
    keyed by o_orderkey, then re-keyed onto a derived unique column
    (Knuth-multiplicative bijection of the orderkey — deterministic and
    replayable in any ANSI engine) as a STAGED migration: three batched
    rewrite commits, readers live throughout, then the finalize flip.
    After the flip the table must behave as a first-class citizen of
    the NEW key: a merge (upserts + deletes) plans/prunes BY it, and a
    read_range over a 1/16th slice of the new key space is answered
    from a pruned file subset (asserted), with the old key surviving as
    a secondary zone-map column. The oracle replays derived key,
    mutations, and range arithmetic over raw orders — any row lost or
    doubled anywhere in the migration flips the hash."""
    from parquet_rewriter_spark.operators.merge import (
        OP_COLUMN,
        OP_DELETE,
        OP_UPSERT,
        merge_into_table,
    )
    from parquet_rewriter_spark.operators.rekey import rekey_table
    from parquet_rewriter_spark.table import SortedTable

    # Block-preserving multiplicative bijection on [0, 2^63): the odd
    # golden-ratio multiplier (round(2^31/phi)) permutes the LOW 32
    # bits with low-discrepancy scatter, the high bits pass through —
    # unique at every scale factor (no mod-2^32 collisions) and
    # overflow-free in int64 ((2^32-1)*1327217885 < 2^63-1), so Spark
    # and the ANSI oracle agree exactly. A bare k*KNUTH%2^32 would wrap
    # silently in Spark but raise in DuckDB for orderkeys > ~3.5e9.
    MULT, MOD = 1327217885, 4294967296
    lo = F.pmod(F.col("o_orderkey"), F.lit(MOD))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        ((F.col("o_orderkey") - lo)
         + F.pmod(lo * F.lit(MULT), F.lit(MOD))).alias("o_hashkey"),
        "o_orderstatus", "o_totalprice",
    )
    t = SortedTable.create(
        spark, _scratch("rekey"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 9),
    )
    n_files = len(t.manifest().files)
    steps = 0
    while not rekey_table(t, "o_hashkey",
                          batch_files=max(1, n_files // 3))["done"]:
        steps += 1
        assert t.manifest().key == "o_orderkey"  # readers still served
    assert steps >= 3 and t.manifest().key == "o_hashkey"

    muts = o.filter(F.col("o_orderkey") % 1000 == 7).withColumn(
        "o_totalprice", F.lit(1.0)
    ).unionByName(
        o.filter(F.col("o_orderkey") % 997 == 0)
    ).withColumn(
        OP_COLUMN,
        F.when(F.col("o_orderkey") % 997 == 0, F.lit(OP_DELETE))
        .otherwise(F.lit(OP_UPSERT)),
    )
    merge_into_table(t, muts)  # planned BY the new key

    hi = MOD // 16 - 1
    m = t.manifest()
    overlapping = [e for e in m.files if e.key_min <= hi]
    assert 0 < len(overlapping) < len(m.files)  # new-key pruning works
    rng = (
        t.read_range(0, hi)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_in_range"))
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .join(rng, "o_orderstatus", "left")
        .select(
            "o_orderstatus", "n_orders", "revenue",
            F.coalesce(F.col("n_in_range"), F.lit(0)).cast("long")
            .alias("n_in_range"),
        )
    )


@query(
    "rekey_inflight_read_scan",
    """
    WITH mut AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 500 = 3 THEN 0.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    ),
    agg AS (
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM mut GROUP BY o_orderstatus
    )
    SELECT 'mid' AS phase, * FROM agg
    UNION ALL
    SELECT 'done' AS phase, * FROM agg
    """,
    "storage", "lifecycle", "rekey", "sort-order", "read-consistency",
)
def rekey_inflight_read_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READ CONSISTENCY DURING SORT-ORDER MIGRATION (operators/rekey.py):
    mid-migration the manifest stays keyed by the OLD column and
    rewritten files carry correct old-key bounds, so readers and
    old-key merges keep working while batches land. The query rewrites
    HALF the files, lands a concurrent merge BY THE OLD KEY (zeroing
    0.2% of totals — the migration must pick those rewritten files up
    in a later batch), aggregates the table MID-FLIGHT, then finishes
    the migration and aggregates again after the key flip. Both phases
    must see identical logical rows — the oracle replays the mutation
    over raw orders once per phase; any row lost, doubled, or read from
    a stale pre-merge file in either phase flips the hash."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.rekey import rekey_table
    from parquet_rewriter_spark.table import SortedTable

    MULT, MOD = 1327217885, 4294967296  # bijection as in sort_order_evolution
    lo = F.pmod(F.col("o_orderkey"), F.lit(MOD))
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        ((F.col("o_orderkey") - lo)
         + F.pmod(lo * F.lit(MULT), F.lit(MOD))).alias("o_hashkey"),
        "o_orderstatus", "o_totalprice",
    )
    t = SortedTable.create(
        spark, _scratch("rekey_read"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 9),
    )
    half = max(1, len(t.manifest().files) // 2)
    rep = rekey_table(t, "o_hashkey", batch_files=half)
    assert not rep["done"] and t.manifest().key == "o_orderkey"

    muts = (
        o.filter(F.col("o_orderkey") % 500 == 3)
        .withColumn("o_totalprice", F.lit(0.0))
        .withColumn("op", F.lit("UPSERT"))
    )
    merge_into_table(t, muts, allow_splice=False)

    def snap_agg(phase: str) -> DataFrame:
        # read() pins the CURRENT manifest at call time; retired files
        # stay on disk until vacuum, so the mid-flight snapshot stays
        # collectable after later batches rewrite it
        return (
            t.read()
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            )
            .select(F.lit(phase).alias("phase"), "o_orderstatus",
                    "n_orders", "revenue")
        )

    mid = snap_agg("mid")
    while not rekey_table(t, "o_hashkey", batch_files=half)["done"]:
        pass
    assert t.manifest().key == "o_hashkey"
    return mid.unionByName(snap_agg("done"))


@query(
    "matjoin_orders_customer_scan",
    """
    WITH o2 AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey < 50 THEN round(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
    ),
    c2 AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey = 7 THEN 0.0 ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey <> 11
    )
    SELECT c_mktsegment,
           count(*) AS n_rows,
           round(sum(o_totalprice), 2) AS total_price,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM o2 JOIN c2 ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    "storage", "matview", "join", "incremental", "cdc",
)
def matjoin_orders_customer_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained DENORMALIZED JOIN (operators/matjoin.py)
    — the IVM decomposition ΔV = ΔF⋈D ∪ F⋈ΔD folded into one merge:
    after the full build, the fact side churns (segment price update +
    predicate delete) and the dim side churns (balance update + a
    customer DELETED, which must evict that customer's rows from the
    view, not just stop matching). One refresh reconciles both sides at
    churn cost — the view merge zone-map-prunes to touched fact keys —
    and the result must equal the oracle's from-scratch join over the
    mutated tables. The aggregate reads the VIEW only; a stale or
    double-applied row anywhere flips the hash."""
    from parquet_rewriter_spark.operators.matjoin import (
        create_join_view,
        refresh_join_view,
    )
    from parquet_rewriter_spark.operators.merge import delete_where, update_where
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    fact = SortedTable.create(
        spark, _scratch("mj_fact"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
        stats_cols=["o_custkey"],  # fk zone maps → dim-pass file pruning
    )
    dim = SortedTable.create(
        spark, _scratch("mj_dim"), c, key="c_custkey",
        max_records_per_file=_scaled_mrpf(c),
    )
    view = create_join_view(
        spark, _scratch("mj_view"), fact, dim, fk="o_custkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    update_where(fact, F.col("o_custkey") < 50,
                 {"o_totalprice": F.round(F.col("o_totalprice") * 1.1, 2)})
    delete_where(fact, F.col("o_orderkey") % 97 == 0)
    update_where(dim, F.col("c_custkey") == 7, {"c_acctbal": F.lit(0.0)})
    delete_where(dim, F.col("c_custkey") == 11)
    refresh_join_view(view, fact, dim)
    return view.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )


@query(
    "stream_matjoin_segment_totals",
    """
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    "streaming", "matview", "join", "incremental", "exactly-once",
)
def stream_matjoin_segment_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DENORMALIZATION end-to-end (streaming/ops.py:
    stream_maintain_join): a third of the events seed the fact table
    and its events⋈customer join view; the FULL stream then flows
    through foreachBatch — each micro-batch merges into the fact
    (txn-watermarked exactly-once) and the view reconciles just that
    commit's churn via the IVM passes (operators/matjoin.py). The final
    VIEW, aggregated by customer segment, must equal the one-shot join
    over all events — the oracle. A dropped batch, a double-applied
    replay, or a stale view row all flip the hash."""
    import tempfile
    import uuid as _uuid

    from parquet_rewriter_spark.operators.matjoin import create_join_view
    from parquet_rewriter_spark.sources.readers import normalize_events_ts
    from parquet_rewriter_spark.streaming.ops import (
        stream_maintain_join,
        stream_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    fact = SortedTable.create(
        spark, _scratch("smj_fact"), ev.filter(F.col("event_id") % 3 == 0),
        key="event_id", max_records_per_file=_scaled_mrpf(ev),
    )
    dim = SortedTable.create(
        spark, _scratch("smj_dim"), cust, key="c_custkey",
        max_records_per_file=_scaled_mrpf(cust),
    )
    view = create_join_view(
        spark, _scratch("smj_view"), fact, dim, fk="user_id",
        max_records_per_file=_scaled_mrpf(ev),
    )
    stream = normalize_events_ts(stream_table(spark, sf_dir, "events")).select(
        "event_id", "user_id", "value"
    )
    ckpt = tempfile.mkdtemp(prefix=f"smj_ckpt_{_uuid.uuid4().hex[:8]}_")
    stream_maintain_join(stream, fact, dim, view, checkpoint_dir=ckpt,
                         timeout_s=240)
    return view.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "backfill_column_scan",
    """
    SELECT CASE WHEN o_totalprice >= 100000 THEN 'high' ELSE 'low' END AS o_band,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1
    """,
    "storage", "ddl", "backfill", "schema-evolution",
)
def backfill_column_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy column materialization (operators/compact.py:
    backfill_column — purge's mirror): ADD COLUMN is metadata-only, and
    the values are then materialized in RESUMABLE batches — two bounded
    commits here, with the in-between state asserted (some files carry
    values, the rest null-fill, exactly the add_column contract).
    Progress lives in the files themselves (a footer either has the
    column or not), so a crashed backfill resumes with no bookkeeping
    to corrupt. At 100 TB this turns a hostile all-at-once rewrite into
    a sequence of small commits that merges and reads interleave with.
    The final aggregate groups by the MATERIALIZED column and must
    match the oracle computing the same expression on the fly."""
    from parquet_rewriter_spark.operators.compact import backfill_column
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("backfill"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    t.add_column("o_band", "string")
    band = F.when(F.col("o_totalprice") >= 100000, "high").otherwise("low")
    r1 = backfill_column(t, "o_band", band, batch_files=3)
    assert r1["files_rewritten"] == 3 and r1["files_remaining"] > 0
    partial_nulls = t.read().filter(F.col("o_band").isNull()).count()
    assert partial_nulls > 0  # the not-yet-reached files still null-fill
    r2 = backfill_column(t, "o_band", band)
    assert r2["files_remaining"] == 0
    return t.read().groupBy("o_band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "ann_portable_lsh_topk",
    """
    WITH planes AS (
      SELECT j, i,
             (('0x' || substr(md5('hp' || j || '_' || i), 1, 15))::BIGINT % 2001 - 1000) AS w
      FROM range(0, 16) p(j), range(1, 65) d(i)
    ),
    q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ),
    el AS (
      SELECT vec_id, d.i AS i, q[d.i] AS v FROM q, range(1, 65) d(i)
    ),
    bits AS (
      SELECT el.vec_id, p.j,
             CASE WHEN SUM(el.v * p.w) >= 0 THEN '1' ELSE '0' END AS b
      FROM el JOIN planes p ON p.i = el.i
      GROUP BY el.vec_id, p.j
    ),
    sigb AS (
      SELECT vec_id, j // 4 AS band, string_agg(b, '' ORDER BY j) AS sig
      FROM bits GROUP BY vec_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT p.vec_id AS query_id, o.vec_id AS neighbor_id
      FROM sigb p
      JOIN sigb o ON p.band = o.band AND p.sig = o.sig AND p.vec_id <> o.vec_id
      WHERE p.vec_id < 5
    ),
    norms AS (
      SELECT vec_id, SUM(v * v) AS nq FROM el GROUP BY vec_id
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id, SUM(ea.v * eb.v) AS dot
      FROM cand c
      JOIN el ea ON ea.vec_id = c.query_id
      JOIN el eb ON eb.vec_id = c.neighbor_id AND eb.i = ea.i
      GROUP BY c.query_id, c.neighbor_id
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             round(CAST(d.dot AS DOUBLE) / (sqrt(na.nq) * sqrt(nb.nq)), 4) AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
             ) AS BIGINT) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rnk FROM ranked WHERE rnk <= 3
    """,
    "embeddings", "ann", "lsh", "topk", "portable-oracle",
)
def ann_portable_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k with a hash-compared oracle — the first ANN entry that
    is NOT rows-only (operators/dedup.py:hyperplane_ann_topk_portable):
    five probe vectors retrieve candidates sharing ≥1 LSH band, ranked
    by the exact integer-quantized cosine with a total tiebreak. The
    candidate set is the approximation, the ranking inside it is exact,
    and BOTH are deterministic — so DuckDB replays the entire retrieval
    (signatures → band buckets → candidates → scores → ranks) and the
    driver hash-compares the top-k lists themselves. The production IVF
    /PQ paths stay float (faster); this twin is their correctness
    anchor. Probe side broadcasts; candidates come from a band-key
    equi-join, never corpus×probes."""
    from parquet_rewriter_spark.operators.dedup import hyperplane_ann_topk_portable

    df = _t(spark, sf_dir, "embeddings")
    return hyperplane_ann_topk_portable(df, probe_ids=[0, 1, 2, 3, 4], k=3)


@query(
    "stream_incremental_covariance",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           round({_COV_TRACE_SQL}, 4) AS trace,
           round(10000 * var_pop(embedding[1]), 2) AS var_1,
           round(10000 * covar_pop(embedding[1], embedding[2]), 2) AS cov_1_2
    FROM embeddings
    """,
    "streaming", "pca", "sufficient-stats", "incremental", "exactly-once",
)
def stream_incremental_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upkeep of the EXACT covariance sidecar (streaming/ops:
    stream_maintain_covstats): a third of the embeddings seed the
    table + its per-file sufficient-statistic triples; the full stream
    then flows through foreachBatch — each micro-batch merges
    exactly-once and re-triples ONLY the files that commit rewrote. The
    final metadata-summed covariance must equal DuckDB's full recompute
    over all embeddings: a skipped refresh, a double-counted triple, or
    a stale file's row anywhere flips the probed cells."""
    import tempfile
    import uuid as _uuid

    import numpy as np

    from parquet_rewriter_spark.operators.covstats import (
        build_covariance_stats,
        covariance_from_stats,
    )
    from parquet_rewriter_spark.streaming.ops import (
        stream_maintain_covstats,
        stream_table,
    )
    from parquet_rewriter_spark.table import SortedTable

    emb = _t(spark, sf_dir, "embeddings")
    t = SortedTable.create(
        spark, _scratch("scov"), emb.filter(F.col("vec_id") % 3 == 0),
        key="vec_id", max_records_per_file=_scaled_mrpf(emb),
    )
    build_covariance_stats(t, "embedding")
    stream = stream_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    ckpt = tempfile.mkdtemp(prefix=f"scov_ckpt_{_uuid.uuid4().hex[:8]}_")
    stream_maintain_covstats(stream, t, "embedding", checkpoint_dir=ckpt,
                             timeout_s=240)
    n, _, cov = covariance_from_stats(t, "embedding")
    row = [(
        int(n),
        round(float(np.trace(cov)), 4),
        round(float(cov[0, 0]) * 10000, 2),
        round(float(cov[0, 1]) * 10000, 2),
    )]
    return spark.createDataFrame(
        row, "n_vectors long, trace double, var_1 double, cov_1_2 double"
    )


@query(
    "metadata_tables_scan",
    """
    SELECT CAST(count(*) AS BIGINT) AS live_rows,
           CAST(2 AS BIGINT) AS n_versions,
           TRUE AS inventory_consistent
    FROM orders
    WHERE o_custkey <> 421
    """,
    "storage", "metadata", "introspection",
)
def metadata_tables_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryable metadata tables (table.py:files_df/history_df — the
    Iceberg ``.files`` / DESCRIBE HISTORY surface): after a create and
    a predicate delete, the file inventory's live-row fold
    (Σ rows − dv_rows) must equal both the actual scan AND the oracle's
    WHERE-clause count, and the commit log must show exactly the two
    lifecycle commits. ``inventory_consistent`` folds the
    metadata-vs-scan comparison into the hash — a manifest row drifting
    from its file's true contents flips it."""
    from parquet_rewriter_spark.operators.merge import delete_where
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders")
    t = SortedTable.create(
        spark, _scratch("meta_tables"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o),
    )
    delete_where(t, F.col("o_custkey") == 421)

    fdf = t.files_df()
    live = fdf.agg(F.sum(F.col("rows") - F.col("dv_rows"))).first()[0]
    consistent = (
        live == t.read().count()
        and fdf.count() == len(t.manifest().files)
        and [r["version"] for r in t.history_df().orderBy("version").collect()]
        == t.versions()
    )
    n_versions = len(t.versions())
    return spark.createDataFrame(
        [(int(live), int(n_versions), bool(consistent))],
        "live_rows long, n_versions long, inventory_consistent boolean",
    )


@query(
    "refs_metadata_scan",
    """
    SELECT 'exp' AS name, 'branch' AS kind, CAST(1 AS BIGINT) AS version,
           CAST(1 AS BIGINT) AS branch_commits,
           TRUE AS read_through_refs_consistent
    UNION ALL
    SELECT 'train-v1', 'tag', CAST(1 AS BIGINT), CAST(NULL AS BIGINT), TRUE
    ORDER BY name
    """,
    "storage", "metadata", "refs", "introspection",
)
def refs_metadata_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``.refs`` metadata table (table.py:refs_df — Iceberg's refs
    surface): after a commit, a tag on it, a branch forked from it, and
    one branch commit, the relation must list exactly those two refs
    with their pinned/fork versions and the branch's commit count; the
    folded boolean additionally proves reading THROUGH each ref
    (read(tag), branch read) sees the right row counts."""
    from parquet_rewriter_spark.operators.branch import (
        create_branch, delete_branch, get_branch,
    )
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.table import SortedTable

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    t = SortedTable.create(
        spark, _scratch("refs_meta"), o, key="o_orderkey",
        max_records_per_file=_scaled_mrpf(o, 8),
    )
    n0 = o.count()
    merge_into_table(  # v1: one insert
        t,
        o.limit(1).withColumn("o_orderkey", F.lit(-1).cast("long"))
        .withColumn("op", F.lit("UPSERT")),
    )
    t.tag("train-v1")
    create_branch(t, "exp")
    merge_into_table(  # one branch commit: another insert
        get_branch(t, "exp"),
        o.limit(1).withColumn("o_orderkey", F.lit(-2).cast("long"))
        .withColumn("op", F.lit("UPSERT")),
    )
    consistent = (
        t.read("train-v1").count() == n0 + 1
        and get_branch(t, "exp").read().count() == n0 + 2
        and t.read().count() == n0 + 1  # main untouched by the branch
    )
    out = t.refs_df().withColumn(
        "read_through_refs_consistent", F.lit(bool(consistent))
    )
    delete_branch(t, "exp")
    return out.orderBy("name")


# ------------------------------------------------- round 8: hybrid search /
# retrieval evaluation / int8 quantization / sketch algebra / data-mix ops

@query(
    "hybrid_rrf_search",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    toks_ne AS (SELECT * FROM toks WHERE term <> ''),
    lens AS (SELECT doc_id, count(*) AS dl FROM toks_ne GROUP BY doc_id),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM lens),
    post AS (
      SELECT term, doc_id, count(*) AS tf FROM toks_ne
      WHERE term IN ('join', 'window', 'scan') GROUP BY term, doc_id
    ),
    dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY term),
    bm_scores AS (
      SELECT p.doc_id,
             round(sum(
               ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * p.tf * (1.0 + 1.2)
               / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avg_dl))
             ), 4) AS score
      FROM post p JOIN dfs d USING (term) JOIN lens l USING (doc_id), stats s
      GROUP BY p.doc_id
    ),
    bm_ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS bm25_rank
      FROM bm_scores QUALIFY bm25_rank <= 25
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.v)
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(q.v, q.v))), 4) AS cos_sim
      FROM embeddings e, q
    ),
    vec_ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS vec_rank
      FROM cos QUALIFY vec_rank <= 25
    ),
    fused AS (
      SELECT coalesce(b.doc_id, v.doc_id) AS doc_id, b.bm25_rank, v.vec_rank,
             round(coalesce(1.0 / (60.0 + b.bm25_rank), 0.0)
                   + coalesce(1.0 / (60.0 + v.vec_rank), 0.0), 6) AS rrf
      FROM bm_ranked b FULL JOIN vec_ranked v ON b.doc_id = v.doc_id
    )
    SELECT doc_id, bm25_rank, vec_rank, rrf,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
    FROM fused QUALIFY rank <= 10
    """,
    "search", "hybrid", "rrf", "similarity",
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    (operators/search.py:hybrid_rrf_topk): BM25 over the text and exact
    cosine over the embedding column run independently — each in its
    own scale shape (postings semi-join / top-k heap) — and the fusion
    scores 1/(60+rank) sums over the two top-25 lists, a ≤50-row full
    outer join. Both per-ranker ranks are total-order deterministic
    (rounded score desc, id), so DuckDB replays the ENTIRE hybrid
    pipeline — postings, idf, ranks, fusion, final top-10 — and the
    driver hash-compares the fused ranking itself."""
    from parquet_rewriter_spark.operators.search import hybrid_rrf_topk

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return hybrid_rrf_topk(
        d, e, "doc_id", "text", "vec_id", "embedding",
        _BM25_TERMS, qv, k=10, n_cand=25, k0=60,
    )


_PORTABLE_LSH_CTES = """
    planes AS (
      SELECT j, i,
             (('0x' || substr(md5('hp' || j || '_' || i), 1, 15))::BIGINT % 2001 - 1000) AS w
      FROM range(0, 16) p(j), range(1, 65) d(i)
    ),
    q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
      FROM embeddings
    ),
    el AS (
      SELECT vec_id, d.i AS i, q[d.i] AS v FROM q, range(1, 65) d(i)
    ),
    bits AS (
      SELECT el.vec_id, p.j,
             CASE WHEN SUM(el.v * p.w) >= 0 THEN '1' ELSE '0' END AS b
      FROM el JOIN planes p ON p.i = el.i
      GROUP BY el.vec_id, p.j
    ),
    sigb AS (
      SELECT vec_id, j // 4 AS band, string_agg(b, '' ORDER BY j) AS sig
      FROM bits GROUP BY vec_id, j // 4
    ),
    cand AS (
      SELECT DISTINCT p.vec_id AS query_id, o.vec_id AS neighbor_id
      FROM sigb p
      JOIN sigb o ON p.band = o.band AND p.sig = o.sig AND p.vec_id <> o.vec_id
      WHERE p.vec_id < 5
    ),
    norms AS (
      SELECT vec_id, SUM(v * v) AS nq FROM el GROUP BY vec_id
    ),
    dots AS (
      SELECT c.query_id, c.neighbor_id, SUM(ea.v * eb.v) AS dot
      FROM cand c
      JOIN el ea ON ea.vec_id = c.query_id
      JOIN el eb ON eb.vec_id = c.neighbor_id AND eb.i = ea.i
      GROUP BY c.query_id, c.neighbor_id
    ),
    scored AS (
      SELECT d.query_id, d.neighbor_id,
             round(CAST(d.dot AS DOUBLE) / (sqrt(na.nq) * sqrt(nb.nq)), 4) AS cos_sim
      FROM dots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.neighbor_id
    ),
    retr AS (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
             ) AS BIGINT) AS rnk
      FROM scored QUALIFY rnk <= 3
    )
"""


@query(
    "ann_lsh_retrieval_metrics",
    f"""
    WITH {_PORTABLE_LSH_CTES},
    edots AS (
      SELECT ea.vec_id AS query_id, eb.vec_id AS neighbor_id, SUM(ea.v * eb.v) AS dot
      FROM el ea JOIN el eb ON eb.i = ea.i AND eb.vec_id <> ea.vec_id
      WHERE ea.vec_id < 5
      GROUP BY 1, 2
    ),
    escored AS (
      SELECT d.query_id, d.neighbor_id,
             round(CAST(d.dot AS DOUBLE) / (sqrt(na.nq) * sqrt(nb.nq)), 4) AS cos_sim
      FROM edots d
      JOIN norms na ON na.vec_id = d.query_id
      JOIN norms nb ON nb.vec_id = d.neighbor_id
    ),
    truth AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
             ) AS BIGINT) AS rnk
      FROM escored QUALIFY rnk <= 3
    ),
    nrel AS (SELECT query_id, count(*) AS n_truth FROM truth GROUP BY query_id),
    hits AS (
      SELECT r.query_id, count(*) AS n_hit, min(r.rnk) AS first_rnk,
             sum(1.0 / log2(r.rnk + 1)) AS dcg
      FROM retr r
      JOIN truth t ON t.query_id = r.query_id AND t.neighbor_id = r.neighbor_id
      GROUP BY r.query_id
    )
    SELECT n.query_id,
           CAST(n.n_truth AS BIGINT) AS n_truth,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           round(coalesce(h.n_hit, 0) / CAST(n.n_truth AS DOUBLE), 4) AS recall_at_k,
           round(coalesce(1.0 / h.first_rnk, 0.0), 4) AS mrr,
           round(coalesce(h.dcg, 0.0)
                 / list_sum(list_transform(range(1, n.n_truth + 1),
                                           i -> 1.0 / log2(i + 1))), 4) AS ndcg_at_k
    FROM nrel n LEFT JOIN hits h ON h.query_id = n.query_id
    """,
    "embeddings", "ann", "evaluation", "portable-oracle",
)
@_clean_query
def ann_lsh_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation as a relation (operators/eval.py):
    recall@3, MRR, and nDCG@3 of the portable hyperplane-LSH ANN
    against the exact brute-force ranking on the SAME integer-quantized
    cosine — the whole evaluation harness (retrieved ranking, ground
    truth, metric arithmetic) is hash-compared against DuckDB, so a
    recall regression in the ANN path flips actual metric cells, not a
    tolerance flag. Exact truth scores |probes|·|corpus| pairs (the
    definition of ground truth) via a broadcast of the 5-probe side."""
    from parquet_rewriter_spark.operators.dedup import (
        exact_cosine_topk_portable,
        hyperplane_ann_topk_portable,
    )
    from parquet_rewriter_spark.operators.eval import retrieval_metrics

    e = _t(spark, sf_dir, "embeddings")
    probes = [0, 1, 2, 3, 4]
    retrieved = hyperplane_ann_topk_portable(e, probe_ids=probes, k=3)
    truth = exact_cosine_topk_portable(e, probe_ids=probes, k=3)
    return retrieval_metrics(retrieved, truth)


@query(
    "embedding_int8_quantization",
    """
    WITH el AS (
      SELECT vec_id, d.i AS i, CAST(embedding[d.i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) d(i)
    ),
    mm AS (SELECT i, min(x) AS lo, max(x) AS hi FROM el GROUP BY i),
    codes AS (
      SELECT el.i AS dim, el.x, mm.lo, mm.hi,
             CAST(least(greatest(floor((el.x - mm.lo)
                                       / ((mm.hi - mm.lo) / 255.0) + 0.5),
                                 0), 255) AS BIGINT) AS code
      FROM el JOIN mm ON mm.i = el.i
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(sum(code) AS BIGINT) AS q_sum,
           CAST(min(code) AS BIGINT) AS q_min,
           CAST(max(code) AS BIGINT) AS q_max,
           max(abs(x - (lo + code * ((hi - lo) / 255.0))))
             <= ((any_value(hi) - any_value(lo)) / 255.0) / 2 + 1e-12
             AS within_half_step,
           round(any_value(lo), 6) AS lo_r,
           round(any_value(hi), 6) AS hi_r
    FROM codes GROUP BY dim
    """,
    "embeddings", "quantization", "storage",
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit affine scalar quantization of the embedding column
    (operators/quantize.py): per-dimension min/max calibration (one
    map-side-combined pass, dim rows to the driver), then codes via
    the engine-portable floor(t+0.5) — so DuckDB re-derives the
    calibration AND replays every code. The compared row per dimension
    carries exact integer code aggregates (hash-stable) plus the
    half-step error bound the construction guarantees, as a computed
    boolean — the audit a 4×-smaller vector store ships with."""
    from parquet_rewriter_spark.operators.quantize import (
        calibrate_minmax,
        quantization_report,
    )

    e = _t(spark, sf_dir, "embeddings")
    lo, hi = calibrate_minmax(e, "embedding")
    rep = quantization_report(e, "embedding", lo, hi)
    return rep.select(
        F.col("dim").cast("long").alias("dim"),
        "q_sum", "q_min", "q_max", "within_half_step", "lo_r", "hi_r",
    )


@query(
    "int8_cosine_topk",
    """
    WITH el AS (
      SELECT vec_id, d.i AS i, CAST(embedding[d.i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) d(i)
    ),
    mm AS (SELECT i, min(x) AS lo, max(x) AS hi FROM el GROUP BY i),
    rec AS (
      SELECT el.vec_id, el.i,
             mm.lo + least(greatest(floor((el.x - mm.lo)
                                          / ((mm.hi - mm.lo) / 255.0) + 0.5),
                                    0), 255) * ((mm.hi - mm.lo) / 255.0) AS r
      FROM el JOIN mm ON mm.i = el.i
    ),
    recv AS (SELECT vec_id, list(r ORDER BY i) AS rv FROM rec GROUP BY vec_id),
    qv AS (SELECT rv FROM recv WHERE vec_id = 0),
    scored AS (
      SELECT recv.vec_id AS id,
             round(list_dot_product(recv.rv, qv.rv)
                   / (sqrt(list_dot_product(recv.rv, recv.rv))
                      * sqrt(list_dot_product(qv.rv, qv.rv))), 4) AS cos_q
      FROM recv, qv
    ),
    fq AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
    fscored AS (
      SELECT e.vec_id AS id,
             round(list_dot_product(CAST(e.embedding AS DOUBLE[]), fq.v)
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(fq.v, fq.v))), 4) AS cos_f
      FROM embeddings e, fq
    ),
    ftop AS (SELECT id FROM fscored ORDER BY cos_f DESC, id LIMIT 10)
    SELECT id, cos_q,
           CAST(row_number() OVER (ORDER BY cos_q DESC, id) AS BIGINT) AS rank,
           id IN (SELECT id FROM ftop) AS in_float_top10
    FROM scored QUALIFY rank <= 10
    """,
    "embeddings", "quantization", "similarity", "topk",
)
def int8_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search ON the 8-bit codes: both the corpus and the
    query vector are quantize→dequantize reconstructions, so this is
    the ranking an int8 vector store actually serves (4× less IO per
    scan), hash-compared cell-for-cell — and ``in_float_top10`` folds
    the quantized-vs-float agreement into the oracle, pinning that the
    compression didn't reorder the answer set beyond what the oracle
    itself reproduces."""
    import math

    from parquet_rewriter_spark.functions.vector import cosine
    from parquet_rewriter_spark.operators.quantize import (
        calibrate_minmax,
        dequantize,
        quantize_codes,
    )
    from parquet_rewriter_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    lo, hi = calibrate_minmax(e, "embedding")
    raw = [float(x) for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]

    def _rq(x: float, l: float, h: float) -> float:
        step = (h - l) / 255.0
        c = min(max(math.floor((x - l) / step + 0.5), 0), 255)
        return l + c * step

    qv = [_rq(x, l, h) for x, l, h in zip(raw, lo, hi)]
    recon = dequantize(quantize_codes("embedding", lo, hi), lo, hi)
    sim = cosine(recon, F.array(*[F.lit(v) for v in qv]))
    top = (
        e.select(F.col("vec_id").alias("id"), F.round(sim, 4).alias("cos_q"))
        .orderBy(F.col("cos_q").desc(), F.col("id"))
        .limit(10)
    )
    float_ids = [r["id"] for r in cosine_topk(e, "vec_id", "embedding", raw, k=10).collect()]
    return top.select(
        "id", "cos_q",
        F.row_number()
        .over(Window.orderBy(F.col("cos_q").desc(), F.col("id")))
        .cast("long")
        .alias("rank"),
        F.col("id").isin(float_ids).alias("in_float_top10"),
    )


@query(
    "priority_customer_overlap_sketch",
    """
    -- contract rows: the HLL inclusion-exclusion estimates must land
    -- within the declared bands of the exact set sizes
    WITH du AS (SELECT DISTINCT o_orderpriority AS g, o_custkey AS v FROM orders),
    per AS (SELECT g, count(*) AS n FROM du GROUP BY g),
    inter AS (
      SELECT a.g AS group_a, b.g AS group_b, count(*) AS exact_inter
      FROM du a JOIN du b ON a.v = b.v AND a.g < b.g
      GROUP BY 1, 2
    )
    SELECT i.group_a, i.group_b,
           CAST(pa.n AS BIGINT) AS exact_a,
           CAST(pb.n AS BIGINT) AS exact_b,
           CAST(pa.n + pb.n - i.exact_inter AS BIGINT) AS exact_union,
           CAST(i.exact_inter AS BIGINT) AS exact_inter,
           TRUE AS singles_within_5pct,
           TRUE AS union_within_5pct,
           TRUE AS inter_within_10pct
    FROM inter i
    JOIN per pa ON pa.g = i.group_a
    JOIN per pb ON pb.g = i.group_b
    """,
    "sketch", "set-algebra", "approx-distinct",
)
@_clean_query
def priority_customer_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set ALGEBRA (operators/distinct_sketch.py:sketch_overlap):
    distinct-customer overlap between every order-priority pair via
    sketch union + inclusion-exclusion — the audience-overlap query
    answered from |groups| KB sketches after ONE corpus pass, instead
    of a distinct-pairs self-join. The oracle recomputes the exact set
    sizes; the estimate bands (5% singles/union — >3σ at lgK=12 —
    and 10%-or-±5 for the subtraction-amplified intersection) are
    folded into the compared rows as computed booleans."""
    from parquet_rewriter_spark.operators.distinct_sketch import sketch_overlap

    o = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    est = sketch_overlap(o, "o_orderpriority", "o_custkey")
    du = o.distinct()
    per = du.groupBy(F.col("o_orderpriority").alias("g")).agg(
        F.count(F.lit(1)).alias("n")
    )
    a, b = du.alias("a"), du.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderpriority") < F.col("b.o_orderpriority")),
        )
        .groupBy(
            F.col("a.o_orderpriority").alias("group_a"),
            F.col("b.o_orderpriority").alias("group_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    pa = per.select(F.col("g").alias("group_a"), F.col("n").alias("exact_a"))
    pb = per.select(F.col("g").alias("group_b"), F.col("n").alias("exact_b"))
    ex = inter.join(F.broadcast(pa), "group_a").join(F.broadcast(pb), "group_b")
    band = lambda e, x, frac, slack: F.abs(e - x) <= F.greatest(  # noqa: E731
        F.lit(frac) * x, F.lit(slack)
    )
    return (
        ex.join(F.broadcast(est), ["group_a", "group_b"])
        .select(
            "group_a", "group_b", "exact_a", "exact_b",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_inter")).alias("exact_union"),
            "exact_inter",
            "est_a", "est_b", "est_union", "est_inter",
        )
        .select(
            "group_a", "group_b", "exact_a", "exact_b", "exact_union", "exact_inter",
            (
                band(F.col("est_a"), F.col("exact_a"), 0.05, 2.0)
                & band(F.col("est_b"), F.col("exact_b"), 0.05, 2.0)
            ).alias("singles_within_5pct"),
            band(F.col("est_union"), F.col("exact_union"), 0.05, 2.0).alias(
                "union_within_5pct"
            ),
            band(F.col("est_inter"), F.col("exact_inter"), 0.10, 5.0).alias(
                "inter_within_10pct"
            ),
        )
    )


@query(
    "source_temperature_mixture",
    """
    WITH per AS (
      SELECT source, CAST(sum(n_chars) AS DOUBLE) AS n_weight
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT sum(n_weight) AS tn, sum(power(n_weight, 0.5)) AS tq FROM per
    )
    SELECT source, n_weight,
           round(n_weight / tn, 6) AS p_raw,
           round(power(n_weight, 0.5) / tq, 6) AS p_temp,
           round(power(n_weight, 0.5) / tq * 1000000.0, 2) AS budget,
           round(power(n_weight, 0.5) / tq * 1000000.0 / n_weight, 4) AS epochs
    FROM per, tot
    """,
    "llm-pipeline", "sampling", "data-mix",
)
def source_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (operators/sampling.py:
    temperature_weights, α=0.5): per-source sampling probabilities
    n^α/Σn^α, the token budget each source gets out of 1M, and the
    epoch factor (how many times a small source repeats) — the
    data-mix planning row that feeds mixture_sample. One aggregate +
    one 1-row broadcast; closed form, replayed to the digit."""
    from parquet_rewriter_spark.operators.sampling import temperature_weights

    d = _t(spark, sf_dir, "documents")
    return temperature_weights(d, "source", "n_chars", alpha=0.5, total_budget=1_000_000)


def _dsir_oracle() -> str:
    from parquet_rewriter_spark.operators.dsir import (
        dsir_bucket_sql,
        gumbel_key_sql,
        ngram_occurrences_sql,
    )

    B, A, T, SALT, K = 256, 1.0, 1.0, 7, 20
    occ = ngram_occurrences_sql("documents", "doc_id", "text")
    bkt = dsir_bucket_sql(B)
    gk = gumbel_key_sql("w.doc_id", "w.log_weight", T, SALT)
    return f"""
    WITH occ AS ({occ}),
    tflag AS (SELECT doc_id AS id, (lang = 'en') AS t FROM documents),
    bo AS (SELECT occ.id, {bkt} AS bucket, tflag.t FROM occ JOIN tflag USING (id)),
    cnt AS (
      SELECT g.bucket, coalesce(raw_cnt, 0) AS raw_cnt, coalesce(tgt_cnt, 0) AS tgt_cnt
      FROM (SELECT unnest(generate_series(0, {B - 1})) AS bucket) g
      LEFT JOIN (SELECT bucket, count(*) AS raw_cnt,
                        sum(CASE WHEN t THEN 1 ELSE 0 END) AS tgt_cnt
                 FROM bo GROUP BY bucket) c USING (bucket)
    ),
    lam AS (
      SELECT bucket,
             ln((tgt_cnt + {A}) / ((SELECT sum(tgt_cnt) FROM cnt) + {A * B}))
           - ln((raw_cnt + {A}) / ((SELECT sum(raw_cnt) FROM cnt) + {A * B})) AS log_ratio
      FROM cnt
    ),
    w AS (
      SELECT bo.id AS doc_id, count(*) AS n_ngrams, sum(lam.log_ratio) AS log_weight
      FROM bo JOIN lam USING (bucket) GROUP BY bo.id
    )
    SELECT w.doc_id, w.n_ngrams, round(w.log_weight, 4) AS log_weight,
           round({gk}, 4) AS gumbel_key
    FROM w ORDER BY gumbel_key DESC, w.doc_id LIMIT {K}
    """


@query(
    "dsir_importance_resample",
    _dsir_oracle(),
    "llm-pipeline", "sampling", "data-mix", "dsir", "importance",
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.,
    NeurIPS 2023; operators/dsir.py): featurize every document into
    hashed unigram+bigram counts (md5-bridge buckets, B=256), fit
    Laplace-smoothed multinomials for the English target slice vs the
    whole corpus in ONE aggregate, score each doc with the summed
    bucket log-ratio, and Gumbel-top-20 resample (portable unit noise)
    so the pick is ∝ softmax(log w), not an argmax onto near-twins of
    one target-like doc. Two corpus passes by design — fit shuffles ≤ B
    rows per map partition, score broadcast-joins the B-row λ relation;
    persisting the token-scale explode to save the re-scan would be
    strictly worse at 100 TB. The oracle replays featurization, fit,
    scoring, AND the resample."""
    from parquet_rewriter_spark.operators.dsir import dsir_resample

    d = _t(spark, sf_dir, "documents")
    return dsir_resample(
        d, "doc_id", "text", F.col("lang") == "en",
        k=20, n_buckets=256, alpha=1.0, temperature=1.0, salt=7,
    )


def _bpe_rules_oracle(n_merges: int = 6) -> str:
    from parquet_rewriter_spark.operators.bpe import bpe_vocab_cte_sql

    cte = bpe_vocab_cte_sql("documents", "text", n_merges)
    union = " UNION ALL ".join(f"SELECT * FROM t{s}" for s in range(1, n_merges + 1))
    return f"""
    WITH {cte}
    SELECT step, lhs, rhs, lhs || rhs AS merged, c AS pair_count
    FROM ({union}) ORDER BY step
    """


@query(
    "bpe_merge_rules",
    _bpe_rules_oracle(6),
    "llm-pipeline", "tokenizer", "bpe",
)
def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich 2016; operators/bpe.py): the
    first 6 merge rules learned from the corpus — ONE corpus pass
    aggregates the word-frequency relation (vocab ≪ corpus), then each
    merge round is a vocab-scale pair-count aggregate + a literal
    symbol replace, never touching the corpus again. Deterministic
    total-order tie-break (count DESC, lhs, rhs) makes training itself
    hash-comparable: the oracle replays char splitting, pair counting,
    selection, and the greedy left-to-right replace mechanics in a CTE
    chain."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, rules_df

    d = _t(spark, sf_dir, "documents")
    with cache_scope():
        rules, _ = bpe_train(d, "text", n_merges=6)
    return rules_df(spark, rules).orderBy("step")


def _bpe_fertility_oracle(n_merges: int = 6) -> str:
    from parquet_rewriter_spark.operators.bpe import bpe_vocab_cte_sql

    cte = bpe_vocab_cte_sql("documents", "text", n_merges)
    return f"""
    WITH {cte},
    vt AS (
      SELECT word, len(string_split(trim(sym), ' ')) AS n_tokens FROM v{n_merges}
    ),
    occ AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    )
    SELECT lang, count(*) AS n_words, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 4) AS fertility
    FROM occ JOIN vt USING (word)
    GROUP BY lang ORDER BY lang
    """


@query(
    "bpe_token_fertility",
    _bpe_fertility_oracle(6),
    "llm-pipeline", "tokenizer", "bpe", "fertility",
)
@_clean_query
def bpe_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (tokens per word) per language under the
    6-merge BPE vocab — the metric multilingual tokenizer work tunes
    (high fertility = a language pays more tokens per word). Encoding
    never character-explodes the corpus: each DISTINCT word is encoded
    once in the vocab relation and documents' words broadcast-join the
    (word, n_tokens) projection (operators/bpe.py:fertility_by)."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, fertility_by

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=6)
    out = fertility_by(d, "text", "lang", vocab).orderBy("lang")
    return out


def _ids_digest(col: str) -> Column:
    """md5 of the comma-joined int array — the scalar bridge that lets
    the driver's pandas canonicalizer (which cannot sort array cells)
    hash-compare a full token-id stream. DuckDB replay:
    ``md5(array_to_string(ids, ','))`` — both engines render ints and
    lowercase hex identically, verified in tests."""
    return F.md5(
        F.concat_ws(",", F.transform(F.col(col), lambda x: x.cast("string")))
    )


def _bpe_encode_oracle(n_merges: int = 6, max_doc: int = 15) -> str:
    from parquet_rewriter_spark.operators.bpe import bpe_vocab_cte_sql

    cte = bpe_vocab_cte_sql("documents", "text", n_merges)
    flat = "flatten(list_transform(list_sort(list({'p': wpos, 'l': ids})), s -> s.l))"
    return f"""
    WITH {cte},
    sid AS (
      SELECT symbol, row_number() OVER (ORDER BY symbol) - 1 AS token_id
      FROM (SELECT DISTINCT unnest(string_split(trim(sym), ' ')) AS symbol
            FROM v{n_merges})
    ),
    wsyms AS (
      SELECT word, i AS pos, ws[i] AS symbol
      FROM (SELECT word, string_split(trim(sym), ' ') AS ws FROM v{n_merges}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({{'p': pos, 'i': token_id}})),
                            s -> s.i) AS ids
      FROM wsyms JOIN sid USING (symbol) GROUP BY word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id < {max_doc}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({flat}, ',')) AS ids_digest,
           CAST(len({flat}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "bpe_encode_sample",
    _bpe_encode_oracle(6, 15),
    "llm-pipeline", "tokenizer", "bpe", "encode",
)
@_clean_query
def bpe_encode_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer's actual deliverable (operators/bpe.py:
    encode_docs): documents → BPE token-ID sequences under the 6-merge
    vocab. Each DISTINCT word is id-mapped once at vocab scale
    (posexplode symbols → broadcast symbol-id join → order-safe
    array_sort reassembly), documents' words broadcast-join the
    (word → ids) projection, and per-doc sequences reassemble via
    array_sort over (position, ids) structs — never a bare
    collect_list, whose order is partition-dependent. The oracle
    replays training, the symbol-id assignment, word encoding, AND the
    full per-doc id sequences cell-for-cell. The REGISTERED output is
    scalar-only (the driver's canonicalizer cannot sort array cells):
    ``input_ids`` ships as an md5 digest of the comma-joined id stream
    — still a byte-for-byte proof of the whole sequence — while the
    array-returning :func:`encode_docs` stays the user API."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, encode_docs

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=6)
    out = encode_docs(d.filter(F.col("doc_id") < 15), "doc_id", "text", vocab)
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


def _bpe_rules_encode_oracle(
    train_where: str, encode_where: str, n_merges: int = 4
) -> str:
    """Frozen-tokenizer oracle: train the merge rules on the
    ``train_where`` slice, re-apply them to the ``encode_where``
    slice's OWN distinct words (the nv chain — identical literal
    replaces), id-map through the TRAINING symbol table with −1 for
    out-of-alphabet symbols (LEFT join), and emit per-doc digests."""
    from parquet_rewriter_spark.operators.bpe import END, bpe_vocab_cte_sql

    cte = bpe_vocab_cte_sql(
        f"(SELECT * FROM documents WHERE {train_where}) train_docs",
        "text",
        n_merges,
    )
    nv = [
        f"""nv0 AS (
      SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '{END} ' AS sym
      FROM (
        SELECT DISTINCT unnest(list_filter(
                 regexp_split_to_array(lower(text), '\\s+'),
                 w -> w <> '')) AS word
        FROM documents WHERE {encode_where}
      )
    )"""
    ]
    for s in range(1, n_merges + 1):
        nv.append(
            f"""nv{s} AS (
      SELECT word, replace(sym, ' ' || t.lhs || ' ' || t.rhs || ' ',
                                ' ' || t.lhs || t.rhs || ' ') AS sym
      FROM nv{s - 1}, t{s} t
    )"""
        )
    nv_chain = ",\n    ".join(nv)
    flat = "flatten(list_transform(list_sort(list({'p': wpos, 'l': ids})), s -> s.l))"
    return f"""
    WITH {cte},
    {nv_chain},
    sid AS (
      SELECT symbol, row_number() OVER (ORDER BY symbol) - 1 AS token_id
      FROM (SELECT DISTINCT unnest(string_split(trim(sym), ' ')) AS symbol
            FROM v{n_merges})
    ),
    wsyms2 AS (
      SELECT word, i AS pos, ws[i] AS symbol
      FROM (SELECT word, string_split(trim(sym), ' ') AS ws FROM nv{n_merges}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    word_ids AS (
      SELECT w.word,
             list_transform(list_sort(list({{'p': w.pos,
                                             'i': coalesce(s.token_id, -1)}})),
                            x -> x.i) AS ids
      FROM wsyms2 w LEFT JOIN sid s USING (symbol) GROUP BY w.word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE {encode_where}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({flat}, ',')) AS ids_digest,
           CAST(len({flat}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "bpe_encode_holdout_sample",
    _bpe_rules_encode_oracle(
        "doc_id % 2 = 0", "doc_id % 2 = 1 AND doc_id < 30", 4
    ),
    "llm-pipeline", "tokenizer", "bpe", "encode", "frozen",
)
@_clean_query
def bpe_encode_holdout_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROZEN-TOKENIZER encoding of a corpus DISJOINT from training —
    the production shape (train once, encode new data forever) that
    `encode_docs` structurally cannot serve (its word join covers only
    training-corpus words; unseen words would be silently dropped):
    train on even doc_ids, then encode odd documents by re-applying
    the trained merge rules to THEIR distinct words
    (operators/bpe.py:encode_docs_with_rules — n_merges literal
    replaces per distinct word, Arrow-batched, bit-identical to
    training's replace semantics) with −1 for symbols outside the
    training alphabet. Full id streams oracled as digests."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs_with_rules,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d.filter(F.col("doc_id") % 2 == 0), "text", n_merges=4)
    holdout = d.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 30))
    out = encode_docs_with_rules(
        holdout, "doc_id", "text", rules, vocab, unk_id=-1
    )
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


@query(
    "stream_bpe_encoded_ingest",
    _bpe_rules_encode_oracle("doc_id % 2 = 0", "doc_id < 15", 4),
    "streaming", "llm-pipeline", "tokenizer", "bpe", "encode", "frozen",
)
def stream_bpe_encoded_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST tokenization under a frozen tokenizer (streaming/
    ops.py:stream_encode_docs): rules + symbol table frozen from an
    even-doc training run, documents stream through in micro-batches
    (maxFilesPerTrigger=1), each batch re-segments its OWN distinct
    words and appends to an epoch-partitioned idempotent sink. The
    read-back digests must equal the batch frozen-tokenizer oracle —
    per-word rule application is batch-independent, so the streamed
    stream equals the one-shot encode."""
    import shutil

    from parquet_rewriter_spark.operators.bpe import bpe_train, symbol_vocab
    from parquet_rewriter_spark.streaming.ops import stream_encode_docs

    d = _t(spark, sf_dir, "documents")
    with cache_scope():
        rules, vocab = bpe_train(d.filter(F.col("doc_id") % 2 == 0), "text", n_merges=4)
        sid_rows = [
            (r["symbol"], int(r["token_id"]))
            for r in symbol_vocab(vocab).select("symbol", "token_id").collect()
        ]
    base = _scratch("stream_bpe_enc")
    src = os.path.join(base, "src")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    (
        d.filter(F.col("doc_id") < 15)
        .select("doc_id", "text")
        .repartition(3)
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_encode_docs(
        stream, "doc_id", "text", rules, sid_rows, sink, ckpt, unk_id=-1
    )
    out = spark.read.parquet(sink)
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


def _packed_oracle_tail(m: int, shards: int) -> str:
    """Shared packing SQL for every tokenizer family's packed-window
    oracle: consumes an ``enc`` CTE of (doc_id, input_ids), replays
    pack_sequences (doc_id % shards, cumulative offsets) and
    materialize_packed (span slicing + order-safe window reassembly),
    and emits the scalarized window rows."""
    flat = "flatten(list_transform(list_sort(list({'p': pos, 'l': piece})), s -> s.l))"
    return f"""pk AS (
      SELECT doc_id, doc_id % {shards} AS shard, input_ids,
             CAST(len(input_ids) AS BIGINT) AS n_tok,
             CAST(coalesce(sum(len(input_ids)) OVER (
               PARTITION BY doc_id % {shards} ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS B
      FROM enc WHERE len(input_ids) > 0
    ),
    pieces AS (
      SELECT shard, p.w AS seq_id, p.pos, p.piece
      FROM pk, LATERAL (
        SELECT unnest(list_transform(
          generate_series(CAST(floor(B / {m}) AS BIGINT),
                          CAST(floor((B + n_tok - 1) / {m}) AS BIGINT)),
          w -> {{'w': w,
                 'piece': list_slice(input_ids,
                                     CAST(greatest(0, w * {m} - B) + 1 AS BIGINT),
                                     CAST(least(n_tok, (w + 1) * {m} - B) AS BIGINT)),
                 'pos': B + greatest(0, w * {m} - B) - w * {m}}})) AS p
      )
    )
    SELECT shard, seq_id, md5(array_to_string({flat}, ',')) AS ids_digest,
           CAST(len({flat}) AS INT) AS n_tokens,
           count(*) AS n_pieces,
           array_to_string(list_transform(list_sort(list({{'p': pos, 'l': piece}})),
                                          s -> len(s.l)), ',') AS piece_lengths
    FROM pieces GROUP BY shard, seq_id
    ORDER BY shard, seq_id"""


def _bpe_enc_head(n_merges: int = 4) -> str:
    """CTE chain corpus → per-doc BPE id arrays (``enc``), shared by
    the packed-window oracles (plain and EOS/span flavors)."""
    from parquet_rewriter_spark.operators.bpe import bpe_vocab_cte_sql

    cte = bpe_vocab_cte_sql("documents", "text", n_merges)
    return f"""{cte},
    sid AS (
      SELECT symbol, row_number() OVER (ORDER BY symbol) - 1 AS token_id
      FROM (SELECT DISTINCT unnest(string_split(trim(sym), ' ')) AS symbol
            FROM v{n_merges})
    ),
    wsyms AS (
      SELECT word, i AS pos, ws[i] AS symbol
      FROM (SELECT word, string_split(trim(sym), ' ') AS ws FROM v{n_merges}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({{'p': pos, 'i': token_id}})),
                            s -> s.i) AS ids
      FROM wsyms JOIN sid USING (symbol) GROUP BY word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id,
             flatten(list_transform(list_sort(list({{'p': wpos, 'l': ids}})),
                                    s -> s.l)) AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    )"""


def _bpe_packed_oracle(n_merges: int = 4, m: int = 64, shards: int = 4) -> str:
    return f"""
    WITH {_bpe_enc_head(n_merges)},
    {_packed_oracle_tail(m, shards)}
    """


def _scalarized_windows(enc: DataFrame, m: int, shards: int) -> DataFrame:
    """Shared tail of every tokenizer family's packed-window queries:
    pack the encoded corpus (portable doc_id % shards), materialize
    fixed-M windows, and project the array outputs to driver-safe
    scalars (digest of the id stream, comma-joined piece lengths)."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
    )

    p = pack_sequences(
        enc, "doc_id", F.size("input_ids"), max_tokens=m,
        shard_col=F.pmod(F.col("doc_id"), F.lit(shards)),
    )
    win = materialize_packed(p, "input_ids", m)
    return win.select(
        "shard",
        "seq_id",
        _ids_digest("input_ids").alias("ids_digest"),
        "n_tokens",
        "n_pieces",
        F.concat_ws(
            ",", F.transform(F.col("piece_lengths"), lambda x: x.cast("string"))
        ).alias("piece_lengths"),
    ).orderBy("shard", "seq_id")


def _packed_windows_scalar(
    spark: SparkSession, sf_dir: str, n_merges: int, m: int, shards: int
) -> DataFrame:
    """BPE flavor of the end-to-end packed-window pipeline."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, encode_docs

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=n_merges)
    enc = encode_docs(d, "doc_id", "text", vocab)
    return _scalarized_windows(enc, m, shards)


@query(
    "bpe_packed_training_windows",
    _bpe_packed_oracle(4, 64, 4),
    "llm-pipeline", "tokenizer", "bpe", "packing", "pretraining",
)
@_clean_query
def bpe_packed_training_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining batch pipeline, every stage oracled:
    corpus → BPE token ids (operators/bpe.py:encode_docs, 4 merges) →
    packed-stream assignment (operators/packing.py:pack_sequences,
    portable doc_id%4 shards) → MATERIALIZED fixed-64-token windows
    (materialize_packed — GPT concat-and-cut emitting real id arrays,
    pure span arithmetic + one (shard, window) hash aggregate, order
    restored by array_sort over position structs). A hash match proves
    the full id stream — training, encoding, shard order, window
    boundaries, split pieces — byte-for-byte across engines. The
    REGISTERED output is scalar-only (driver canonicalizer constraint):
    the id array ships as an md5 digest of its comma-joined stream and
    ``piece_lengths`` as a comma-joined string; the array-returning
    materializer stays the user API."""
    return _packed_windows_scalar(spark, sf_dir, n_merges=4, m=64, shards=4)


@query(
    "bpe_packed_windows_dense",
    _bpe_packed_oracle(4, 16, 4),
    "llm-pipeline", "tokenizer", "bpe", "packing", "pretraining",
)
@_clean_query
def bpe_packed_windows_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed-window pipeline at M=16 — small enough that most
    documents SPAN windows, so split pieces dominate and the span
    arithmetic's edge cases (a piece ending exactly at a boundary, a
    single-token tail window, a doc spanning 3+ windows) are all
    exercised and oracled, not just unit-tested. Same digest proof and
    attention-mask ``piece_lengths`` contract as
    ``bpe_packed_training_windows``."""
    return _packed_windows_scalar(spark, sf_dir, n_merges=4, m=16, shards=4)


def _bpe_roundtrip_oracle(n_merges: int = 4) -> str:
    from parquet_rewriter_spark.operators.bpe import bpe_vocab_cte_sql

    cte = bpe_vocab_cte_sql("documents", "text", n_merges)
    return f"""
    WITH {cte},
    sid AS (
      SELECT symbol, row_number() OVER (ORDER BY symbol) - 1 AS token_id
      FROM (SELECT DISTINCT unnest(string_split(trim(sym), ' ')) AS symbol
            FROM v{n_merges})
    ),
    wsyms AS (
      SELECT word, i AS pos, ws[i] AS symbol
      FROM (SELECT word, string_split(trim(sym), ' ') AS ws FROM v{n_merges}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({{'p': pos, 'i': token_id}})),
                            s -> s.i) AS ids
      FROM wsyms JOIN sid USING (symbol) GROUP BY word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id,
             flatten(list_transform(list_sort(list({{'p': wpos, 'l': ids}})),
                                    s -> s.l)) AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    dectok AS (
      SELECT doc_id, i, input_ids[i] AS tid
      FROM enc, LATERAL (SELECT unnest(generate_series(1, len(input_ids))) AS i)
    ),
    dec AS (
      SELECT d.doc_id,
             rtrim(replace(string_agg(s.symbol, '' ORDER BY d.i), '</w>', ' '))
               AS decoded
      FROM dectok d JOIN sid s ON s.token_id = d.tid
      GROUP BY d.doc_id
    ),
    norm AS (
      SELECT doc_id, source,
             array_to_string(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> ''), ' ')
               AS expect
      FROM documents
    ),
    tok AS (SELECT doc_id, len(input_ids) AS n_tokens FROM enc)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN decoded = expect THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM dec JOIN norm USING (doc_id) JOIN tok USING (doc_id)
    GROUP BY source ORDER BY source
    """


@query(
    "bpe_roundtrip_fidelity",
    _bpe_roundtrip_oracle(4),
    "llm-pipeline", "tokenizer", "bpe", "decode",
)
@_clean_query
def bpe_roundtrip_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detokenization closes the tokenizer family (train → encode →
    DECODE → pack): every document is encoded under the 4-merge vocab
    and decoded back (operators/bpe.py:decode_docs — the bounded
    symbol table inlined as a map literal; pure codegen transform +
    concat, zero shuffle, zero Python), then compared against encode's
    own normalization of the source text. ``n_exact = n_docs`` per
    source proves the id streams are LOSSLESS — both engines replay
    encode AND decode independently and must agree on every count."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        decode_docs,
        encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    enc = encode_docs(d, "doc_id", "text", vocab)
    dec = decode_docs(enc, "input_ids", vocab)
    norm = d.select(
        "doc_id",
        "source",
        F.concat_ws(
            " ",
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""),
        ).alias("expect"),
    )
    return (
        dec.join(norm, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("decoded") == F.col("expect"), 1).otherwise(0)
            ).alias("n_exact"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("source")
    )


def _wordpiece_cte() -> str:
    from parquet_rewriter_spark.operators.wordpiece import wordpiece_cte_sql

    return wordpiece_cte_sql("documents", "text", max_piece_len=4, vocab_size=150)


@query(
    "wordpiece_vocab_pieces",
    f"""
    WITH {_wordpiece_cte()}
    SELECT piece FROM wp_vocab ORDER BY piece
    """,
    "llm-pipeline", "tokenizer", "wordpiece",
)
def wordpiece_vocab_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WordPiece inventory (operators/wordpiece.py:
    substring_vocab): top-150 corpus-weighted substrings of length 2-4
    over the DISTINCT-WORD relation, plus the corpus alphabet —
    selection is a total order (count DESC, piece ASC), so both
    engines must pick the identical piece set."""
    from parquet_rewriter_spark.operators.wordpiece import substring_vocab

    d = _t(spark, sf_dir, "documents")
    return substring_vocab(d, "text", max_piece_len=4, vocab_size=150).orderBy(
        "piece"
    )


@query(
    "wordpiece_segmentation_sample",
    f"""
    WITH {_wordpiece_cte()}
    SELECT word, array_to_string(pieces, '|') AS seg,
           CAST(n_pieces AS INT) AS n_pieces
    FROM wp_seg JOIN wc USING (word)
    ORDER BY cnt DESC, word LIMIT 30
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "segment",
)
def wordpiece_segmentation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match segmentation of the 30 most frequent
    corpus words (operators/wordpiece.py:wordpiece_segment — the
    Arrow-batched vocab-scale match loop). The oracle re-derives every
    segmentation with a recursive CTE taking the longest matching
    piece per position — the piece streams must agree cell-for-cell
    ('|'-joined: scalar outputs only at the driver gate)."""
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_segment,
    )

    d = _t(spark, sf_dir, "documents")
    vocab = substring_vocab(d, "text", max_piece_len=4, vocab_size=150)
    wc = word_counts(d, "text")
    top = wc.orderBy(F.col("cnt").desc(), "word").limit(30)
    segd = wordpiece_segment(top, vocab)
    return segd.select(
        "word",
        F.concat_ws("|", F.col("pieces")).alias("seg"),
        F.col("n_pieces").cast("int").alias("n_pieces"),
    ).orderBy(F.col("cnt").desc(), "word").drop("cnt")


@query(
    "wordpiece_fertility",
    f"""
    WITH {_wordpiece_cte()},
    occ AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    )
    SELECT lang, count(*) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           round(CAST(sum(n_pieces) AS DOUBLE) / count(*), 4) AS fertility
    FROM occ JOIN wp_seg USING (word)
    GROUP BY lang ORDER BY lang
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "fertility",
)
@_clean_query
def wordpiece_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility under the WordPiece inventory — the
    BPE-vs-WordPiece comparison every tokenizer study runs, computed
    with the shared join discipline (segment each DISTINCT word once;
    occurrences join broadcast under the counted threshold)."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_fertility_by,
    )

    d = _t(spark, sf_dir, "documents")
    vocab = substring_vocab(d, "text", max_piece_len=4, vocab_size=150)
    return wordpiece_fertility_by(d, "text", "lang", vocab).orderBy("lang")


def _wordpiece_word_ids_cte() -> str:
    """CTEs mapping each distinct word to its WordPiece piece-id array:
    dense piece ids in piece order over wp_vocab, per-word id lists
    reassembled in piece position order. Compose after
    ``_wordpiece_cte()``."""
    return """pid AS (
      SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS piece_id
      FROM wp_vocab
    ),
    wp_pos AS (
      SELECT word, i AS pos, pieces[i] AS piece
      FROM wp_seg, LATERAL (SELECT unnest(generate_series(1, len(pieces))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({'p': pos, 'i': piece_id})),
                            s -> s.i) AS ids
      FROM wp_pos JOIN pid USING (piece) GROUP BY word
    )"""


_WP_FLAT = "flatten(list_transform(list_sort(list({'p': wpos, 'l': ids})), s -> s.l))"


@query(
    "wordpiece_encode_sample",
    f"""
    WITH {_wordpiece_cte()},
    {_wordpiece_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id < 15),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "encode",
)
@_clean_query
def wordpiece_encode_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece's actual pretraining deliverable — documents →
    piece-ID sequences (operators/wordpiece.py:wordpiece_encode_docs),
    closing the lifecycle gap with BPE: each DISTINCT word is greedily
    segmented once at vocab scale, its pieces id-mapped through the
    broadcast bounded (piece → id) relation, and per-doc sequences
    reassemble order-safely through the thresholded word join
    (bpe.assemble_doc_ids). The oracle replays vocabulary selection,
    greedy segmentation (recursive CTE), id assignment AND the full
    per-doc id streams; the registered output ships the stream as an
    md5 digest (driver canonicalizer is scalar-only)."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    pieces = substring_vocab(d, "text", max_piece_len=4, vocab_size=150)
    out = wordpiece_encode_docs(
        d.filter(F.col("doc_id") < 15), "doc_id", "text", pieces
    )
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


@query(
    "wordpiece_packed_windows",
    f"""
    WITH {_wordpiece_cte()},
    {_wordpiece_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id, {_WP_FLAT} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    {_packed_oracle_tail(32, 4)}
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "packing", "pretraining",
)
@_clean_query
def wordpiece_packed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WordPiece end-to-end pretraining pipeline — corpus → greedy
    piece-id encoding → packed-stream assignment → materialized
    fixed-32-token windows — proving the packing materializer is
    tokenizer-agnostic: the same pack/materialize tail (and the same
    shared SQL replay) consumes any family's (doc_id, input_ids). A
    hash match covers segmentation, id mapping, shard order, window
    boundaries, and split pieces byte-for-byte."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_encode_docs,
    )

    from parquet_rewriter_spark.operators.bpe import word_counts

    d = _t(spark, sf_dir, "documents")
    # ONE persisted corpus scan shared by vocab selection and encoding
    # (at 100 TB each word_counts recompute is a full corpus scan)
    wc = persist(word_counts(d, "text"))
    pieces = substring_vocab(
        d, "text", max_piece_len=4, vocab_size=150, wc=wc
    )
    enc = wordpiece_encode_docs(d, "doc_id", "text", pieces, wc=wc)
    return _scalarized_windows(enc, m=32, shards=4)


@query(
    "wordpiece_artifact_roundtrip",
    f"""
    WITH {_wordpiece_cte()},
    occ AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    )
    SELECT lang, count(*) AS n_words,
           CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
           round(CAST(sum(n_pieces) AS DOUBLE) / count(*), 4) AS fertility,
           (SELECT CAST(count(*) AS INT) FROM wp_vocab) AS vocab_rows
    FROM occ JOIN wp_seg USING (word)
    GROUP BY lang ORDER BY lang
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "registry", "storage",
)
@_clean_query
def wordpiece_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece in the TOKENIZER REGISTRY: persist the piece
    inventory as a SortedTable (key=piece — zone maps, time travel; a
    tokenizer version IS a table version), drop the in-memory copy,
    reload, and compute per-language fertility FROM THE STORED
    ARTIFACT, with the stored vocab row count folded in. Registry
    parity with BPE's tokenizer_artifact_roundtrip."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_fertility_by,
    )
    from parquet_rewriter_spark.table import SortedTable

    from parquet_rewriter_spark.operators.bpe import word_counts

    d = _t(spark, sf_dir, "documents")
    wc = persist(word_counts(d, "text"))  # shared corpus scan
    pieces = substring_vocab(
        d, "text", max_piece_len=4, vocab_size=150, wc=wc
    )
    base = _scratch("wp_registry")
    pt = SortedTable.create(
        spark, os.path.join(base, "pieces"), pieces, key="piece"
    )
    stored = pt.read()
    n_vocab = stored.count()
    out = wordpiece_fertility_by(d, "text", "lang", stored, wc=wc)
    return out.withColumn(
        "vocab_rows", F.lit(int(n_vocab)).cast("int")
    ).orderBy("lang")


def _wordpiece_marked_cte() -> str:
    from parquet_rewriter_spark.operators.wordpiece import (
        wordpiece_marked_cte_sql,
    )

    return wordpiece_marked_cte_sql(
        "documents", "text", max_piece_len=4, vocab_size=150
    )


_WPM_WORD_IDS = """mpid AS (
      SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS piece_id
      FROM wpm_vocab
    ),
    wpm_pos AS (
      SELECT word, i AS pos, pieces[i] AS piece
      FROM wpm_seg, LATERAL (SELECT unnest(generate_series(1, len(pieces))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({'p': pos, 'i': piece_id})),
                            s -> s.i) AS ids
      FROM wpm_pos JOIN mpid USING (piece) GROUP BY word
    )"""


@query(
    "wordpiece_marked_encode_sample",
    f"""
    WITH {_wordpiece_marked_cte()},
    {_WPM_WORD_IDS},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id < 15),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "marked", "encode",
)
@_clean_query
def wordpiece_marked_encode_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-convention WordPiece encoding (Devlin 2019: bare pieces
    open a word, ``##`` pieces continue it — the marker that makes the
    id stream losslessly decodable): position-aware greedy
    longest-match per DISTINCT word under the marked inventory
    (operators/wordpiece.py:wordpiece_encode_marked), full per-doc id
    streams oracled as digests against a position-aware recursive
    greedy CTE."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab_marked,
        wordpiece_encode_marked,
    )

    d = _t(spark, sf_dir, "documents")
    pieces = substring_vocab_marked(d, "text", max_piece_len=4, vocab_size=150)
    out = wordpiece_encode_marked(
        d.filter(F.col("doc_id") < 15), "doc_id", "text", pieces
    )
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


@query(
    "wordpiece_marked_roundtrip",
    f"""
    WITH {_wordpiece_marked_cte()},
    {_WPM_WORD_IDS},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id, {_WP_FLAT} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    dectok AS (
      SELECT doc_id, i, input_ids[i] AS pid
      FROM enc, LATERAL (SELECT unnest(generate_series(1, len(input_ids))) AS i)
    ),
    dec AS (
      SELECT d.doc_id,
             ltrim(string_agg(
               CASE WHEN m.piece LIKE '##%' THEN substr(m.piece, 3)
                    ELSE ' ' || m.piece END, '' ORDER BY d.i)) AS decoded
      FROM dectok d JOIN mpid m ON m.piece_id = d.pid
      GROUP BY d.doc_id
    ),
    norm AS (
      SELECT doc_id, source,
             array_to_string(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> ''), ' ')
               AS expect
      FROM documents
    ),
    tok AS (SELECT doc_id, len(input_ids) AS n_tokens FROM enc)
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN decoded = expect THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM dec JOIN norm USING (doc_id) JOIN tok USING (doc_id)
    GROUP BY source ORDER BY source
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "marked", "decode",
)
@_clean_query
def wordpiece_marked_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS WordPiece round trip — the capability the unmarked
    family structurally lacks (without continuation markers, word
    boundaries are gone from the id stream): every document is encoded
    under the marked inventory and decoded back (operators/
    wordpiece.py:wordpiece_decode_docs — map-literal piece table, pure
    codegen, zero shuffle), then compared to encode's own
    normalization. ``n_exact = n_docs`` per source; both engines
    replay encode AND decode independently."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab_marked,
        wordpiece_decode_docs,
        wordpiece_encode_marked,
    )

    from parquet_rewriter_spark.operators.bpe import word_counts

    d = _t(spark, sf_dir, "documents")
    wc = persist(word_counts(d, "text"))  # shared corpus scan
    pieces = substring_vocab_marked(
        d, "text", max_piece_len=4, vocab_size=150, wc=wc
    )
    enc = wordpiece_encode_marked(d, "doc_id", "text", pieces, wc=wc)
    dec = wordpiece_decode_docs(enc, "input_ids", pieces)
    norm = d.select(
        "doc_id",
        "source",
        F.concat_ws(
            " ",
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
            ),
        ).alias("expect"),
    )
    return (
        dec.join(norm, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("decoded") == F.col("expect"), 1).otherwise(0)
            ).alias("n_exact"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("source")
    )


def _wordpiece_frozen_cte() -> str:
    from parquet_rewriter_spark.operators.wordpiece import (
        wordpiece_frozen_cte_sql,
    )

    return wordpiece_frozen_cte_sql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0) train_docs",
        "(SELECT * FROM documents WHERE doc_id % 2 = 1 AND doc_id < 30) enc_docs",
        "text",
        max_piece_len=4,
        vocab_size=150,
    )


@query(
    "wordpiece_encode_holdout_sample",
    f"""
    WITH {_wordpiece_frozen_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id % 2 = 1 AND doc_id < 30),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "encode", "frozen",
)
@_clean_query
def wordpiece_encode_holdout_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROZEN WordPiece encoding of a corpus disjoint from training
    (the BPE holdout discipline applied to the second family): the
    inventory is selected on even doc_ids, odd documents are encoded
    with ``unk_id=-1`` — the segmenter's single-char fallback can emit
    pieces the inventory never saw, and the LEFT id join surfaces them
    instead of silently shortening the sequence. The oracle segments
    the holdout's OWN words with a fallback-aware greedy CTE against
    the train-side vocab."""
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    pieces = substring_vocab(
        d.filter(F.col("doc_id") % 2 == 0), "text",
        max_piece_len=4, vocab_size=150,
    )
    holdout = d.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 30))
    out = wordpiece_encode_docs(
        holdout, "doc_id", "text", pieces, unk_id=-1
    )
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


def _wordpiece_frozen_stream_cte() -> str:
    from parquet_rewriter_spark.operators.wordpiece import (
        wordpiece_frozen_cte_sql,
    )

    return wordpiece_frozen_cte_sql(
        "(SELECT * FROM documents WHERE doc_id % 2 = 0) train_docs",
        "(SELECT * FROM documents WHERE doc_id < 15) enc_docs",
        "text",
        max_piece_len=4,
        vocab_size=150,
    )


@query(
    "stream_wordpiece_encoded_ingest",
    f"""
    WITH {_wordpiece_frozen_stream_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id < 15),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """,
    "streaming", "llm-pipeline", "tokenizer", "wordpiece", "encode", "frozen",
)
def stream_wordpiece_encoded_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST WordPiece tokenization under a frozen inventory
    (streaming/ops.py:stream_wordpiece_encode_docs): pieces selected
    on even doc_ids, documents stream through in micro-batches
    (maxFilesPerTrigger=1), each batch greedily segments its OWN
    distinct words with unk_id=-1 for out-of-inventory pieces. The
    read-back digests must equal the batch frozen-WordPiece oracle —
    per-word segmentation is batch-independent. With this, BOTH
    rule-based (BPE) and inventory-based (WordPiece) frozen encoders
    have streaming twins."""
    import shutil

    from parquet_rewriter_spark.operators.wordpiece import substring_vocab
    from parquet_rewriter_spark.streaming.ops import (
        stream_wordpiece_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    pieces = substring_vocab(
        d.filter(F.col("doc_id") % 2 == 0), "text",
        max_piece_len=4, vocab_size=150,
    )
    piece_rows = [r["piece"] for r in pieces.collect()]
    base = _scratch("stream_wp_enc")
    src = os.path.join(base, "src")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    (
        d.filter(F.col("doc_id") < 15)
        .select("doc_id", "text")
        .repartition(3)
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_wordpiece_encode_docs(
        stream, "doc_id", "text", piece_rows, sink, ckpt, unk_id=-1
    )
    out = spark.read.parquet(sink)
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


@query(
    "stream_contamination_scan",
    """
    WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, g8 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6),
                                     i -> array_to_string(t[i:i+7], ' '))) AS g8
        FROM tok WHERE len(t) >= 8
      )
    ),
    bench AS (SELECT DISTINCT g8 FROM grams WHERE doc_id % 10 = 0),
    hits AS (
      SELECT g.doc_id, count(DISTINCT g.g8) AS n_shared
      FROM grams g JOIN bench b USING (g8)
      WHERE g.doc_id % 10 <> 0 GROUP BY g.doc_id
    )
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(CASE WHEN coalesce(h.n_shared, 0) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(sum(coalesce(h.n_shared, 0)) AS BIGINT) AS n_shared_grams
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 10 <> 0
    GROUP BY d.source ORDER BY d.source
    """,
    "streaming", "llm-pipeline", "contamination",
)
def stream_contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST contamination screening (streaming/ops.py:
    stream_contamination_guard): the benchmark 8-gram set is frozen,
    each arriving micro-batch runs a stateless explode → broadcast
    benchmark join → per-doc hit count into an epoch-partitioned
    idempotent sink (the stream_score_dsir discipline — no streaming
    state, checkpoint-replay safe). The per-source rollup read back
    FROM THE SINK must equal the batch contamination_check replay."""
    import shutil

    from parquet_rewriter_spark.streaming.ops import (
        stream_contamination_guard,
        stream_table,
    )

    d = _t(spark, sf_dir, "documents")
    g8 = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 8 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 7), "
        "i -> array_join(slice(split(text, ' '), i, 8), ' ')) "
        "ELSE array() END"
    )
    bench = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(g8).alias("g"))
        .distinct()
    )
    base = _scratch("stream_contam")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    train = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 != 0
    )
    stream_contamination_guard(
        train, bench, "doc_id", "text", sink, ckpt, n=8, keep_cols=("source",)
    )
    return (
        spark.read.parquet(sink)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("contaminated").cast("long")).alias("n_contaminated"),
            F.sum("n_shared").alias("n_shared_grams"),
        )
        .orderBy("source")
    )


@query(
    "hourly_value_seasonal_anomalies",
    """
    WITH hourly AS (
      -- v stays UNROUNDED: a rounded grid (k·1e-4) divided by the
      -- window width lands EXACTLY on rounding midpoints, where the
      -- engines' last-ulp sum-order differences flip the 4th decimal;
      -- messy doubles never sit on a boundary
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS h,
             avg(value) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    tr AS (
      SELECT h, v,
             CASE WHEN count(v) OVER win = 25 THEN
               (sum(v) OVER win
                - 0.5 * (lag(v, 12) OVER (ORDER BY h)
                         + lead(v, 12) OVER (ORDER BY h))) / 24
             END AS trend,
             (row_number() OVER (ORDER BY h) - 1) % 24 AS slot
      FROM hourly
      WINDOW win AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    det AS (SELECT *, v - trend AS detr FROM tr),
    sm AS (SELECT slot, avg(detr) AS sm FROM det GROUP BY slot),
    c AS (SELECT avg(sm) AS c FROM sm),
    seas AS (SELECT slot, sm - (SELECT c FROM c) AS seasonal FROM sm),
    r AS (
      -- round ALL remainder operands (v, trend, seasonal) BEFORE the
      -- subtraction and round the result (the operator's round_to=4
      -- contract): every downstream value is a 4-decimal grid value,
      -- identical across engines — an unrounded v minus grid values
      -- lands arbitrarily close to rounding midpoints
      SELECT d.h, d.v, round(d.trend, 4) AS trend, round(s.seasonal, 4) AS seasonal,
             round(round(d.v, 4) - round(d.trend, 4) - round(s.seasonal, 4), 4)
               AS remainder
      FROM det d JOIN seas s USING (slot)
    )
    SELECT h AS hour_epoch, round(v, 4) AS v,
           trend, seasonal, remainder,
           round(abs(remainder), 4)
             > round(3.0 * (SELECT stddev_samp(remainder) FROM r), 4)
             AS is_anomaly
    FROM r WHERE trend IS NOT NULL ORDER BY hour_epoch
    """,
    "timeseries", "decompose", "anomaly",
)
def hourly_value_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection: classical additive
    decomposition (operators/timeseries.py:seasonal_decompose_by —
    centered even-period moving-average trend, centered per-slot
    seasonals, residual) of the hourly value series with period 24,
    flagging hours whose RESIDUAL exceeds 3σ — the alert raw-value
    thresholds get wrong on daily-cycle data. All window functions +
    two bounded aggregates; per-group at scale (here one global
    series, so the single-partition window is the oracle's shape
    too)."""
    from parquet_rewriter_spark.operators.timeseries import seasonal_decompose_by

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch")
    ).agg(F.avg("value").alias("v"))
    dec = seasonal_decompose_by(
        hourly.withColumn("g", F.lit(1)), "g", "hour_epoch", "v", period=24,
        round_to=4,
    )
    return (
        dec.filter(F.col("trend").isNotNull())
        .select(
            "hour_epoch",
            F.round("v", 4).alias("v"),
            "trend",
            "seasonal",
            "remainder",
            "is_anomaly",
        )
        .orderBy("hour_epoch")
    )


@query(
    "hourly_value_robust_anomalies",
    """
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS h,
             avg(value) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    tr AS (
      SELECT h, v,
             CASE WHEN count(v) OVER win = 25 THEN
               (sum(v) OVER win
                - 0.5 * (lag(v, 12) OVER (ORDER BY h)
                         + lead(v, 12) OVER (ORDER BY h))) / 24
             END AS trend,
             (row_number() OVER (ORDER BY h) - 1) % 24 AS slot
      FROM hourly
      WINDOW win AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    det AS (SELECT *, v - trend AS detr FROM tr),
    sm AS (
      SELECT slot,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY detr) AS sm
      FROM det WHERE detr IS NOT NULL GROUP BY slot
    ),
    c AS (SELECT avg(sm) AS c FROM sm),
    seas AS (SELECT slot, sm - (SELECT c FROM c) AS seasonal FROM sm),
    r AS (
      -- ALL remainder operands rounded (round_to=4), so the
      -- percentile inputs are bit-identical across engines
      SELECT d.h, d.v, round(d.trend, 4) AS trend, round(s.seasonal, 4) AS seasonal,
             round(round(d.v, 4) - round(d.trend, 4) - round(s.seasonal, 4), 4)
               AS remainder
      FROM det d JOIN seas s USING (slot)
    ),
    med AS (
      SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY remainder) AS m
      FROM r WHERE remainder IS NOT NULL
    ),
    mad AS (
      SELECT percentile_cont(0.5) WITHIN GROUP
               (ORDER BY abs(remainder - (SELECT m FROM med))) AS mad
      FROM r WHERE remainder IS NOT NULL
    )
    SELECT h AS hour_epoch, round(v, 4) AS v,
           trend, seasonal, remainder,
           round(abs(remainder - (SELECT m FROM med)), 4)
             > round(3.0 * (1.4826 * (SELECT mad FROM mad)), 4) AS is_anomaly
    FROM r WHERE trend IS NOT NULL ORDER BY hour_epoch
    """,
    "timeseries", "decompose", "anomaly", "robust",
)
def hourly_value_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST seasonal anomaly detection (seasonal_decompose_by with
    robust=True): per-slot MEDIANS instead of means and a MAD-scaled
    robust z instead of k·stddev — a classical decomposition lets one
    spike leak -spike/n into its whole slot's seasonal AND inflate the
    stddev that judges it; the robust variant flags the spike alone
    (pinned in tests against a planted spike). Spark's percentile()
    and DuckDB's percentile_cont share linear interpolation, so the
    replay hash-matches."""
    from parquet_rewriter_spark.operators.timeseries import seasonal_decompose_by

    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch")
    ).agg(F.avg("value").alias("v"))
    dec = seasonal_decompose_by(
        hourly.withColumn("g", F.lit(1)), "g", "hour_epoch", "v", period=24,
        robust=True, round_to=4,
    )
    return (
        dec.filter(F.col("trend").isNotNull())
        .select(
            "hour_epoch",
            F.round("v", 4).alias("v"),
            "trend",
            "seasonal",
            "remainder",
            "is_anomaly",
        )
        .orderBy("hour_epoch")
    )


@query(
    "region_revenue_holt_linear",
    """
    WITH quarterly AS (
      SELECT r.r_name AS grp, date_trunc('quarter', o.o_orderdate) AS q,
             round(sum(o.o_totalprice), 2) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    series AS (
      SELECT grp, list(rev ORDER BY q) AS ys FROM quarterly GROUP BY grp
    ),
    hl AS (
      WITH RECURSIVE rr AS (
        SELECT grp, ys, 2 AS t, ys[2] AS level, ys[2] - ys[1] AS trend
        FROM series WHERE len(ys) >= 2
        UNION ALL
        SELECT grp, ys, t + 1,
               0.3 * ys[t + 1] + (1 - 0.3) * (level + trend) AS level,
               0.1 * ((0.3 * ys[t + 1] + (1 - 0.3) * (level + trend)) - level)
                 + (1 - 0.1) * trend AS trend
        FROM rr WHERE t < len(ys)
      )
      SELECT grp, level, trend, len(ys) AS n FROM rr WHERE t = len(ys)
    )
    SELECT grp AS region, CAST(hh.h AS INT) AS h,
           round(level + hh.h * trend, 2) AS yhat, CAST(n AS INT) AS n_points
    FROM hl, (SELECT unnest(generate_series(1, 4)) AS h) hh
    ORDER BY region, h
    """,
    "timeseries", "forecast", "holt-linear",
)
def region_revenue_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-seasonal trend forecasting: Holt's linear method (double
    exponential smoothing, operators/timeseries.py:holt_linear_by)
    over each region's QUARTERLY revenue, 4 quarters ahead — the
    forecaster for series too short or too aperiodic for the seasonal
    fit (needs 2 points, not 2·period). Same one-codegen-fold-per-
    series shape; cent-grid inputs keep the recurrence bit-identical
    across engines."""
    from parquet_rewriter_spark.operators.timeseries import holt_linear_by

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    quarterly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(nat, c["c_nationkey"] == nat["n_nationkey"])
        .join(reg, nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_trunc("quarter", F.col("o_orderdate")).alias("q"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    hl = holt_linear_by(quarterly, "region", "q", "rev", horizon=4)
    return hl.select(
        "region",
        F.col("h").cast("int").alias("h"),
        F.round("yhat", 2).alias("yhat"),
        F.col("n_points").cast("int").alias("n_points"),
    ).orderBy("region", "h")


_CUSUM_RATE_ORACLE = """
    WITH hourly AS (
      -- COUNTS, not value averages: counts are integers, exact in
      -- every engine, so the only cross-engine aggregates left are
      -- mu (an exact integer ratio) and sigma (rounded) — the CUSUM
      -- fold then runs on bit-identical inputs by construction
      SELECT event_type AS grp,
             CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
             CAST(count(*) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT grp, list({'t': t, 'v': v} ORDER BY t) AS pts,
             round(avg(v), 4) AS mu, round(stddev_samp(v), 4) AS sigma
      FROM hourly GROUP BY grp
    ),
    cu AS (
      WITH RECURSIVE r AS (
        SELECT grp, pts, mu, sigma, 0 AS i,
               CAST(0.0 AS DOUBLE) AS sp, CAST(0.0 AS DOUBLE) AS sn
        FROM series WHERE sigma IS NOT NULL
        UNION ALL
        SELECT grp, pts, mu, sigma, i + 1,
               greatest(0.0, sp + ((round(pts[i + 1].v, 4) - mu)
                                   - 0.5 * sigma)) AS sp,
               greatest(0.0, sn + ((mu - round(pts[i + 1].v, 4))
                                   - 0.5 * sigma)) AS sn
        FROM r WHERE i < len(pts)
      )
      SELECT grp, pts[i].t AS t, sp, sn, sigma FROM r WHERE i >= 1
    )
    -- raw states, no display round(): they are bit-identical across
    -- engines by construction, and the engines' round() impls disagree
    -- exactly at the grid boundaries CUSUM states live on
    SELECT grp AS event_type, t AS hour_epoch,
           sp AS cusum_pos, sn AS cusum_neg,
           (sp > 5.0 * sigma OR sn > 5.0 * sigma) AS alarm
    FROM cu ORDER BY event_type, hour_epoch
    """


@query(
    "hourly_event_rate_cusum",
    _CUSUM_RATE_ORACLE,
    "timeseries", "changepoint", "cusum",
)
def hourly_event_rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATE-shift change detection per event type: tabular CUSUM
    (operators/timeseries.py:cusum_by, k=0.5, h=5) over each type's
    hourly EVENT-COUNT series — running one-sided sums accumulate
    small persistent drifts that per-point 3-sigma anomaly flags never
    catch. One (mu, sigma) aggregate + one codegen fold per series.
    Counts are integers (exact in every engine) and mu is an exact
    integer ratio, so after sigma's single grid-rounding the fold's
    every state is bit-identical across engines by construction."""
    from parquet_rewriter_spark.operators.timeseries import cusum_by

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("event_type"),
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    cu = cusum_by(hourly, "event_type", "hour_epoch", "v", k=0.5, h=5.0)
    return cu.select(
        "event_type",
        "hour_epoch",
        "cusum_pos",
        "cusum_neg",
        "alarm",
    ).orderBy("event_type", "hour_epoch")


@query(
    "stream_event_rate_cusum",
    _CUSUM_RATE_ORACLE,
    "streaming", "timeseries", "changepoint", "cusum",
)
def stream_event_rate_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST change detection (streaming/ops.py:stream_cusum):
    reference (mu, sigma) frozen offline — a live baseline would let
    the shift poison itself — then the hourly count series streams
    through a stateful kernel carrying O(1) state per group (the two
    one-sided sums), appending one row per point. The drained sink
    must equal the batch operator row-for-row, so this query shares
    hourly_event_rate_cusum's oracle VERBATIM (the streaming-twin
    discipline)."""
    import shutil

    from parquet_rewriter_spark.streaming.ops import stream_cusum

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.col("event_type").alias("grp"),
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("t"),
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    stats = (
        hourly.groupBy("grp")
        .agg(
            F.round(F.avg("v"), 4).alias("mu"),
            F.round(F.stddev_samp("v"), 4).alias("sigma"),
        )
        .where(F.col("sigma").isNotNull())
    )
    stats_rows = [
        (r["grp"], float(r["mu"]), float(r["sigma"])) for r in stats.collect()
    ]
    base = _scratch("stream_cusum")
    src = os.path.join(base, "src")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    hourly.write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    stream_cusum(stream, "grp", "t", "v", stats_rows, sink, ckpt, k=0.5)
    out = spark.read.parquet(sink)
    sig = spark.createDataFrame(
        [(g, s) for g, _m, s in stats_rows], "grp string, sigma double"
    )
    thr = F.lit(5.0) * F.col("sigma")
    return (
        out.join(F.broadcast(sig), "grp")
        .select(
            F.col("grp").alias("event_type"),
            F.col("t").alias("hour_epoch"),
            F.col("sp").alias("cusum_pos"),
            F.col("sn").alias("cusum_neg"),
            ((F.col("sp") > thr) | (F.col("sn") > thr)).alias("alarm"),
        )
        .orderBy("event_type", "hour_epoch")
    )


def _holt_winters_oracle(p: int = 12, h: int = 3) -> str:
    a, b, g = 0.3, 0.1, 0.2
    return f"""
    WITH monthly AS (
      SELECT n.n_name AS grp, date_trunc('month', o.o_orderdate) AS m,
             round(sum(o.o_totalprice), 2) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    series AS (
      SELECT grp, list(rev ORDER BY m) AS ys FROM monthly GROUP BY grp
    ),
    hw AS (
      WITH RECURSIVE r AS (
        SELECT grp, ys, {p} AS t,
               list_sum(ys[1:{p}]) / {p} AS level,
               (list_sum(ys[{p + 1}:{2 * p}]) - list_sum(ys[1:{p}]))
                 / ({p}.0 * {p}) AS trend,
               list_transform(ys[1:{p}],
                              y -> y - list_sum(ys[1:{p}]) / {p}) AS seas
        FROM series WHERE len(ys) >= {2 * p}
        UNION ALL
        SELECT grp, ys, t + 1,
               {a} * (ys[t + 1] - seas[(t % {p}) + 1])
                 + (1 - {a}) * (level + trend) AS level,
               {b} * (({a} * (ys[t + 1] - seas[(t % {p}) + 1])
                       + (1 - {a}) * (level + trend)) - level)
                 + (1 - {b}) * trend AS trend,
               list_transform(seas, (s, i) -> CASE WHEN i = (t % {p}) + 1
                 THEN {g} * (ys[t + 1] - ({a} * (ys[t + 1] - seas[(t % {p}) + 1])
                                          + (1 - {a}) * (level + trend)))
                      + (1 - {g}) * s
                 ELSE s END) AS seas
        FROM r WHERE t < len(ys)
      )
      SELECT grp, level, trend, seas, len(ys) AS n FROM r WHERE t = len(ys)
    )
    SELECT grp AS nation, CAST(hh.h AS INT) AS h,
           round(level + hh.h * trend + seas[((n + hh.h - 1) % {p}) + 1], 2)
             AS yhat,
           CAST(n AS INT) AS n_points
    FROM hw, (SELECT unnest(generate_series(1, {h})) AS h) hh
    ORDER BY nation, h
    """


@query(
    "nation_revenue_holtwinters",
    _holt_winters_oracle(12, 3),
    "timeseries", "forecast", "holt-winters",
)
def nation_revenue_holtwinters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal revenue forecasting per nation: additive Holt-Winters
    (period 12, 3 months ahead) over each nation's monthly revenue
    series — millions of independent series is the 100-TB shape, so
    the operator is ONE hash exchange on the group key + a single
    codegen fold per series (operators/timeseries.py:holt_winters_by;
    no Python, no per-step jobs). Monthly inputs are rounded to cents
    in both engines, and both run the identical double-precision
    recurrence, so forecasts hash-match to the cent."""
    from parquet_rewriter_spark.operators.timeseries import holt_winters_by

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(nat, c["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    hw = holt_winters_by(
        monthly, "nation", "m", "rev", period=12, horizon=3
    )
    return hw.select(
        "nation",
        F.col("h").cast("int").alias("h"),
        F.round("yhat", 2).alias("yhat"),
        F.col("n_points").cast("int").alias("n_points"),
    ).orderBy("nation", "h")


@query(
    "stream_holtwinters_fit",
    _holt_winters_oracle(12, 3),
    "streaming", "timeseries", "forecast", "holt-winters",
)
def stream_holtwinters_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST forecasting (streaming/ops.py:stream_holt_winters):
    per-nation monthly revenue points stream through a stateful kernel
    carrying O(period) state per group — buffer two seasons, initialize
    exactly like the batch fold, then update per arriving point — and
    the drained state's 3-month forecasts must equal the BATCH
    Holt-Winters oracle bit-for-bit (same recurrence, same
    double-precision order). The streaming twin of
    nation_revenue_holtwinters, same oracle."""
    import shutil

    from parquet_rewriter_spark.streaming.ops import stream_holt_winters

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(nat, c["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.unix_timestamp(
                F.date_trunc("month", F.col("o_orderdate"))
            ).alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    base = _scratch("stream_hw")
    src = os.path.join(base, "src")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    monthly.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)
    stream_holt_winters(
        stream, "nation", "m", "rev", sink, ckpt, period=12,
    )
    fitted = spark.read.parquet(sink)
    w = Window.partitionBy("grp")
    latest = (
        fitted.withColumn("__mx", F.max("t").over(w))
        .filter(F.col("t") == F.col("__mx"))
        .select("grp", "t", "level", "trend", "seas")
    )
    h = F.explode(F.sequence(F.lit(1), F.lit(3))).alias("h")
    out = latest.select("*", h)
    yhat = (
        F.col("level")
        + F.col("h") * F.col("trend")
        + F.element_at(
            F.col("seas"),
            (F.pmod(F.col("t") + F.col("h") - 1, F.lit(12)) + 1).cast("int"),
        )
    )
    return out.select(
        F.col("grp").alias("nation"),
        F.col("h").cast("int").alias("h"),
        F.round(yhat, 2).alias("yhat"),
        F.col("t").cast("int").alias("n_points"),
    ).orderBy("nation", "h")


def _holtwinters_backtest_oracle(p: int = 12, h: int = 3) -> str:
    a, b, g = 0.3, 0.1, 0.2
    return f"""
    WITH monthly AS (
      SELECT n.n_name AS grp, date_trunc('month', o.o_orderdate) AS m,
             round(sum(o.o_totalprice), 2) AS rev
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    ),
    series AS (
      SELECT grp, list(rev ORDER BY m) AS full_ys FROM monthly GROUP BY grp
    ),
    hw AS (
      WITH RECURSIVE r AS (
        SELECT grp, full_ys, full_ys[1:len(full_ys) - {h}] AS ys, {p} AS t,
               list_sum(full_ys[1:{p}]) / {p} AS level,
               (list_sum(full_ys[{p + 1}:{2 * p}]) - list_sum(full_ys[1:{p}]))
                 / ({p}.0 * {p}) AS trend,
               list_transform(full_ys[1:{p}],
                              y -> y - list_sum(full_ys[1:{p}]) / {p}) AS seas
        FROM series WHERE len(full_ys) - {h} >= {2 * p}
        UNION ALL
        SELECT grp, full_ys, ys, t + 1,
               {a} * (ys[t + 1] - seas[(t % {p}) + 1])
                 + (1 - {a}) * (level + trend) AS level,
               {b} * (({a} * (ys[t + 1] - seas[(t % {p}) + 1])
                       + (1 - {a}) * (level + trend)) - level)
                 + (1 - {b}) * trend AS trend,
               list_transform(seas, (s, i) -> CASE WHEN i = (t % {p}) + 1
                 THEN {g} * (ys[t + 1] - ({a} * (ys[t + 1] - seas[(t % {p}) + 1])
                                          + (1 - {a}) * (level + trend)))
                      + (1 - {g}) * s
                 ELSE s END) AS seas
        FROM r WHERE t < len(ys)
      )
      SELECT grp, full_ys, level, trend, seas, len(ys) AS n
      FROM r WHERE t = len(ys)
    ),
    fc AS (
      SELECT grp, hh.h AS h, n,
             round(level + hh.h * trend + seas[((n + hh.h - 1) % {p}) + 1], 2)
               AS yhat,
             full_ys[CAST(n + hh.h AS BIGINT)] AS y
      FROM hw, (SELECT unnest(generate_series(1, {h})) AS h) hh
    )
    SELECT grp AS nation, CAST(max(n) AS INT) AS n_train,
           round(avg(abs(y - yhat) / abs(y)), 4) AS mape,
           round(avg(2.0 * abs(y - yhat) / (abs(y) + abs(yhat))), 4) AS smape
    FROM fc GROUP BY grp ORDER BY nation
    """


@query(
    "holtwinters_backtest_mape",
    _holtwinters_backtest_oracle(12, 3),
    "timeseries", "forecast", "holt-winters", "evaluation", "backtest",
)
def holtwinters_backtest_mape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin FORECAST-QUALITY evaluation (operators/
    timeseries.py:holt_winters_backtest): hold out each nation's last
    3 monthly-revenue points, fit Holt-Winters on the prefix (the
    identical codegen fold, so the oracle replays the recurrence on
    the truncated series), forecast the held-out months, and report
    per-nation MAPE/sMAPE — the 'how wrong is it' number every
    production forecaster ships with. Forecasts and actuals are
    cent-grid values, so error terms are bit-identical; metric
    averages round to 4."""
    from parquet_rewriter_spark.operators.timeseries import (
        holt_winters_backtest,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(nat, c["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    bt = holt_winters_backtest(
        monthly, "nation", "m", "rev", period=12, horizon=3
    )
    return bt.select(
        "nation", F.col("n_train").cast("int").alias("n_train"), "mape", "smape"
    ).orderBy("nation")


def _hw_vs_naive_oracle(p: int = 12, h: int = 3) -> str:
    base = _holtwinters_backtest_oracle(p, h)
    # reuse the backtest chain up to `fc`, then add the naive baseline
    head, tail = base.rsplit("SELECT grp AS nation,", 1)
    return (
        head
        + f""", hmet AS (
      SELECT grp, round(avg(abs(y - yhat) / abs(y)), 4) AS mape_hw
      FROM fc GROUP BY grp
    ),
    naive AS (
      SELECT grp, hh.h AS h,
             full_ys[CAST(n - {p} + hh.h AS BIGINT)] AS yhat,
             full_ys[CAST(n + hh.h AS BIGINT)] AS y
      FROM hw, (SELECT unnest(generate_series(1, {h})) AS h) hh
    ),
    nmet AS (
      SELECT grp, round(avg(abs(y - yhat) / abs(y)), 4) AS mape_naive
      FROM naive GROUP BY grp
    )
    SELECT hm.grp AS nation, hm.mape_hw, nm.mape_naive,
           round(1 - hm.mape_hw / nm.mape_naive, 4) AS skill
    FROM hmet hm JOIN nmet nm ON nm.grp = hm.grp
    ORDER BY nation
    """
    )


@query(
    "holtwinters_vs_naive_skill",
    _hw_vs_naive_oracle(12, 3),
    "timeseries", "forecast", "evaluation", "skill",
)
def holtwinters_vs_naive_skill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast SKILL against the seasonal-naive baseline — the 'does
    the model beat last season's value' number that decides whether a
    forecaster earns a deploy: per nation, the Holt-Winters backtest
    MAPE, the seasonal-naive backtest MAPE on the identical holdout
    (operators/timeseries.py:seasonal_naive_backtest — pure window
    algebra, no fitting), and skill = 1 − mape_hw/mape_naive (positive
    = beats naive). Skill is derived from the two rounded MAPEs, so
    it is an exact quotient of identical grid values in both
    engines."""
    from parquet_rewriter_spark.operators.timeseries import (
        holt_winters_backtest,
        seasonal_naive_backtest,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    monthly = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(nat, c["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    hw = holt_winters_backtest(
        monthly, "nation", "m", "rev", period=12, horizon=3
    ).select("nation", F.col("mape").alias("mape_hw"))
    naive = seasonal_naive_backtest(
        monthly, "nation", "m", "rev", period=12, horizon=3
    ).select("nation", F.col("mape").alias("mape_naive"))
    return (
        hw.join(naive, "nation")
        .select(
            "nation",
            "mape_hw",
            "mape_naive",
            F.round(
                F.lit(1.0) - F.col("mape_hw") / F.col("mape_naive"), 4
            ).alias("skill"),
        )
        .orderBy("nation")
    )


def _tokenizer_registry_oracle(n_merges: int = 4) -> str:
    from parquet_rewriter_spark.operators.bpe import bpe_vocab_cte_sql

    cte = bpe_vocab_cte_sql("documents", "text", n_merges)
    rules_union = " UNION ALL ".join(
        f"SELECT * FROM t{s}" for s in range(1, n_merges + 1)
    )
    return f"""
    WITH {cte},
    vt AS (
      SELECT word, len(string_split(trim(sym), ' ')) AS n_tokens FROM v{n_merges}
    ),
    occ AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    ),
    nr AS (SELECT CAST(count(*) AS INT) AS n_rules FROM ({rules_union}))
    SELECT lang, count(*) AS n_words, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 4) AS fertility,
           (SELECT n_rules FROM nr) AS n_rules
    FROM occ JOIN vt USING (word)
    GROUP BY lang ORDER BY lang
    """


@query(
    "tokenizer_artifact_roundtrip",
    _tokenizer_registry_oracle(4),
    "llm-pipeline", "tokenizer", "bpe", "registry", "storage",
)
def tokenizer_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER REGISTRY backed by the engine's own storage: train
    BPE, persist BOTH artifacts — the ordered merge rules and the
    encoded vocab relation — as SortedTables (sorted write, zone maps,
    time travel for free: a tokenizer version IS a table version),
    drop the in-memory copies, reload from disk, and compute fertility
    FROM THE STORED ARTIFACT. The result must equal the in-memory
    path's (same oracle), with the stored rule count folded in — a
    training job and a later encoding job sharing nothing but the
    table prove the artifact round-trips losslessly."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, fertility_by, rules_df
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents")
    base = _scratch("tok_registry")
    with cache_scope():
        rules, vocab = bpe_train(d, "text", n_merges=4)
        rt = SortedTable.create(
            spark, os.path.join(base, "rules"), rules_df(spark, rules), key="step"
        )
        vt = SortedTable.create(
            spark, os.path.join(base, "vocab"),
            vocab.select("word", "cnt", "sym"), key="word",
        )
    stored_vocab = vt.read()
    n_rules = rt.read().count()
    out = fertility_by(d, "text", "lang", stored_vocab)
    return out.withColumn("n_rules", F.lit(int(n_rules)).cast("int")).orderBy(
        "lang"
    )


def _unigram_cte() -> str:
    from parquet_rewriter_spark.operators.unigram import unigram_cte_sql

    return unigram_cte_sql("documents", "text", max_piece_len=4, vocab_size=150)


@query(
    "unigram_best_segmentations",
    f"""
    WITH {_unigram_cte()}
    SELECT word, round(best_ll, 4) AS best_ll, n_opt
    FROM ug_best JOIN wc USING (word)
    ORDER BY cnt DESC, word LIMIT 30
    """,
    "llm-pipeline", "tokenizer", "unigram",
)
def unigram_best_segmentations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (Kudo 2018) maximum-likelihood segmentation of the
    30 most frequent corpus words — the THIRD tokenizer family.
    Spark runs a Viterbi DP per distinct word (operators/unigram.py:
    viterbi_segment_stats, Arrow-batched at vocab scale); the oracle
    ENUMERATES every segmentation path with a recursive CTE and takes
    the max — independent algorithms that must agree bit-for-bit on
    the optimum AND the tie count, because scores are products of
    exact IEEE c/T doubles multiplied in the same order (no libm ln
    before the argmax)."""
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        viterbi_segment_stats,
    )

    d = _t(spark, sf_dir, "documents")
    stats = piece_stats(d, "text", max_piece_len=4, vocab_size=150)
    top = word_counts(d, "text").orderBy(F.col("cnt").desc(), "word").limit(30)
    segd = viterbi_segment_stats(top, stats)
    return segd.select(
        "word", F.round("best_ll", 4).alias("best_ll"), "n_opt"
    ).orderBy(F.col("cnt").desc(), "word").drop("cnt")


@query(
    "unigram_corpus_loglik",
    f"""
    WITH {_unigram_cte()},
    occ AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    )
    SELECT lang, count(*) AS n_words,
           round(sum(best_ll), 2) AS sum_ll,
           round(sum(best_ll) / count(*), 4) AS avg_ll
    FROM occ JOIN ug_best USING (word)
    GROUP BY lang ORDER BY lang
    """,
    "llm-pipeline", "tokenizer", "unigram", "scoring",
)
@_clean_query
def unigram_corpus_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus log-likelihood per language under the unigram model —
    the quantity SentencePiece's EM maximizes, computed with the
    shared discipline: Viterbi once per DISTINCT word, occurrences
    join the per-word relation broadcast under the counted
    threshold."""
    from parquet_rewriter_spark.operators.bpe import (
        BROADCAST_MAX_WORDS,
        _word_join,
        count_with_bytes,
        word_counts,
    )
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        viterbi_segment_stats,
    )

    d = _t(spark, sf_dir, "documents")
    stats = piece_stats(d, "text", max_piece_len=4, vocab_size=150)
    wc = word_counts(d, "text")
    # persisted: the fused count/gate job materializes the cache, so
    # the loglik join reads it instead of re-running the Viterbi
    # segmentation
    segd = persist(viterbi_segment_stats(wc, stats).select("word", "best_ll"))
    # one job: the distinct-word count (segd is 1:1 with wc) plus the
    # byte-gate estimate the word join needs
    n_words, est = count_with_bytes(segd)
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    occ = d.select(F.col("lang").alias("grp"), F.explode(w).alias("word"))
    return (
        _word_join(occ, segd, n_words, BROADCAST_MAX_WORDS, est_bytes=est)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(F.sum("best_ll"), 2).alias("sum_ll"),
            F.round(F.sum("best_ll") / F.count(F.lit(1)), 4).alias("avg_ll"),
        )
        .select(F.col("grp").alias("lang"), "n_words", "sum_ll", "avg_ll")
        .orderBy("lang")
    )


def _unigram_word_ids_cte() -> str:
    """CTEs mapping each distinct word to its unigram piece-id array:
    dense piece ids in piece order over the inventory, the per-word
    optimal segmentation (``ug_seg``: max exact score, lexmin
    tie-break) id-mapped in position order. Compose after
    ``_unigram_cte()``."""
    return """upid AS (
      SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS piece_id
      FROM ug_stats
    ),
    ug_pos AS (
      SELECT word, i AS pos, pieces[i] AS piece
      FROM ug_seg, LATERAL (SELECT unnest(generate_series(1, len(pieces))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({'p': pos, 'i': piece_id})),
                            s -> s.i) AS ids
      FROM ug_pos JOIN upid USING (piece) GROUP BY word
    )"""


@query(
    "unigram_encode_sample",
    f"""
    WITH {_unigram_cte()},
    {_unigram_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id < 15),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """,
    "llm-pipeline", "tokenizer", "unigram", "encode",
)
@_clean_query
def unigram_encode_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM's pretraining deliverable — documents → maximum-
    likelihood piece-ID sequences (operators/unigram.py:
    unigram_encode_docs), closing the lifecycle gap with BPE: the
    Viterbi DP picks each DISTINCT word's optimal segmentation once
    (ties broken by the lexicographically smallest piece string — a
    total order both engines share bit-for-bit), pieces id-map through
    the broadcast bounded inventory, and per-doc sequences reassemble
    through the thresholded word join. The oracle ENUMERATES every
    path (independent algorithm), takes max exact-product score then
    min joined string, and must reproduce the full id streams."""
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    stats = piece_stats(d, "text", max_piece_len=4, vocab_size=150)
    out = unigram_encode_docs(
        d.filter(F.col("doc_id") < 15), "doc_id", "text", stats
    )
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


@query(
    "stream_unigram_encoded_ingest",
    f"""
    WITH {_unigram_cte()},
    {_unigram_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id < 15),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """,
    "streaming", "llm-pipeline", "tokenizer", "unigram", "encode", "frozen",
)
def stream_unigram_encoded_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST unigram-LM tokenization (streaming/ops.py:
    stream_unigram_encode_docs) — the trio is complete: BPE (rule
    replay), WordPiece (greedy), and unigram (Viterbi, lexmin
    tie-break) all encode the firehose under frozen artifacts. Each
    micro-batch Viterbi-segments its OWN distinct words; per-word
    segmentation is batch-independent, so the drained sink's digests
    share unigram_encode_sample's oracle VERBATIM."""
    import shutil

    from parquet_rewriter_spark.operators.unigram import piece_stats
    from parquet_rewriter_spark.streaming.ops import (
        stream_unigram_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    stats = piece_stats(d, "text", max_piece_len=4, vocab_size=150)
    stats_rows = [(r["piece"], int(r["c"])) for r in stats.collect()]
    base = _scratch("stream_ug_enc")
    src = os.path.join(base, "src")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    (
        d.filter(F.col("doc_id") < 15)
        .select("doc_id", "text")
        .repartition(3)
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_unigram_encode_docs(
        stream, "doc_id", "text", stats_rows, sink, ckpt
    )
    out = spark.read.parquet(sink)
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


@query(
    "unigram_packed_windows",
    f"""
    WITH {_unigram_cte()},
    {_unigram_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id, {_WP_FLAT} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    {_packed_oracle_tail(32, 4)}
    """,
    "llm-pipeline", "tokenizer", "unigram", "packing", "pretraining",
)
@_clean_query
def unigram_packed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unigram-LM end-to-end pretraining pipeline — corpus →
    Viterbi piece-id encoding → packed fixed-32-token windows through
    the tokenizer-agnostic pack/materialize tail. With this all THREE
    tokenizer families (BPE, WordPiece, unigram) feed the same packing
    materializer, each hash-verified end to end."""
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )

    from parquet_rewriter_spark.operators.bpe import word_counts

    d = _t(spark, sf_dir, "documents")
    wc = persist(word_counts(d, "text"))  # shared corpus scan
    stats = piece_stats(d, "text", max_piece_len=4, vocab_size=150, wc=wc)
    enc = unigram_encode_docs(d, "doc_id", "text", stats, wc=wc)
    return _scalarized_windows(enc, m=32, shards=4)


@query(
    "unigram_artifact_roundtrip",
    f"""
    WITH {_unigram_cte()},
    occ AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    )
    SELECT lang, count(*) AS n_words,
           round(sum(best_ll), 2) AS sum_ll,
           round(sum(best_ll) / count(*), 4) AS avg_ll,
           (SELECT CAST(count(*) AS INT) FROM ug_stats) AS vocab_rows
    FROM occ JOIN ug_best USING (word)
    GROUP BY lang ORDER BY lang
    """,
    "llm-pipeline", "tokenizer", "unigram", "registry", "storage",
)
@_clean_query
def unigram_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM in the TOKENIZER REGISTRY: persist the (piece, c)
    inventory as a SortedTable (key=piece), reload from disk, and
    score the corpus FROM THE STORED ARTIFACT (per-language Viterbi
    log-likelihood, the unigram_corpus_loglik contract) with the
    stored vocab row count folded in — a training job and a later
    scoring job sharing nothing but the table. Registry parity with
    BPE and WordPiece."""
    from parquet_rewriter_spark.operators.bpe import (
        BROADCAST_MAX_WORDS,
        _word_join,
        count_with_bytes,
        word_counts,
    )
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        viterbi_segment_stats,
    )
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents")
    wc = persist(word_counts(d, "text"))  # shared corpus scan
    stats = piece_stats(d, "text", max_piece_len=4, vocab_size=150, wc=wc)
    base = _scratch("ug_registry")
    st = SortedTable.create(
        spark, os.path.join(base, "pieces"), stats, key="piece"
    )
    stored = st.read()
    n_vocab = stored.count()
    # persisted: the fused count/gate job materializes the cache,
    # so the loglik join reads it instead of re-running Viterbi
    segd = persist(
        viterbi_segment_stats(wc, stored)
        .select("word", "best_ll")
    )
    # one job: the distinct-word count (segd is 1:1 with the
    # persisted wc, which materializes here) + the byte-gate probe
    n_words, est = count_with_bytes(segd)
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    occ = d.select(F.col("lang").alias("grp"), F.explode(w).alias("word"))
    out = (
        _word_join(occ, segd, n_words, BROADCAST_MAX_WORDS, est_bytes=est)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(F.sum("best_ll"), 2).alias("sum_ll"),
            F.round(F.sum("best_ll") / F.count(F.lit(1)), 4).alias("avg_ll"),
        )
        .select(
            F.col("grp").alias("lang"),
            "n_words",
            "sum_ll",
            "avg_ll",
            F.lit(int(n_vocab)).cast("int").alias("vocab_rows"),
        )
        .orderBy("lang")
    )
    return out


def _unigram_cte_nowc() -> str:
    from parquet_rewriter_spark.operators.unigram import unigram_cte_sql

    return unigram_cte_sql("documents", "text", 4, 150, include_wc=False)


def _bpe_cte_4merges() -> str:
    from parquet_rewriter_spark.operators.bpe import bpe_vocab_cte_sql

    return bpe_vocab_cte_sql("documents", "text", 4)


@query(
    "tokenizer_family_compression",
    f"""
    WITH {_wordpiece_cte()},
    {_unigram_cte_nowc()},
    {_bpe_cte_4merges()},
    occ AS (
      SELECT unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    ),
    bpe_wt AS (
      SELECT word, len(string_split(trim(sym), ' ')) AS n FROM v4
    ),
    fam AS (
      SELECT 'bpe' AS family, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(n) AS BIGINT) AS n_tokens,
             CAST(sum(len(word)) AS BIGINT) AS n_chars
      FROM occ JOIN bpe_wt USING (word)
      UNION ALL
      SELECT 'unigram', CAST(count(*) AS BIGINT),
             CAST(sum(n_pieces) AS BIGINT), CAST(sum(len(word)) AS BIGINT)
      FROM occ JOIN ug_seg USING (word)
      UNION ALL
      SELECT 'wordpiece', CAST(count(*) AS BIGINT),
             CAST(sum(n_pieces) AS BIGINT), CAST(sum(len(word)) AS BIGINT)
      FROM occ JOIN wp_seg USING (word)
    )
    SELECT family, n_words, n_tokens,
           round(CAST(n_chars AS DOUBLE) / n_tokens, 4) AS chars_per_token,
           round(CAST(n_tokens AS DOUBLE) / n_words, 4) AS fertility
    FROM fam ORDER BY family
    """,
    "llm-pipeline", "tokenizer", "evaluation", "compression",
)
@_clean_query
def tokenizer_family_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer BAKE-OFF every pretraining effort runs before
    committing a vocabulary: all three families trained on the same
    corpus at the same budget (4 BPE merges / 150-piece inventories),
    compared on total token count, chars-per-token (compression), and
    fertility — one corpus scan into the shared word relation, each
    family segmenting at distinct-word scale, three thresholded joins.
    BPE counts include its ``</w>`` end-markers where unmerged (its
    own accounting); unigram uses the maximum-likelihood segmentation
    length. Every number replayed in one combined SQL chain."""
    from parquet_rewriter_spark.operators.bpe import (
        BROADCAST_MAX_WORDS,
        _word_join,
        bpe_train,
        count_with_bytes,
        vocab_token_counts,
        word_counts,
    )
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        viterbi_segment,
    )
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_segment,
    )

    d = _t(spark, sf_dir, "documents")
    wc = persist(word_counts(d, "text"))  # shared by all three families
    rules, vocab = bpe_train(d, "text", n_merges=4)
    bpe_rel = vocab_token_counts(vocab).withColumnRenamed("n_tokens", "n")
    # wp/ug persisted: each family's fused count/gate job
    # materializes its cache, so the compression join reads it
    # instead of re-running the Arrow segmentation (bpe_rel reads
    # the already-persisted vocab — no second cache needed)
    wp_rel = persist(wordpiece_segment(
        wc, substring_vocab(d, "text", 4, 150, wc=wc)
    ).select("word", F.col("n_pieces").alias("n")))
    ug_rel = persist(viterbi_segment(
        wc, piece_stats(d, "text", 4, 150, wc=wc)
    ).select("word", F.col("n_pieces").alias("n")))
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    occ = d.select(F.explode(w).alias("word"))
    parts = []
    for fam, rel in (
        ("bpe", bpe_rel), ("unigram", ug_rel), ("wordpiece", wp_rel)
    ):
        # per-family fused count+byte-gate job (each rel is 1:1
        # with wc, so the count doubles as the distinct-word
        # count the former shared wc.count() delivered)
        n_words, est = count_with_bytes(rel)
        j = _word_join(occ, rel, n_words, BROADCAST_MAX_WORDS,
                       est_bytes=est)
        parts.append(
            j.agg(
                F.count(F.lit(1)).alias("n_words"),
                F.sum("n").alias("n_tokens"),
                F.sum(F.length("word")).alias("n_chars"),
            ).select(
                F.lit(fam).alias("family"), "n_words", "n_tokens", "n_chars"
            )
        )
    out = parts[0].unionByName(parts[1]).unionByName(parts[2]).select(
        "family",
        "n_words",
        "n_tokens",
        F.round(
            F.col("n_chars").cast("double") / F.col("n_tokens"), 4
        ).alias("chars_per_token"),
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_words"), 4
        ).alias("fertility"),
    ).orderBy("family")
    return out


def _unigram_em_cte() -> str:
    from parquet_rewriter_spark.operators.unigram import unigram_em_cte_sql

    return unigram_em_cte_sql(
        "documents", "text", max_piece_len=4, seed_size=300,
        keep_size=150, n_rounds=2,
    )


@query(
    "unigram_em_vocab",
    f"""
    WITH {_unigram_em_cte()}
    SELECT piece, piece_len, c, p FROM em_final
    ORDER BY c DESC, piece
    """,
    "llm-pipeline", "tokenizer", "unigram", "training", "em",
)
def unigram_em_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual SentencePiece TRAINER (Kudo 2018 §3.2), not just
    substring counting: two EM rounds — forward-backward expected
    piece counts over ALL segmentations at distinct-word scale,
    expected-count pruning to 150 multi-char pieces (chars always
    survive), integer-ratio M-step — via operators/unigram.py:
    unigram_em_train. The oracle replays every round CELL-FOR-CELL:
    per-position posteriors are quantized to integers from
    bit-identical DP doubles (same term order, same parenthesization,
    same floor(x·1e6+0.5)), so all aggregation is exact integer
    arithmetic and the final (piece, c, p) table matches exactly, not
    within tolerance."""
    from parquet_rewriter_spark.operators.unigram import unigram_em_train

    d = _t(spark, sf_dir, "documents")
    out = unigram_em_train(
        d, "text", max_piece_len=4, seed_size=300, keep_size=150, n_rounds=2
    )
    return out.orderBy(F.col("c").desc(), "piece")


@query(
    "unigram_em_encode_sample",
    f"""
    WITH {_unigram_em_cte()},
    em_ratio AS MATERIALIZED (SELECT piece, p AS r FROM em_final),
    em_paths AS MATERIALIZED (
      WITH RECURSIVE p AS (
        SELECT word, 0 AS pos, CAST(1.0 AS DOUBLE) AS score,
               CAST('' AS VARCHAR) AS ps
        FROM wc
        UNION ALL
        SELECT p.word, p.pos + len(v.piece) AS pos, p.score * v.r AS score,
               CASE WHEN p.ps = '' THEN v.piece
                    ELSE p.ps || ' ' || v.piece END AS ps
        FROM p JOIN em_ratio v
          ON substr(p.word, p.pos + 1, len(v.piece)) = v.piece
        WHERE p.pos < len(p.word)
      )
      SELECT word, score, ps FROM p WHERE pos = len(word)
    ),
    em_seg AS MATERIALIZED (
      SELECT word, string_split(min(ps) FILTER (WHERE score = m), ' ') AS pieces
      FROM (SELECT word, score, ps, max(score) OVER (PARTITION BY word) AS m
            FROM em_paths)
      GROUP BY word
    ),
    empid AS (
      SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS piece_id
      FROM em_final
    ),
    em_pos AS (
      SELECT word, i AS pos, pieces[i] AS piece
      FROM em_seg, LATERAL (SELECT unnest(generate_series(1, len(pieces))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({{'p': pos, 'i': piece_id}})),
                            s -> s.i) AS ids
      FROM em_pos JOIN empid USING (piece) GROUP BY word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents WHERE doc_id < 15),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """,
    "llm-pipeline", "tokenizer", "unigram", "training", "registry", "encode",
)
@_clean_query
def unigram_em_encode_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE trainer→registry→encoder lifecycle in one query:
    EM-train the unigram inventory (2 rounds), persist the trained
    (piece, c, p) artifact as a SortedTable, RELOAD it from disk, and
    encode documents with the stored model (Viterbi under the trained
    probabilities, lexmin tie-break, dense piece ids). The oracle
    replays EM training cell-exactly, re-derives the optimal
    segmentations by path enumeration under the trained ratios, and
    must reproduce the full per-doc id streams — proving the trained
    artifact, not just the seed counts, drives an identical encoder in
    both engines."""
    from parquet_rewriter_spark.operators.unigram import (
        unigram_em_train,
        unigram_encode_docs,
    )
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents")
    trained = unigram_em_train(
        d, "text", max_piece_len=4, seed_size=300, keep_size=150, n_rounds=2
    )
    base = _scratch("ug_em_registry")
    st = SortedTable.create(
        spark, os.path.join(base, "model"), trained, key="piece"
    )
    stored = st.read()
    out = unigram_encode_docs(
        d.filter(F.col("doc_id") < 15), "doc_id", "text", stored
    )
    return out.select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


@query(
    "unigram_em_resume_roundtrip",
    f"""
    WITH {_unigram_em_cte()}
    SELECT piece, piece_len, c, p FROM em_final
    ORDER BY c DESC, piece
    """,
    "llm-pipeline", "tokenizer", "unigram", "training", "registry", "incremental",
)
def unigram_em_resume_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESUMABLE EM training through the registry: train ONE round,
    persist the inventory as a SortedTable, reload it in a disjoint
    reader, and train ONE MORE round seeded from the stored state —
    the result must equal the one-shot two-round trainer CELL-FOR-CELL
    (this query shares unigram_em_vocab's oracle verbatim), because
    EM's entire state IS the integer inventory and every round is a
    pure function of it. The checkpoint-and-continue discipline of a
    long-running production training job, on the engine's own
    storage."""
    from parquet_rewriter_spark.operators.unigram import unigram_em_train
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents")
    r1 = unigram_em_train(
        d, "text", max_piece_len=4, seed_size=300, keep_size=150, n_rounds=1
    )
    base = _scratch("ug_em_resume")
    st = SortedTable.create(
        spark, os.path.join(base, "ckpt"), r1, key="piece"
    )
    stored = [
        (r["piece"], int(r["c"]))
        for r in st.read().select("piece", "c").collect()
    ]
    out = unigram_em_train(
        d, "text", max_piece_len=4, seed_size=300, keep_size=150,
        n_rounds=1, init_inventory=stored,
    )
    return out.orderBy(F.col("c").desc(), "piece")


@query(
    "unigram_em_corpus_loglik",
    f"""
    WITH {_unigram_em_cte()},
    em_ratio AS MATERIALIZED (SELECT piece, p AS r FROM em_final),
    em_paths AS MATERIALIZED (
      WITH RECURSIVE p AS (
        SELECT word, 0 AS pos, CAST(1.0 AS DOUBLE) AS score FROM wc
        UNION ALL
        SELECT p.word, p.pos + len(v.piece) AS pos, p.score * v.r AS score
        FROM p JOIN em_ratio v
          ON substr(p.word, p.pos + 1, len(v.piece)) = v.piece
        WHERE p.pos < len(p.word)
      )
      SELECT word, score FROM p WHERE pos = len(word)
    ),
    em_best AS MATERIALIZED (
      SELECT word, ln(max(score)) AS best_ll FROM em_paths GROUP BY word
    ),
    occ AS (
      SELECT lang, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'), w -> w <> '')) AS word
      FROM documents
    )
    SELECT lang, count(*) AS n_words,
           round(sum(best_ll), 2) AS sum_ll,
           round(sum(best_ll) / count(*), 4) AS avg_ll
    FROM occ JOIN em_best USING (word)
    GROUP BY lang ORDER BY lang
    """,
    "llm-pipeline", "tokenizer", "unigram", "training", "scoring",
)
@_clean_query
def unigram_em_corpus_loglik(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus log-likelihood per language under the TRAINED EM model —
    the deployment-side counterpart of unigram_corpus_loglik (which
    scores under raw seed counts): EM-train, then Viterbi-score every
    distinct word under the trained probabilities and roll up per
    language through the thresholded word join. Comparing the two
    queries' avg_ll side by side is the 'did training help' readout.
    The oracle replays EM cell-exactly, then enumerates paths under
    the trained ratios."""
    from parquet_rewriter_spark.operators.bpe import (
        BROADCAST_MAX_WORDS,
        _word_join,
        count_with_bytes,
        word_counts,
    )
    from parquet_rewriter_spark.operators.unigram import (
        unigram_em_train,
        viterbi_segment_stats,
    )

    d = _t(spark, sf_dir, "documents")
    trained = unigram_em_train(
        d, "text", max_piece_len=4, seed_size=300, keep_size=150, n_rounds=2
    )
    wc = persist(word_counts(d, "text"))
    # persisted: the fused count/gate job materializes the cache,
    # so the loglik join reads it instead of re-running Viterbi
    segd = persist(
        viterbi_segment_stats(wc, trained)
        .select("word", "best_ll")
    )
    # one job: distinct-word count (1:1 with the persisted wc,
    # which materializes here) + the byte-gate probe
    n_words, est = count_with_bytes(segd)
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != "")
    occ = d.select(F.col("lang").alias("grp"), F.explode(w).alias("word"))
    out = (
        _word_join(occ, segd, n_words, BROADCAST_MAX_WORDS, est_bytes=est)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.round(F.sum("best_ll"), 2).alias("sum_ll"),
            F.round(F.sum("best_ll") / F.count(F.lit(1)), 4).alias("avg_ll"),
        )
        .select(F.col("grp").alias("lang"), "n_words", "sum_ll", "avg_ll")
        .orderBy("lang")
    )
    return out


def _stream_dsir_oracle() -> str:
    from parquet_rewriter_spark.operators.dsir import (
        dsir_bucket_sql,
        ngram_occurrences_sql,
    )

    B, A = 256, 1.0
    occ = ngram_occurrences_sql("documents", "doc_id", "text")
    bkt = dsir_bucket_sql(B)
    return f"""
    WITH occ AS ({occ}),
    tflag AS (SELECT doc_id AS id, (lang = 'en') AS t FROM documents),
    bo AS (SELECT occ.id, {bkt} AS bucket, tflag.t FROM occ JOIN tflag USING (id)),
    cnt AS (
      SELECT g.bucket, coalesce(raw_cnt, 0) AS raw_cnt, coalesce(tgt_cnt, 0) AS tgt_cnt
      FROM (SELECT unnest(generate_series(0, {B - 1})) AS bucket) g
      LEFT JOIN (SELECT bucket, count(*) AS raw_cnt,
                        sum(CASE WHEN t THEN 1 ELSE 0 END) AS tgt_cnt
                 FROM bo GROUP BY bucket) c USING (bucket)
    ),
    lam AS (
      SELECT bucket,
             ln((tgt_cnt + {A}) / ((SELECT sum(tgt_cnt) FROM cnt) + {A * B}))
           - ln((raw_cnt + {A}) / ((SELECT sum(raw_cnt) FROM cnt) + {A * B})) AS log_ratio
      FROM cnt
    ),
    w AS (
      SELECT bo.id AS doc_id, count(*) AS n_ngrams, sum(lam.log_ratio) AS log_weight
      FROM bo JOIN lam USING (bucket) GROUP BY bo.id
    )
    SELECT d.source, count(*) AS n_docs,
           CAST(sum(w.n_ngrams) AS BIGINT) AS n_ngrams,
           round(sum(w.log_weight), 2) AS sum_log_weight
    FROM w JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """


@query(
    "stream_dsir_scored_ingest",
    _stream_dsir_oracle(),
    "streaming", "llm-pipeline", "dsir", "scoring",
)
def stream_dsir_scored_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once / score-the-firehose DSIR (streaming/ops.py:
    stream_score_dsir): the λ relation is fitted OFFLINE on the batch
    corpus, frozen, and every arriving micro-batch runs only the
    stateless pass-2 (explode → broadcast λ join → per-doc sum) into an
    epoch-partitioned sink — no streaming state, checkpoint-replay safe
    via idempotent dynamic-partition overwrite. The per-source rollup
    read back FROM THE SINK must equal the batch replay — proof the
    streaming path scores exactly like the offline one."""
    import shutil

    from parquet_rewriter_spark.operators.dsir import dsir_bucket_ratios
    from parquet_rewriter_spark.streaming.ops import stream_score_dsir, stream_table

    B = 256
    d = _t(spark, sf_dir, "documents")
    lam = dsir_bucket_ratios(d, "text", F.col("lang") == "en", n_buckets=B)
    base = _scratch("dsir_stream")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    stream_score_dsir(
        stream_table(spark, sf_dir, "documents"), lam, B, sink, ckpt,
        keep_cols=("source",),
    )
    return (
        spark.read.parquet(sink)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ngrams").alias("n_ngrams"),
            F.round(F.sum("log_weight"), 2).alias("sum_log_weight"),
        )
    )


@query(
    "stream_packed_assignments",
    """
    WITH d AS (
      SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS tok
      FROM documents
    ),
    p AS (
      SELECT doc_id, shard, tok,
             CAST(coalesce(sum(tok) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS B
      FROM d
    )
    SELECT doc_id, shard, B // 64 AS seq_id, B % 64 AS seq_offset,
           (B % 64 + tok) > 64 AS spans_boundary
    FROM p ORDER BY doc_id
    """,
    "streaming", "llm-pipeline", "packing",
)
def stream_packed_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST sequence packing (streaming/ops.py:
    stream_pack_sequences): documents are assigned packed-window
    positions AS THEY ARRIVE by a custom stateful operator
    (applyInPandasWithState keyed by shard) whose entire state is one
    long per shard — the next token offset — so packing a 100-TB
    firehose carries O(num_shards) state, never history. The sink's
    per-doc assignments must equal the batch packer's replay (the
    oracle): proof the streaming offsets are exactly the batch
    cumulative sums. Multi-batch offset continuation is pinned
    separately in tests with a maxFilesPerTrigger=1 source."""
    import shutil

    from parquet_rewriter_spark.streaming.ops import (
        stream_pack_sequences,
        stream_table,
    )

    base = _scratch("stream_pack")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    docs = stream_table(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    stream_pack_sequences(
        docs, "doc_id", toks, max_tokens=64, sink_dir=sink, checkpoint_dir=ckpt,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    return (
        spark.read.parquet(sink)
        .select(
            F.col("id").alias("doc_id"),
            "shard",
            "seq_id",
            "seq_offset",
            "spans_boundary",
        )
        .orderBy("doc_id")
    )


@query(
    "incremental_pack_assignments",
    """
    WITH d AS (
      SELECT doc_id, doc_id % 4 AS shard,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS tok
      FROM documents
    ),
    p AS (
      SELECT doc_id, shard, tok,
             CAST(coalesce(sum(tok) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS B
      FROM d
    )
    SELECT doc_id, shard, B // 32 AS seq_id, B % 32 AS seq_offset,
           (B % 32 + tok) > 32 AS spans_boundary
    FROM p ORDER BY doc_id
    """,
    "llm-pipeline", "packing", "incremental",
)
def incremental_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-ONLY packing of a growing corpus: pack the first corpus
    increment, persist the num_shards-row offsets manifest
    (operators/packing.py:shard_next_offsets — one map-side-combined
    aggregate), then pack the appended increment CONTINUING each
    shard's token stream from the manifest (pack_sequences'
    start_offsets, a broadcast join) — history is never repacked. The
    oracle is the ONE-SHOT pack of the union: incremental must equal
    full repack, window boundaries included."""
    from parquet_rewriter_spark.operators.packing import (
        pack_sequences,
        shard_next_offsets,
    )

    d = _t(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    sh = F.pmod(F.col("doc_id"), F.lit(4))
    first = d.filter(F.col("doc_id") < 200)
    rest = d.filter(F.col("doc_id") >= 200)
    p1 = pack_sequences(first, "doc_id", toks, max_tokens=32, shard_col=sh)
    offs = shard_next_offsets(first, "doc_id", toks, shard_col=sh)
    p2 = pack_sequences(
        rest, "doc_id", toks, max_tokens=32, shard_col=sh, start_offsets=offs
    )
    cols = ["doc_id", "shard", "seq_id", "seq_offset", "spans_boundary"]
    return p1.select(*cols).unionByName(p2.select(*cols)).orderBy("doc_id")


@query(
    "length_bucketed_batch_waste",
    f"""
    WITH d AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents
    ),
    b AS (
      SELECT doc_id, tok,
             CASE WHEN tok <= 16 THEN 16 WHEN tok <= 32 THEN 32
                  WHEN tok <= 64 THEN 64 WHEN tok <= 128 THEN 128
                  ELSE 256 END AS bucket_len,
             doc_id % 4 AS shard
      FROM d
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY bucket_len, shard
               ORDER BY ((doc_id % 2147483648) * 2654435761 + 0) % 4294967296
                        / 4294967296.0, doc_id
             ) AS rn,
             greatest(floor(512 / bucket_len), 1) AS cap
      FROM b
    ),
    a AS (
      SELECT bucket_len, shard, floor((rn - 1) / cap) AS batch_id,
             least(tok, bucket_len) AS used,
             greatest(bucket_len - tok, 0) AS padded
      FROM r
    )
    SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
           count(*) AS n_docs,
           count(DISTINCT (shard, batch_id)) AS n_batches,
           CAST(sum(used) AS BIGINT) AS sum_tokens,
           CAST(sum(padded) AS BIGINT) AS sum_padded,
           round(sum(padded) / CAST(sum(padded) + sum(used) AS DOUBLE), 4) AS waste_pct
    FROM a GROUP BY bucket_len
    """,
    "llm-pipeline", "packing", "batching",
)
def length_bucketed_batch_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly (operators/packing.py:
    length_bucket_batches) — the no-split, pad-to-bucket companion of
    pack_sequences for fine-tuning workloads: docs bucket into a
    power-of-two length ladder (CASE chain, no float log2), batches of
    floor(512/bucket_len) sequences fill in portable-hash order within
    (bucket, shard), and the padding-waste accounting per bucket is
    the report a batching config review reads. Assignment is a pure
    projection + one (bucket, shard) window; the oracle replays docs →
    buckets → batch ids → waste to the digit."""
    from parquet_rewriter_spark.operators.packing import length_bucket_batches

    d = _t(spark, sf_dir, "documents")
    tok = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    out = length_bucket_batches(
        d.select("doc_id", tok.alias("tok")),
        "doc_id", "tok", batch_tokens=512,
        min_bucket=16, max_bucket=256, num_shards=4,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    return (
        out.groupBy(F.col("bucket_len").cast("long").alias("bucket_len"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct(F.col("shard"), F.col("batch_id")).alias("n_batches"),
            F.sum(F.least(F.col("tok"), F.col("bucket_len"))).alias("sum_tokens"),
            F.sum("padded").alias("sum_padded"),
        )
        .select(
            "bucket_len", "n_docs", "n_batches", "sum_tokens", "sum_padded",
            F.round(
                F.col("sum_padded") / (F.col("sum_padded") + F.col("sum_tokens")), 4
            ).alias("waste_pct"),
        )
    )


@query(
    "multimodal_letterbox_geometry",
    """
    WITH dims AS (
      SELECT doc_id AS media_id,
             16 + n_chars % 64 AS width,
             16 + (n_chars * 7) % 64 AS height
      FROM documents
    ),
    g AS (
      SELECT media_id, width, height,
             least(224.0 / width, 224.0 / height) AS s
      FROM dims
    ),
    o AS (
      SELECT media_id, width, height, s,
             greatest(CAST(floor(width * s) AS BIGINT), 1) AS out_w,
             greatest(CAST(floor(height * s) AS BIGINT), 1) AS out_h
      FROM g
    )
    SELECT CAST(media_id AS BIGINT) AS media_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           round(s, 6) AS scale,
           out_w, out_h,
           CAST(floor((224 - out_w) / 2) AS BIGINT) AS pad_left,
           CAST(floor((224 - out_h) / 2) AS BIGINT) AS pad_top,
           CAST(224 - out_w - floor((224 - out_w) / 2) AS BIGINT) AS pad_right,
           CAST(224 - out_h - floor((224 - out_h) / 2) AS BIGINT) AS pad_bottom
    FROM o
    """,
    "multimodal", "vision", "preprocessing",
)
def multimodal_letterbox_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letterbox resize geometry (sources/multimodal.py:
    letterbox_geometry): the aspect-preserving scale/pad plan every
    fixed-input vision encoder needs, as pure codegen arithmetic over
    decoded dims (dims derive from doc metadata — the decode UDF is
    the stubbed boundary, same discipline as image_patch_grid). The
    four pads plus the scaled dims must tile the 224×224 target
    exactly; the oracle replays every cell."""
    from parquet_rewriter_spark.sources.multimodal import letterbox_geometry

    d = _t(spark, sf_dir, "documents")
    dims = d.select(
        F.col("doc_id").alias("media_id"),
        (16 + F.col("n_chars") % 64).cast("int").alias("width"),
        (16 + (F.col("n_chars") * 7) % 64).cast("int").alias("height"),
    )
    out = letterbox_geometry(dims, 224, 224)
    return out.select(
        F.col("media_id").cast("long").alias("media_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "scale", "out_w", "out_h",
        "pad_left", "pad_top", "pad_right", "pad_bottom",
    )


@query(
    "int8_storage_shrink",
    """
    WITH el AS (
      SELECT vec_id, d.i AS i, CAST(embedding[d.i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) d(i)
    ),
    mm AS (SELECT i, min(x) AS lo, max(x) AS hi FROM el GROUP BY i),
    codes AS (
      SELECT CAST(least(greatest(floor((el.x - mm.lo)
                                       / ((mm.hi - mm.lo) / 255.0) + 0.5),
                                 0), 255) AS BIGINT) AS code
      FROM el JOIN mm ON mm.i = el.i
    )
    SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
           CAST(sum(code) AS BIGINT) AS q_sum_total,
           TRUE AS values_match,
           TRUE AS shrink_ge_2x
    FROM codes
    """,
    "embeddings", "quantization", "storage", "footer-stats",
)
def int8_storage_shrink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The int8 quantization's STORAGE claim, proven from parquet
    footers: codes persist as a true 1-byte column (tinyint array,
    codes shifted by −128), the float column rides along, and the
    footer walk (stats.py:column_storage_report — no data pages read)
    must show the code column at least 2× smaller compressed (raw
    ratio is 4×; both columns are near-incompressible noise).
    ``q_sum_total`` is recomputed FROM THE PERSISTED tinyint codes
    (un-shifted), so a hash match against the oracle's from-raw-floats
    replay proves the store→read round trip lost nothing."""
    import glob as _glob

    from parquet_rewriter_spark.operators.quantize import (
        calibrate_minmax,
        quantize_codes,
    )
    from parquet_rewriter_spark.stats import column_storage_report

    e = _t(spark, sf_dir, "embeddings")
    lo, hi = calibrate_minmax(e, "embedding")
    tiny = F.transform(
        quantize_codes("embedding", lo, hi), lambda x: (x - 128).cast("tinyint")
    )
    d = _scratch("int8_store")
    e.select("vec_id", "embedding", tiny.alias("q8")).write.mode(
        "overwrite"
    ).parquet(d)
    back = spark.read.parquet(d)
    n_vectors = back.count()
    q_sum_total = (
        back.select(F.posexplode("q8").alias("i", "c"))
        .agg(F.sum(F.col("c").cast("long") + 128))
        .first()[0]
    )
    rep = column_storage_report(
        spark, sorted(_glob.glob(os.path.join(d, "*.parquet")))
    ).collect()
    emb_bytes = sum(r["compressed_bytes"] for r in rep if r["column"].startswith("embedding"))
    q8_bytes = sum(r["compressed_bytes"] for r in rep if r["column"].startswith("q8"))
    emb_vals = sum(r["n_values"] for r in rep if r["column"].startswith("embedding"))
    q8_vals = sum(r["n_values"] for r in rep if r["column"].startswith("q8"))
    return spark.createDataFrame(
        [(
            int(n_vectors),
            int(q_sum_total),
            bool(emb_vals == q8_vals and emb_vals == n_vectors * len(lo)),
            bool(q8_bytes > 0 and emb_bytes >= 2 * q8_bytes),
        )],
        "n_vectors long, q_sum_total long, values_match boolean, shrink_ge_2x boolean",
    )


# ------------------------------------------- round-11: production tokenizer
# Pretokenization + byte-level BPE (VERDICT r10 next-round #1): the
# driver fixture is pure [a-z ] text, so these queries DERIVE a
# punctuation/digit-bearing corpus deterministically inside the query —
# the identical expression runs in both engines, so the oracle stays a
# full replay and /root/testdata stays untouched.


def _decor_expr() -> Column:
    """Deterministic decoration of ``documents.text``: commas glued to
    words plus a digit/punctuation tail (``..., a ... #123.456!``) —
    exactly the shapes whitespace tokenization mishandles (punctuation
    fuses into vocab entries) and pretokenization fixes."""
    return F.concat(
        F.replace(F.col("text"), F.lit(" a "), F.lit(", a ")),
        F.lit(" #"),
        F.col("doc_id").cast("string"),
        F.lit("."),
        F.col("n_chars").cast("string"),
        F.lit("!"),
    )


def _decorated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", _decor_expr().alias("text"), "source")


_DECOR_SQL = (
    "SELECT doc_id, replace(text, ' a ', ', a ') || ' #' || "
    "CAST(doc_id AS VARCHAR) || '.' || CAST(n_chars AS VARCHAR) || '!' AS text, "
    "source FROM documents"
)


def _bpe_pretok_encode_oracle(n_merges: int = 4, max_doc: int = 15) -> str:
    from parquet_rewriter_spark.operators.bpe import (
        PRETOK_RE,
        bpe_vocab_cte_sql,
    )

    cte = bpe_vocab_cte_sql(
        f"({_DECOR_SQL}) decor", "text", n_merges,
        pretokenize=True, byte_level=True,
    )
    flat = "flatten(list_transform(list_sort(list({'p': wpos, 'l': ids})), s -> s.l))"
    return f"""
    WITH {cte},
    sid AS (
      SELECT symbol, row_number() OVER (ORDER BY symbol) - 1 AS token_id
      FROM (SELECT DISTINCT unnest(string_split(trim(sym), ' ')) AS symbol
            FROM v{n_merges})
    ),
    wsyms AS (
      SELECT word, i AS pos, ws[i] AS symbol
      FROM (SELECT word, string_split(trim(sym), ' ') AS ws FROM v{n_merges}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({{'p': pos, 'i': token_id}})),
                            s -> s.i) AS ids
      FROM wsyms JOIN sid USING (symbol) GROUP BY word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '{PRETOK_RE}') AS ws
            FROM ({_DECOR_SQL}) decor WHERE doc_id < {max_doc}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({flat}, ',')) AS ids_digest,
           CAST(len({flat}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "bpe_pretok_encode_sample",
    _bpe_pretok_encode_oracle(4, 15),
    "llm-pipeline", "tokenizer", "bpe", "encode", "pretokenize", "byte-level",
)
@_clean_query
def bpe_pretok_encode_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-shape BPE: GPT-2-style pretokenization (letter /
    digit / punctuation runs — operators/bpe.py:PRETOK_RE, the
    Java∩RE2-portable subset) + BYTE-LEVEL symbols (UTF-8 hex pairs,
    operators/bpe.py:_init_sym) — so ``word,`` and ``word`` share one
    vocab entry and the base alphabet is ≤256 symbols covering every
    possible string. Train on the decorated corpus, encode a sample,
    digest the full id streams; the oracle replays pretokenization,
    hex initialization, training, id mapping and the per-doc streams
    cell-for-cell."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, encode_docs

    d = _decorated_docs(spark, sf_dir)
    rules, vocab = bpe_train(
        d, "text", n_merges=4, pretokenize=True, byte_level=True
    )
    out = encode_docs(
        d.filter(F.col("doc_id") < 15), "doc_id", "text", vocab,
        pretokenize=True,
    ).select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")
    return out


def _wordpiece_pretok_oracle(max_doc: int = 15) -> str:
    from parquet_rewriter_spark.operators.bpe import PRETOK_RE
    from parquet_rewriter_spark.operators.wordpiece import wordpiece_cte_sql

    return f"""
    WITH {wordpiece_cte_sql(f"({_DECOR_SQL}) decor", "text",
                            max_piece_len=4, vocab_size=150,
                            pretokenize=True)},
    {_wordpiece_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '{PRETOK_RE}') AS ws
            FROM ({_DECOR_SQL}) decor WHERE doc_id < {max_doc}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "wordpiece_pretok_encode_sample",
    _wordpiece_pretok_oracle(15),
    "llm-pipeline", "tokenizer", "wordpiece", "encode", "pretokenize",
)
@_clean_query
def wordpiece_pretok_encode_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WordPiece under the SHARED pretokenization front end
    (operators/bpe.py:words_expr — one normalization for every
    family): inventory selected from pretokenized runs of the
    decorated corpus, sample docs encoded with the same normalization,
    full id streams digested. Proves punctuation stops gluing into
    vocab entries for the greedy-longest-match family too."""
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_encode_docs,
    )

    d = _decorated_docs(spark, sf_dir)
    wc = persist(word_counts(d, "text", pretokenize=True))
    pieces = substring_vocab(
        d, "text", max_piece_len=4, vocab_size=150, wc=wc
    )
    return wordpiece_encode_docs(
        d.filter(F.col("doc_id") < 15), "doc_id", "text", pieces,
        pretokenize=True,
    ).select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


def _bpe_bytelevel_roundtrip_oracle(n_merges: int = 4) -> str:
    from parquet_rewriter_spark.operators.bpe import (
        END,
        PRETOK_RE,
        bpe_vocab_cte_sql,
    )

    cte = bpe_vocab_cte_sql(
        f"({_DECOR_SQL}) decor", "text", n_merges,
        pretokenize=True, byte_level=True,
    )
    flat = "flatten(list_transform(list_sort(list({'p': wpos, 'l': ids})), s -> s.l))"
    return f"""
    WITH {cte},
    sid AS (
      SELECT symbol, row_number() OVER (ORDER BY symbol) - 1 AS token_id
      FROM (SELECT DISTINCT unnest(string_split(trim(sym), ' ')) AS symbol
            FROM v{n_merges})
    ),
    wsyms AS (
      SELECT word, i AS pos, ws[i] AS symbol
      FROM (SELECT word, string_split(trim(sym), ' ') AS ws FROM v{n_merges}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    word_ids AS (
      SELECT word,
             list_transform(list_sort(list({{'p': pos, 'i': token_id}})),
                            s -> s.i) AS ids
      FROM wsyms JOIN sid USING (symbol) GROUP BY word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '{PRETOK_RE}') AS ws
            FROM ({_DECOR_SQL}) decor),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id, {flat} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    decd AS (
      SELECT e.doc_id,
             rtrim(decode(unhex(replace(
               string_agg(s.symbol, '' ORDER BY li.i), '{END}', '20'
             )))) AS decoded
      FROM enc e,
           LATERAL (SELECT unnest(generate_series(1, len(e.input_ids))) AS i) li
      JOIN sid s ON s.token_id = e.input_ids[li.i]
      GROUP BY e.doc_id
    ),
    norm AS (
      SELECT doc_id,
             array_to_string(
               regexp_extract_all(lower(text), '{PRETOK_RE}'), ' ') AS norm
      FROM ({_DECOR_SQL}) decor
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.decoded = n.norm THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact,
           (SELECT CAST(min(list_min(input_ids)) AS INT) FROM enc)
             AS min_token_id,
           round(sum(CASE WHEN d.decoded = n.norm THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS reconstruction_rate
    FROM decd d JOIN norm n USING (doc_id)
    """


@query(
    "bpe_bytelevel_roundtrip",
    _bpe_bytelevel_roundtrip_oracle(4),
    "llm-pipeline", "tokenizer", "bpe", "byte-level", "roundtrip",
)
@_clean_query
def bpe_bytelevel_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NO-UNK LOSSLESS ROUND TRIP on punctuation/digit-bearing text —
    the byte-level guarantee: every doc of the decorated corpus
    encodes with token ids ≥ 0 (min_token_id proves no unk exists to
    emit) and ``decode(encode(t))`` reproduces the pretokenized
    normalization EXACTLY for 100% of docs. Decode is zero-shuffle
    codegen: symbol map literal → hex concat → ``</w>``→``20`` (the
    space byte) → unhex → UTF-8 (operators/bpe.py:decode_docs)."""
    from parquet_rewriter_spark.operators.bpe import (
        PRETOK_RE,
        bpe_train,
        decode_docs,
        encode_docs,
    )

    d = _decorated_docs(spark, sf_dir)
    rules, vocab = bpe_train(
        d, "text", n_merges=4, pretokenize=True, byte_level=True
    )
    enc = encode_docs(d, "doc_id", "text", vocab, pretokenize=True)
    dec = decode_docs(enc, "input_ids", vocab, byte_level=True)
    norm = d.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.regexp_extract_all(F.lower("text"), F.lit(PRETOK_RE), 0),
        ).alias("norm"),
    )
    exact = F.when(F.col("decoded") == F.col("norm"), 1).otherwise(0)
    out = (
        dec.join(norm, "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(exact).alias("n_exact"),
            F.min(F.array_min("input_ids")).cast("int").alias(
                "min_token_id"
            ),
            F.round(
                F.sum(exact) / F.count(F.lit(1)), 4
            ).alias("reconstruction_rate"),
        )
    )
    return out


def _bpe_bytelevel_frozen_oracle(n_merges: int = 4, max_doc: int = 30) -> str:
    """Frozen BYTE-LEVEL oracle with the 256-base-byte symbol table:
    train on even decorated docs, re-apply the rules to the odd
    holdout's OWN pretokenized words (decorated PLUS a ``µ~`` tail —
    bytes training NEVER saw), id-map through observed-symbols ∪ all
    256 base hex pairs. min_id ≥ 0 in the VALUES is the no-unk
    proof."""
    from parquet_rewriter_spark.operators.bpe import (
        END,
        PRETOK_RE,
        bpe_vocab_cte_sql,
    )

    hold_sql = (
        f"SELECT doc_id, text || ' µ~' AS text, source "
        f"FROM ({_DECOR_SQL}) b WHERE doc_id % 2 = 1 AND doc_id < {max_doc}"
    )
    cte = bpe_vocab_cte_sql(
        f"({_DECOR_SQL.replace('FROM documents', 'FROM documents WHERE doc_id % 2 = 0')}) train_docs",
        "text", n_merges, pretokenize=True, byte_level=True,
    )
    nv = [
        f"""nv0 AS (
      SELECT word,
             ' ' || regexp_replace(hex(word), '(..)', '\\1 ', 'g') || '{END} ' AS sym
      FROM (
        SELECT DISTINCT unnest(
                 regexp_extract_all(lower(text), '{PRETOK_RE}')) AS word
        FROM ({hold_sql}) hold
      )
    )"""
    ]
    for s in range(1, n_merges + 1):
        nv.append(
            f"""nv{s} AS (
      SELECT word, replace(sym, ' ' || t.lhs || ' ' || t.rhs || ' ',
                                ' ' || t.lhs || t.rhs || ' ') AS sym
      FROM nv{s - 1}, t{s} t
    )"""
        )
    nv_chain = ",\n    ".join(nv)
    flat = "flatten(list_transform(list_sort(list({'p': wpos, 'l': ids})), s -> s.l))"
    return f"""
    WITH {cte},
    {nv_chain},
    sid AS (
      SELECT symbol, row_number() OVER (ORDER BY symbol) - 1 AS token_id
      FROM (
        SELECT DISTINCT symbol FROM (
          SELECT unnest(string_split(trim(sym), ' ')) AS symbol
          FROM v{n_merges}
          UNION ALL
          SELECT lpad(upper(hex(i)), 2, '0')
          FROM (SELECT unnest(generate_series(0, 255)) AS i)
        )
      )
    ),
    wsyms2 AS (
      SELECT word, i AS pos, ws[i] AS symbol
      FROM (SELECT word, string_split(trim(sym), ' ') AS ws FROM nv{n_merges}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    word_ids AS (
      SELECT w.word,
             list_transform(list_sort(list({{'p': w.pos,
                                             'i': coalesce(s.token_id, -1)}})),
                            x -> x.i) AS ids
      FROM wsyms2 w LEFT JOIN sid s USING (symbol) GROUP BY w.word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '{PRETOK_RE}') AS ws
            FROM ({hold_sql}) hold),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc2 AS (
      SELECT doc_id, {flat} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    )
    SELECT doc_id, md5(array_to_string(input_ids, ',')) AS ids_digest,
           CAST(len(input_ids) AS INT) AS n_tokens,
           CAST(list_min(input_ids) AS INT) AS min_id
    FROM enc2 ORDER BY doc_id
    """


@query(
    "bpe_bytelevel_holdout_no_unk",
    _bpe_bytelevel_frozen_oracle(4, 30),
    "llm-pipeline", "tokenizer", "bpe", "byte-level", "frozen",
)
@_clean_query
def bpe_bytelevel_holdout_no_unk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FROZEN byte-level tokenizer on a DISJOINT corpus carrying bytes
    training never saw (a ``µ~`` tail — µ is two UTF-8 bytes absent
    from the even-doc training slice): with the artifact's 256
    base-byte inventory (operators/bpe.py:symbol_vocab(base_bytes=
    True)) every holdout word still encodes losslessly — per-doc
    ``min_id`` ≥ 0 IS the no-unk proof, versus the char-level frozen
    twin (bpe_encode_holdout_sample) where unseen symbols surface as
    −1. The un-merged symbols of any new word are single bytes, and
    every single byte has an id; merged symbols come only from the
    trained rules."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs_with_rules,
    )

    d = _decorated_docs(spark, sf_dir)
    rules, vocab = bpe_train(
        d.filter(F.col("doc_id") % 2 == 0), "text",
        n_merges=4, pretokenize=True, byte_level=True,
    )
    hold = d.filter(
        (F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 30)
    ).select(
        "doc_id", F.concat(F.col("text"), F.lit(" µ~")).alias("text")
    )
    return encode_docs_with_rules(
        hold, "doc_id", "text", rules, vocab, unk_id=-1,
        pretokenize=True, byte_level=True, base_bytes=True,
    ).select(
        "doc_id",
        _ids_digest("input_ids").alias("ids_digest"),
        "n_tokens",
        F.array_min("input_ids").cast("int").alias("min_id"),
    ).orderBy("doc_id")


# -------------------------------------- round-11: EOS + doc-span packing
# Special tokens + document boundaries in packed windows (VERDICT r10
# next-round #2): every production pretraining batch needs an EOS
# separator per document and per-window (doc, start, len) spans so the
# consumer can mask attention across document boundaries. The special
# id is RESERVED by convention: artifacts assign dense ids 0..n−1, so
# eos_id = n (the artifact row count) — deterministic in any engine.

_SPAN_FLAT = (
    "flatten(list_transform(list_sort(list({'p': pos, 'd': doc_id, "
    "'l': piece})), s -> s.l))"
)
_SPAN_SORT = (
    "list_transform(list_sort(list({'p': pos, 'd': doc_id, 'l': piece})), "
    "s -> CAST(s.d AS VARCHAR) || ':' || CAST(s.p AS VARCHAR) || ':' || "
    "CAST(len(s.l) AS VARCHAR))"
)
_LEN_SORT = (
    "list_transform(list_sort(list({'p': pos, 'd': doc_id, 'l': piece})), "
    "s -> len(s.l))"
)


def _packed_eos_tail(m: int, shards: int, eos_expr: str) -> str:
    """Shared packing SQL for the EOS/span flavor: consumes an ``enc``
    CTE of (doc_id, input_ids), appends the EOS id (``eos_expr``, the
    artifact row count) per doc BEFORE the span arithmetic, replays
    pack_sequences + materialize_packed(doc_col=...), and emits
    scalarized windows including the ``d:start:len;...`` span string."""
    return f"""pk AS (
      SELECT doc_id, doc_id % {shards} AS shard,
             list_append(input_ids, CAST({eos_expr} AS INTEGER)) AS input_ids,
             CAST(len(input_ids) + 1 AS BIGINT) AS n_tok,
             CAST(coalesce(sum(len(input_ids) + 1) OVER (
               PARTITION BY doc_id % {shards} ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS B
      FROM enc
    ),
    pieces AS (
      SELECT shard, doc_id, p.w AS seq_id, p.pos, p.piece
      FROM pk, LATERAL (
        SELECT unnest(list_transform(
          generate_series(CAST(floor(B / {m}) AS BIGINT),
                          CAST(floor((B + n_tok - 1) / {m}) AS BIGINT)),
          w -> {{'w': w,
                 'piece': list_slice(input_ids,
                                     CAST(greatest(0, w * {m} - B) + 1 AS BIGINT),
                                     CAST(least(n_tok, (w + 1) * {m} - B) AS BIGINT)),
                 'pos': B + greatest(0, w * {m} - B) - w * {m}}})) AS p
      )
    )
    SELECT shard, seq_id, md5(array_to_string({_SPAN_FLAT}, ',')) AS ids_digest,
           CAST(len({_SPAN_FLAT}) AS INT) AS n_tokens,
           count(*) AS n_pieces,
           array_to_string({_LEN_SORT}, ',') AS piece_lengths,
           array_to_string({_SPAN_SORT}, ';') AS doc_spans
    FROM pieces GROUP BY shard, seq_id
    ORDER BY shard, seq_id"""


def _scalarized_windows_eos(
    enc: DataFrame, m: int, shards: int, eos_id: int
) -> DataFrame:
    """Spark half of the EOS/span packed tail, shared by all three
    tokenizer families: append EOS per doc (operators/packing.py:
    with_eos), pack (portable doc_id % shards), materialize with doc
    provenance (materialize_packed(doc_col=...)), scalarize spans as
    ``doc:start:len;...`` strings for the driver."""
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        with_eos,
    )

    enc2 = with_eos(enc, "input_ids", eos_id)
    p = pack_sequences(
        enc2, "doc_id", F.size("input_ids"), max_tokens=m,
        shard_col=F.pmod(F.col("doc_id"), F.lit(shards)),
    )
    win = materialize_packed(p, "input_ids", m, doc_col="doc_id")
    spans = F.concat_ws(
        ";",
        F.transform(
            F.col("doc_spans"),
            lambda s: F.concat_ws(
                ":",
                s.doc.cast("string"),
                s.start.cast("string"),
                s.len.cast("string"),
            ),
        ),
    )
    return win.select(
        "shard",
        "seq_id",
        _ids_digest("input_ids").alias("ids_digest"),
        "n_tokens",
        "n_pieces",
        F.concat_ws(
            ",", F.transform(F.col("piece_lengths"), lambda x: x.cast("string"))
        ).alias("piece_lengths"),
        spans.alias("doc_spans"),
    ).orderBy("shard", "seq_id")


@query(
    "bpe_packed_windows_eos",
    f"""
    WITH {_bpe_enc_head(4)},
    {_packed_eos_tail(64, 4, "(SELECT count(*) FROM sid)")}
    """,
    "llm-pipeline", "tokenizer", "bpe", "packing", "pretraining", "eos",
)
@_clean_query
def bpe_packed_windows_eos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed BPE training windows WITH document separators and span
    provenance — what a production batch actually ships: every doc's
    id stream gets the reserved EOS id (= the artifact's row count,
    the first free dense id) appended BEFORE the span arithmetic, and
    every window carries (doc, start, len) spans so attention masking
    across document boundaries needs no external lookup. Span algebra
    replayed in SQL; hash-verified end to end including the span
    strings."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        symbol_vocab,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    eos_id = symbol_vocab(vocab).count()  # ids 0..n−1 → eos = n
    enc = encode_docs(d, "doc_id", "text", vocab)
    out = _scalarized_windows_eos(enc, m=64, shards=4, eos_id=eos_id)
    return out


@query(
    "wordpiece_packed_windows_eos",
    f"""
    WITH {_wordpiece_cte()},
    {_wordpiece_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id, {_WP_FLAT} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    {_packed_eos_tail(32, 4, "(SELECT count(*) FROM wp_vocab)")}
    """,
    "llm-pipeline", "tokenizer", "wordpiece", "packing", "pretraining", "eos",
)
@_clean_query
def wordpiece_packed_windows_eos(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EOS + doc-span packed windows for the WordPiece family — same
    reserved-id convention (eos = inventory row count) and the same
    shared pack/materialize tail as BPE, proving the span-and-EOS
    contract is tokenizer-agnostic."""
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.wordpiece import (
        substring_vocab,
        wordpiece_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    wc = persist(word_counts(d, "text"))
    pieces = substring_vocab(
        d, "text", max_piece_len=4, vocab_size=150, wc=wc
    )
    eos_id = pieces.count()
    enc = wordpiece_encode_docs(d, "doc_id", "text", pieces, wc=wc)
    return _scalarized_windows_eos(enc, m=32, shards=4, eos_id=eos_id)


@query(
    "unigram_packed_windows_eos",
    f"""
    WITH {_unigram_cte()},
    {_unigram_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM documents),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id, {_WP_FLAT} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    {_packed_eos_tail(32, 4, "(SELECT count(*) FROM ug_stats)")}
    """,
    "llm-pipeline", "tokenizer", "unigram", "packing", "pretraining", "eos",
)
@_clean_query
def unigram_packed_windows_eos(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EOS + doc-span packed windows for the unigram-LM family —
    completing the contract across all three tokenizer families via
    the one shared Spark helper and the one shared SQL tail."""
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    wc = persist(word_counts(d, "text"))
    stats = piece_stats(d, "text", max_piece_len=4, vocab_size=150, wc=wc)
    eos_id = stats.count()
    enc = unigram_encode_docs(d, "doc_id", "text", stats, wc=wc)
    return _scalarized_windows_eos(enc, m=32, shards=4, eos_id=eos_id)


# --------------------------------- round-11: end-to-end pretraining flagship


def _pretraining_pipeline_oracle(n_merges: int = 4, m: int = 64) -> str:
    from parquet_rewriter_spark.operators.bpe import END, bpe_vocab_cte_sql

    nv = [
        f"""nv0 AS (
      SELECT word,
             ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '{END} ' AS sym
      FROM (SELECT DISTINCT unnest(list_filter(
              regexp_split_to_array(lower(text), '\\s+'),
              w -> w <> '')) AS word FROM clean)
    )"""
    ]
    for s in range(1, n_merges + 1):
        nv.append(
            f"""nv{s} AS (
      SELECT word, replace(sym, ' ' || t.lhs || ' ' || t.rhs || ' ',
                                ' ' || t.lhs || t.rhs || ' ') AS sym
      FROM nv{s - 1}, t{s} t
    )"""
        )
    nv_chain = ",\n    ".join(nv)
    flat = "flatten(list_transform(list_sort(list({'p': wpos, 'l': ids})), s -> s.l))"
    wflat = "flatten(list_transform(list_sort(list({'p': pos, 'l': piece})), s -> s.l))"
    return f"""
    WITH q AS (
      SELECT * FROM {_DOCS_WITH_DUPS} base
      WHERE len(string_split(text, ' ')) BETWEEN 40 AND 90
    ),
    uniq AS (
      SELECT * EXCLUDE rn FROM (
        SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM q) WHERE rn = 1
    ),
    tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM uniq),
    grams AS (
      SELECT DISTINCT doc_id, g8 FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6),
                      i -> array_to_string(t[i:i+7], ' '))) AS g8
        FROM tok WHERE len(t) >= 8
      )
    ),
    btok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM {_DOCS_WITH_DUPS} b
      WHERE doc_id % 10 = 3 AND doc_id < 1000000
    ),
    bgrams AS (
      SELECT DISTINCT g8 FROM (
        SELECT unnest(list_transform(range(1, len(t) - 6),
                      i -> array_to_string(t[i:i+7], ' '))) AS g8
        FROM btok WHERE len(t) >= 8
      )
    ),
    contaminated AS (SELECT DISTINCT doc_id FROM grams JOIN bgrams USING (g8)),
    clean AS (
      SELECT u.* FROM uniq u LEFT JOIN contaminated c USING (doc_id)
      WHERE c.doc_id IS NULL
        AND NOT (u.doc_id % 10 = 3 AND u.doc_id < 1000000)
    ),
    clean_even AS (SELECT * FROM clean WHERE doc_id % 2 = 0),
    {bpe_vocab_cte_sql("clean_even", "text", n_merges)},
    {nv_chain},
    sid AS (
      SELECT symbol, row_number() OVER (ORDER BY symbol) - 1 AS token_id
      FROM (SELECT DISTINCT unnest(string_split(trim(sym), ' ')) AS symbol
            FROM v{n_merges})
    ),
    wsyms2 AS (
      SELECT word, i AS pos, ws[i] AS symbol
      FROM (SELECT word, string_split(trim(sym), ' ') AS ws FROM nv{n_merges}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    word_ids AS (
      SELECT w.word,
             list_transform(list_sort(list({{'p': w.pos,
                                             'i': coalesce(s.token_id, -1)}})),
                            x -> x.i) AS ids
      FROM wsyms2 w LEFT JOIN sid s USING (symbol) GROUP BY w.word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM clean),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc AS (
      SELECT doc_id, {flat} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    pk AS (
      SELECT doc_id, doc_id % 4 AS shard,
             list_append(input_ids,
                         CAST((SELECT count(*) FROM sid) AS INTEGER)) AS input_ids,
             CAST(len(input_ids) + 1 AS BIGINT) AS n_tok,
             CAST(coalesce(sum(len(input_ids) + 1) OVER (
               PARTITION BY doc_id % 4 ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS B
      FROM enc
    ),
    pieces AS (
      SELECT shard, p.w AS seq_id, p.pos, p.piece
      FROM pk, LATERAL (
        SELECT unnest(list_transform(
          generate_series(CAST(floor(B / {m}) AS BIGINT),
                          CAST(floor((B + n_tok - 1) / {m}) AS BIGINT)),
          w -> {{'w': w,
                 'piece': list_slice(input_ids,
                                     CAST(greatest(0, w * {m} - B) + 1 AS BIGINT),
                                     CAST(least(n_tok, (w + 1) * {m} - B) AS BIGINT)),
                 'pos': B + greatest(0, w * {m} - B) - w * {m}}})) AS p
      )
    ),
    win AS (
      SELECT shard, seq_id,
             md5(array_to_string({wflat}, ',')) AS dig
      FROM pieces GROUP BY shard, seq_id
    ),
    sh AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_w,
             md5(string_agg(dig, ',' ORDER BY seq_id)) AS sd
      FROM win GROUP BY shard
    ),
    gl AS (
      SELECT CAST(sum(n_w) AS BIGINT) AS n_windows,
             md5(string_agg(sd, ',' ORDER BY shard)) AS windows_digest
      FROM sh
    ),
    p_raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
              FROM {_DOCS_WITH_DUPS} x GROUP BY source),
    p_q AS (SELECT source, CAST(count(*) AS BIGINT) AS n_quality
            FROM q GROUP BY source),
    p_u AS (SELECT source, CAST(count(*) AS BIGINT) AS n_unique
            FROM uniq GROUP BY source),
    p_c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_clean
            FROM clean GROUP BY source),
    p_t AS (SELECT c.source, CAST(sum(len(e.input_ids)) AS BIGINT) AS n_tokens
            FROM enc e JOIN clean c USING (doc_id) GROUP BY c.source)
    SELECT r.source, r.n_raw,
           coalesce(q2.n_quality, 0) AS n_quality,
           coalesce(u.n_unique, 0) AS n_unique,
           coalesce(c.n_clean, 0) AS n_clean,
           coalesce(t.n_tokens, 0) AS n_tokens,
           g.n_windows, g.windows_digest
    FROM p_raw r
    LEFT JOIN p_q q2 USING (source)
    LEFT JOIN p_u u USING (source)
    LEFT JOIN p_c c USING (source)
    LEFT JOIN p_t t USING (source)
    CROSS JOIN gl g
    ORDER BY r.source
    """


@query(
    "pretraining_pipeline_end_to_end",
    _pretraining_pipeline_oracle(4, 64),
    "llm-pipeline", "pretraining", "curation", "tokenizer", "packing",
    "contamination", "dedup",
)
@_clean_query
def pretraining_pipeline_end_to_end(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE FLAGSHIP: the whole pretraining data pipeline holding hands
    in one query — curation (length-window quality rule → exact dedup
    keep-lowest-id → benchmark 8-gram contamination gate, benchmark
    docs themselves excluded) → FROZEN-tokenizer encode (BPE rules
    trained on the curated corpus's even-id split, re-applied to every
    curated doc with unk surfacing) → EOS-separated packed 64-token
    windows — reporting the per-source provenance funnel (n_raw →
    n_quality → n_unique → n_clean → n_tokens) plus the global window
    count and a windows digest.

    Scale shape, stage by stage: ONE corpus-with-dups relation feeds
    quality (a projection filter), dedup (hash aggregate on text),
    and the gram explode; the benchmark gram set is bounded and
    broadcast (never an all-pairs doc comparison); tokenizer training
    is vocab-scale after one corpus scan; frozen encoding re-segments
    only distinct words; packing is the sharded window exchange; and
    the digest folds per shard THEN across the 4 shard digests — the
    only total-order fold is over num_shards rows, never windows. The
    oracle replays every stage cell-for-cell, so a hash match proves
    curation counts, tokenizer rules, id streams, window boundaries,
    and provenance arithmetic simultaneously."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs_with_rules,
        symbol_vocab,
    )
    from parquet_rewriter_spark.operators.dedup import exact_dedup
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        with_eos,
    )

    base = _docs_with_dups(spark, sf_dir)
    n_words = F.size(F.split(F.col("text"), " "))
    q = base.filter((n_words >= 40) & (n_words <= 90))
    # persisted: the dedup window otherwise re-executes (base union +
    # quality filter + text-partition shuffle) for each of its three
    # consumers — the contamination grams, the clean materialization,
    # and the per-source funnel count (optimization guide §2.4/§5; the
    # r12 plan diff shows the settle plan's Exchange count drop)
    uniq = persist(exact_dedup(q, ["text"], "doc_id"))
    g8 = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 8 THEN "
        "transform(sequence(1, size(split(text, ' ')) - 7), "
        "i -> array_join(slice(split(text, ' '), i, 8), ' ')) "
        "ELSE array() END"
    )
    is_bench = (F.col("doc_id") % 10 == 3) & (F.col("doc_id") < 1000000)
    bgrams = (
        base.filter(is_bench)
        .select(F.explode(g8).alias("g8"))
        .distinct()
    )
    # no pre-distinct on the exploded training grams: the broadcast
    # join is a map-side filter and the doc_id distinct below already
    # dedups — a (doc_id, g8) distinct first would shuffle the ENTIRE
    # gram explosion just to shrink a join that never shuffles
    # (guide §2.4 — a distinct on data whose dups don't matter)
    tgrams = uniq.select("doc_id", F.explode(g8).alias("g8"))
    contaminated = (
        tgrams.join(F.broadcast(bgrams), "g8").select("doc_id").distinct()
    )
    clean = persist(
        uniq.join(contaminated, "doc_id", "left_anti")
        .filter(~is_bench)
    )
    rules, vocab = bpe_train(
        clean.filter(F.col("doc_id") % 2 == 0), "text", n_merges=4
    )
    eos_id = symbol_vocab(vocab).count()
    enc = persist(encode_docs_with_rules(
        clean, "doc_id", "text", rules, vocab, unk_id=-1
    ))
    packed = pack_sequences(
        with_eos(enc, "input_ids", eos_id),
        "doc_id", F.size("input_ids"), max_tokens=64,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    win = materialize_packed(packed, "input_ids", 64)
    wd = win.select(
        "shard", "seq_id", _ids_digest("input_ids").alias("dig")
    )
    sh = wd.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_w"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seq_id", "dig"))
                    ),
                    lambda s: s.dig,
                ),
            )
        ).alias("sd"),
    )
    gl = sh.agg(
        F.sum("n_w").alias("n_windows"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("shard", "sd"))
                    ),
                    lambda s: s.sd,
                ),
            )
        ).alias("windows_digest"),
    )
    # ONE base pass serves both raw and quality counts (a
    # conditional aggregate) instead of two full scans of
    # the with-dups union; n_unique reads the uniq cache
    p_rq = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(
            F.when((n_words >= 40) & (n_words <= 90), 1)
            .otherwise(0)
        ).cast("long").alias("n_quality"),
    )
    p_u = uniq.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_unique")
    )
    p_c = clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_clean")
    )
    p_t = (
        enc.join(clean.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.sum(F.size("input_ids")).alias("n_tokens"))
    )
    out = (
        p_rq.join(p_u, "source", "left")
        .join(p_c, "source", "left")
        .join(p_t, "source", "left")
        .crossJoin(F.broadcast(gl))
        .select(
            "source",
            "n_raw",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.coalesce("n_clean", F.lit(0)).alias("n_clean"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "n_windows",
            "windows_digest",
        )
        .orderBy("source")
    )
    return out


# ----------------------------------- round-11: token-count zone maps


_TOKEN_BUDGET_ORACLE = """
    WITH s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               w -> w <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           CAST((100000 * n_tokens) // (SELECT sum(n_tokens) FROM s)
                AS BIGINT) AS token_budget
    FROM s ORDER BY source
    """


@query(
    "token_budget_from_stats",
    _TOKEN_BUDGET_ORACLE,
    "llm-pipeline", "sampling", "mixture", "sidecar", "incremental",
    "metadata-only",
)
def token_budget_from_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN ACCOUNTING FROM METADATA — the mixture planner's budget
    fold served by the per-file (source, n_docs, n_tokens) sidecar
    (operators/tokenstats.py) instead of a corpus re-scan: seed a
    table missing a contiguous doc_id range → build stats (one row set
    per file) → one merge inserts the gap → refresh builds stats ONLY
    for the churned files (asserted ≪ table) → fold the sidecar and
    allocate a 100k-token budget proportionally in exact INTEGER
    arithmetic. The oracle recomputes everything from a full scan of
    the final corpus, so a hash match proves the incrementally-
    maintained sidecar converged bit-for-bit to the from-scratch
    totals — the Iceberg count(*)-from-metadata idea applied to token
    budgeting at 100 TB."""
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.tokenstats import (
        build_token_stats,
        token_budget_plan,
        token_stats,
    )
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n = int(d.agg(F.max("doc_id")).first()[0]) + 1
    gap_lo, gap_hi = n // 3, n // 3 + max(1, n // 10)
    seed = d.filter(
        ~((F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi))
    )
    t = SortedTable.create(
        spark, _scratch("tokenstats"), seed, key="doc_id",
        max_records_per_file=_scaled_mrpf(seed, 9),
    )
    built0 = build_token_stats(t)
    assert built0 == len(t.manifest().files)  # one row set per file

    muts = d.filter(
        (F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi)
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)

    built1 = build_token_stats(t)
    # refresh ∝ churn: only files the merge wrote need new stats
    assert 0 < built1 < len(t.manifest().files)
    stats = token_stats(t)
    return token_budget_plan(stats, budget_tokens=100_000).orderBy("source")


@query(
    "token_budget_auto_maintained",
    _TOKEN_BUDGET_ORACLE,
    "llm-pipeline", "sampling", "mixture", "sidecar", "auto-maintain",
    "metadata-only",
)
def token_budget_auto_maintained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token accounting through the MAINTENANCE cron path — no
    explicit refresh call after the churn: seed a table missing a
    doc_id gap → build stats once → one merge inserts the gap (no
    build call) → ``maintain()`` heals the sidecar as part of its
    standard pass (the tokenstats sidecar is SELF-DESCRIBING: every
    row carries its spec, so the heal step discovers registered
    accountings with no manifest field — and covers compaction
    outputs, which the merge hook path never sees) → fold + integer
    budget allocation. Same from-scratch oracle as
    ``token_budget_from_stats``: the cron-job path must converge to
    the identical totals."""
    from parquet_rewriter_spark.operators.maintenance import maintain
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.tokenstats import (
        build_token_stats,
        token_budget_plan,
        token_stats,
    )
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    n = int(d.agg(F.max("doc_id")).first()[0]) + 1
    gap_lo, gap_hi = n // 4, n // 4 + max(1, n // 8)
    seed = d.filter(
        ~((F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi))
    )
    t = SortedTable.create(
        spark, _scratch("tokenstats_auto"), seed, key="doc_id",
        max_records_per_file=_scaled_mrpf(seed, 9),
    )
    build_token_stats(t)
    muts = d.filter(
        (F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi)
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)
    rep = maintain(t, retain_versions=10)
    # the heal step, not an explicit build call, covered the churn
    assert rep["token_stats"]["files_built"] > 0
    stats = token_stats(t)
    return token_budget_plan(stats, budget_tokens=100_000).orderBy("source")


# ---------------------- round-11: unigram frozen-path unk parity


def _unigram_unk_oracle(max_doc: int = 15) -> str:
    """Frozen-unigram oracle WITH the char-fallback modeled: inventory
    from the plain corpus, holdout = decorated docs (punctuation/digit
    chars the inventory lacks). Words with at least one full path take
    the max-score/lexmin segmentation (path enumeration); words with
    NO path fall back to their per-char split; out-of-inventory chars
    id-map to −1 through a LEFT join."""
    return f"""
    WITH {_unigram_cte()},
    hwc AS (
      SELECT DISTINCT unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               w -> w <> '')) AS word
      FROM ({_DECOR_SQL}) decor WHERE doc_id < {max_doc}
    ),
    h_paths AS (
      WITH RECURSIVE p AS (
        SELECT word, 0 AS pos, CAST(1.0 AS DOUBLE) AS score,
               CAST('' AS VARCHAR) AS ps
        FROM hwc
        UNION ALL
        SELECT p.word, p.pos + len(v.piece) AS pos, p.score * v.r AS score,
               CASE WHEN p.ps = '' THEN v.piece
                    ELSE p.ps || ' ' || v.piece END AS ps
        FROM p JOIN ug_ratio v
          ON substr(p.word, p.pos + 1, len(v.piece)) = v.piece
        WHERE p.pos < len(p.word)
      )
      SELECT word, score, ps FROM p WHERE pos = len(word)
    ),
    h_seg AS (
      SELECT word, string_split(min(ps) FILTER (WHERE score = m), ' ') AS pieces
      FROM (SELECT word, score, ps, max(score) OVER (PARTITION BY word) AS m
            FROM h_paths)
      GROUP BY word
    ),
    h_fall AS (
      SELECT w.word, string_split(w.word, '') AS pieces
      FROM hwc w LEFT JOIN h_seg s USING (word)
      WHERE s.word IS NULL
    ),
    h_all AS (
      SELECT word, pieces FROM h_seg
      UNION ALL SELECT word, pieces FROM h_fall
    ),
    upid AS (
      SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS piece_id
      FROM ug_stats
    ),
    h_pos AS (
      SELECT word, i AS pos, pieces[i] AS piece
      FROM h_all, LATERAL (SELECT unnest(generate_series(1, len(pieces))) AS i)
    ),
    word_ids AS (
      SELECT w.word,
             list_transform(list_sort(list({{'p': w.pos,
                                             'i': coalesce(p.piece_id, -1)}})),
                            x -> x.i) AS ids
      FROM h_pos w LEFT JOIN upid p USING (piece) GROUP BY w.word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM ({_DECOR_SQL}) decor WHERE doc_id < {max_doc}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc2 AS (
      SELECT doc_id, {_WP_FLAT} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    )
    SELECT doc_id, md5(array_to_string(input_ids, ',')) AS ids_digest,
           CAST(len(input_ids) AS INT) AS n_tokens,
           CAST(len(list_filter(input_ids, x -> x = -1)) AS INT) AS n_unk
    FROM enc2 ORDER BY doc_id
    """


@query(
    "unigram_encode_unk_holdout",
    _unigram_unk_oracle(15),
    "llm-pipeline", "tokenizer", "unigram", "encode", "frozen", "unk",
)
@_clean_query
def unigram_encode_unk_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROZEN unigram tokenizer meeting characters training never saw
    — the trio's unk parity closed (BPE and WordPiece had it; unigram
    silently DROPPED unsegmentable words before this round): the
    inventory trains on the plain corpus, the holdout is the decorated
    corpus (commas, digits, ``#``/``!`` — chars with no inventory
    piece). Unsegmentable words char-fall-back in the Viterbi UDF and
    out-of-inventory chars surface as −1 (operators/unigram.py:
    viterbi_segment / unigram_encode_docs(unk_id=...)), so every doc
    keeps its full token count — n_unk > 0 rows prove unks surfaced
    rather than rows shortening. The oracle enumerates paths for
    segmentable words and models the fallback explicitly."""
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    stats = piece_stats(d, "text", max_piece_len=4, vocab_size=150)
    hold = _decorated_docs(spark, sf_dir).filter(F.col("doc_id") < 15)
    out = unigram_encode_docs(hold, "doc_id", "text", stats, unk_id=-1)
    return out.select(
        "doc_id",
        _ids_digest("input_ids").alias("ids_digest"),
        "n_tokens",
        F.size(F.filter("input_ids", lambda x: x == -1)).alias("n_unk"),
    ).orderBy("doc_id")


def _unigram_pretok_oracle(max_doc: int = 15) -> str:
    from parquet_rewriter_spark.operators.bpe import PRETOK_RE
    from parquet_rewriter_spark.operators.unigram import unigram_cte_sql

    return f"""
    WITH {unigram_cte_sql(f"({_DECOR_SQL}) decor", "text",
                          max_piece_len=4, vocab_size=150,
                          pretokenize=True)},
    {_unigram_word_ids_cte()},
    dwords AS (
      SELECT doc_id, i AS wpos, ws[i] AS word
      FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '{PRETOK_RE}') AS ws
            FROM ({_DECOR_SQL}) decor WHERE doc_id < {max_doc}),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    )
    SELECT doc_id, md5(array_to_string({_WP_FLAT}, ',')) AS ids_digest,
           CAST(len({_WP_FLAT}) AS INT) AS n_tokens
    FROM dwords JOIN word_ids USING (word)
    GROUP BY doc_id ORDER BY doc_id
    """


@query(
    "unigram_pretok_encode_sample",
    _unigram_pretok_oracle(15),
    "llm-pipeline", "tokenizer", "unigram", "encode", "pretokenize",
)
@_clean_query
def unigram_pretok_encode_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM under the SHARED pretokenization front end — all
    THREE families now train and encode through one normalization
    (operators/bpe.py:words_expr): inventory from pretokenized runs of
    the decorated corpus, Viterbi encode of sample docs, full id
    streams digested; the oracle enumerates paths over the identically
    pretokenized words."""
    from parquet_rewriter_spark.operators.bpe import word_counts
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )

    d = _decorated_docs(spark, sf_dir)
    wc = persist(word_counts(d, "text", pretokenize=True))
    stats = piece_stats(
        d, "text", max_piece_len=4, vocab_size=150, wc=wc
    )
    return unigram_encode_docs(
        d.filter(F.col("doc_id") < 15), "doc_id", "text", stats,
        pretokenize=True,
    ).select(
        "doc_id", _ids_digest("input_ids").alias("ids_digest"), "n_tokens"
    ).orderBy("doc_id")


# ------------------- round-12: frozen-tokenizer TOKEN accounting
# VERDICT r11 #1: the round-11 sidecar counted pretokenized WORDS;
# a production mixture planner budgets in frozen-tokenizer TOKENS —
# fertility varies ~1.1–2× across sources, so word-budgets
# systematically misallocate exactly where mixtures matter most.


def _token_budget_bpe_oracle(n_merges: int = 4) -> str:
    """From-scratch replay of the frozen encode's token totals: train
    BPE in SQL (the full v0..v{n} replace chain), take each word's
    token count as its final symbol count, fold per source, allocate
    the integer budget. The Spark side reaches the same totals through
    the INCREMENTAL per-file sidecar (build → merge → churn-only
    rebuild), so a hash match proves the frozen-token accounting
    converged bit-for-bit to the from-scratch encode."""
    from parquet_rewriter_spark.operators.bpe import bpe_vocab_cte_sql

    cte = bpe_vocab_cte_sql("documents", "text", n_merges)
    return f"""
    WITH {cte},
    wtok AS (
      SELECT word, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS ntw
      FROM v{n_merges}
    ),
    dw AS (
      SELECT source, unnest(list_filter(
               regexp_split_to_array(lower(text), '\\s+'),
               w -> w <> '')) AS word
      FROM documents
    ),
    tok AS (
      SELECT source, CAST(sum(ntw) AS BIGINT) AS n_tokens
      FROM dw JOIN wtok USING (word) GROUP BY source
    ),
    dcount AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    s AS (
      SELECT source, n_docs, coalesce(n_tokens, 0) AS n_tokens
      FROM dcount LEFT JOIN tok USING (source)
    )
    SELECT source, n_docs, n_tokens,
           CAST((100000 * n_tokens) // (SELECT sum(n_tokens) FROM s)
                AS BIGINT) AS token_budget
    FROM s ORDER BY source
    """


@query(
    "token_budget_bpe_tokens",
    _token_budget_bpe_oracle(4),
    "llm-pipeline", "sampling", "mixture", "sidecar", "tokenizer",
    "incremental", "metadata-only",
)
def token_budget_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN ACCOUNTING IN FROZEN-TOKENIZER TOKENS — the unit a
    mixture planner actually budgets (VERDICT r11 #1): train BPE once
    and persist the merge rules as an artifact, then run the sidecar
    lifecycle with ``TokenizerRef`` — seed a table missing a doc_id
    gap → build per-file (source, n_docs, n_tokens) rows where
    n_tokens counts what the FROZEN artifact emits (re-segment each
    churned file's distinct words under the stored rules; token count
    = symbol count, unchanged by id-mapping) → one merge inserts the
    gap → rebuild touches ONLY churned files (asserted ≪ table) →
    manifest-scale fold + exact integer budget split. The oracle
    replays training AND the from-scratch encode's token totals in
    SQL, so a hash match proves the incrementally-maintained
    tokenizer-token sidecar converged bit-for-bit — word-count
    fertility skew eliminated from the one number the planner exists
    to get right."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, rules_df
    from parquet_rewriter_spark.operators.merge import merge_into_table
    from parquet_rewriter_spark.operators.tokenstats import (
        TokenizerRef,
        build_token_stats,
        token_budget_plan,
        token_stats,
    )
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    with cache_scope():  # counting needs only the rules
        rules, _ = bpe_train(d, "text", n_merges=4)
    rules_path = os.path.join(_scratch("toktok_rules"), "rules")
    rules_df(spark, rules).write.mode("overwrite").parquet(rules_path)
    ref = TokenizerRef(rules_path)

    n = int(d.agg(F.max("doc_id")).first()[0]) + 1
    gap_lo, gap_hi = n // 3, n // 3 + max(1, n // 10)
    seed = d.filter(
        ~((F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi))
    )
    t = SortedTable.create(
        spark, _scratch("toktok_table"), seed, key="doc_id",
        max_records_per_file=_scaled_mrpf(seed, 9),
    )
    built0 = build_token_stats(t, tokenizer=ref)
    assert built0 == len(t.manifest().files)  # one row set per file

    muts = d.filter(
        (F.col("doc_id") >= gap_lo) & (F.col("doc_id") < gap_hi)
    ).withColumn("op", F.lit("UPSERT"))
    merge_into_table(t, muts, allow_splice=False)

    built1 = build_token_stats(t, tokenizer=ref)
    # refresh ∝ churn: only files the merge wrote need new stats
    assert 0 < built1 < len(t.manifest().files)
    stats = token_stats(t, tokenizer=ref)
    return token_budget_plan(stats, budget_tokens=100_000).orderBy("source")


# ------------------- round-12: versioned training shards + order
# VERDICT r11 #2/#4: materialize_packed's windows were ephemeral — a
# reproducible training run needs the window set ON the engine's
# storage (tags, time travel, zone maps), and consumed in a
# deterministic SHUFFLED order, not document order.


@query(
    "packed_shards_versioned_table",
    f"""
    WITH {_bpe_enc_head(4)},
    {_packed_eos_tail(64, 4, "(SELECT count(*) FROM sid)")}
    """,
    "llm-pipeline", "packing", "pretraining", "storage", "registry",
    "time-travel",
)
@_clean_query
def packed_shards_versioned_table(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PACKED TRAINING SHARDS AS A VERSIONED TABLE (VERDICT r11 #2):
    the EOS/doc-span windows persist as a SortedTable keyed by
    ``pack_key = shard·2^40 + seq_id`` with (shard, seq_id) zone maps
    and a stored per-window ``ids_digest`` — the tokenizer-registry
    discipline extended to the shards themselves. Lifecycle under
    test: pack → persist + tag ``train-v1`` → COMPACT (rewrites every
    file; the tagged snapshot's files are now garbage to any
    untagged policy) → ``vacuum(retain_versions=1)`` → a disjoint
    reader reloads ``read("train-v1")`` and must reproduce the
    in-memory materialization cell-for-cell (full-outer-join mismatch
    count asserted 0, stored digests re-verified against the reloaded
    arrays). The oracle replays the whole pack from scratch, so the
    hash match proves the persisted, vacuumed, tag-pinned shard set
    still IS the pipeline's output — reproducible training data that
    survives storage maintenance."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        symbol_vocab,
    )
    from parquet_rewriter_spark.operators.compact import compact
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        persist_packed,
        with_eos,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    eos_id = symbol_vocab(vocab).count()
    enc = with_eos(
        encode_docs(d, "doc_id", "text", vocab), "input_ids", eos_id
    )
    p = pack_sequences(
        enc, "doc_id", F.size("input_ids"), max_tokens=64,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    win = persist(materialize_packed(p, "input_ids", 64, doc_col="doc_id"))
    n_win = win.count()
    t = persist_packed(
        win, _scratch("packed_shards"), tag="train-v1",
        max_records_per_file=max(1, n_win // 8),
    )
    # a later maintenance pass rewrites every file, then GC
    # runs the tightest policy — only the tag keeps v0 alive
    compact(t, max_records_per_file=max(1, n_win // 2))
    t.vacuum(retain_versions=1)
    rel = t.read("train-v1")
    # reload must equal the in-memory windows cell-for-cell,
    # and the STORED digests must match digests recomputed
    # from the reloaded arrays (arrays survived storage)
    rd = F.md5(
        F.concat_ws(
            ",",
            F.transform(F.col("input_ids"), lambda x: x.cast("string")),
        )
    )
    a = win.select(
        "shard", "seq_id", _ids_digest("input_ids").alias("d_mem")
    )
    b = rel.select(
        "shard",
        "seq_id",
        F.col("ids_digest").alias("d_stored"),
        rd.alias("d_reload"),
    )
    bad = (
        a.join(b, ["shard", "seq_id"], "full")
        .where(
            F.col("d_mem").isNull()
            | F.col("d_stored").isNull()
            | (F.col("d_mem") != F.col("d_stored"))
            | (F.col("d_stored") != F.col("d_reload"))
        )
        .count()
    )
    assert bad == 0, f"{bad} windows diverged through the lifecycle"
    spans = F.concat_ws(
        ";",
        F.transform(
            F.col("doc_spans"),
            lambda s: F.concat_ws(
                ":",
                s.doc.cast("string"),
                s.start.cast("string"),
                s.len.cast("string"),
            ),
        ),
    )
    out = rel.select(
        "shard",
        "seq_id",
        F.col("ids_digest"),
        "n_tokens",
        "n_pieces",
        F.concat_ws(
            ",",
            F.transform(
                F.col("piece_lengths"), lambda x: x.cast("string")
            ),
        ).alias("piece_lengths"),
        spans.alias("doc_spans"),
    )
    return out


def _packed_eos_win_cte(m: int, shards: int, eos_expr: str) -> str:
    """The EOS packing tail as a composable ``win`` CTE (shard,
    seq_id, ids_digest) — for oracles that aggregate OVER the packed
    windows instead of returning them."""
    tail = _packed_eos_tail(m, shards, eos_expr)
    body, final = tail.rsplit("SELECT shard, seq_id,", 1)
    final = final.rsplit("ORDER BY shard, seq_id", 1)[0]
    return (
        f"{body.rstrip()},\n    win AS (\n"
        f"      SELECT shard, seq_id,{final.rstrip()}\n    )"
    )


@query(
    "packed_windows_training_order",
    f"""
    WITH {_bpe_enc_head(4)},
    {_packed_eos_win_cte(64, 4, "(SELECT count(*) FROM sid)")}
    SELECT substr(order_key, 1, 1) AS bucket,
           count(*) AS n_windows,
           md5(string_agg(ids_digest, ','
               ORDER BY order_key, shard, seq_id)) AS bucket_digest
    FROM (
      SELECT shard, seq_id, ids_digest,
             md5('1:' || CAST(shard AS VARCHAR) || ':'
                      || CAST(seq_id AS VARCHAR)) AS order_key
      FROM win
    )
    GROUP BY 1 ORDER BY bucket
    """,
    "llm-pipeline", "packing", "pretraining", "ordering",
)
@_clean_query
def packed_windows_training_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DETERMINISTIC TRAINING-ORDER SHUFFLE (VERDICT r11 #4): packed
    windows leave the materializer in document order — adjacent
    windows correlate by source/topic, exactly what SGD does not want.
    ``training_order`` adds a pure-projection order key (md5 of
    ``salt:shard:seq_id``; a new salt per epoch = an independent
    reshuffle) whose lexicographic order is the engine-portable
    consumption contract. The ORDER-PINNED digest proves it: windows
    bucket by the key's first hex char (16 balanced buckets — the
    scale path: the global order is (bucket, order_key), so per-bucket
    sequential folds compose into a global order without any
    single-partition collect), and each bucket's digest folds the
    per-window digests IN ORDER — any transposition anywhere changes
    a bucket digest, and the oracle replays the same fold with
    ``string_agg(... ORDER BY order_key)``."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        symbol_vocab,
    )
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        training_order,
        with_eos,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    eos_id = symbol_vocab(vocab).count()
    enc = with_eos(
        encode_docs(d, "doc_id", "text", vocab), "input_ids", eos_id
    )
    p = pack_sequences(
        enc, "doc_id", F.size("input_ids"), max_tokens=64,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    win = materialize_packed(p, "input_ids", 64)
    ordered = training_order(win, salt=1).select(
        "order_key", "shard", "seq_id",
        _ids_digest("input_ids").alias("wd"),
    )
    out = (
        ordered.groupBy(
            F.substring("order_key", 1, 1).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("order_key", "shard", "seq_id", "wd")
                            )
                        ),
                        lambda s: s.wd,
                    ),
                )
            ).alias("bucket_digest"),
        )
        .orderBy("bucket")
    )
    return out


@query(
    "packed_shards_incremental_append",
    f"""
    WITH {_bpe_enc_head(4)},
    {_packed_eos_tail(64, 4, "(SELECT count(*) FROM sid)")}
    """,
    "llm-pipeline", "packing", "pretraining", "storage", "incremental",
)
@_clean_query
def packed_shards_incremental_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """GROWING-CORPUS packed shards (the production append path): pack
    and persist the corpus' FIRST HALF, then pack the second half with
    ``start_offsets`` (each shard's token stream continues exactly
    where the persisted pack stopped) and ``append_packed`` it — the
    increment's first window per shard CONCATENATES onto the table's
    last partial window (positions are absolute by construction, so
    ids, piece lengths, and doc spans all splice correctly), fetched
    as num_shards zone-map point reads, never a table scan; everything
    else inserts. The oracle packs the WHOLE corpus one-shot — a hash
    match proves persist→append converged bit-for-bit to the union
    pack, i.e. a pretraining corpus can grow forever without ever
    repacking history."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        symbol_vocab,
    )
    from parquet_rewriter_spark.operators.packing import (
        append_packed,
        materialize_packed,
        pack_sequences,
        persist_packed,
        shard_next_offsets,
        with_eos,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    eos_id = symbol_vocab(vocab).count()
    enc = persist(with_eos(
        encode_docs(d, "doc_id", "text", vocab), "input_ids", eos_id
    ))
    mid = int(enc.agg(F.max("doc_id")).first()[0]) // 2
    shard = F.pmod(F.col("doc_id"), F.lit(4))
    enc_a = enc.filter(F.col("doc_id") < mid)
    enc_b = enc.filter(F.col("doc_id") >= mid)
    p_a = pack_sequences(
        enc_a, "doc_id", F.size("input_ids"), max_tokens=64,
        shard_col=shard,
    )
    win_a = materialize_packed(p_a, "input_ids", 64, doc_col="doc_id")
    n_a = win_a.count()
    t = persist_packed(
        win_a, _scratch("packed_inc"), tag="base",
        max_records_per_file=max(1, n_a // 6),
    )
    offs = shard_next_offsets(
        enc_a, "doc_id", F.size("input_ids"), shard_col=shard
    )
    p_b = pack_sequences(
        enc_b, "doc_id", F.size("input_ids"), max_tokens=64,
        shard_col=shard, start_offsets=offs,
    )
    win_b = materialize_packed(p_b, "input_ids", 64, doc_col="doc_id")
    rep = append_packed(t, win_b)
    assert rep["files_written"] > 0
    rel = t.read()
    spans = F.concat_ws(
        ";",
        F.transform(
            F.col("doc_spans"),
            lambda s: F.concat_ws(
                ":",
                s.doc.cast("string"),
                s.start.cast("string"),
                s.len.cast("string"),
            ),
        ),
    )
    out = rel.select(
        "shard",
        "seq_id",
        "ids_digest",
        "n_tokens",
        "n_pieces",
        F.concat_ws(
            ",",
            F.transform(
                F.col("piece_lengths"), lambda x: x.cast("string")
            ),
        ).alias("piece_lengths"),
        spans.alias("doc_spans"),
    )
    return out


def _pretraining_v2_oracle(
    n_merges: int = 4, m: int = 64, shards: int = 4, budget: int = 60_000,
    lo: int = 150, hi: int = 600,
) -> str:
    """Replay of the v2 flagship: full-corpus frozen tokenizer →
    quality window → integer token budgets → exact prefix sampling →
    EOS pack → order-pinned global digest. The persisted-table leg is
    Spark-side (asserted in-body); the oracle proves the RELOADED
    window set is the pipeline's output."""
    from parquet_rewriter_spark.operators.sampling import portable_unit_sql

    u = portable_unit_sql("t.doc_id")
    flat = (
        "flatten(list_transform(list_sort(list({'p': pos, 'l': piece})), "
        "s -> s.l))"
    )
    return f"""
    WITH {_bpe_enc_head(n_merges)},
    dt AS (
      SELECT e.doc_id, d.source, d.n_chars, e.input_ids,
             CAST(len(e.input_ids) AS BIGINT) AS n_tokens
      FROM enc e JOIN documents d USING (doc_id)
    ),
    q AS (SELECT * FROM dt WHERE n_chars BETWEEN {lo} AND {hi}),
    s AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
      FROM q GROUP BY source
    ),
    plan AS (
      SELECT source,
             CAST(({budget} * src_tokens)
                  // (SELECT sum(src_tokens) FROM s) AS BIGINT)
               AS token_budget
      FROM s
    ),
    cum AS (
      SELECT t.doc_id, t.source, t.n_tokens, t.input_ids,
             sum(t.n_tokens) OVER (
               PARTITION BY t.source ORDER BY {u}, t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM q t
    ),
    samp AS (
      SELECT c.* FROM cum c JOIN plan p USING (source)
      WHERE c.cum <= p.token_budget
    ),
    pk AS (
      SELECT doc_id, doc_id % {shards} AS shard,
             list_append(input_ids,
                         CAST((SELECT count(*) FROM sid) AS INTEGER))
               AS input_ids,
             CAST(len(input_ids) + 1 AS BIGINT) AS n_tok,
             CAST(coalesce(sum(len(input_ids) + 1) OVER (
               PARTITION BY doc_id % {shards} ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS B
      FROM samp
    ),
    pieces AS (
      SELECT shard, p.w AS seq_id, p.pos, p.piece
      FROM pk, LATERAL (
        SELECT unnest(list_transform(
          generate_series(CAST(floor(B / {m}) AS BIGINT),
                          CAST(floor((B + n_tok - 1) / {m}) AS BIGINT)),
          w -> {{'w': w,
                 'piece': list_slice(input_ids,
                                     CAST(greatest(0, w * {m} - B) + 1 AS BIGINT),
                                     CAST(least(n_tok, (w + 1) * {m} - B) AS BIGINT)),
                 'pos': B + greatest(0, w * {m} - B) - w * {m}}})) AS p
      )
    ),
    win AS (
      SELECT shard, seq_id, md5(array_to_string({flat}, ',')) AS wd
      FROM pieces GROUP BY shard, seq_id
    ),
    ob AS (
      SELECT shard, seq_id, wd,
             md5('1:' || CAST(shard AS VARCHAR) || ':'
                      || CAST(seq_id AS VARCHAR)) AS ok
      FROM win
    ),
    bd AS (
      SELECT substr(ok, 1, 1) AS bucket, CAST(count(*) AS BIGINT) AS nb,
             md5(string_agg(wd, ',' ORDER BY ok, shard, seq_id)) AS bdig
      FROM ob GROUP BY 1
    ),
    gl AS (
      SELECT CAST(sum(nb) AS BIGINT) AS n_windows,
             md5(string_agg(bdig, ',' ORDER BY bucket)) AS windows_digest
      FROM bd
    ),
    fr AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_raw
      FROM documents GROUP BY source
    ),
    fq AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_quality
      FROM q GROUP BY source
    ),
    fs AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(sum(n_tokens) AS BIGINT) AS tokens_sampled
      FROM samp GROUP BY source
    )
    SELECT fr.source, fr.n_raw,
           coalesce(fq.n_quality, 0) AS n_quality,
           coalesce(fs.n_sampled, 0) AS n_sampled,
           coalesce(fs.tokens_sampled, 0) AS tokens_sampled,
           coalesce(plan.token_budget, 0) AS token_budget,
           gl.n_windows, gl.windows_digest
    FROM fr
    LEFT JOIN fq USING (source)
    LEFT JOIN fs USING (source)
    LEFT JOIN plan USING (source), gl
    ORDER BY fr.source
    """


@query(
    "pretraining_pipeline_v2_persisted",
    _pretraining_v2_oracle(4, 64, 4, 60_000, 150, 600),
    "llm-pipeline", "pretraining", "pipeline", "sampling", "packing",
    "storage", "ordering",
)
@_clean_query
def pretraining_pipeline_v2_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE ROUND-12 COMPONENTS AS ONE PIPELINE — what a production
    data-curation run actually chains: train the frozen tokenizer once
    on the full corpus → quality window (n_chars 150–600) → integer
    token budgets in FROZEN-TOKENIZER tokens → EXACT budget sampling
    (deterministic portable-hash prefix per source, never over budget)
    → EOS-packed 64-token windows → PERSIST as a tagged SortedTable
    (``train-v2``) → a disjoint reader reloads the tag and computes
    the ORDER-PINNED global digest under the reproducible training
    order (salt 1). Per-source funnel (n_raw → n_quality → n_sampled
    → tokens_sampled vs token_budget) plus the global window count
    and digest, every stage replayed in ONE DuckDB oracle — the v1
    flagship's curation story upgraded with the unit, storage, and
    ordering guarantees a reproducible training run needs. In-body
    asserts: persisted reload equals the in-memory window set
    (full-outer digest mismatch 0)."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        symbol_vocab,
    )
    from parquet_rewriter_spark.operators.packing import (
        materialize_packed,
        pack_sequences,
        persist_packed,
        training_order,
        with_eos,
    )
    from parquet_rewriter_spark.operators.tokenstats import (
        sample_to_token_budget,
        token_budget_plan,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    eos_id = symbol_vocab(vocab).count()
    dt = persist(
        encode_docs(d, "doc_id", "text", vocab)
        .join(d.select("doc_id", "source", "n_chars"), "doc_id")
        .withColumn("n_tokens", F.col("n_tokens").cast("long"))
    )
    q = dt.filter(F.col("n_chars").between(150, 600))
    stats = q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    plan = persist(token_budget_plan(stats, budget_tokens=60_000))
    samp = persist(sample_to_token_budget(q, plan))
    enc2 = with_eos(samp.select("doc_id", "input_ids"), "input_ids", eos_id)
    p = pack_sequences(
        enc2, "doc_id", F.size("input_ids"), max_tokens=64,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    win = persist(materialize_packed(p, "input_ids", 64))
    n_win = win.count()
    t = persist_packed(
        win, _scratch("pretrain_v2"), tag="train-v2",
        max_records_per_file=max(1, n_win // 8),
    )
    rel = t.read("train-v2")
    # disjoint reload == in-memory window set
    a = win.select("shard", "seq_id", _ids_digest("input_ids").alias("dm"))
    b = rel.select("shard", "seq_id", F.col("ids_digest").alias("ds"))
    bad = (
        a.join(b, ["shard", "seq_id"], "full")
        .where(
            F.col("dm").isNull()
            | F.col("ds").isNull()
            | (F.col("dm") != F.col("ds"))
        )
        .count()
    )
    assert bad == 0, f"{bad} windows diverged"
    ordered = training_order(rel, salt=1).select(
        "order_key", "shard", "seq_id", F.col("ids_digest").alias("wd"),
    )
    bd = ordered.groupBy(F.substring("order_key", 1, 1).alias("bucket")).agg(
        F.count(F.lit(1)).alias("nb"),
        F.md5(F.concat_ws(",", F.transform(
            F.array_sort(F.collect_list(
                F.struct("order_key", "shard", "seq_id", "wd")
            )),
            lambda s: s.wd,
        ))).alias("bdig"),
    )
    gl = bd.agg(
        F.sum("nb").alias("n_windows"),
        F.md5(F.concat_ws(",", F.transform(
            F.array_sort(F.collect_list(F.struct("bucket", "bdig"))),
            lambda s: s.bdig,
        ))).alias("windows_digest"),
    )
    f_raw = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    f_q = q.groupBy("source").agg(F.count(F.lit(1)).alias("n_quality"))
    f_s = samp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("n_tokens").alias("tokens_sampled"),
    )
    return (
        f_raw.join(f_q, "source", "left")
        .join(f_s, "source", "left")
        .join(plan.select("source", "token_budget"), "source", "left")
        .crossJoin(F.broadcast(gl))
        .select(
            "source",
            "n_raw",
            *[F.coalesce(c, F.lit(0)).alias(c) for c in (
                "n_quality", "n_sampled", "tokens_sampled", "token_budget"
            )],
            "n_windows",
            "windows_digest",
        )
        .orderBy("source")
    )


def _mixture_budget_sampling_oracle(n_merges: int = 4, budget: int = 32_000) -> str:
    from parquet_rewriter_spark.operators.sampling import portable_unit_sql

    u = portable_unit_sql("t.doc_id")
    return f"""
    WITH {_bpe_enc_head(n_merges)},
    d_tok AS (
      SELECT e.doc_id, d.source, CAST(len(e.input_ids) AS BIGINT) AS n_tokens
      FROM enc e JOIN documents d USING (doc_id)
    ),
    s AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS src_tokens
      FROM d_tok GROUP BY source
    ),
    plan AS (
      SELECT source, src_tokens,
             CAST(({budget} * src_tokens)
                  // (SELECT sum(src_tokens) FROM s) AS BIGINT) AS token_budget
      FROM s
    ),
    ex AS (
      SELECT t.source, t.n_tokens,
             sum(t.n_tokens) OVER (
               PARTITION BY t.source
               ORDER BY {u}, t.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d_tok t
    ),
    exk AS (
      SELECT e.source, CAST(count(*) AS BIGINT) AS docs_exact,
             CAST(sum(e.n_tokens) AS BIGINT) AS tokens_exact
      FROM ex e JOIN plan p USING (source)
      WHERE e.cum <= p.token_budget GROUP BY e.source
    ),
    rk AS (
      SELECT t.source, CAST(count(*) AS BIGINT) AS docs_rate,
             CAST(sum(t.n_tokens) AS BIGINT) AS tokens_rate
      FROM d_tok t JOIN plan p USING (source)
      WHERE {u} < least(CAST(p.token_budget AS DOUBLE)
                        / CAST(p.src_tokens AS DOUBLE), 1.0)
      GROUP BY t.source
    )
    SELECT p.source, p.token_budget,
           coalesce(docs_exact, 0) AS docs_exact,
           coalesce(tokens_exact, 0) AS tokens_exact,
           coalesce(docs_rate, 0) AS docs_rate,
           coalesce(tokens_rate, 0) AS tokens_rate
    FROM plan p
    LEFT JOIN exk USING (source)
    LEFT JOIN rk USING (source)
    ORDER BY p.source
    """


@query(
    "mixture_budget_sampling",
    _mixture_budget_sampling_oracle(4, 32_000),
    "llm-pipeline", "sampling", "mixture", "tokenizer",
)
@_clean_query
def mixture_budget_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM TOKEN BUDGETS TO ACTUAL DOCUMENT SELECTION — the planner's
    integer allocation (token_budget_plan) executed by two samplers:
    the EXACT greedy prefix (docs in deterministic portable-hash order
    per source, kept while the running frozen-token total fits the
    budget — tight, never over) and the RATE-based 100-TB path (keep
    probability = budget/total per source, pure projection, no
    per-source sequential scan — expected-value accurate). Both are
    engine-portable by construction (portable_unit's integer hash, an
    exact IEEE quotient of two plan integers) and both replay in SQL;
    the hash compare covers kept-doc counts AND kept-token masses per
    source. In-body assert: exact never exceeds its budget."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, encode_docs
    from parquet_rewriter_spark.operators.tokenstats import (
        sample_at_token_rate,
        sample_to_token_budget,
        token_budget_plan,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    d_tok = persist(
        encode_docs(d, "doc_id", "text", vocab)
        .select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
        .join(d.select("doc_id", "source"), "doc_id")
    )
    stats = d_tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    plan = persist(token_budget_plan(stats, budget_tokens=32_000))
    exact = sample_to_token_budget(d_tok, plan)
    over = exact.groupBy("source").agg(
        F.max(F.col("cum_tokens") - F.col("token_budget")).alias("o")
    ).where(F.col("o") > 0).count()
    assert over == 0  # exact sampler never exceeds a budget
    e = exact.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_exact"),
        F.sum("n_tokens").alias("tokens_exact"),
    )
    r = sample_at_token_rate(d_tok, plan).groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_rate"),
        F.sum("n_tokens").alias("tokens_rate"),
    )
    out = (
        plan.select("source", "token_budget")
        .join(e, "source", "left")
        .join(r, "source", "left")
        .select(
            "source",
            "token_budget",
            F.coalesce("docs_exact", F.lit(0)).alias("docs_exact"),
            F.coalesce("tokens_exact", F.lit(0)).alias(
                "tokens_exact"
            ),
            F.coalesce("docs_rate", F.lit(0)).alias("docs_rate"),
            F.coalesce("tokens_rate", F.lit(0)).alias(
                "tokens_rate"
            ),
        )
        .orderBy("source")
    )
    return out


def _sft_loss_oracle(n_merges: int = 4, m: int = 48, shards: int = 4,
                     k_prompt: int = 5) -> str:
    """Replay of the SFT loss-mask pack: prompt length per doc = the
    token count of its first ``k_prompt`` words (word-level encoding
    makes prompt+completion concatenation exact), EOS-packed windows
    with per-piece doc offsets, loss fragment per piece = intersection
    of its doc positions with [prompt_len, ∞) in window coordinates."""
    flat = (
        "flatten(list_transform(list_sort(list({'p': pos, 'd': doc_id, "
        "'l': piece})), s -> s.l))"
    )
    return f"""
    WITH {_bpe_enc_head(n_merges)},
    penc AS (
      SELECT doc_id,
             CAST(coalesce(sum(CASE WHEN wpos <= {k_prompt}
                                    THEN len(ids) END), 0) AS BIGINT) AS plen
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    ),
    pk AS (
      SELECT e.doc_id, e.doc_id % {shards} AS shard, p.plen,
             list_append(e.input_ids,
                         CAST((SELECT count(*) FROM sid) AS INTEGER))
               AS input_ids,
             CAST(len(e.input_ids) + 1 AS BIGINT) AS n_tok,
             CAST(coalesce(sum(len(e.input_ids) + 1) OVER (
               PARTITION BY e.doc_id % {shards} ORDER BY e.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS B
      FROM enc e JOIN penc p USING (doc_id)
    ),
    pieces AS (
      SELECT shard, doc_id, plen, q.w AS seq_id, q.pos, q.piece, q.off
      FROM pk, LATERAL (
        SELECT unnest(list_transform(
          generate_series(CAST(floor(B / {m}) AS BIGINT),
                          CAST(floor((B + n_tok - 1) / {m}) AS BIGINT)),
          w -> {{'w': w,
                 'piece': list_slice(input_ids,
                                     CAST(greatest(0, w * {m} - B) + 1 AS BIGINT),
                                     CAST(least(n_tok, (w + 1) * {m} - B) AS BIGINT)),
                 'pos': B + greatest(0, w * {m} - B) - w * {m},
                 'off': greatest(0, w * {m} - B)}})) AS q
      )
    ),
    lp AS (
      SELECT shard, seq_id, pos, piece, doc_id,
             pos + greatest(0, plen - off) AS lstart,
             greatest(0, CAST(len(piece) AS BIGINT)
                          - greatest(0, plen - off)) AS llen
      FROM pieces
    )
    SELECT shard, seq_id,
           md5(array_to_string({flat}, ',')) AS ids_digest,
           CAST(len({flat}) AS INT) AS n_tokens,
           CAST(sum(llen) AS BIGINT) AS n_loss_tokens,
           array_to_string(
             list_transform(
               list_sort(list({{'p': pos, 's': lstart, 'l': llen}})
                         FILTER (WHERE llen > 0)),
               x -> CAST(x.s AS VARCHAR) || ':' || CAST(x.l AS VARCHAR)),
             ';') AS loss_spans,
           array_to_string(
             list_transform(
               list_sort(list({{'p': pos, 'd': doc_id, 'l': piece}})),
               s -> CAST(s.d AS VARCHAR) || ':' || CAST(s.p AS VARCHAR)
                    || ':' || CAST(len(s.l) AS VARCHAR)),
             ';') AS doc_spans
    FROM lp GROUP BY shard, seq_id
    ORDER BY shard, seq_id
    """


@query(
    "sft_pack_loss_mask",
    _sft_loss_oracle(4, 48, 4, 5),
    "llm-pipeline", "packing", "sft", "loss-mask", "pretraining",
)
@_clean_query
def sft_pack_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT PACKING WITH LOSS MASKS — instruction tuning trains only on
    completion tokens, so every packed window needs (start, len) spans
    of the positions that contribute to the loss. Word-level encoding
    makes the prompt/completion split exact: encoding is per-word, so
    the prompt's token count (here: the first 5 words, encoded alone)
    equals its share of the full doc's stream bit-for-bit. The prompt
    length rides INSIDE the doc ref (``doc_col`` = struct(doc_id,
    prompt_len) — the materializer preserves the struct), so
    ``completion_loss_spans`` derives the mask locally from each
    fragment's new ``doc_off``: zero extra exchange, zero Python, no
    join — a doc split across windows masks correctly in both halves.
    EOS lands in the loss region by construction. The oracle replays
    the whole derivation independently; an in-body assert pins the
    global invariant Σ n_loss_tokens = Σ (completion + EOS)."""
    from parquet_rewriter_spark.operators.bpe import (
        bpe_train,
        encode_docs,
        symbol_vocab,
        words_expr,
    )
    from parquet_rewriter_spark.operators.packing import (
        completion_loss_spans,
        materialize_packed,
        pack_sequences,
        with_eos,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    eos_id = symbol_vocab(vocab).count()
    enc = encode_docs(d, "doc_id", "text", vocab)
    prompt = d.select(
        "doc_id",
        F.concat_ws(" ", F.slice(words_expr("text"), 1, 5)).alias("text"),
    )
    plen = encode_docs(prompt, "doc_id", "text", vocab).select(
        "doc_id", F.col("n_tokens").cast("long").alias("prompt_len")
    )
    # persist the encoded+joined relation: it feeds the pack AND
    # the invariant check (two encode passes otherwise re-run the
    # corpus word join for each consumer)
    enc2 = persist(with_eos(
        enc.join(plen, "doc_id"), "input_ids", eos_id
    ).withColumn(
        "docref", F.struct(F.col("doc_id"), F.col("prompt_len"))
    ))
    p = pack_sequences(
        enc2, "doc_id", F.size("input_ids"), max_tokens=48,
        shard_col=F.pmod(F.col("doc_id"), F.lit(4)),
    )
    win = persist(completion_loss_spans(
        materialize_packed(p, "input_ids", 48, doc_col="docref")
    ))  # the check and the settle both consume it
    # global invariant: loss mass equals completion + EOS
    # (enc2's n_tokens pre-dates the EOS append → the +1)
    chk = win.agg(F.sum("n_loss_tokens").alias("a")).crossJoin(
        enc2.agg(
            F.sum(
                F.col("n_tokens") - F.col("prompt_len") + 1
            ).alias("b")
        )
    ).first()
    assert int(chk["a"]) == int(chk["b"]), (chk["a"], chk["b"])
    out = win.select(
        "shard",
        "seq_id",
        _ids_digest("input_ids").alias("ids_digest"),
        "n_tokens",
        "n_loss_tokens",
        F.concat_ws(
            ";",
            F.transform(
                F.col("loss_spans"),
                lambda x: F.concat_ws(
                    ":",
                    x.start.cast("string"),
                    x.len.cast("string"),
                ),
            ),
        ).alias("loss_spans"),
        F.concat_ws(
            ";",
            F.transform(
                F.col("doc_spans"),
                lambda s: F.concat_ws(
                    ":",
                    s.doc.doc_id.cast("string"),
                    s.start.cast("string"),
                    s.len.cast("string"),
                ),
            ),
        ).alias("doc_spans"),
    ).orderBy("shard", "seq_id")
    return out


# ------------------- round-12: byte-level unigram (no-unk parity)
# VERDICT r11 #7: SentencePiece's unigram model ships byte-fallback in
# production; the engine's unigram had char-fallback + unk but no byte
# alphabet, so its no-unk guarantee was weaker than byte-level BPE's.


def _unigram_bytelevel_oracle(max_doc: int = 30) -> str:
    """Independent replay of the byte-level unigram frozen path:
    inventory from byte-aligned hex substrings of the PLAIN even-doc
    slice, recursive path enumeration over holdout hex words
    (alignment structural — every piece has even length), hex-pair
    fallback for no-path words, base-256 id union — min_id ≥ 0 IS the
    no-unk proof on bytes training never saw."""
    hold_sql = (
        f"SELECT doc_id, text || ' µ~' AS text FROM ({_DECOR_SQL}) b "
        f"WHERE doc_id % 2 = 1 AND doc_id < {max_doc}"
    )
    return f"""
    WITH twc AS (
      SELECT hex(word) AS hw, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT unnest(list_filter(
                 regexp_split_to_array(lower(text), '\\s+'),
                 w -> w <> '')) AS word
        FROM documents WHERE doc_id % 2 = 0
      ) GROUP BY 1
    ),
    ug_counts AS (
      SELECT substr(hw, 2 * j + 1, 2 * l) AS piece,
             CAST(sum(cnt) AS BIGINT) AS c
      FROM twc,
           LATERAL (SELECT unnest(generate_series(
                      1, least(len(hw) // 2, 4))) AS l),
           LATERAL (SELECT unnest(generate_series(0, len(hw) // 2 - l)) AS j)
      GROUP BY 1
    ),
    ug_stats AS (
      SELECT piece, c FROM (
        SELECT piece, c FROM ug_counts WHERE len(piece) >= 4
        ORDER BY c DESC, piece LIMIT 150
      )
      UNION ALL
      SELECT piece, c FROM ug_counts WHERE len(piece) = 2
    ),
    ug_ratio AS (
      SELECT piece, c / (SELECT CAST(sum(c) AS DOUBLE) FROM ug_stats) AS r
      FROM ug_stats
    ),
    pid AS (
      SELECT piece, row_number() OVER (ORDER BY piece) - 1 AS piece_id
      FROM (
        SELECT DISTINCT piece FROM (
          SELECT piece FROM ug_stats
          UNION ALL
          SELECT lpad(upper(hex(i)), 2, '0') AS piece
          FROM (SELECT unnest(generate_series(0, 255)) AS i)
        )
      )
    ),
    hwc AS (
      SELECT DISTINCT hex(word) AS word
      FROM (
        SELECT unnest(list_filter(
                 regexp_split_to_array(lower(text), '\\s+'),
                 w -> w <> '')) AS word
        FROM ({hold_sql}) hold
      )
    ),
    h_paths AS (
      WITH RECURSIVE p AS (
        SELECT word, 0 AS pos, CAST(1.0 AS DOUBLE) AS score,
               CAST('' AS VARCHAR) AS ps
        FROM hwc
        UNION ALL
        SELECT p.word, p.pos + len(v.piece) AS pos, p.score * v.r AS score,
               CASE WHEN p.ps = '' THEN v.piece
                    ELSE p.ps || ' ' || v.piece END AS ps
        FROM p JOIN ug_ratio v
          ON substr(p.word, p.pos + 1, len(v.piece)) = v.piece
        WHERE p.pos < len(p.word)
      )
      SELECT word, score, ps FROM p WHERE pos = len(word)
    ),
    h_seg AS (
      SELECT word, string_split(min(ps) FILTER (WHERE score = m), ' ') AS pieces
      FROM (SELECT word, score, ps, max(score) OVER (PARTITION BY word) AS m
            FROM h_paths)
      GROUP BY word
    ),
    h_fall AS (
      SELECT w.word, regexp_extract_all(w.word, '..') AS pieces
      FROM hwc w LEFT JOIN h_seg s USING (word)
      WHERE s.word IS NULL
    ),
    h_all AS (
      SELECT word, pieces FROM h_seg
      UNION ALL SELECT word, pieces FROM h_fall
    ),
    h_pos AS (
      SELECT word, i AS pos, pieces[i] AS piece
      FROM h_all, LATERAL (SELECT unnest(generate_series(1, len(pieces))) AS i)
    ),
    word_ids AS (
      SELECT w.word,
             list_transform(list_sort(list({{'p': w.pos,
                                             'i': coalesce(p.piece_id, -1)}})),
                            x -> x.i) AS ids
      FROM h_pos w LEFT JOIN pid p USING (piece) GROUP BY w.word
    ),
    dwords AS (
      SELECT doc_id, i AS wpos, hex(ws[i]) AS word
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               w -> w <> '') AS ws
            FROM ({hold_sql}) hold),
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
    ),
    enc2 AS (
      SELECT doc_id, {_WP_FLAT} AS input_ids
      FROM dwords JOIN word_ids USING (word) GROUP BY doc_id
    )
    SELECT doc_id, md5(array_to_string(input_ids, ',')) AS ids_digest,
           CAST(len(input_ids) AS INT) AS n_tokens,
           CAST(list_min(input_ids) AS INT) AS min_id
    FROM enc2 ORDER BY doc_id
    """


@query(
    "unigram_bytelevel_holdout",
    _unigram_bytelevel_oracle(30),
    "llm-pipeline", "tokenizer", "unigram", "byte-level", "frozen",
)
def unigram_bytelevel_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-LEVEL UNIGRAM on a disjoint corpus carrying bytes training
    never saw (decorated punctuation/digits plus a ``µ~`` tail — µ is
    two UTF-8 bytes absent from the plain even-doc training slice):
    the inventory is byte-aligned hex substrings
    (operators/unigram.py:piece_stats(byte_level=True)), no-path
    holdout words fall back to HEX PAIRS instead of chars, and the id
    table unions all 256 base bytes
    (unigram_piece_ids(base_bytes=True)) — so every holdout doc
    encodes completely with ``min_id`` ≥ 0 (asserted in-body AND
    hash-compared): the unigram family now carries the same
    mathematically-no-unk guarantee as byte-level BPE, closing the
    trio. The oracle enumerates segmentation paths over the hex words
    independently (alignment is structural: every piece has even
    length, so no path can split a byte)."""
    from parquet_rewriter_spark.operators.unigram import (
        piece_stats,
        unigram_encode_docs,
    )

    d = _t(spark, sf_dir, "documents")
    # undecorated: the body settles ONCE (the min_id assert needs the
    # materialized result) inside its own cache scope — stacking
    # @_clean_query on top wrote the already-settled result to scratch
    # a second time on every execution (one extra write job per
    # bench/oracle run)
    with cache_scope():
        stats = piece_stats(
            d.filter(F.col("doc_id") % 2 == 0), "text",
            max_piece_len=4, vocab_size=150, byte_level=True,
        )
        hold = _decorated_docs(spark, sf_dir).filter(
            (F.col("doc_id") % 2 == 1) & (F.col("doc_id") < 30)
        ).select("doc_id", F.concat(F.col("text"), F.lit(" µ~")).alias("text"))
        out = unigram_encode_docs(
            hold, "doc_id", "text", stats, unk_id=-1,
            byte_level=True, base_bytes=True,
        ).select(
            "doc_id",
            _ids_digest("input_ids").alias("ids_digest"),
            "n_tokens",
            F.array_min("input_ids").cast("int").alias("min_id"),
        ).orderBy("doc_id")
        res = _settle(spark, out, "ug_bytelevel_holdout")
    # the guarantee itself, self-enforced: no unk anywhere
    assert res.where(F.col("min_id") < 0).count() == 0
    return res


# ------------------- round-12: real image headers without a codec
# VERDICT r11 #3: PNG IHDR and JPEG SOF dimension extraction are pure
# byte parsing — the patch-grid/letterbox paths now run on REAL image
# bytes; only pixel decode stays behind the PIL/ffmpeg guard.


_IMG_DIMS_ORACLE = """
    WITH m AS (
      SELECT doc_id AS media_id,
             CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                             WHEN 2 THEN 'gif' ELSE 'bmp' END AS fmt,
             CAST(16 + (doc_id * 7) % 97 AS INT) AS width,
             CAST(16 + (doc_id * 13) % 83 AS INT) AS height
      FROM documents
    ),
    l AS (
      SELECT media_id, least(224.0 / width, 224.0 / height) AS scale
      FROM m
    ),
    lb AS (
      SELECT media_id,
             CAST(greatest(floor(width * scale), 1) AS BIGINT) AS out_w,
             CAST(greatest(floor(height * scale), 1) AS BIGINT) AS out_h
      FROM m JOIN l USING (media_id)
    )
    SELECT m.media_id, fmt, width, height,
           CAST(greatest((width - 16) // 16 + 1, 1)
                * greatest((height - 16) // 16 + 1, 1) AS BIGINT) AS n_patches,
           out_w, out_h,
           CAST(floor((224 - out_w) / 2) AS BIGINT) AS pad_left,
           CAST(floor((224 - out_h) / 2) AS BIGINT) AS pad_top,
           CAST(224 - out_w - floor((224 - out_w) / 2) AS BIGINT) AS pad_right,
           CAST(224 - out_h - floor((224 - out_h) / 2) AS BIGINT) AS pad_bottom
    FROM m JOIN lb USING (media_id)
    ORDER BY media_id
    """


@query(
    "image_header_dims_patch_grid",
    _IMG_DIMS_ORACLE,
    "llm-pipeline", "multimodal", "image", "header-parse",
)
def image_header_dims_patch_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL image bytes end to end, no codec needed (VERDICT r11 #3):
    build spec-correct PNG (signature + IHDR, big-endian), JPEG (SOI +
    VARIABLE-length COM + SOF0 + EOI — the COM forces a genuine marker
    walk, dims are never at a fixed offset), GIF89a (little-endian
    u16 screen descriptor) and BMP (BITMAPINFOHEADER, little-endian
    i32) headers in pure codegen — four real formats covering both
    endiannesses and both fixed- and walked-offset layouts — then
    parse them BLIND with the Arrow-batched header parser
    (sources/multimodal.py:decode_dims — the only inputs it sees are
    the bytes), and run the ViT patch grid and the letterbox geometry
    over the PARSED dimensions. The oracle computes everything from
    the construction formulas — a hash match proves the blind
    byte-level parse recovered every width/height and classified
    every format, i.e. the multimodal metadata path now runs on real
    image layouts, with only pixel decode still environment-guarded."""
    from parquet_rewriter_spark.sources.multimodal import (
        decode_dims,
        letterbox_geometry,
        pack_bmp_header,
        pack_gif_header,
        pack_jpeg_header,
        pack_png_header,
        patch_grid,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    w = (F.lit(16) + (F.col("doc_id") * 7) % 97).cast("int")
    h = (F.lit(16) + (F.col("doc_id") * 13) % 83).cast("int")
    com = (F.col("doc_id") % 7 + 1).cast("int")
    kind = F.col("doc_id") % 4
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(kind == 0, pack_png_header(w, h))
        .when(kind == 1, pack_jpeg_header(w, h, com))
        .when(kind == 2, pack_gif_header(w, h))
        .otherwise(pack_bmp_header(w, h))
        .alias("payload"),
    )
    dims = decode_dims(media)  # blind: sees only the bytes
    grid = patch_grid(dims, patch=16, stride=16).groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_patches")
    )
    lb = letterbox_geometry(dims, 224, 224)
    out = (
        lb.join(grid, "media_id")
        .select(
            "media_id",
            "fmt",
            "width",
            "height",
            "n_patches",
            "out_w",
            "out_h",
            "pad_left",
            "pad_top",
            "pad_right",
            "pad_bottom",
        )
        .orderBy("media_id")
    )
    return _settle(spark, out, "img_header_dims")


_LM_PERPLEXITY_ORACLE = """
WITH rw AS (
  SELECT string_split(text, ' ') AS w FROM documents WHERE lang = 'en'
),
uni AS (
  SELECT u.w, CAST(count(*) AS BIGINT) AS c
  FROM rw, unnest(w) AS u(w) GROUP BY u.w
),
bi AS (
  SELECT w[j] AS w1, w[j + 1] AS w2, CAST(count(*) AS BIGINT) AS c12
  FROM rw, unnest(generate_series(1, len(w) - 1)) AS t(j)
  GROUP BY w1, w2
),
nn AS (SELECT CAST(sum(len(w)) AS DOUBLE) AS n FROM rw),
dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
db AS (
  SELECT doc_id, w[j] AS w1, w[j + 1] AS w2
  FROM dw, unnest(generate_series(1, len(w) - 1)) AS t(j)
),
sc AS (
  SELECT b.doc_id,
         CAST(round(ln(CASE
           WHEN bi.c12 IS NOT NULL THEN
             CAST(bi.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE)
           WHEN u2.c IS NOT NULL THEN
             CAST(0.4 AS DOUBLE) * CAST(u2.c AS DOUBLE)
               / (SELECT n FROM nn)
           ELSE CAST(0.4 AS DOUBLE) / (SELECT n FROM nn)
         END) * 1000000.0) AS BIGINT) AS q
  FROM db b
  LEFT JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
  LEFT JOIN uni u1 ON b.w1 = u1.w
  LEFT JOIN uni u2 ON b.w2 = u2.w
),
dce AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST((-sum(q)) // count(*) AS BIGINT) AS ce_micro
  FROM sc GROUP BY doc_id
),
bk AS (
  SELECT d.lang, c.ce_micro,
         ntile(3) OVER (
           PARTITION BY d.lang ORDER BY c.ce_micro, c.doc_id
         ) AS bucket
  FROM dce c JOIN documents d USING (doc_id)
)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ce_micro) AS BIGINT) AS sum_ce_micro,
       min(ce_micro) AS min_ce_micro,
       max(ce_micro) AS max_ce_micro
FROM bk GROUP BY lang, bucket ORDER BY lang, bucket
"""


@query(
    "lm_perplexity_buckets",
    _LM_PERPLEXITY_ORACLE,
    "llm", "quality", "perplexity", "lm", "ccnet",
)
def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality gate (operators/lm_quality.py): train a
    stupid-backoff bigram LM on the trusted slice (lang='en'), score
    EVERY document's per-token cross-entropy under it, and bucket
    head/middle/tail per language — the standard web-corpus quality
    partition. Per-bigram log-scores are integer-quantized micro-nats
    before the per-doc fold (order-free, engine-exact), the mean is an
    integer quotient of positive operands, and the bucket edges are an
    exact per-language ntile with a total tiebreak — the full train +
    score + bucket path replays in one SQL oracle. In-body assert:
    within every language the head bucket's max ce ≤ the tail bucket's
    min ce (the ntile is a genuine ordering, not a hash split)."""
    from parquet_rewriter_spark.operators.lm_quality import (
        perplexity_buckets,
        score_docs_backoff,
        train_backoff_lm,
    )

    d = _t(spark, sf_dir, "documents")
    uni, bi, n_total = train_backoff_lm(
        d.where(F.col("lang") == "en"), "text"
    )
    with cache_scope():
        uni = persist(uni)
        bi = persist(bi)
        scored = score_docs_backoff(d, uni, bi, n_total, "doc_id", "text")
        lab = scored.join(d.select("doc_id", "lang"), "doc_id")
        bk = perplexity_buckets(lab, "lang", "doc_id", k=3)
        out = (
            bk.groupBy("lang", F.col("bucket").cast("long").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("ce_micro").alias("sum_ce_micro"),
                F.min("ce_micro").alias("min_ce_micro"),
                F.max("ce_micro").alias("max_ce_micro"),
            )
            .orderBy("lang", "bucket")
        )
        res = _settle(spark, out, "lm_perplexity_buckets")
        rows = {(r["lang"], r["bucket"]): r for r in res.collect()}
        langs = {k[0] for k in rows}
        for lg in langs:  # buckets are a genuine quality ordering
            assert rows[(lg, 1)]["max_ce_micro"] <= rows[(lg, 3)][
                "min_ce_micro"
            ], lg
        return res


_EPOCH_MIXTURE_ORACLE = """
WITH s AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(1 + (CAST(substr(source, 4) AS INT) % 7) AS BIGINT) AS weight
  FROM documents GROUP BY source
),
tt AS (SELECT CAST((sum(n_tokens) * 15) // 10 AS BIGINT) AS t_tot FROM s),
c AS (
  SELECT source, n_tokens, weight,
         (2500000 * n_tokens) // 1000000 AS cap_tokens,
         CAST((2500000 * n_tokens) // 1000000 AS DOUBLE)
           / CAST(weight AS DOUBLE) AS ratio
  FROM s
),
agg AS (
  SELECT CAST(sum(cap_tokens) AS BIGINT) AS tot_cap,
         CAST(sum(weight) AS BIGINT) AS tot_w
  FROM c
),
win AS (
  SELECT c.*,
         coalesce(sum(cap_tokens) OVER (
           ORDER BY ratio, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cap_before,
         coalesce(sum(weight) OVER (
           ORDER BY ratio, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS w_before,
         lag(ratio) OVER (ORDER BY ratio, source) AS prev_ratio
  FROM c
),
tr AS (
  SELECT w.*, agg.tot_cap, agg.tot_w, tt.t_tot,
         (CAST(tt.t_tot AS DOUBLE) - CAST(cap_before AS DOUBLE))
           / CAST(agg.tot_w - w_before AS DOUBLE) AS t_row
  FROM win w, agg, tt
),
piv AS (
  SELECT min(t_row) AS t_star FROM tr
  WHERE ratio > t_row
    AND coalesce(prev_ratio, -1e308) <= t_row
    AND t_tot < tot_cap
),
al AS (
  SELECT source, n_tokens, weight, cap_tokens,
         CAST(CASE
           WHEN t_tot >= tot_cap THEN cap_tokens
           WHEN ratio <= (SELECT t_star FROM piv) THEN cap_tokens
           ELSE CAST(floor((SELECT t_star FROM piv)
                           * CAST(weight AS DOUBLE)) AS BIGINT)
         END AS BIGINT) AS allocated
  FROM tr
)
SELECT source, n_tokens, weight, cap_tokens, allocated,
       (allocated * 1000000) // n_tokens AS epochs_micro,
       CASE WHEN allocated >= cap_tokens THEN 1 ELSE 0 END AS saturated
FROM al ORDER BY source
"""


@query(
    "epoch_mixture_plan",
    _EPOCH_MIXTURE_ORACLE,
    "llm", "mixture", "planner", "epochs",
)
def epoch_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-AWARE mixture allocation
    (operators/tokenstats.py:plan_epoch_mixture): token budget 1.5× the
    total supply, per-source weights 1–7 (deterministic from the source
    name), repetition capped at 2.5 epochs — high-weight sources hit
    the cap and their excess water-fills into the rest, still ∝ weight,
    via the closed-form sorted-saturation threshold. Everything is
    integer arithmetic plus IEEE quotients of exact integers, so the
    whole plan — caps, pivot, allocations, micro-epochs — replays
    bit-for-bit in SQL. In-body asserts: no source above its cap,
    Σ allocated ≤ budget, and the plan genuinely mixes (≥1 saturated
    AND ≥1 unsaturated source)."""
    from parquet_rewriter_spark.operators.tokenstats import (
        plan_epoch_mixture,
    )

    d = _t(spark, sf_dir, "documents")
    stats = (
        d.groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
        )
        .withColumn(
            "weight",
            (F.lit(1) + F.expr("CAST(substr(source, 4) AS INT)") % 7)
            .cast("long"),
        )
    )
    # ONE corpus aggregation: collect the |sources|-row stats, total
    # driver-side, plan over the LOCAL relation (schema preserved)
    stat_rows = stats.collect()
    total = sum(int(r["n_tokens"]) for r in stat_rows)
    plan = plan_epoch_mixture(
        spark.createDataFrame(stat_rows, stats.schema),
        (total * 15) // 10, max_epochs_micro=2_500_000,
    )
    out = plan.select(
        "source",
        "n_tokens",
        "weight",
        "cap_tokens",
        "allocated",
        "epochs_micro",
        F.col("saturated").cast("int").alias("saturated"),
    ).orderBy("source")
    res = _settle(spark, out, "epoch_mixture_plan")
    rows = res.collect()
    assert all(r["allocated"] <= r["cap_tokens"] for r in rows)
    assert sum(r["allocated"] for r in rows) <= (total * 15) // 10
    sat = {r["saturated"] for r in rows}
    assert sat == {0, 1}  # the cap binds for some sources, not all
    return res


def _epoch_execution_oracle() -> str:
    from parquet_rewriter_spark.operators.sampling import portable_unit_sql

    u = portable_unit_sql("t.doc_id")
    plan_ctes = _EPOCH_MIXTURE_ORACLE.split("al AS (")[0] + """al AS (
  SELECT source, n_tokens, weight, cap_tokens,
         CAST(CASE
           WHEN t_tot >= tot_cap THEN cap_tokens
           WHEN ratio <= (SELECT t_star FROM piv) THEN cap_tokens
           ELSE CAST(floor((SELECT t_star FROM piv)
                           * CAST(weight AS DOUBLE)) AS BIGINT)
         END AS BIGINT) AS allocated
  FROM tr
)"""
    return f"""{plan_ctes},
pl AS (
  SELECT source, allocated,
         allocated // n_tokens AS full_epochs,
         allocated - (allocated // n_tokens) * n_tokens AS rem
  FROM al
),
dt AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
fullp AS (
  SELECT d.source, d.n_tokens
  FROM dt d JOIN pl p USING (source),
       unnest(generate_series(0, p.full_epochs - 1)) AS e(epoch)
),
fa AS (
  SELECT source, CAST(count(*) AS BIGINT) AS docs_full,
         CAST(sum(n_tokens) AS BIGINT) AS tok_full
  FROM fullp GROUP BY source
),
ex AS (
  SELECT t.source, t.n_tokens,
         sum(t.n_tokens) OVER (
           PARTITION BY t.source
           ORDER BY {u}, t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dt t
),
fr AS (
  SELECT e.source, CAST(count(*) AS BIGINT) AS docs_frac,
         CAST(sum(e.n_tokens) AS BIGINT) AS tok_frac
  FROM ex e JOIN pl p USING (source)
  WHERE e.cum <= p.rem GROUP BY e.source
)
SELECT p.source, p.allocated, p.full_epochs,
       coalesce(fa.docs_full, 0) AS docs_full,
       coalesce(fr.docs_frac, 0) AS docs_frac,
       coalesce(fa.tok_full, 0) + coalesce(fr.tok_frac, 0)
         AS tokens_emitted
FROM pl p
LEFT JOIN fa USING (source)
LEFT JOIN fr USING (source)
ORDER BY p.source
"""


@query(
    "epoch_plan_execution",
    _epoch_execution_oracle(),
    "llm", "mixture", "epochs", "sampling",
)
def epoch_plan_execution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE EPOCH PLAN EXECUTED
    (operators/tokenstats.py:sample_with_epochs): plan_epoch_mixture's
    allocations become an actual repeated-document stream — each source
    contributes ``allocated div supply`` COMPLETE passes (a
    zero-exchange explode of a broadcast-joined sequence: repeating
    every doc needs no coordination) plus the exact deterministic
    prefix of the fractional remainder (sample_to_token_budget's
    portable-hash order). In-body asserts: per source the emitted
    token mass never exceeds the allocation and undershoots it by
    LESS THAN ONE DOCUMENT (full passes are exact, the prefix is
    tight); at least one source repeats (full_epochs ≥ 2 under the
    2.5-epoch cap) while another stays fractional-only."""
    from parquet_rewriter_spark.operators.tokenstats import (
        plan_epoch_mixture,
        sample_with_epochs,
    )

    d = _t(spark, sf_dir, "documents")
    d_tok = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    stats = (
        d_tok.groupBy("source")
        .agg(F.sum("n_tokens").alias("n_tokens"))
        .withColumn(
            "weight",
            (F.lit(1) + F.expr("CAST(substr(source, 4) AS INT)") % 7)
            .cast("long"),
        )
    )
    # ONE corpus aggregation: collect the |sources|-row stats, derive
    # the budget total driver-side, and rebuild the stats as a LOCAL
    # relation (schema preserved) for the planner — the former scalar
    # first() + plan materialization each re-ran the corpus groupBy
    stat_rows = stats.collect()
    total = sum(int(r["n_tokens"]) for r in stat_rows)
    stats_local = spark.createDataFrame(stat_rows, stats.schema)
    with cache_scope():
        plan = persist(plan_epoch_mixture(
            stats_local, (total * 15) // 10, max_epochs_micro=2_500_000
        ))
        pl = plan.select(
            "source",
            "allocated",
            F.expr("allocated div n_tokens").alias("full_epochs"),
        )
        sel = sample_with_epochs(d_tok, plan)
        agg = (
            sel.join(F.broadcast(pl), "source")
            .groupBy("source")
            .agg(
                F.sum(
                    F.when(F.col("epoch") < F.col("full_epochs"), 1)
                    .otherwise(0).cast("long")
                ).alias("docs_full"),
                F.sum(
                    F.when(F.col("epoch") >= F.col("full_epochs"), 1)
                    .otherwise(0).cast("long")
                ).alias("docs_frac"),
                F.sum("n_tokens").alias("tokens_emitted"),
            )
        )
        out = (
            pl.join(agg, "source", "left")
            .select(
                "source",
                "allocated",
                "full_epochs",
                F.coalesce("docs_full", F.lit(0).cast("long"))
                .alias("docs_full"),
                F.coalesce("docs_frac", F.lit(0).cast("long"))
                .alias("docs_frac"),
                F.coalesce("tokens_emitted", F.lit(0).cast("long"))
                .alias("tokens_emitted"),
            )
            .orderBy("source")
        )
        res = _settle(spark, out, "epoch_plan_execution")
        rows = res.collect()
        maxdoc = {
            r["source"]: r["m"]
            for r in d_tok.groupBy("source")
            .agg(F.max("n_tokens").alias("m"))
            .collect()
        }
        for r in rows:  # tight: never over, under by < one document
            gap = r["allocated"] - r["tokens_emitted"]
            assert 0 <= gap <= maxdoc[r["source"]], r["source"]
        assert any(r["full_epochs"] >= 2 for r in rows)
        assert any(r["full_epochs"] == 0 and r["docs_frac"] > 0
                   for r in rows)
        return res


_STREAM_LM_ORACLE = (
    _LM_PERPLEXITY_ORACLE.split("bk AS")[0].rstrip().rstrip(",")
    + """
SELECT doc_id, n_bigrams, ce_micro FROM dce ORDER BY doc_id
"""
)


@query(
    "stream_lm_perplexity_scores",
    _STREAM_LM_ORACLE,
    "streaming", "llm", "quality", "perplexity", "lm", "frozen",
)
def stream_lm_perplexity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-INGEST LM perplexity scoring (streaming/ops.py:
    stream_score_backoff) — the quality gate meets the firehose: the
    stupid-backoff bigram model trains once on the trusted lang='en'
    slice, freezes, and every arriving micro-batch scores its own docs
    (per-doc cross-entropy is doc-local given the model, so batches
    are independent and the drained sink shares the BATCH scorer's
    oracle CTEs verbatim — the engine's standard batch/stream parity
    proof, same as the tokenizer trio and CUSUM)."""
    import shutil

    from parquet_rewriter_spark.operators.lm_quality import (
        train_backoff_lm,
    )
    from parquet_rewriter_spark.streaming.ops import stream_score_backoff

    d = _t(spark, sf_dir, "documents")
    uni, bi, n_total = train_backoff_lm(
        d.where(F.col("lang") == "en"), "text"
    )
    uni_rows = [(r["w"], int(r["c"])) for r in uni.collect()]
    bi_rows = [
        (r["w1"], r["w2"], int(r["c12"])) for r in bi.collect()
    ]
    base = _scratch("stream_lm_ppl")
    src = os.path.join(base, "src")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    d.select("doc_id", "text").repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    stream_score_backoff(
        stream, "doc_id", "text", uni_rows, bi_rows, n_total, sink, ckpt
    )
    return (
        spark.read.parquet(sink)
        .select("doc_id", "n_bigrams", "ce_micro")
        .orderBy("doc_id")
    )


_LM_ARTIFACT_ORACLE = (
    _LM_PERPLEXITY_ORACLE.split("bk AS")[0].rstrip().rstrip(",")
    + """
SELECT doc_id, n_bigrams, ce_micro,
       CAST((SELECT count(*) FROM uni) AS BIGINT) AS n_uni_entries,
       CAST((SELECT count(*) FROM bi) AS BIGINT) AS n_bi_entries
FROM dce WHERE doc_id < 40 ORDER BY doc_id
"""
)


@query(
    "lm_artifact_roundtrip",
    _LM_ARTIFACT_ORACLE,
    "llm", "quality", "perplexity", "lm", "registry", "storage",
)
def lm_artifact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-GATE MODEL REGISTRY backed by the engine's own storage
    (the tokenizer_artifact_roundtrip discipline applied to the
    CCNet-style LM): train the stupid-backoff model, persist BOTH
    count relations as SortedTables (unigrams keyed by word, bigrams
    by the joined pair — sorted write, zone maps, time travel: a model
    version IS a table version), reload in a disjoint reader, and
    score documents FROM THE STORED ARTIFACT. The backoff denominator
    is NOT stored — it folds back out of the stored unigram counts
    (Σc = total reference tokens, integer-exact), so the artifact is
    self-contained by construction; in-body assert pins the folded
    total to the training-time value. Scores must equal the in-memory
    path's (same oracle head as lm_perplexity_buckets)."""
    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff,
        train_backoff_lm,
    )
    from parquet_rewriter_spark.table import SortedTable

    d = _t(spark, sf_dir, "documents")
    uni, bi, n_total = train_backoff_lm(
        d.where(F.col("lang") == "en"), "text"
    )
    base = _scratch("lm_registry")
    ut = SortedTable.create(
        spark, os.path.join(base, "uni"), uni, key="w"
    )
    bt = SortedTable.create(
        spark,
        os.path.join(base, "bi"),
        bi.withColumn("bg", F.concat_ws(" ", "w1", "w2")),
        key="bg",
    )
    stored_uni = ut.read().select("w", "c")
    stored_bi = bt.read().select("w1", "w2", "c12")
    n_stored = int(stored_uni.agg(F.sum("c")).first()[0])
    assert n_stored == n_total  # the artifact is self-contained
    n_uni = stored_uni.count()
    n_bi = stored_bi.count()
    scored = score_docs_backoff(
        d.where(F.col("doc_id") < 40),
        stored_uni,
        stored_bi,
        n_stored,
        "doc_id",
        "text",
    )
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            "ce_micro",
            F.lit(n_uni).cast("long").alias("n_uni_entries"),
            F.lit(n_bi).cast("long").alias("n_bi_entries"),
        )
        .orderBy("doc_id")
    )


_LM_TRIGRAM_ORACLE = (
    _LM_PERPLEXITY_ORACLE.split("bk AS")[0].rstrip().rstrip(",")
    + """,
tri AS (
  SELECT w[j] AS w1, w[j + 1] AS w2, w[j + 2] AS w3,
         CAST(count(*) AS BIGINT) AS c123
  FROM rw, unnest(generate_series(1, len(w) - 2)) AS t(j)
  GROUP BY w1, w2, w3
),
dtg AS (
  SELECT doc_id, w[j] AS w1, w[j + 1] AS w2, w[j + 2] AS w3
  FROM dw, unnest(generate_series(1, len(w) - 2)) AS t(j)
),
sc3 AS (
  SELECT g.doc_id,
         CAST(round(ln(CASE
           WHEN t.c123 IS NOT NULL THEN
             CAST(t.c123 AS DOUBLE) / CAST(b12.c12 AS DOUBLE)
           WHEN b23.c12 IS NOT NULL THEN
             CAST(0.4 AS DOUBLE) * CAST(b23.c12 AS DOUBLE)
               / CAST(u2.c AS DOUBLE)
           WHEN u3.c IS NOT NULL THEN
             CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
               * CAST(u3.c AS DOUBLE) / (SELECT n FROM nn)
           ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
               / (SELECT n FROM nn)
         END) * 1000000.0) AS BIGINT) AS q
  FROM dtg g
  LEFT JOIN tri t
    ON g.w1 = t.w1 AND g.w2 = t.w2 AND g.w3 = t.w3
  LEFT JOIN bi b12 ON g.w1 = b12.w1 AND g.w2 = b12.w2
  LEFT JOIN bi b23 ON g.w2 = b23.w1 AND g.w3 = b23.w2
  LEFT JOIN uni u2 ON g.w2 = u2.w
  LEFT JOIN uni u3 ON g.w3 = u3.w
),
dce3 AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         CAST((-sum(q)) // count(*) AS BIGINT) AS ce3_micro
  FROM sc3 GROUP BY doc_id
)
SELECT d2.doc_id, d2.ce_micro AS ce2_micro, d3.n_trigrams,
       d3.ce3_micro
FROM dce d2 JOIN dce3 d3 USING (doc_id)
WHERE doc_id < 40 ORDER BY doc_id
"""
)


@query(
    "lm_trigram_vs_bigram",
    _LM_TRIGRAM_ORACLE,
    "llm", "quality", "perplexity", "lm", "trigram",
)
@_clean_query
def lm_trigram_vs_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIGRAM stupid backoff (operators/lm_quality.py:
    score_docs_backoff3) against the bigram scorer on the same docs —
    the production n-gram depth (CCNet ships 5-gram KenLM; the chain
    S(w3|w1w2) → α·S(w3|w2) → α²·S(w3) is the same construction at any
    depth, each level one more token-keyed count join). Both scorings
    share one model head; the oracle replays bigram AND trigram
    scoring from scratch. Output is the per-doc (ce2, ce3) sample —
    the pair a filtering-threshold study would plot."""
    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff,
        score_docs_backoff3,
        train_backoff_lm,
        trigram_counts,
    )

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("lang") == "en")
    uni, bi, n_total = train_backoff_lm(ref, "text")
    tri = trigram_counts(ref, "text")
    uni = persist(uni)
    bi = persist(bi)
    sample = d.where(F.col("doc_id") < 40)
    s2 = score_docs_backoff(
        sample, uni, bi, n_total, "doc_id", "text"
    ).select("doc_id", F.col("ce_micro").alias("ce2_micro"))
    s3 = score_docs_backoff3(
        sample, uni, bi, tri, n_total, "doc_id", "text"
    ).select(
        "doc_id", "n_trigrams", F.col("ce_micro").alias("ce3_micro")
    )
    out = (
        s2.join(s3, "doc_id")
        .select("doc_id", "ce2_micro", "n_trigrams", "ce3_micro")
        .orderBy("doc_id")
    )
    return out


def _quality_gated_oracle() -> str:
    from parquet_rewriter_spark.operators.sampling import portable_unit_sql

    u = portable_unit_sql("t.doc_id")
    head = _LM_PERPLEXITY_ORACLE.split("bk AS")[0].rstrip().rstrip(",")
    return f"""{head},
bk2 AS (
  SELECT c.doc_id,
         ntile(3) OVER (
           PARTITION BY d.lang ORDER BY c.ce_micro, c.doc_id
         ) AS bucket
  FROM dce c JOIN documents d USING (doc_id)
),
kept AS (
  SELECT k.doc_id, d.source,
         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
  FROM bk2 k JOIN documents d USING (doc_id)
  WHERE k.bucket <= 2
),
st AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
         CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
  FROM kept GROUP BY source
),
tot AS (
  SELECT CAST((sum(tokens_kept) * 6) // 10 AS BIGINT) AS b,
         CAST(sum(tokens_kept) AS BIGINT) AS t
  FROM st
),
plan AS (
  SELECT source, tokens_kept,
         ((SELECT b FROM tot) * tokens_kept) // (SELECT t FROM tot)
           AS token_budget
  FROM st
),
ex AS (
  SELECT t.source, t.n_tokens,
         sum(t.n_tokens) OVER (
           PARTITION BY t.source
           ORDER BY {u}, t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM kept t
),
sel AS (
  SELECT e.source, CAST(count(*) AS BIGINT) AS docs_selected,
         CAST(sum(e.n_tokens) AS BIGINT) AS tokens_selected
  FROM ex e JOIN plan p USING (source)
  WHERE e.cum <= p.token_budget GROUP BY e.source
)
SELECT s.source, s.n_docs_kept, s.tokens_kept, p.token_budget,
       coalesce(sel.docs_selected, 0) AS docs_selected,
       coalesce(sel.tokens_selected, 0) AS tokens_selected
FROM st s
JOIN plan p USING (source)
LEFT JOIN sel USING (source)
ORDER BY s.source
"""


@query(
    "quality_gated_budget_selection",
    _quality_gated_oracle(),
    "llm", "quality", "perplexity", "mixture", "sampling", "pipeline",
)
@_clean_query
def quality_gated_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE QUALITY GATE COMPOSED INTO THE MIXTURE PIPELINE: perplexity
    buckets (lm_quality.py) drop each language's tail third, the
    SURVIVING docs' token masses feed token_budget_plan (60% of the
    kept supply), and sample_to_token_budget executes the allocation
    as the exact deterministic prefix — CCNet's filter feeding the
    planner feeding the sampler, every stage replayed in ONE oracle.
    In-body asserts: per-language kept count == n − n div 3 (the ntile
    gate is exact, not approximate) and no source selects past its
    budget."""
    from parquet_rewriter_spark.operators.lm_quality import (
        perplexity_buckets,
        score_docs_backoff,
        train_backoff_lm,
    )
    from parquet_rewriter_spark.operators.tokenstats import (
        sample_to_token_budget,
        token_budget_plan,
    )

    d = _t(spark, sf_dir, "documents")
    uni, bi, n_total = train_backoff_lm(
        d.where(F.col("lang") == "en"), "text"
    )
    uni = persist(uni)
    bi = persist(bi)
    scored = score_docs_backoff(d, uni, bi, n_total, "doc_id", "text")
    # persisted: both the gate-exactness assert and the kept
    # materialization otherwise re-run the whole score + ntile
    # lineage (guide §5: reused AND expensive to recompute)
    bk = persist(perplexity_buckets(
        scored.join(d.select("doc_id", "lang"), "doc_id"),
        "lang",
        "doc_id",
        k=3,
    ))
    # per-language gate-exactness: kept == n - n div 3
    per_lang = {
        r["lang"]: (r["n"], r["kept"])
        for r in bk.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("bucket") <= 2, 1).otherwise(0)
            ).alias("kept"),
        ).collect()
    }
    assert all(k == n - n // 3 for n, k in per_lang.values())
    kept = persist(
        bk.where(F.col("bucket") <= 2)
        .select("doc_id")
        .join(
            d.select(
                "doc_id",
                "source",
                F.size(F.split(F.col("text"), " "))
                .cast("long")
                .alias("n_tokens"),
            ),
            "doc_id",
        )
    )
    stats = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    # ONE aggregation over the persisted kept: collect the
    # |sources|-row stats, derive the budget driver-side, and
    # rebuild the stats as a LOCAL relation for the planner —
    # the scalar first() and the plan materialization each
    # re-ran this groupBy
    stat_rows = stats.collect()
    total_kept = sum(int(r["n_tokens"]) for r in stat_rows)
    plan = persist(token_budget_plan(
        spark.createDataFrame(stat_rows, stats.schema),
        budget_tokens=(total_kept * 6) // 10,
    ))
    sel = sample_to_token_budget(kept, plan)
    # ONE pass over the selection serves both the
    # never-over-budget assert and the per-source rollup
    # (the assert's separate aggregate re-ran the whole
    # selection window lineage — guide §1.2 step 1); the
    # per-source relation is collected once (bounded:
    # source is low-cardinality) and rebuilt as a local
    # relation for the output join
    agg_rows = (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs_selected"),
            F.sum("n_tokens").alias("tokens_selected"),
            F.max(
                F.col("cum_tokens") - F.col("token_budget")
            ).alias("over_budget"),
        )
        .collect()
    )
    # selection never exceeds a budget
    assert all(r["over_budget"] <= 0 for r in agg_rows)
    agg = spark.createDataFrame(
        [
            (r["source"], r["docs_selected"], r["tokens_selected"])
            for r in agg_rows
        ],
        "source string, docs_selected long, tokens_selected long",
    )
    out = (
        plan.select(
            "source",
            F.col("n_docs").alias("n_docs_kept"),
            F.col("n_tokens").alias("tokens_kept"),
            "token_budget",
        )
        .join(agg, "source", "left")
        .select(
            "source",
            "n_docs_kept",
            "tokens_kept",
            "token_budget",
            F.coalesce("docs_selected", F.lit(0).cast("long"))
            .alias("docs_selected"),
            F.coalesce(
                "tokens_selected", F.lit(0).cast("long")
            ).alias("tokens_selected"),
        )
        .orderBy("source")
    )
    return out


_LM_CUTOFF_ORACLE = (
    _LM_PERPLEXITY_ORACLE.split("bk AS")[0].rstrip().rstrip(",")
    + """,
lab AS (
  SELECT c.doc_id, d.lang, c.ce_micro
  FROM dce c JOIN documents d USING (doc_id)
),
tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM lab GROUP BY lang),
cnts AS (
  SELECT lang, ce_micro, CAST(count(*) AS BIGINT) AS c
  FROM lab GROUP BY lang, ce_micro
),
cum AS (
  SELECT lang, ce_micro, c,
         sum(c) OVER (
           PARTITION BY lang ORDER BY ce_micro
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM cnts
),
cut1 AS (
  SELECT c.lang, min(c.ce_micro) AS q1
  FROM cum c JOIN tot t USING (lang)
  WHERE c.cm >= ((1 * t.n) + 2) // 3 GROUP BY c.lang
),
cut2 AS (
  SELECT c.lang, min(c.ce_micro) AS q2
  FROM cum c JOIN tot t USING (lang)
  WHERE c.cm >= ((2 * t.n) + 2) // 3 GROUP BY c.lang
),
bk3 AS (
  SELECT l.lang,
         CASE WHEN l.ce_micro <= c1.q1 THEN 1
              WHEN l.ce_micro <= c2.q2 THEN 2
              ELSE 3 END AS bucket,
         l.ce_micro
  FROM lab l JOIN cut1 c1 USING (lang) JOIN cut2 c2 USING (lang)
)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(ce_micro) AS min_ce_micro, max(ce_micro) AS max_ce_micro
FROM bk3 GROUP BY lang, bucket ORDER BY lang, bucket
"""
)


@query(
    "lm_quality_cutoff_buckets",
    _LM_CUTOFF_ORACLE,
    "llm", "quality", "perplexity", "lm", "scale-path",
)
def lm_quality_cutoff_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE 100-TB BUCKET PATH MADE REAL (operators/lm_quality.py:
    quantile_cutoffs + perplexity_buckets_by_cutoff): instead of an
    ntile window sorting every document, the exact tertile cutoffs
    come from a window over the DISTINCT (lang, ce) values only —
    bounded by value-space granularity, not corpus size — and
    bucketing is a broadcast join + one CASE projection per row, no
    per-row sort anywhere. Threshold semantics: boundary TIES land in
    the lower bucket together, so a document's bucket depends on its
    score alone (what a production filter wants), and bucket counts
    may deviate from n/3 exactly by those ties. The oracle replays the
    cutoff selection (running count over distinct values ≥ ceil(j·n/3))
    and the CASE bucketing from scratch. In-body assert: buckets
    partition each language and are value-ordered."""
    from parquet_rewriter_spark.operators.lm_quality import (
        perplexity_buckets_by_cutoff,
        score_docs_backoff,
        train_backoff_lm,
    )

    d = _t(spark, sf_dir, "documents")
    uni, bi, n_total = train_backoff_lm(
        d.where(F.col("lang") == "en"), "text"
    )
    with cache_scope():
        uni = persist(uni)
        bi = persist(bi)
        scored = score_docs_backoff(d, uni, bi, n_total, "doc_id", "text")
        lab = scored.join(d.select("doc_id", "lang"), "doc_id")
        bk = perplexity_buckets_by_cutoff(lab, "lang", "ce_micro", k=3)
        out = (
            bk.groupBy("lang", F.col("bucket").cast("long").alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("ce_micro").alias("min_ce_micro"),
                F.max("ce_micro").alias("max_ce_micro"),
            )
            .orderBy("lang", "bucket")
        )
        res = _settle(spark, out, "lm_quality_cutoff_buckets")
        rows = sorted(
            res.collect(), key=lambda r: (r["lang"], r["bucket"])
        )
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r)
        for lg, rs in by_lang.items():  # ordered partition per language
            for a, b in zip(rs, rs[1:]):
                assert a["max_ce_micro"] < b["min_ce_micro"], lg
        return res


_LM_PER_LANG_ORACLE = """
WITH cw AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
),
uni AS (
  SELECT lang, u.w, CAST(count(*) AS BIGINT) AS c
  FROM cw, unnest(w) AS u(w) GROUP BY lang, u.w
),
bi AS (
  SELECT lang, w[j] AS w1, w[j + 1] AS w2,
         CAST(count(*) AS BIGINT) AS c12
  FROM cw, unnest(generate_series(1, len(w) - 1)) AS t(j)
  GROUP BY lang, w1, w2
),
tt AS (
  SELECT lang, CAST(sum(len(w)) AS BIGINT) AS n_total
  FROM cw GROUP BY lang
),
db AS (
  SELECT doc_id, lang, w[j] AS w1, w[j + 1] AS w2
  FROM cw, unnest(generate_series(1, len(w) - 1)) AS t(j)
),
sc AS (
  SELECT b.doc_id, b.lang,
         CAST(round(ln(CASE
           WHEN bi.c12 IS NOT NULL THEN
             CAST(bi.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE)
           WHEN u2.c IS NOT NULL THEN
             CAST(0.4 AS DOUBLE) * CAST(u2.c AS DOUBLE)
               / CAST(t.n_total AS DOUBLE)
           ELSE CAST(0.4 AS DOUBLE) / CAST(t.n_total AS DOUBLE)
         END) * 1000000.0) AS BIGINT) AS q
  FROM db b
  LEFT JOIN bi
    ON b.lang = bi.lang AND b.w1 = bi.w1 AND b.w2 = bi.w2
  LEFT JOIN uni u1 ON b.lang = u1.lang AND b.w1 = u1.w
  LEFT JOIN uni u2 ON b.lang = u2.lang AND b.w2 = u2.w
  JOIN tt t ON b.lang = t.lang
),
dce AS (
  SELECT doc_id, lang,
         CAST((-sum(q)) // count(*) AS BIGINT) AS ce_micro
  FROM sc GROUP BY doc_id, lang
),
tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM dce GROUP BY lang),
cnts AS (
  SELECT lang, ce_micro, CAST(count(*) AS BIGINT) AS c
  FROM dce GROUP BY lang, ce_micro
),
cum AS (
  SELECT lang, ce_micro, c,
         sum(c) OVER (
           PARTITION BY lang ORDER BY ce_micro
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
  FROM cnts
),
cut1 AS (
  SELECT c.lang, min(c.ce_micro) AS q1
  FROM cum c JOIN tot t USING (lang)
  WHERE c.cm >= ((1 * t.n) + 2) // 3 GROUP BY c.lang
),
cut2 AS (
  SELECT c.lang, min(c.ce_micro) AS q2
  FROM cum c JOIN tot t USING (lang)
  WHERE c.cm >= ((2 * t.n) + 2) // 3 GROUP BY c.lang
),
bk AS (
  SELECT l.lang,
         CASE WHEN l.ce_micro <= c1.q1 THEN 1
              WHEN l.ce_micro <= c2.q2 THEN 2
              ELSE 3 END AS bucket,
         l.ce_micro
  FROM dce l JOIN cut1 c1 USING (lang) JOIN cut2 c2 USING (lang)
)
SELECT lang, CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(ce_micro) AS min_ce_micro, max(ce_micro) AS max_ce_micro
FROM bk GROUP BY lang, bucket ORDER BY lang, bucket
"""


@query(
    "lm_per_language_quality",
    _LM_PER_LANG_ORACLE,
    "llm", "quality", "perplexity", "lm", "per-language",
)
@_clean_query
def lm_per_language_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet FIDELITY: every language scored under ITS OWN reference
    model (operators/lm_quality.py:train_backoff_lm_by /
    score_docs_backoff_by) — a German document's fluency is
    meaningless under an English LM, so CCNet trains one KenLM per
    language; here the per-group trainer adds the language to every
    model key and the backoff denominator becomes a broadcast
    |langs|-row relation. Buckets use the scalable exact-cutoff path.
    The whole thing — 5 models trained, every doc scored under its
    own, cutoff bucketing — replays in ONE oracle."""
    from parquet_rewriter_spark.operators.lm_quality import (
        perplexity_buckets_by_cutoff,
        score_docs_backoff_by,
        train_backoff_lm_by,
    )

    d = _t(spark, sf_dir, "documents")
    uni, bi, totals = train_backoff_lm_by(d, "text", "lang")
    uni = persist(uni)
    bi = persist(bi)
    scored = score_docs_backoff_by(
        d, uni, bi, totals, "doc_id", "text", "lang"
    )
    bk = perplexity_buckets_by_cutoff(scored, "lang", "ce_micro", k=3)
    out = (
        bk.groupBy("lang", F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ce_micro").alias("min_ce_micro"),
            F.max("ce_micro").alias("max_ce_micro"),
        )
        .orderBy("lang", "bucket")
    )
    return out


def _dpo_pairs_oracle(k_prompt: int = 5, salt: int = 7) -> str:
    u = f"md5('{salt}:' || CAST(doc_id AS VARCHAR))"
    head = _LM_PER_LANG_ORACLE.split("db AS (")[0].rstrip().rstrip(",")
    return f"""{head},
sp AS (SELECT doc_id, lang, w FROM cw WHERE len(w) > {k_prompt}),
pc AS (
  SELECT doc_id, lang,
         array_to_string(w[1:{k_prompt}], ' ') AS prompt,
         array_to_string(w[{k_prompt + 1}:len(w)], ' ') AS completion,
         {u} AS unit
  FROM sp
),
pr AS (
  SELECT doc_id, lang, prompt, completion,
         coalesce(
           lead(completion) OVER (
             PARTITION BY lang ORDER BY unit, doc_id),
           first_value(completion) OVER (
             PARTITION BY lang ORDER BY unit, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)) AS rejected,
         count(*) OVER (PARTITION BY lang) AS n_grp
  FROM pc
),
cand AS (
  SELECT doc_id, lang, 0 AS side,
         string_split(prompt || ' ' || completion, ' ') AS w
  FROM pr WHERE n_grp > 1
  UNION ALL
  SELECT doc_id, lang, 1 AS side,
         string_split(prompt || ' ' || rejected, ' ') AS w
  FROM pr WHERE n_grp > 1
),
cb AS (
  SELECT doc_id, lang, side, w[j] AS w1, w[j + 1] AS w2
  FROM cand, unnest(generate_series(1, len(w) - 1)) AS t(j)
),
scq AS (
  SELECT b.doc_id, b.lang, b.side,
         CAST(round(ln(CASE
           WHEN bi.c12 IS NOT NULL THEN
             CAST(bi.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE)
           WHEN u2.c IS NOT NULL THEN
             CAST(0.4 AS DOUBLE) * CAST(u2.c AS DOUBLE)
               / CAST(t.n_total AS DOUBLE)
           ELSE CAST(0.4 AS DOUBLE) / CAST(t.n_total AS DOUBLE)
         END) * 1000000.0) AS BIGINT) AS q
  FROM cb b
  LEFT JOIN bi
    ON b.lang = bi.lang AND b.w1 = bi.w1 AND b.w2 = bi.w2
  LEFT JOIN uni u1 ON b.lang = u1.lang AND b.w1 = u1.w
  LEFT JOIN uni u2 ON b.lang = u2.lang AND b.w2 = u2.w
  JOIN tt t ON b.lang = t.lang
),
sce AS (
  SELECT doc_id, lang, side,
         CAST((-sum(q)) // count(*) AS BIGINT) AS ce
  FROM scq GROUP BY doc_id, lang, side
),
pv AS (
  SELECT doc_id, lang,
         max(CASE WHEN side = 0 THEN ce END) AS ce_chosen,
         max(CASE WHEN side = 1 THEN ce END) AS ce_rejected
  FROM sce GROUP BY doc_id, lang
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN ce_chosen < ce_rejected THEN 1 ELSE 0 END)
            AS BIGINT) AS n_chosen_better,
       CAST(sum(ce_chosen) AS BIGINT) AS sum_ce_chosen,
       CAST(sum(ce_rejected) AS BIGINT) AS sum_ce_rejected
FROM pv GROUP BY lang ORDER BY lang
"""


@query(
    "dpo_preference_pairs_report",
    _dpo_pairs_oracle(5, 7),
    "llm", "preference", "dpo", "rlhf", "lm",
)
def dpo_preference_pairs_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR DATA PREP (operators/preference.py) with the
    quality check a production DPO pipeline runs on it: split every
    doc at 5 words (word-exact, the SFT-mask property), partner each
    with the next doc in salted-md5 order within its language
    (cyclic — one window, no self-join), making (prompt, chosen=own
    continuation, rejected=partner's). Then ask the language's OWN
    backoff LM which side reads better. Honest finding, reported as
    data: PER-PAIR wins hover near chance (~49-56%) because both
    completions' internal bigrams are equally in-model — only the
    junction bigram distinguishes them — while the AGGREGATE
    cross-entropy prefers the true continuation in every language.
    That gap (weak per-pair, consistent in aggregate) is precisely why
    production DPO uses a trained reward signal rather than a count
    LM, and the report surfaces both numbers so a pipeline can see it.
    Construction AND validation replay in one oracle. In-body assert:
    sum_ce_chosen < sum_ce_rejected in every language."""
    from parquet_rewriter_spark.operators.lm_quality import (
        score_docs_backoff_by,
        train_backoff_lm_by,
    )
    from parquet_rewriter_spark.operators.preference import (
        contrastive_preference_pairs,
        prompt_completion_split,
    )

    d = _t(spark, sf_dir, "documents")
    uni, bi, totals = train_backoff_lm_by(d, "text", "lang")
    with cache_scope():
        uni = persist(uni)
        bi = persist(bi)
        pairs = persist(contrastive_preference_pairs(
            prompt_completion_split(
                d.select("doc_id", "lang", "text"), "doc_id", "text", 5
            ),
            "doc_id",
            "lang",
            salt=7,
        ))
        ch = score_docs_backoff_by(
            pairs.select(
                "doc_id",
                "lang",
                F.concat_ws(" ", "prompt", "chosen").alias("text"),
            ),
            uni, bi, totals, "doc_id", "text", "lang",
        ).select("doc_id", "lang", F.col("ce_micro").alias("ce_chosen"))
        rj = score_docs_backoff_by(
            pairs.select(
                "doc_id",
                "lang",
                F.concat_ws(" ", "prompt", "rejected").alias("text"),
            ),
            uni, bi, totals, "doc_id", "text", "lang",
        ).select(
            "doc_id", "lang", F.col("ce_micro").alias("ce_rejected")
        )
        out = (
            ch.join(rj, ["doc_id", "lang"])
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(
                    F.when(
                        F.col("ce_chosen") < F.col("ce_rejected"), 1
                    ).otherwise(0)
                ).alias("n_chosen_better"),
                F.sum("ce_chosen").alias("sum_ce_chosen"),
                F.sum("ce_rejected").alias("sum_ce_rejected"),
            )
            .orderBy("lang")
        )
        res = _settle(spark, out, "dpo_preference_pairs_report")
        for r in res.collect():  # aggregate signal points at chosen
            assert r["sum_ce_chosen"] < r["sum_ce_rejected"], r["lang"]
        return res


def _dpo_tokenized_oracle(n_merges: int = 4, k_prompt: int = 5,
                          salt: int = 7, max_doc: int = 120) -> str:
    head = _bpe_enc_head(n_merges).split("dwords AS (")[0].rstrip().rstrip(",")
    u = f"md5('{salt}:' || CAST(doc_id AS VARCHAR))"
    flat = ("flatten(list_transform(list_sort(list({'p': wpos, 'i': ids})),"
            " s -> s.i))")
    enc_side = lambda src, col: f"""
  SELECT p.doc_id,
         md5(array_to_string({flat}, ',')) AS {col}_digest,
         CAST(len({flat}) AS BIGINT) AS n_{col}_tokens
  FROM (
    SELECT doc_id, i AS wpos, ws[i] AS word
    FROM (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower({src}), '\\s+'),
                             w -> w <> '') AS ws
          FROM pr WHERE n_grp > 1),
         LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)
  ) p JOIN word_ids USING (word)
  GROUP BY p.doc_id
"""
    return f"""WITH {head},
sp AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) > {k_prompt}
    AND doc_id < {max_doc}
),
pc AS (
  SELECT doc_id, lang,
         array_to_string(w[1:{k_prompt}], ' ') AS prompt,
         array_to_string(w[{k_prompt + 1}:len(w)], ' ') AS completion,
         {u} AS unit
  FROM sp
),
pr AS (
  SELECT doc_id, lang, prompt, completion,
         coalesce(
           lead(completion) OVER (
             PARTITION BY lang ORDER BY unit, doc_id),
           first_value(completion) OVER (
             PARTITION BY lang ORDER BY unit, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)) AS rejected,
         count(*) OVER (PARTITION BY lang) AS n_grp
  FROM pc
),
ep AS ({enc_side("prompt", "prompt")}),
ec AS ({enc_side("completion", "chosen")}),
er AS ({enc_side("rejected", "rejected")})
SELECT p.doc_id, p.lang,
       ep.n_prompt_tokens, ec.n_chosen_tokens, er.n_rejected_tokens,
       ec.chosen_digest, er.rejected_digest
FROM (SELECT DISTINCT doc_id, lang FROM pr WHERE n_grp > 1) p
JOIN ep USING (doc_id) JOIN ec USING (doc_id) JOIN er USING (doc_id)
ORDER BY p.doc_id
"""


@query(
    "dpo_tokenized_records",
    _dpo_tokenized_oracle(4, 5, 7, 120),
    "llm", "preference", "dpo", "tokenizer",
)
@_clean_query
def dpo_tokenized_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE PAIRS UNDER THE FROZEN TOKENIZER — the record a DPO
    trainer actually consumes: each side of every pair frozen-encoded
    to id arrays (digested to scalars for the gate). The load-bearing
    property, asserted in-body over EVERY pair: word-level encoding
    makes concatenation exact, so encode(prompt) ++ encode(chosen) ==
    encode(original document) digest-for-digest — the prompt/chosen
    token boundary a DPO loss needs is therefore known WITHOUT
    re-encoding the joined text (the same property the SFT loss masks
    stand on). The oracle replays training, pairing, and all three
    encodes from scratch."""
    from parquet_rewriter_spark.operators.bpe import bpe_train, encode_docs
    from parquet_rewriter_spark.operators.preference import (
        contrastive_preference_pairs,
        prompt_completion_split,
    )

    d = _t(spark, sf_dir, "documents")
    rules, vocab = bpe_train(d, "text", n_merges=4)
    sub = d.where(F.col("doc_id") < 120)
    pairs = persist(contrastive_preference_pairs(
        prompt_completion_split(
            sub.select("doc_id", "lang", "text"), "doc_id", "text", 5
        ),
        "doc_id",
        "lang",
        salt=7,
    ))
    def enc(col, name):
        return (
            encode_docs(
                pairs.select("doc_id", F.col(col).alias("t")),
                "doc_id", "t", vocab,
            )
            .select(
                "doc_id",
                F.col("input_ids").alias(f"{name}_ids"),
                F.col("n_tokens").cast("long")
                .alias(f"n_{name}_tokens"),
            )
        )

    ep = enc("prompt", "prompt")
    ec = enc("chosen", "chosen")
    er = enc("rejected", "rejected")
    full = encode_docs(
        sub.join(pairs.select("doc_id"), "doc_id")
        .select("doc_id", "text"),
        "doc_id", "text", vocab,
    ).select("doc_id", F.col("input_ids").alias("full_ids"))
    j = (
        pairs.select("doc_id", "lang")
        .join(ep, "doc_id").join(ec, "doc_id").join(er, "doc_id")
        .join(full, "doc_id")
    )
    # concatenation exactness: prompt ++ chosen == original doc
    bad = (
        j.withColumn(
            "__pc", F.concat("prompt_ids", "chosen_ids")
        )
        .where(_ids_digest("__pc") != _ids_digest("full_ids"))
        .count()
    )
    assert bad == 0, f"{bad} pairs break concat exactness"
    out = j.select(
        "doc_id",
        "lang",
        "n_prompt_tokens",
        "n_chosen_tokens",
        "n_rejected_tokens",
        _ids_digest("chosen_ids").alias("chosen_digest"),
        _ids_digest("rejected_ids").alias("rejected_digest"),
    ).orderBy("doc_id")
    return out


_EPOCH_SHUFFLE_ORACLE = (
    _EPOCH_MIXTURE_ORACLE.split("al AS (")[0] + """al AS (
  SELECT source, n_tokens, weight, cap_tokens,
         CAST(CASE
           WHEN t_tot >= tot_cap THEN cap_tokens
           WHEN ratio <= (SELECT t_star FROM piv) THEN cap_tokens
           ELSE CAST(floor((SELECT t_star FROM piv)
                           * CAST(weight AS DOUBLE)) AS BIGINT)
         END AS BIGINT) AS allocated
  FROM tr
),
pl AS (
  SELECT source, allocated // n_tokens AS full_epochs,
         allocated - (allocated // n_tokens) * n_tokens AS rem
  FROM al
),
dt AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
fullp AS (
  SELECT d.doc_id, d.source, e.epoch
  FROM dt d JOIN pl p USING (source),
       unnest(generate_series(0, p.full_epochs - 1)) AS e(epoch)
),
ex AS (
  SELECT t.doc_id, t.source, t.n_tokens,
         sum(t.n_tokens) OVER (
           PARTITION BY t.source
           ORDER BY ((doc_id % 2147483648) * 2654435761 + 0)
                      % 4294967296 / 4294967296.0, t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dt t
),
sel AS (
  SELECT doc_id, source, epoch FROM fullp
  UNION ALL
  SELECT e.doc_id, e.source, p.full_epochs AS epoch
  FROM ex e JOIN pl p USING (source) WHERE e.cum <= p.rem
)
SELECT epoch,
       CAST(count(*) AS BIGINT) AS n_docs,
       md5(string_agg(CAST(doc_id AS VARCHAR), ','
             ORDER BY md5(CAST(epoch AS VARCHAR) || ':'
                          || CAST(doc_id AS VARCHAR)), doc_id))
         AS order_digest
FROM sel GROUP BY epoch ORDER BY epoch
"""
)


@query(
    "epoch_shuffled_consumption",
    _EPOCH_SHUFFLE_ORACLE,
    "llm", "mixture", "epochs", "ordering",
)
def epoch_shuffled_consumption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-EPOCH INDEPENDENT RESHUFFLES: the epoch plan's emitted
    stream (sample_with_epochs) consumed in a DIFFERENT deterministic
    order each epoch — order key ``md5(epoch:doc_id)``, the engine's
    md5 bridge (an additive-salted knuth hash could NOT do this: it is
    affine in the key, so it would give every epoch the same cyclic
    order — the preference-pairing lesson applied to training-order
    reproducibility). One ORDER-pinned digest per epoch; the oracle
    replays plan, emission, and each epoch's order via
    ``string_agg(... ORDER BY ...)``. The order CONTRACT itself is the
    md5 key — a pure projection, scale-free; the per-epoch sorted
    digest fold here exists only for the gate (production consumers
    sort-on-read per shard, as packed_windows_training_order's
    per-bucket folds demonstrate). In-body assert: every epoch's
    digest differs (the reshuffles are genuinely distinct)."""
    from parquet_rewriter_spark.operators.tokenstats import (
        plan_epoch_mixture,
        sample_with_epochs,
    )

    d = _t(spark, sf_dir, "documents")
    d_tok = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    stats = (
        d_tok.groupBy("source")
        .agg(F.sum("n_tokens").alias("n_tokens"))
        .withColumn(
            "weight",
            (F.lit(1) + F.expr("CAST(substr(source, 4) AS INT)") % 7)
            .cast("long"),
        )
    )
    # ONE corpus aggregation: collect the |sources|-row stats, derive
    # the budget total driver-side, and rebuild the stats as a LOCAL
    # relation (schema preserved) for the planner — the former scalar
    # first() + plan materialization each re-ran the corpus groupBy
    stat_rows = stats.collect()
    total = sum(int(r["n_tokens"]) for r in stat_rows)
    stats_local = spark.createDataFrame(stat_rows, stats.schema)
    with cache_scope():
        plan = persist(plan_epoch_mixture(
            stats_local, (total * 15) // 10, max_epochs_micro=2_500_000
        ))
        sel = sample_with_epochs(d_tok, plan)
        okey = F.md5(
            F.concat_ws(
                ":",
                F.col("epoch").cast("string"),
                F.col("doc_id").cast("string"),
            )
        )
        out = (
            sel.withColumn("__k", okey)
            .groupBy("epoch")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct(
                                        F.col("__k"),
                                        F.col("doc_id").alias("d"),
                                    )
                                )
                            ),
                            lambda s: s["d"].cast("string"),
                        ),
                    )
                ).alias("order_digest"),
            )
            .orderBy("epoch")
        )
        res = _settle(spark, out, "epoch_shuffled_consumption")
        rows = res.collect()
        digs = [r["order_digest"] for r in rows]
        assert len(set(digs)) == len(digs)  # each epoch reshuffles
        return res


# ---------------------------------------------------------------- helpers

# Driver-verify priority: the correctness snapshot caps at ~48 queries
# per round (r01 covered 50, r02 covered 48), so surface the queries
# with NO green driver verdict yet FIRST. For round 3 that is: the 12
# events/streaming queries (red in r01 on the TIMESTAMP(NANOS) read,
# unchecked in r02 — the ts normalization now handles the regenerated
# µs/NTZ fixture too), the 4 round-2 reds (HUGEINT-vs-long hash skew,
# fixed by BIGINT casts in the oracles), and the rows-only ops whose
# weaker check should be re-recorded. Everything else keeps definition
# order and rotates through the remaining slots.
_VERIFY_FIRST = (
    # Round-12 rotation (VERDICT r11 #5). Lead: the three queries the
    # 52-entry r11 list pushed past the 50-slot budget (the last
    # r03-stale records), then every round-12-NEW query, then
    # round-12-TOUCHED code paths (the q11/q15 empty-aggregate guards;
    # the stream-CUSUM quantize hardening; materialize_packed's
    # doc-type preservation under every doc_spans query; the tokenizer
    # flag stamps under every encode/fertility query; the tokenstats
    # tokenizer refactor; the unigram piece_stats/piece_ids byte-level
    # refactor; the patch-grid/letterbox consumers of the new real-dims
    # path). TAIL POLICY (new this round): oldest-driver-record-first —
    # the remaining slots drain whichever green records are stalest
    # (annotated with their last CORRECTNESS_r{N} appearance), so
    # staleness can never accumulate again; regenerate the tail each
    # round from the CORRECTNESS_r*.json history.
    # lead: the three r03-stale queries the r11 snapshot missed
    "user_session_stats",
    "variant_props_stats",
    "weighted_median_price",
    # round-12 new
    "pretraining_pipeline_v2_persisted",
    "token_budget_bpe_tokens",
    "packed_shards_versioned_table",
    "packed_shards_incremental_append",
    "sft_pack_loss_mask",
    "mixture_budget_sampling",
    "packed_windows_training_order",
    "unigram_bytelevel_holdout",
    "image_header_dims_patch_grid",
    "lm_perplexity_buckets",
    "epoch_mixture_plan",
    "epoch_plan_execution",
    "stream_lm_perplexity_scores",
    "lm_artifact_roundtrip",
    "lm_trigram_vs_bigram",
    "quality_gated_budget_selection",
    "lm_quality_cutoff_buckets",
    "lm_per_language_quality",
    "dpo_preference_pairs_report",
    "dpo_tokenized_records",
    "epoch_shuffled_consumption",
    # optimization-round-touched code paths (bloom JVM probe;
    # search-index bitmask stats + foldable pruning; cluster lazy
    # checkpoints; rekey fused preconditions; encode-path fused byte
    # gates; gram pre-distinct removal; clone-seeded replicas;
    # persisted dup-corpus unions; pagerank collect_set edges)
    "incremental_bm25_search",
    "bloom_pointlookup_scan",
    "ann_ivf_index_lifecycle",
    "near_dup_doc_clusters",
    "corpus_curation_pipeline",
    "sort_order_evolution_scan",
    "contamination_check",
    "wordpiece_encode_sample",
    "unigram_encode_sample",
    "unigram_corpus_loglik",
    "tokenizer_family_compression",
    # continuation: one-execution word_ids/segmentation caches
    "wordpiece_marked_roundtrip",
    "unigram_artifact_roundtrip",
    "bpe_encode_holdout_sample",
    "wordpiece_fertility",
    "doc_stable_ids",
    "cross_source_contamination_matrix",
    "part_copurchase_pagerank",
    "replica_sync_scan",
    # round-12-touched code paths
    "q11_important_parts",
    "q15_top_supplier",
    "stream_event_rate_cusum",
    "bpe_packed_windows_eos",
    "wordpiece_packed_windows_eos",
    "unigram_packed_windows_eos",
    "pretraining_pipeline_end_to_end",
    "token_budget_from_stats",
    "token_budget_auto_maintained",
    "bpe_encode_sample",
    "bpe_token_fertility",
    "tokenizer_artifact_roundtrip",
    "bpe_pretok_encode_sample",
    "bpe_bytelevel_holdout_no_unk",
    "unigram_best_segmentations",
    "unigram_encode_unk_holdout",
    "unigram_pretok_encode_sample",
    "image_patch_grid",
    # oldest-driver-record-first tail (last recorded round annotated)
    "ann_ivf_topk",  # r01
    "ann_lsh_topk",  # r01
    "minhash_near_dup_pairs",  # r01
    "simhash_near_pairs",  # r01
    "customer_balance_deciles",  # r02
    "customer_order_breadth",  # r02
    "customer_running_total",  # r02
    "customers_without_orders",  # r02
    "doc_chunks",  # r02
    "doc_tfidf_topterms",  # r02
    "events_props_keyset",  # r02
    "frame_sample_offsets",  # r02
    "incremental_compact_then_scan",  # r02
    "incremental_matview_refresh",  # r02
    "json_roundtrip_agg",  # r02
    "key_range_scan",  # r02
    "knn_join_sample",  # r02
    "lineitem_numeric_profile",  # r02
    "orc_roundtrip_agg",  # r02
    "order_gap_days",  # r02
    "order_priority_count",  # r02
    "order_value_percentiles",  # r02
    "orders_constraint_report",  # r02
    "orders_snapshot_diff",  # r02
    "pii_redaction_stats",  # r02
    "pricing_summary",  # r02
    "priority_grouping_sets",  # r02
    "repeat_status_customers",  # r02
    "retention_delete_scan",  # r02
    "revenue_by_nation",  # r02
    "revenue_forecast",  # r02
    "rolling_30d_revenue",  # r02
    "schema_evolution_scan",  # r02
    "secondary_zonemap_scan",  # r02
    "single_status_customers",  # r02
    "status_pivot_by_priority",  # r02
    "status_priority_rollup",  # r02
    "stream_table_changes",  # r02
    "supplier_nation_join",  # r02
    "table_changes_feed",  # r02
)


def _ordered() -> list[str]:
    first = [n for n in _VERIFY_FIRST if n in REGISTRY]
    rest = [n for n in REGISTRY if n not in _VERIFY_FIRST]
    return first + rest


def get(name: str) -> QuerySpec:
    return REGISTRY[name]

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name].fn for name in _ordered()}

def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name].oracle.strip()
        for name in _ordered()
        if REGISTRY[name].oracle
    }
