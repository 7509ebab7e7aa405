"""Batch OLAP suite over the star schema — the at-rest query surface
(SURVEY.md §3 E3: the monitor's ad-hoc reads, generalized to the full
analytics capability a warehouse sink must answer) plus grouping-set /
pivot / window / sessionization coverage.

These are the bench headliners: at 100 TB these shapes (wide scans with
pushed filters, shuffled aggregations, broadcast dimension joins, top-k)
dominate, so each builder is written for the plan we want — dimension
sides broadcast, filters at the scan, partial aggregation before the
shuffle. Verify with .explain("formatted").

Float-determinism rules per plans/common.py: sums of k-dp decimals are
rounded at k dp (safe); divisions are emitted raw from deterministic
operands; never round a division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stream_processing_project_spark.plans.common import bucketed_running_sum, t
from stream_processing_project_spark.plans.registry import register


# --- TPC-H Q1 shape: pricing summary -----------------------------------------
@register(
    "olap_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
       round(sum(l_quantity), 2) / count(*) AS avg_qty,
       round(sum(l_extendedprice), 2) / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("bench",),
)
def olap_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: one wide scan, 8 aggregates, two
    grouping keys. Partial (map-side) aggregation makes the shuffle carry
    only |groups| rows per task."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc), 4).alias("sum_disc_price"),
        F.round(F.sum(disc * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
        (F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty"),
        (F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1))).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --- TPC-H Q3 shape: shipping priority ----------------------------------------
@register(
    "olap_shipping_priority",
    oracle="""
SELECT l.l_orderkey, o.o_orderpriority,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l.l_orderkey, o.o_orderpriority
ORDER BY revenue DESC NULLS LAST, l_orderkey
LIMIT 10
""",
    tags=("bench",),
)
def olap_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective filters at every scan, then plain
    shuffle joins on the keys. No broadcast hints: customer and orders
    are fact-sized at 100 TB (hinting them would collect the subtree to
    the driver), while AQE converts to broadcast-hash at runtime
    whenever the post-filter side is actually small — the plan is
    optimal at both bench and cluster scale."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc_nulls_last(), F.col("l_orderkey"))
        .limit(10)
    )


# --- TPC-H Q5 shape: local supplier volume --------------------------------------
@register(
    "olap_region_revenue",
    oracle="""
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""",
    tags=("bench",),
)
def olap_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-way join. Broadcast hints only on nation and
    region (25 / 5 rows at EVERY scale factor — always broadcastable);
    customer/orders/lineitem/supplier join by shuffle on their keys,
    with AQE converting to broadcast-hash at runtime when a post-filter
    side is small. The previous shape broadcast the orders⨝dims subtree,
    which is faster to type but collects an orders-sized intermediate to
    the driver — a guaranteed OOM at 100 TB."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .join(
            s,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# --- top-k by revenue with dimension join ----------------------------------------
@register(
    "olap_top_brands",
    oracle="""
SELECT p.p_brand,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
ORDER BY revenue DESC NULLS LAST, p_brand
LIMIT 10
""",
    tags=("bench",),
)
def olap_top_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dimension join + agg + global top-k
    (TakeOrderedAndProject — no full sort at scale)."""
    l, p = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc_nulls_last(), F.col("p_brand"))
        .limit(10)
    )


# --- pivot ------------------------------------------------------------------------
@register(
    "olap_pivot_order_status",
    oracle="""
SELECT o_orderpriority,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
FROM orders
GROUP BY o_orderpriority
""",
    tags=("bench",),
)
def olap_pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (status → columns) — Catalyst rewrites to the same CASE-sum
    aggregation the oracle spells out."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@register(
    "olap_unpivot",
    oracle="""
SELECT l_returnflag, measure, round(sum(val), 2) AS total
FROM (
  SELECT l_returnflag, 'qty' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'tax', l_tax FROM lineitem
)
GROUP BY l_returnflag, measure
""",
)
def olap_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the four lineitem measures rotated into
    (measure, value) rows then re-aggregated — the inverse of the pivot
    query. Spark's native unpivot expands in-place (one narrow stage,
    no UNION re-scan like the SQL spelling), then one partial-agg
    shuffle."""
    mapping = {
        "l_quantity": "qty",
        "l_extendedprice": "price",
        "l_discount": "discount",
        "l_tax": "tax",
    }
    melted = (
        t(spark, sf_dir, "lineitem")
        .unpivot(
            ids=["l_returnflag"],
            values=list(mapping),
            variableColumnName="measure",
            valueColumnName="val",
        )
        .replace(mapping, subset=["measure"])
    )
    return melted.groupBy("l_returnflag", "measure").agg(
        F.round(F.sum("val"), 2).alias("total")
    )


# --- rollup (grouping sets) ----------------------------------------------------------
@register(
    "olap_rollup_lineitem",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("bench",),
)
def olap_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — subtotals + grand total in one pass."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


# --- window: running total -------------------------------------------------------------
@register(
    "olap_running_total",
    oracle="""
SELECT l_suppkey,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
       l_orderkey, l_linenumber,
       round(sum(l_quantity) OVER (
         PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
FROM lineitem
WHERE l_suppkey <= 3
""",
    tags=("bench",),
)
def olap_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running total over a deterministic ROWS frame — the
    warehouse-side analogue of the reference's cumulative counters."""
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey") <= 3)
        .select(
            "l_suppkey",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
            "l_orderkey",
            "l_linenumber",
            F.round(F.sum("l_quantity").over(w), 2).alias("running_qty"),
        )
    )


# --- sessionization -----------------------------------------------------------------------
@register(
    "olap_sessionize",
    oracle="""
WITH s AS (
  SELECT user_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id
""",
    tags=("bench",),
)
def olap_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap session starts via lag() + conditional
    count — the batch form of session_window(ts, gap) (streaming twin in
    streaming/pipeline.py). Gap compared in integer microseconds so both
    engines agree exactly."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    is_new = F.when(prev.isNull() | ((us - prev) > 1_800_000_000), 1).otherwise(0)
    return (
        t(spark, sf_dir, "events")
        .withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(F.sum("is_new").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


# --- exact distinct + quantiles --------------------------------------------------------------
@register(
    "olap_distinct_quantiles",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       round(quantile_cont(value, 0.5), 3) AS median_value,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value
FROM events
GROUP BY event_type
""",
    tags=("bench",),
)
def olap_distinct_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + exact interpolated median + min/max per group.
    (approx_count_distinct / percentile_approx are the scale path but
    their sketches aren't oracle-comparable across engines — exercised in
    unit tests instead.)"""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.expr("percentile(value, 0.5)"), 3).alias("median_value"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
    )


# --- correlated aggregate subquery (TPC-H Q2 shape) ---------------------------
@register(
    "olap_min_cost_supplier",
    oracle="""
SELECT s.s_suppkey, s.s_name, ps_agg.p_partkey, ps_agg.min_cost
FROM (
  SELECT l_partkey AS p_partkey, min(l_extendedprice) AS min_cost
  FROM lineitem GROUP BY l_partkey
) ps_agg
JOIN lineitem l ON l.l_partkey = ps_agg.p_partkey
               AND l.l_extendedprice = ps_agg.min_cost
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE ps_agg.p_partkey <= 50
""",
    tags=("bench",),
)
def olap_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2-shaped correlated-minimum: which supplier ships each part
    at its minimum price. The correlated subquery is decorrelated by hand
    into aggregate + join-back — the same plan Catalyst's subquery
    decorrelation produces, written explicitly so the shape is visible.
    Both joins shuffle on l_partkey / s_suppkey; the aggregate is
    partial-aggregated before its exchange."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    min_cost = (
        l.groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.min("l_extendedprice").alias("min_cost"))
        .filter(F.col("p_partkey") <= 50)
    )
    return (
        l.join(
            min_cost,
            (l.l_partkey == min_cost.p_partkey)
            & (l.l_extendedprice == min_cost.min_cost),
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "p_partkey", "min_cost")
    )


# --- as-of (point-in-time) join ------------------------------------------------
@register(
    "olap_asof_last_order",
    oracle="""
WITH ov AS (
  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC
    ) AS rn FROM orders
  ) WHERE rn = 1
)
SELECT e.event_id, e.user_id,
       ov.o_orderkey AS last_orderkey,
       ov.o_totalprice AS last_totalprice
FROM events e
ASOF LEFT JOIN ov ON e.user_id = ov.o_custkey AND e.ts >= ov.o_orderdate
""",
    tags=("bench",),
)
def olap_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event enriched with the customer's most recent
    order AT event time (operators/asof.py — union + window carry, an
    operator Spark lacks natively; DuckDB's native ASOF JOIN is the
    oracle). The oracle's row_number pre-dedup per (custkey, orderdate)
    is folded into the carry window's tiebreak ordering (greatest
    orderkey wins at equal dates — same winner, one less shuffle of
    orders)."""
    from stream_processing_project_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    versions = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("vts"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_totalprice"),
    )
    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        versions,
        key="user_id",
        left_ts="ts",
        right_ts="vts",
        tiebreak="last_orderkey",
    ).select("event_id", "user_id", "last_orderkey", "last_totalprice")


# --- EXISTS subquery (semi-join through spark.sql) ----------------------------
@register(
    "olap_exists_subquery",
    oracle="""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
)
GROUP BY o_orderpriority
""",
    tags=("bench",),
)
def olap_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped EXISTS: run through spark.sql so Catalyst performs
    the subquery-to-left-semi-join rewrite itself (the DataFrame twin is
    a left_semi join — active_customers_semi covers that form). One
    shuffle pair on o_orderkey/l_orderkey, filter pushed to the lineitem
    scan."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        GROUP BY o_orderpriority
        """
    )


# --- range join (binned) -------------------------------------------------------
@register(
    "olap_range_join_price_bands",
    oracle="""
WITH bands AS (
  SELECT p_partkey, p_retailprice - 50 AS lo, p_retailprice + 50 AS hi
  FROM part WHERE p_partkey <= 200
)
SELECT l.l_orderkey, l.l_linenumber, b.p_partkey AS band_part, l.l_extendedprice
FROM lineitem l
JOIN bands b ON l.l_extendedprice BETWEEN b.lo AND b.hi
""",
    tags=("bench",),
)
def olap_range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via bucketed binning (operators/rangejoin.py): line
    items matched to every ±50 price band around a part's retail price.
    A naive BETWEEN join is a nested loop; binning turns it into an
    equi-join on an integer bucket — the oracle is the plain BETWEEN."""
    from stream_processing_project_spark.operators.rangejoin import range_join

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    bands = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 200)
        .select(
            F.col("p_partkey").alias("band_part"),
            (F.col("p_retailprice") - 50).alias("lo"),
            (F.col("p_retailprice") + 50).alias("hi"),
        )
    )
    return range_join(li, bands, "l_extendedprice", bucket_width=100.0).select(
        "l_orderkey", "l_linenumber", "band_part", "l_extendedprice"
    )


@register(
    "olap_skew_salted_join",
    oracle="""
SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
)
def olap_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew join (operators/skew.py) on the driver-checked
    surface: facts scattered across 8 salt buckets, the dimension
    replicated per salt, equi-join on (key, salt). The oracle is the
    PLAIN join — salting must be result-invariant, which is exactly what
    the value-hash proves."""
    from stream_processing_project_spark.operators.skew import salted_join

    big = t(spark, sf_dir, "events").select("event_id", "user_id")
    small = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return salted_join(big, small, "user_id").select("event_id", "user_id", "segment")


@register(
    "olap_cube_order_totals",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       round(sum(o_totalprice), 2) AS total,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def olap_cube_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 key combinations incl. grand total) —
    completes the grouping-set surface next to rollup. Spark expands the
    cube before the partial aggregation, so the shuffle still carries
    only |groups| rows."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "olap_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
       round(sum(o_totalprice), 2) AS total,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority))
""",
)
def olap_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the asymmetric combination neither CUBE
    nor ROLLUP expresses (both single-key marginals, no grand total),
    with grouping() flags to disambiguate NULL keys from NULLed-out
    grouping levels. Same scale shape as cube: Spark expands the sets
    before partial aggregation, so the shuffle carries |groups| rows."""
    return (
        t(spark, sf_dir, "orders")
        .groupingSets(
            [
                ["o_orderstatus", "o_orderpriority"],
                ["o_orderstatus"],
                ["o_orderpriority"],
            ],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "olap_ntile_value_quartiles",
    oracle="""
SELECT event_type, quartile,
       count(*) AS n,
       round(sum(value), 2) AS q_sum
FROM (
  SELECT event_type, value,
         ntile(4) OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS quartile
  FROM events
)
GROUP BY event_type, quartile
""",
)
def olap_ntile_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartile assignment per event type, re-aggregated — window
    bucketing for distribution analysis (deterministic: ties broken by
    event_id in the ORDER BY)."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        t(spark, sf_dir, "events")
        .select("event_type", "value", F.ntile(4).over(w).alias("quartile"))
        .groupBy("event_type", "quartile")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("q_sum"))
    )


@register(
    "olap_session_window_native",
    oracle="""
WITH m AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM s GROUP BY user_id, sid
""",
)
def olap_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregation via Spark's NATIVE session_window (gap
    30 min): dynamic-width windows [first_ts, last_ts + gap) merged by
    the engine — the operator behind streaming sessionization
    (streaming/pipeline.py), here oracle-checked in batch against the
    gaps-and-islands formulation (new session iff the gap is >= 30 min
    in integer microseconds; session_window's half-open windows merge
    only strictly-overlapping events). One shuffle on the grouping key;
    session merging is engine-side, never per-row Python."""
    sw = F.session_window("ts", "30 minutes")
    return (
        t(spark, sf_dir, "events")
        .groupBy(sw, "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "sum_value",
        )
    )


@register(
    "olap_nation_trade_volume",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o    ON o.o_orderkey = l.l_orderkey
JOIN customer c  ON c.c_custkey = o.o_custkey
JOIN supplier s  ON s.s_suppkey = l.l_suppkey
JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
  AND l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
GROUP BY 1, 2, 3
""",
)
def olap_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped cross-nation trade volume: a 6-way join with the
    SAME dimension (nation) entering twice under different roles, a
    cross-filtered pair predicate, and a per-year rollup. Both nation
    scans broadcast (25 rows at every SF); the date filter pushes into
    the lineitem parquet scan; customer/orders/supplier join by shuffle
    with AQE sizing. The asymmetric pair predicate (IN-pair + <>)
    evaluates after the broadcast joins, pruning before the
    aggregation exchange."""
    sn = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31")
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    pair = F.col("supp_nation").isin("NATION_1", "NATION_2") & F.col(
        "cust_nation"
    ).isin("NATION_1", "NATION_2") & (F.col("supp_nation") != F.col("cust_nation"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "olap_percent_rank_spend",
    oracle="""
WITH spend AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id
)
SELECT user_id, cents * 1.0 / 100.0 AS total,
       percent_rank() OVER (ORDER BY cents) AS pct_rank,
       cume_dist() OVER (ORDER BY cents) AS cume
FROM spend
""",
)
def olap_percent_rank_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing functions (percent_rank / cume_dist) over
    per-user spend — peer-group ranks are engine-independent and the
    quotients are raw divisions of exact integers (never rounded, per
    the determinism rules), so cross-engine parity is exact. Computed
    as the TWO-PASS HISTOGRAM RANK (r04, formerly a documented swap):
    both functions depend only on the VALUE, so rank math runs on the
    |distinct totals| histogram — cumulated range-partitioned
    (bucketed_running_sum, no single-partition window) — and joins
    back to users on the EXACT bigint cents (a recomputed rounded
    double would be the float-sum-ordering trap: the two branches can
    disagree in the last ulp and the equi-join drops users).
    percent_rank = rows_below/(N−1) with the
    min-rank tie semantic falling out of the histogram construction;
    billion-user ranking pays two bounded exchanges and no global
    sort."""
    spend = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    )
    hist = spend.groupBy("cents").agg(F.count(F.lit(1)).alias("c"))
    cum, bcol = bucketed_running_sum(hist, "c", "cents")
    tot = hist.agg(F.sum("c").alias("n"))
    ranks = cum.crossJoin(F.broadcast(tot)).select(
        "cents",
        F.when(
            F.col("n") > 1,
            (F.col("cum") - F.col("c")) / (F.col("n") - 1),
        )
        .otherwise(0.0)
        .alias("pct_rank"),
        (F.col("cum") / F.col("n")).alias("cume"),
    )
    # join key is the EXACT bigint cents — a rounded double total here
    # would recompute per branch and can differ in the last ulp across
    # shuffle merge orders (the float-sum-ordering class), silently
    # dropping users from the equi-join
    return spend.join(ranks, "cents").select(
        "user_id",
        (F.col("cents") * 1.0 / 100.0).alias("total"),
        "pct_rank",
        "cume",
    )


# --- TPC-H Q14 shape: percentage-of-total via conditional aggregation --------
@register(
    "olap_promo_revenue_share",
    oracle="""
WITH agg AS (
  SELECT round(sum(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice * (1 - l.l_discount)
                        ELSE 0 END), 4) AS promo_revenue,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS total_revenue
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT promo_revenue, total_revenue,
       100.0 * promo_revenue / total_revenue AS promo_share_pct
FROM agg
""",
)
def olap_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped promo revenue share: ONE pass computes both the
    conditional (promo-only) and unconditional revenue sums — the
    percentage-of-total pattern without a second scan or a self-join.
    Broadcast part join; the shipdate filter is pushed to the lineitem
    scan. Float rule: both sums rounded at 4 dp, the ratio left as a
    raw division of the rounded values (plans/common.py)."""
    l, p = t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)), 4
            ).alias("promo_revenue"),
            F.round(F.sum(rev), 4).alias("total_revenue"),
        )
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
            "promo_share_pct"
        ),
    )


# --- exact median per group ---------------------------------------------------
@register(
    "olap_median_order_value",
    oracle="""
SELECT o_orderpriority,
       median(o_totalprice) AS median_value,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
""",
)
def olap_median_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median order value per priority — the exact-percentile
    complement of `olap_distinct_quantiles` (approx). Exact medians
    need the group's values materialized (Spark sorts within the
    aggregation buffer), so at 100 TB this is the expensive flavor you
    reserve for low-cardinality groups or after pre-filtering —
    approx_percentile (KLL-style sketch, mergeable partials) is the
    default at scale. Even-count interpolation is (a+b)/2 on identical
    operands in both engines — deterministic."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.median("o_totalprice").alias("median_value"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# --- TPC-H Q6 shape: filtered revenue scan ------------------------------------
@register(
    "olap_filtered_revenue",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("bench",),
)
def olap_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: the pure scan-bound query — three pushed
    predicates, no join, no grouping, one global aggregate. All three
    filters reach the parquet FileScan (`PushedFilters`), so row-group
    min-max stats skip most of the table; at 100 TB with date-partitioned
    layout the shipdate range is partition pruning. The single-row
    aggregate needs no exchange beyond the final partial merge. Revenue
    is a sum of 4-dp products (2-dp price x 2-dp discount), rounded at
    4 dp per the determinism rules (plans/common.py)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- TPC-H Q10 shape: returned-item reporting ---------------------------------
@register(
    "olap_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC NULLS LAST, c_custkey
LIMIT 20
""",
    tags=("bench",),
)
def olap_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: who cost us the most in returns last quarter.
    Fact-fact joins stay shuffle joins (AQE converts post-filter small
    sides to broadcast at runtime); only the 25-row nation dim carries a
    broadcast hint. Top-20 via TakeOrderedAndProject — revenue is
    rounded (deterministic), custkey breaks ties, so the LIMIT frontier
    is stable across engines and partitionings."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(n, c.c_nationkey == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc_nulls_last(), F.col("c_custkey"))
        .limit(20)
    )


# --- TPC-H Q12 shape: priority line counts (conditional aggregation) ----------
@register(
    "olap_priority_line_counts",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
""",
)
def olap_priority_line_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped conditional aggregation (the fixture carries no
    l_shipmode, so return flag takes its place as the grouping axis):
    one fact-fact equi-join, then CASE-WHEN counters folded into a
    single grouped pass — never two filtered subqueries re-scanning the
    join. Both counters partial-aggregate map-side, so the one exchange
    carries |flags| rows per task."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# --- TPC-H Q13 shape: customer order-count distribution -----------------------
@register(
    "olap_customer_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT OUTER JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
    GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
""",
)
def olap_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped: how many customers placed 0, 1, 2, ... orders
    (excluding low-priority ones). The left outer join keeps
    zero-order customers — count(o_orderkey) over the null-extended
    rows yields 0, which an inner join would silently drop. Two
    aggregations: the first shuffles on custkey (fact-sized), the
    second on the tiny c_count domain; at 100 TB the first exchange
    dominates and partial aggregation keeps it one-row-per-custkey."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# --- TPC-H Q18 shape: large-volume orders -------------------------------------
@register(
    "olap_large_orders",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       round(sum(l.l_quantity), 2) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity) > 300
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 20
""",
)
def olap_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: orders whose total quantity tops the threshold.
    The HAVING subquery becomes an aggregated semi-join key set —
    computed once, partial-aggregated, then left-semi joined into the
    fact path (never a driver-side collect of the key list). At 100 TB
    the semi join shuffles both sides on l_orderkey and AQE broadcasts
    the (selective) key set when it fits."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_orderkey")
    )
    o = t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey"))
        .limit(20)
    )


# --- TPC-H Q19 shape: OR-of-ANDs predicate join -------------------------------
@register(
    "olap_brand_band_revenue",
    oracle="""
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def olap_brand_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped: disjunction of conjunctive bands across BOTH
    join sides. The per-side conjuncts can't be fully pushed below the
    join (each disjunct mixes part and lineitem columns), but Catalyst
    extracts the common implied filters — p_brand IN (...) on the part
    scan, l_quantity range on the lineitem scan — so each side prunes
    before the equi-join and the residual OR evaluates post-join.
    Part is dimension-sized: broadcast."""
    l = t(spark, sf_dir, "lineitem")
    p = F.broadcast(t(spark, sf_dir, "part"))
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(band)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- TPC-H Q15 shape: top supplier by revenue (scalar-subquery max) -----------
@register(
    "olap_top_supplier_revenue",
    oracle="""
WITH supplier_revenue AS (
    SELECT l_suppkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN supplier_revenue r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM supplier_revenue)
""",
)
def olap_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped: suppliers hitting the maximum quarterly revenue.
    The revenue view is computed ONCE and reused for both the per-key
    rows and the global max — an eager localCheckpoint pins it so the
    scalar subquery doesn't recompute the aggregation (at 100 TB the
    view is |suppliers| rows, cheap to materialize; the lineitem scan it
    derives from is not). The max is joined back as a 1-row broadcast
    cross join, never collected through the driver. Revenue is rounded
    BEFORE the max comparison so ties and the frontier are
    engine-invariant."""
    rev = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
        # eager localCheckpoint, not persist: the view feeds two branches
        # (global max + the join) and materializes once, but unlike a
        # bare persist the blocks are released by the ContextCleaner as
        # soon as the result DataFrame is dropped — a builder cannot
        # unpersist after a materialization it never sees (ADVICE r01).
        .localCheckpoint(eager=True)
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_revenue == top.max_revenue)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --- TPC-H Q16 shape: supplier variety per part attribute ---------------------
@register(
    "olap_part_supplier_variety",
    oracle="""
SELECT p.p_brand, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt,
       count(*) AS line_cnt
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#45' AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
GROUP BY p.p_brand, p.p_size
""",
)
def olap_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16-shaped: how many distinct suppliers ship each
    (brand, size) bucket. count(DISTINCT) expands to a two-phase
    aggregate (dedup on (keys, suppkey), then count) — Spark plans the
    expansion automatically with partial aggregation at both phases, so
    the exchanges carry distinct combinations, not raw lines. The
    NOT-equal and IN filters push to the part scan, which broadcasts."""
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(
            (F.col("p_brand") != "Brand#45")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
    )
    l = t(spark, sf_dir, "lineitem")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(
            F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"),
            F.count(F.lit(1)).alias("line_cnt"),
        )
    )


# --- TPC-H Q22 shape: idle above-average customers (anti join + scalar sub) ---
@register(
    "olap_idle_rich_customers",
    oracle="""
WITH avg_bal AS (
    SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment,
       count(*) AS numcust,
       round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c.c_mktsegment
""",
)
def olap_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped: above-average-balance customers who LAPSED (no
    order since 2001), grouped by segment. Three plan ingredients: the
    scalar average joins back as a 1-row broadcast (no driver collect),
    NOT EXISTS is a left-anti join on custkey (null-safe, unlike
    NOT IN), and the final aggregation is partial-aggregated. The anti
    join's build side is just order custkeys — column-pruned at the
    scan. The raw-average comparison uses identical operands in both
    engines; only the final sum is rounded."""
    c = t(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("a")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal), c.c_acctbal > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --- LATERAL correlated subquery: top-N per group without a window ------------
@register(
    "olap_lateral_top_orders",
    oracle="""
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
WHERE c.c_mktsegment = 'MACHINERY'
""",
)
def olap_lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — top-2 orders per MACHINERY customer.
    The lateral form states the per-row dependency directly; Catalyst
    decorrelates it into a join + per-key ranking rather than running
    the subquery per outer row (no nested-loop re-execution). The
    deterministic (price, orderkey) sort makes the per-customer frontier
    engine-invariant. Same shape as a row_number()<=N window, but the
    optimizer picks the physical strategy from the declared intent."""
    from stream_processing_project_spark.sources.fixtures import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_mktsegment = 'MACHINERY'
        """
    )


# --- TPC-H Q8 shape: national market share ------------------------------------
@register(
    "olap_market_share",
    oracle="""
WITH all_sales AS (
    SELECT extract(year FROM o.o_orderdate) AS o_year,
           l.l_extendedprice * (1 - l.l_discount) AS volume,
           n2.n_name AS supp_nation
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'CHINA' THEN volume ELSE 0 END), 4)
           AS nation_volume,
       round(sum(volume), 4) AS total_volume,
       round(sum(CASE WHEN supp_nation = 'CHINA' THEN volume ELSE 0 END), 4)
           / round(sum(volume), 4) AS mkt_share
FROM all_sales
GROUP BY o_year
""",
    tags=("bench",),
)
def olap_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped: one nation's share of a region's import market
    per year. The nation dimension joins TWICE under different roles
    (customer side restricts to the region, supplier side labels the
    seller) — broadcast both roles; the share is a conditional sum over
    ONE pass, never two scans. Both numerator and denominator are
    rounded sums of 4-dp products (deterministic), and the share
    divides those two already-deterministic values."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = F.broadcast(t(spark, sf_dir, "nation").alias("n1"))
    n2 = F.broadcast(t(spark, sf_dir, "nation").alias("n2"))
    r = F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    china = F.when(F.col("n2.n_name") == "CHINA", vol).otherwise(F.lit(0.0))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n1, c.c_nationkey == F.col("n1.n_nationkey"))
        .join(r, F.col("n1.n_regionkey") == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n2, s.s_nationkey == F.col("n2.n_nationkey"))
        .groupBy(F.year(o.o_orderdate).cast("long").alias("o_year"))
        .agg(
            F.round(F.sum(china), 4).alias("nation_volume"),
            F.round(F.sum(vol), 4).alias("total_volume"),
        )
        .withColumn("mkt_share", F.col("nation_volume") / F.col("total_volume"))
    )


# --- TPC-H Q9 shape: product-line profit by nation and year -------------------
@register(
    "olap_product_profit",
    oracle="""
SELECT n.n_name AS nation,
       extract(year FROM o.o_orderdate) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)
                 - p.p_retailprice * 0.6 * l.l_quantity), 2) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%green%'
GROUP BY n.n_name, extract(year FROM o.o_orderdate)
""",
)
def olap_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped: profit on a product line by supplier nation and
    order year (the fixture has no partsupp, so supply cost is proxied
    as 60% of retail price — same plan shape: a 5-way join with a
    substring filter on the part name). The LIKE filter prunes part
    BEFORE its broadcast; profit is a sum of 2-dp-scale terms rounded
    at 2 dp. At 100 TB the only big-big joins are lineitem⨝orders —
    shuffle on orderkey — while part/supplier/nation broadcast."""
    l = t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_name").like("%green%"))
    )
    s = F.broadcast(t(spark, sf_dir, "supplier"))
    n = F.broadcast(t(spark, sf_dir, "nation"))
    o = t(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * 0.6 * F.col("l_quantity")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(o.o_orderdate).cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


# --- TPC-H Q17 shape: small-quantity-order revenue (correlated average) -------
@register(
    "olap_small_quantity_revenue",
    oracle="""
SELECT round(sum(l.l_extendedprice), 2) / 7.0 AS avg_yearly,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (
    SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold
    FROM lineitem GROUP BY l_partkey
) t ON t.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23' AND l.l_quantity < t.qty_threshold
""",
    tags=("bench",),
)
def olap_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped: revenue lost if small-quantity orders (below
    20% of the part's average quantity) weren't taken. The correlated
    per-part average decorrelates into an aggregated self-join —
    computed once with partial aggregation, shuffled on partkey, never
    re-run per row. The threshold comparison stays raw (0.2*avg divides
    identical operands in both engines); only the final sum is rounded,
    and /7.0 (the TPC-H yearly scaler) divides that deterministic
    value."""
    l = t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    )
    thresholds = (
        l.groupBy(F.col("l_partkey").alias("t_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(thresholds, l.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.round(F.sum("l_extendedprice"), 2) / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- recursive CTE: calendar spine with zero-filled counts --------------------
@register(
    "olap_recursive_calendar",
    oracle="""
WITH RECURSIVE hours(h) AS (
    SELECT TIMESTAMP '1996-03-01 00:00:00'
    UNION ALL
    SELECT h + INTERVAL 1 HOUR FROM hours
    WHERE h < TIMESTAMP '1996-03-08 00:00:00'
),
cnts AS (
    SELECT date_trunc('hour', o_orderdate) AS h, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1996-03-08 00:00:00'
    GROUP BY 1
)
SELECT strftime(hours.h, '%Y-%m-%d %H:%M:%S') AS hour,
       coalesce(cnts.n_orders, 0) AS n_orders
FROM hours LEFT JOIN cnts ON cnts.h = hours.h
""",
)
def olap_recursive_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) — a dense hourly calendar
    spine generated by recursion, left-joined to per-hour order counts
    with zero-fill. The recursion-based complement of
    olap_gap_fill_hourly's sequence() spine: same result shape, but the
    spine derives from the recursive UNION ALL operator, pinning that
    the engine executes recursive SQL natively (iterative plans that
    window/sequence can't express — transitive closure, BOM explosion —
    run through this same operator). Spine rows are driver-light
    (|hours|), the only fact work is one aggregated scan."""
    from stream_processing_project_spark.sources.fixtures import register_views

    register_views(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        WITH RECURSIVE hours(h) MAX RECURSION LEVEL 200 AS (
            SELECT TIMESTAMP '1996-03-01 00:00:00'
            UNION ALL
            SELECT h + INTERVAL 1 HOUR FROM hours
            WHERE h < TIMESTAMP '1996-03-08 00:00:00'
        ),
        cnts AS (
            SELECT date_trunc('hour', o_orderdate) AS h, count(*) AS n_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-03-01 00:00:00'
              AND o_orderdate <= TIMESTAMP '1996-03-08 00:00:00'
            GROUP BY 1
        )
        SELECT date_format(hours.h, 'yyyy-MM-dd HH:mm:ss') AS hour,
               coalesce(cnts.n_orders, 0) AS n_orders
        FROM hours LEFT JOIN cnts ON cnts.h = hours.h
        """
    )


# --- window navigation: first/last/nth over explicit frames -------------------
@register(
    "olap_first_last_nth",
    oracle="""
SELECT DISTINCT o_custkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER w AS latest_price,
       nth_value(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def olap_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-navigation functions over an explicit full frame: each
    customer's first, latest, and second order price in chronological
    order. The full ROWS frame matters twice — last_value under the
    default frame degenerates to the current row, and a constant
    per-partition result lets DISTINCT collapse to one row per
    customer. (o_orderdate, o_orderkey) is a total order, so the
    navigation is engine-invariant; single-order customers get NULL
    second_price in both engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(w).alias("latest_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        )
        .distinct()
    )


# --- TPC-H Q21 shape: suppliers who kept orders waiting ------------------------
@register(
    "olap_waiting_suppliers",
    oracle="""
SELECT s.s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s.s_name
""",
)
def olap_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped: on finalized multi-supplier orders, count per
    supplier the returned lines where that supplier was the ONLY one
    with a returned line (the fixture lacks commit/receipt dates, so
    "failed" maps to l_returnflag='R'; the plan shape — EXISTS plus
    NOT-EXISTS correlated self-joins on the fact table — is the point).
    Catalyst rewrites the pair into a left-semi and a left-anti join on
    l_orderkey; all three lineitem branches share one scan with pushed
    filters, and the supplier/nation dims broadcast. At 100 TB the two
    self-joins co-partition on l_orderkey — bucketing lineitem by
    orderkey (operators/bucketing.py) makes all three branches
    shuffle-free."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT s.s_name, count(*) AS numwait
        FROM lineitem l1
        JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R'
          )
        GROUP BY s.s_name
        """
    )


# --- TPC-H Q11 shape: important parts (scalar-subquery HAVING) -----------------
@register(
    "olap_important_parts",
    oracle="""
WITH partval AS (
  SELECT l.l_partkey,
         CAST(round(round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) * 10000) AS BIGINT) AS val_i
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY l.l_partkey
)
SELECT l_partkey, val_i / 10000.0 AS part_value
FROM partval
WHERE val_i * 1000 > (SELECT sum(val_i) FROM partval)
""",
)
def olap_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11-shaped: parts whose supply value (via suppliers of a
    nation group) exceeds 0.1% of the nation group's total — the
    scalar-subquery-in-HAVING shape (fixtures have no partsupp, so
    lineitem revenue stands in for availqty*supplycost; the decorrelated
    plan is identical). The per-part value is rounded then lifted to
    exact integer ten-thousandths, so the global total and the threshold
    comparison are pure bigint arithmetic — no float-order boundary
    flips between engines. The total joins back as a 1-row broadcast;
    the per-part aggregate is computed ONCE (Catalyst reuses the
    exchange for both branches)."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    partval = (
        l.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
               l.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                * 10000,
                0,
            )
            .cast("bigint")
            .alias("val_i")
        )
    )
    total = partval.agg(F.sum("val_i").alias("total_i"))
    return (
        partval.join(F.broadcast(total))
        .filter(F.col("val_i") * 1000 > F.col("total_i"))
        .select("l_partkey", (F.col("val_i") / 10000.0).alias("part_value"))
    )


# --- TPC-H Q20 shape: dominant shippers of a part family -----------------------
@register(
    "olap_dominant_shippers",
    oracle="""
WITH shipped AS (
  SELECT l.l_suppkey, l.l_partkey, sum(l.l_quantity) AS qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE 'small%'
    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY l.l_suppkey, l.l_partkey
),
parttot AS (SELECT l_partkey, sum(qty) AS tot FROM shipped GROUP BY l_partkey)
SELECT DISTINCT s.s_suppkey, s.s_name
FROM shipped sh
JOIN parttot pt ON pt.l_partkey = sh.l_partkey
JOIN supplier s ON s.s_suppkey = sh.l_suppkey
WHERE sh.qty > 0.5 * pt.tot
""",
)
def olap_dominant_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20-shaped: suppliers who shipped more than half of a part
    family's yearly volume (availqty in real Q20 becomes shipped
    quantity — no partsupp in the fixtures; the nested semi-join chain
    is preserved). Quantities are whole numbers held in doubles, and
    0.5*tot only shifts the exponent, so the dominance comparison is
    exact in both engines. The part-family filter pushes to the part
    scan and broadcasts; the per-(supplier, part) and per-part
    aggregates reuse one shuffle on l_partkey."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = t(spark, sf_dir, "supplier")
    shipped = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    parttot = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("tot")
    )
    return (
        shipped.join(parttot, shipped.l_partkey == F.col("t_partkey"))
        .filter(F.col("qty") > 0.5 * F.col("tot"))
        .join(F.broadcast(s), shipped.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
    )


def _pagerank_oracle(iterations: int = 10) -> str:
    """Unrolled-iteration DuckDB twin of operators/graph.py::pagerank
    over the nation trade graph: one CTE per power iteration (fixed
    count, so no recursive-CTE aggregation restrictions), identical
    integer micro-unit arithmetic at every step."""
    head = """
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
trans AS (
  SELECT src, dst, CAST(round(w * 1000000.0 / wout) AS BIGINT) AS p_micro
  FROM (SELECT e.*, sum(w) OVER (PARTITION BY src) AS wout FROM edges e)
),
nodes AS (SELECT DISTINCT src AS node FROM trans UNION SELECT DISTINCT dst AS node FROM trans),
nn AS (SELECT count(*) AS n FROM nodes),
pr0 AS (SELECT node, CAST(round(1000000.0 / nn.n) AS BIGINT) AS r_micro FROM nodes, nn)"""
    step = """,
pr{k} AS (
  SELECT n.node,
         CAST(round(150000.0 / nn.n) AS BIGINT)
         + CAST(round(0.85 * coalesce(i.s, 0)) AS BIGINT) AS r_micro
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (
    SELECT t.dst AS node,
           sum(CAST(round(p.r_micro * t.p_micro / 1000000.0) AS BIGINT)) AS s
    FROM trans t JOIN pr{prev} p ON p.node = t.src GROUP BY 1
  ) i ON i.node = n.node
)"""
    body = "".join(step.format(k=k, prev=k - 1) for k in range(1, iterations + 1))
    return f"{head}{body}\nSELECT node, r_micro FROM pr{iterations}\n"


@register("olap_nation_pagerank", oracle=_pagerank_oracle(10))
def olap_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (customer nation →
    supplier nation, edge weight = exact revenue cents summed per row
    BEFORE aggregation so the weight is order-free) — the iterative-
    algorithm family with a FULL value-hash oracle: ranks live in
    integer micro-units, every per-edge contribution rounds to bigint
    before the incoming sum, so 10 power iterations reproduce
    bit-for-bit in unrolled SQL (operators/graph.py::pagerank). Scale
    shape: the heavy work is the one-time edge extraction (big joins,
    map-side-combined groupBy); each iteration is a broadcast join of
    the O(|nodes|) rank table against the checkpointed edge table."""
    from stream_processing_project_spark.operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(
            c.c_nationkey.alias("src"), s.s_nationkey.alias("dst")
        )
        .agg(F.sum(cents).alias("w"))
    )
    return pagerank(edges, iterations=10, damping=0.85)


@register(
    "olap_mv_incremental_refresh",
    oracle="""
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-01') AS month,
       o_orderpriority,
       count(*) AS n_orders,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
       (sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0) / count(*)
         AS avg_price
FROM orders
GROUP BY 1, 2
""",
)
def olap_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly
    revenue-per-priority MV is kept current by aggregating ONLY the
    delta (orders on/after the refresh cutoff) and merging its partial
    aggregates into the stored base MV — the view never recomputes from
    the full fact table. The mergeable state is (count, revenue_cents):
    bigint partial sums are associative, so base+delta merge equals the
    full aggregate EXACTLY (the oracle computes the full aggregate —
    that equality IS the correctness claim; deletions/retractions merge
    the same way with negated partials). Derived columns (revenue,
    avg_price) are computed once at read-out from the merged state,
    never maintained incrementally. Scale shape: the refresh scans
    |delta| rows (partition-pruned by o_orderdate at 100 TB), its
    groupBy is map-side combined, and the merge touches only
    |months × priorities| MV rows. In production the base MV is a
    stored table; here both halves build from the same scan so one
    query states the full invariant. Reference analogue: the serving
    sink's re-aggregated snapshot (EngagementRedisSink.scala:189-193)
    — this is its warehouse-table, exactly-mergeable generalization."""
    cutoff = "2001-01-01"
    month = F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-01")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            month.alias("month"), F.col("o_orderpriority")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("revenue_cents"),
        )

    o = t(spark, sf_dir, "orders")
    base_mv = partials(o.filter(F.col("o_orderdate") < F.lit(cutoff)))
    delta_mv = partials(o.filter(F.col("o_orderdate") >= F.lit(cutoff)))
    merged = (
        base_mv.unionByName(delta_mv)
        .groupBy("month", "o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )
    revenue = F.col("revenue_cents") / 100.0
    return merged.select(
        "month",
        "o_orderpriority",
        "n_orders",
        revenue.alias("revenue"),
        (revenue / F.col("n_orders")).alias("avg_price"),
    )


@register(
    "olap_triangle_count",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs)
  GROUP BY node
),
oe AS (
  SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS a,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS b,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN dv.d ELSE du.d END AS db
  FROM pairs p JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM oe e1 JOIN oe e2
    ON e2.a = e1.a AND ((e1.db, e1.b) < (e2.db, e2.b))
  JOIN oe e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM pairs) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       n_triangles,
       3.0 * n_triangles / (SELECT sum(d * (d - 1) / 2) FROM deg)
         AS clustering_coeff
FROM tri
""",
)
def olap_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the co-purchase graph (parts
    appearing in the same order; edge = distinct unordered part pair),
    plus the global clustering coefficient 3·triangles/wedges — the
    classic graph-analytics primitive the reference's engine cannot
    express. Built the scale-correct way: every edge is ORIENTED from
    its lower-(degree, id) endpoint to its higher one, so each triangle
    is found exactly once at its lowest-degree vertex and per-node work
    is bounded by ORIENTED out-degree, which is O(sqrt(|E|)) regardless
    of skew (a celebrity node with 10^6 undirected neighbors has few
    OUT-edges because almost all its edges orient toward it — the
    standard compact-forward / degree-ordering bound). The closure is
    counted edge-at-a-time (|N_out(u) ∩ N_out(v)| per oriented edge via
    adjacency arrays) so the wedge set is never materialized as rows —
    equi-joins on node ids, hash-partitionable; the final result
    is one row of exact bigints (clustering_coeff is a single IEEE
    division of integer-valued doubles, bit-identical cross-engine)."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        # consumed 5x (p, du, dv via deg, and both stats aggregates):
        # unpinned, each consumer re-runs the lineitem self-join+distinct.
        # Lazy: the single noop/collect action computes it once and the
        # persisted blocks serve the other four paths -- no extra job.
        .localCheckpoint(eager=False)
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)  # |parts| rows, consumed 3x
    )
    du = deg.alias("du")
    dv = deg.alias("dv")
    p = pairs.alias("p")
    u_first = F.struct(F.col("du.d"), F.col("p.u")) < F.struct(
        F.col("dv.d"), F.col("p.v")
    )
    oe = (
        p.join(du, F.col("du.node") == F.col("p.u"))
        .join(dv, F.col("dv.node") == F.col("p.v"))
        .select(
            F.when(u_first, F.col("p.u")).otherwise(F.col("p.v")).alias("a"),
            F.when(u_first, F.col("p.v")).otherwise(F.col("p.u")).alias("b"),
        )
        .localCheckpoint()  # oriented edges reused 3x (adj build + 2 joins)
    )
    # Edge-iterator closure (r12, VERDICT r11 task 5): the former
    # wedge-enumeration join (e1 ⨝ e2 on the pivot, then a closure
    # equi-join against the edge list) MATERIALIZED AND SHUFFLED every
    # wedge — 1.478e9 rows at sf1 for 12M edges — and that exchange was
    # the measured wall (131–174 s/rep). Counting per EDGE instead:
    # n_triangles = Σ over oriented edges (u,v) of |N(u) ∩ N(v)|, where
    # N(x) is x's out-neighbor array — each triangle x<y<z (in the
    # orientation's (degree, id) order) is found exactly once at its
    # (x→y) edge with w=z in both lists, the same single-counting the
    # (db, b)-ordered wedge pair encoded. The exchange now carries |E|
    # rows whose array payloads total Σ d_out² elements — the same
    # element count the wedge join shuffled as ROWS — so per-row
    # serialization overhead drops by the average out-degree, and
    # out-degrees stay O(√|E|) by the orientation bound, so no array
    # blows up. adj is pinned: both join sides read one build.
    adj = (
        oe.groupBy("a")
        .agg(F.collect_list("b").alias("nb"))
        .localCheckpoint(eager=False)
    )
    tri = (
        oe.join(
            adj.select(F.col("a").alias("_u"), F.col("nb").alias("nb_u")),
            F.col("a") == F.col("_u"),
        )
        .join(
            adj.select(F.col("a").alias("_v"), F.col("nb").alias("nb_v")),
            F.col("b") == F.col("_v"),
        )
        .select(F.size(F.array_intersect("nb_u", "nb_v")).alias("nt"))
        .agg(
            F.coalesce(F.sum("nt"), F.lit(0))
            .cast("long")
            .alias("n_triangles")
        )
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges"),
    ).crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_edges")))
    return tri.crossJoin(stats).select(  # three 1-row aggregates merge
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")).alias(
            "clustering_coeff"
        ),
    )


_BLOOM_P = 2147483647  # Mersenne prime 2^31-1; (x%P)*A+B stays < 2^62
_BLOOM_M = 2048  # bits — sized so the fixture exercises false positives
_BLOOM_HASHES = ((1103515245, 12345), (214013, 2531011), (69069, 362437))


def _bloom_pos_sql(col: str, a: int, b: int) -> str:
    return f"(({col} % {_BLOOM_P}) * {a} + {b}) % {_BLOOM_P} % {_BLOOM_M}"


@register(
    "olap_bloom_semijoin",
    oracle=f"""
WITH keys AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
pos AS (
  SELECT DISTINCT {_bloom_pos_sql('k', *_BLOOM_HASHES[0])} AS p FROM keys
  UNION SELECT DISTINCT {_bloom_pos_sql('k', *_BLOOM_HASHES[1])} FROM keys
  UNION SELECT DISTINCT {_bloom_pos_sql('k', *_BLOOM_HASHES[2])} FROM keys
),
bl AS (SELECT list(p) AS ps FROM pos),
probe AS (
  SELECT o.o_orderpriority,
         (list_contains(bl.ps, {_bloom_pos_sql('o_custkey', *_BLOOM_HASHES[0])})
          AND list_contains(bl.ps, {_bloom_pos_sql('o_custkey', *_BLOOM_HASHES[1])})
          AND list_contains(bl.ps, {_bloom_pos_sql('o_custkey', *_BLOOM_HASHES[2])})) AS pass,
         (kk.k IS NOT NULL) AS is_true
  FROM orders o CROSS JOIN bl LEFT JOIN keys kk ON o.o_custkey = kk.k
)
SELECT o_orderpriority,
       count(*) AS n_probed,
       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN pass AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM probe GROUP BY 1
""",
)
def olap_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Bloom-filter semi-join pruning — the technique that
    makes selective big-big joins survive 100 TB: the build side's keys
    (BUILDING-segment customers) compress into an m-bit filter
    that ships to every probe task, so the fact table is pre-filtered
    BEFORE its shuffle (Catalyst injects the same thing adaptively via
    spark.sql.optimizer.runtime.bloomFilter; this is the data-level,
    cross-engine-checkable form — and the filter itself is mergeable
    state: per-partition filters OR together). Hashes are pure bigint
    affine maps mod a Mersenne prime then mod m — identical arithmetic
    in any engine, no library hash — so the exact set-bit positions,
    every probe verdict, and the per-priority false-positive audit
    (bloom pass minus exact semi-join truth, deliberately sized to be
    non-empty at fixture scale) all value-hash-oracle. The probe plan
    never shuffles: the position set is one broadcast row, the truth
    check a broadcast left join, the audit one map-side-combined agg."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    keys = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )

    def pos(col: F.Column, a: int, b: int) -> F.Column:
        return ((col % _BLOOM_P) * a + b) % _BLOOM_P % _BLOOM_M

    bloom = (
        keys.select(
            F.explode(
                F.array(*[pos(F.col("k"), a, b) for a, b in _BLOOM_HASHES])
            ).alias("p")
        )
        .distinct()
        .agg(F.collect_set("p").alias("ps"))
    )
    probes = [pos(F.col("o_custkey"), a, b) for a, b in _BLOOM_HASHES]
    passed = (
        F.array_contains(F.col("ps"), probes[0])
        & F.array_contains(F.col("ps"), probes[1])
        & F.array_contains(F.col("ps"), probes[2])
    )
    probe = (
        o.crossJoin(F.broadcast(bloom))
        .join(F.broadcast(keys), o.o_custkey == keys.k, "left")
        .select(
            "o_orderpriority",
            passed.alias("pass"),
            F.col("k").isNotNull().alias("is_true"),
        )
    )
    return probe.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum(F.col("pass").cast("long")).alias("n_bloom_pass"),
        F.sum(F.col("is_true").cast("long")).alias("n_true"),
        F.sum((F.col("pass") & ~F.col("is_true")).cast("long")).alias(
            "n_false_pos"
        ),
    )


@register(
    "olap_aqp_sample_estimate",
    oracle="""
WITH sample AS (
  SELECT * FROM events
  WHERE ((event_id % 2147483647) * 1103515245 + 12345) % 2147483647 % 100 < 10
),
est AS (
  SELECT event_type, count(*) * 10 AS n_est, round(sum(value) * 10, 2) AS sum_est
  FROM sample GROUP BY event_type
),
exact AS (
  SELECT event_type, count(*) AS n_exact, round(sum(value), 2) AS sum_exact
  FROM events GROUP BY event_type
)
SELECT e.event_type, n_exact, coalesce(n_est, 0) AS n_est, sum_exact,
       coalesce(sum_est, 0.0) AS sum_est,
       coalesce(n_est, 0) * 1.0 / n_exact AS count_ratio
FROM exact e LEFT JOIN est USING (event_type)
""",
)
def olap_aqp_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by deterministic hash sampling: a
    10% sample selected by a pure affine hash of the row key (NOT
    rand() or TABLESAMPLE — the sample is a property of the DATA, so it
    is identical across engines, executors, retries, and runs, and at
    100 TB it can be materialized once as a sample TABLE and reused by
    every dashboard query at 1/10 the scan cost). Estimates are
    inverse-probability-scaled (x10) grouped count/sum; the exact pass
    runs alongside so the result audits the estimator's own error
    (count_ratio) rather than asking the reader to trust it. Shape: the
    sample predicate is codegen'd into the scan projection — the
    sampled branch reads and aggregates ~10% of rows; both branches
    partial-aggregate map-side and the audit join is |event_type|-sized
    broadcast."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    in_sample = (
        ((F.col("event_id") % _BLOOM_P) * 1103515245 + 12345) % _BLOOM_P % 100
    ) < 10
    est = (
        ev.filter(in_sample)
        .groupBy("event_type")
        .agg(
            (F.count(F.lit(1)) * 10).alias("n_est"),
            F.round(F.sum("value") * 10, 2).alias("sum_est"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.round(F.sum("value"), 2).alias("sum_exact"),
    )
    return exact.join(F.broadcast(est), "event_type", "left").select(
        "event_type",
        "n_exact",
        F.coalesce(F.col("n_est"), F.lit(0)).alias("n_est"),
        "sum_exact",
        F.coalesce(F.col("sum_est"), F.lit(0.0)).alias("sum_est"),
        (F.coalesce(F.col("n_est"), F.lit(0)) * 1.0 / F.col("n_exact")).alias(
            "count_ratio"
        ),
    )


@register(
    "timeseries_m4_downsample",
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         strftime(to_timestamp(CAST(floor(epoch(ts) / 7200) AS BIGINT) * 7200),
                  '%Y-%m-%d %H:%M:%S') AS bucket,
         row_number() OVER (PARTITION BY event_type, CAST(floor(epoch(ts) / 7200) AS BIGINT)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, CAST(floor(epoch(ts) / 7200) AS BIGINT)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bucket,
       count(*) AS n_points,
       max(CASE WHEN rn_a = 1 THEN value END) AS v_first,
       max(CASE WHEN rn_d = 1 THEN value END) AS v_last,
       min(value) AS v_min, max(value) AS v_max
FROM ranked GROUP BY 1, 2
""",
)
def timeseries_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling — the width-preserving dashboard
    reducer (Jugel et al., VLDB 2014): per series and per pixel-column
    bucket (2 h here), keep exactly the first, last, min, and max
    values, which is provably sufficient to render the same line a
    full-resolution plot would produce. This is what turns a 100 TB
    raw series into a few thousand plotted points with ONE grouped
    aggregate — first/last are order statistics over the total order
    (ts, event_id), so the result is partitioning-invariant (the
    engine's min_by/max_by shape, spelled as rank-1-within-bucket so
    every engine agrees on ties). One event_type×bucket exchange
    serves both rank directions and the final aggregate."""
    ev = t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    b = (F.unix_seconds(F.col("ts")) / 7200).cast("long")  # floor for t >= 0
    wa = Window.partitionBy("event_type", "b").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "b").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = (
        ev.withColumn("b", b)
        .withColumn("rn_a", F.row_number().over(wa))
        .withColumn("rn_d", F.row_number().over(wd))
    )
    return (
        ranked.groupBy("event_type", "b")  # window partitioning reused: no 2nd exchange
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("v_first"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .select(
            "event_type",
            F.from_unixtime(F.col("b") * 7200, "yyyy-MM-dd HH:mm:ss").alias(
                "bucket"
            ),
            "n_points",
            "v_first",
            "v_last",
            "v_min",
            "v_max",
        )
    )


def _hourly_cents_series(spark: SparkSession, sf_dir: str, fill: bool):
    """Shared spine: per-type hourly revenue cents over the full hour
    range, gaps as NULL (fill=False) or 0 (fill=True)."""
    ev = t(spark, sf_dir, "events").select("ts", "event_type", "value")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("h0"), F.col("h1"))).alias("h"),
        )
    )
    ser = spine.join(hourly, ["event_type", "h"], "left")
    if fill:
        ser = ser.withColumn("cents", F.coalesce(F.col("cents"), F.lit(0)))
    return ser


@register(
    "timeseries_interpolate",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
spine AS (
  SELECT et.event_type, CAST(hh.h AS BIGINT) AS h
  FROM (SELECT DISTINCT event_type FROM events) et,
       (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) hh
),
ser AS (
  SELECT s.event_type, s.h, hr.cents
  FROM spine s LEFT JOIN hourly hr ON s.event_type = hr.event_type AND s.h = hr.h
),
w AS (
  SELECT event_type, h, cents,
         last_value(cents IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
         first_value(cents IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN cents IS NOT NULL THEN h END IGNORE NULLS) OVER
           (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM ser
)
SELECT event_type,
       strftime(to_timestamp(h * 3600), '%Y-%m-%d %H:%M:%S') AS w_start,
       cents,
       prev_v AS locf_cents,
       CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
            WHEN prev_v IS NULL THEN CAST(next_v AS DOUBLE)
            WHEN next_v IS NULL THEN CAST(prev_v AS DOUBLE)
            ELSE CAST(prev_v AS DOUBLE)
                 + CAST(next_v - prev_v AS DOUBLE)
                   * (CAST(h - prev_h AS DOUBLE) / CAST(next_h - prev_h AS DOUBLE))
       END AS lerp_cents
FROM w
""",
)
def timeseries_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap repair for regular time series — the TimescaleDB
    locf()/interpolate() pair: the hourly revenue series is completed
    over a generated hour spine, then each missing hour is filled two
    ways: last-observation-carried-forward (the monitoring default)
    and linear interpolation between the bracketing observations
    (the training-data default — no discontinuities). Neighbor lookup
    is two IGNORE-NULLS window scans (no self-join per gap); the lerp
    is exact bigint deltas with ONE double multiply-divide in fixed
    order, so the repaired values hash identically cross-engine.
    Series values stay integer cents end-to-end otherwise. At 100 TB
    the window partitions by series key — embarrassingly parallel
    across series, and the spine join prunes to each series' own
    range."""
    ser = _hourly_cents_series(spark, sf_dir, fill=False)
    back = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("event_type").orderBy("h").rowsBetween(
        0, Window.unboundedFollowing
    )
    h_obs = F.when(F.col("cents").isNotNull(), F.col("h"))
    w = (
        ser.withColumn("prev_v", F.last("cents", ignorenulls=True).over(back))
        .withColumn("prev_h", F.last(h_obs, ignorenulls=True).over(back))
        .withColumn("next_v", F.first("cents", ignorenulls=True).over(fwd))
        .withColumn("next_h", F.first(h_obs, ignorenulls=True).over(fwd))
    )
    lerp = (
        F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
        .when(F.col("prev_v").isNull(), F.col("next_v").cast("double"))
        .when(F.col("next_v").isNull(), F.col("prev_v").cast("double"))
        .otherwise(
            F.col("prev_v").cast("double")
            + (F.col("next_v") - F.col("prev_v")).cast("double")
            * (
                (F.col("h") - F.col("prev_h")).cast("double")
                / (F.col("next_h") - F.col("prev_h")).cast("double")
            )
        )
    )
    return w.select(
        "event_type",
        F.from_unixtime(F.col("h") * 3600, "yyyy-MM-dd HH:mm:ss").alias(
            "w_start"
        ),
        "cents",
        F.col("prev_v").alias("locf_cents"),
        lerp.alias("lerp_cents"),
    )


@register(
    "timeseries_seasonal_decompose",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
spine AS (
  SELECT et.event_type, CAST(hh.h AS BIGINT) AS h
  FROM (SELECT DISTINCT event_type FROM events) et,
       (SELECT unnest(range(h0, h1 + 1)) AS h FROM bounds) hh
),
ser AS (
  SELECT s.event_type, s.h, coalesce(hr.cents, 0) AS cents
  FROM spine s LEFT JOIN hourly hr ON s.event_type = hr.event_type AND s.h = hr.h
),
tr AS (
  SELECT event_type, h, cents,
         CAST(sum(cents) OVER fr AS DOUBLE) / CAST(count(*) OVER fr AS DOUBLE) AS trend
  FROM ser
  WINDOW fr AS (PARTITION BY event_type ORDER BY h
                ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
),
detr AS (
  SELECT *, CAST(round((CAST(cents AS DOUBLE) - trend) * 1e6) AS BIGINT) AS detr_micro,
         h % 24 AS hod
  FROM tr
),
seas AS (
  SELECT event_type, hod,
         CAST(sum(detr_micro) AS BIGINT) * 1.0 / count(*) / 1e6 AS seasonal
  FROM detr GROUP BY 1, 2
)
SELECT d.event_type,
       strftime(to_timestamp(d.h * 3600), '%Y-%m-%d %H:%M:%S') AS w_start,
       d.cents, d.trend, s.seasonal,
       (CAST(d.cents AS DOUBLE) - d.trend) - s.seasonal AS residual
FROM detr d JOIN seas s ON d.event_type = s.event_type AND d.hod = s.hod
""",
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (trend + hour-of-day
    seasonality + residual) of the hourly revenue series — the anomaly
    -detection preprocessing that separates "traffic is down" from
    "it's 4 AM": trend is a centered 24-row moving average (bigint
    window sum / count — exact operands), the seasonal component is
    the per-hour-of-day mean of the detrended series, and the residual
    is what monitoring alerts on. The detrended doubles are quantized
    to integer micro-cents BEFORE the seasonal mean so that unordered
    group sum is exact bigint arithmetic (the micro-nat convention) —
    the whole decomposition value-hash-oracles, which approx-digest
    implementations cannot. Shape: one series-key window pass for the
    trend, one |type × 24|-row aggregate for seasonality broadcast
    back — per-series parallel at any scale."""
    ser = _hourly_cents_series(spark, sf_dir, fill=True)
    fr = Window.partitionBy("event_type").orderBy("h").rowsBetween(-12, 11)
    tr = ser.withColumn(
        "trend",
        F.sum("cents").over(fr).cast("double")
        / F.count(F.lit(1)).over(fr).cast("double"),
    )
    detr = tr.withColumn(
        "detr_micro",
        F.round((F.col("cents").cast("double") - F.col("trend")) * 1e6, 0).cast(
            "long"
        ),
    ).withColumn("hod", F.col("h") % 24)
    seas = detr.groupBy("event_type", "hod").agg(
        (F.sum("detr_micro") * 1.0 / F.count(F.lit(1)) / 1e6).alias("seasonal")
    )
    return detr.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type",
        F.from_unixtime(F.col("h") * 3600, "yyyy-MM-dd HH:mm:ss").alias(
            "w_start"
        ),
        "cents",
        "trend",
        "seasonal",
        ((F.col("cents").cast("double") - F.col("trend")) - F.col("seasonal")).alias(
            "residual"
        ),
    )


@register(
    "maintenance_zorder_layout",
    oracle="""
WITH base AS (
  SELECT l_partkey AS x, l_suppkey AS y, l_orderkey, l_linenumber FROM lineitem
),
b AS (
  SELECT *,
         ntile(64) OVER (ORDER BY x, l_orderkey, l_linenumber) - 1 AS bx,
         ntile(64) OVER (ORDER BY y, l_orderkey, l_linenumber) - 1 AS by
  FROM base
),
z AS (
  SELECT *,
    (((bx >> 0) & 1) << 0) | (((by >> 0) & 1) << 1) |
    (((bx >> 1) & 1) << 2) | (((by >> 1) & 1) << 3) |
    (((bx >> 2) & 1) << 4) | (((by >> 2) & 1) << 5) |
    (((bx >> 3) & 1) << 6) | (((by >> 3) & 1) << 7) |
    (((bx >> 4) & 1) << 8) | (((by >> 4) & 1) << 9) |
    (((bx >> 5) & 1) << 10) | (((by >> 5) & 1) << 11) AS zcode
  FROM b
),
layouts AS (
  SELECT 'zorder' AS layout,
         ntile(32) OVER (ORDER BY zcode, l_orderkey, l_linenumber) AS file_id, x, y
  FROM z
  UNION ALL
  SELECT 'range_x', ntile(32) OVER (ORDER BY x, l_orderkey, l_linenumber), x, y
  FROM z
),
files AS (
  SELECT layout, file_id, min(x) AS min_x, max(x) AS max_x,
         min(y) AS min_y, max(y) AS max_y
  FROM layouts GROUP BY 1, 2
)
SELECT layout, count(*) AS n_files,
       CAST(sum(CASE WHEN 1000 BETWEEN min_x AND max_x THEN 1 ELSE 0 END) AS BIGINT)
         AS files_hit_x1000,
       CAST(sum(CASE WHEN 50 BETWEEN min_y AND max_y THEN 1 ELSE 0 END) AS BIGINT)
         AS files_hit_y50
FROM files GROUP BY 1
""",
)
def maintenance_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering layout AUDIT — the decision query behind
    `operators/maintenance.py::compact_zorder` (OPTIMIZE ZORDER in
    table formats): both columns are bucketed into 64 exact quantile
    ranks (ntile over a TOTAL order, so bucketing is engine-invariant;
    the production operator swaps in approxQuantile sketches at 100 TB
    — same bits, sample-derived cuts), the bits interleave into a
    Z-address, and 32 candidate files are cut from each layout. The
    output is per-file min/max envelopes reduced to the number Delta/
    Iceberg's file skipping would actually read for a point filter on
    EACH dimension: range-clustering on x alone prunes x-probes
    perfectly but reads every file for y-probes; Z-order pays a little
    on x to prune both (the measured 32→11/4 vs 2/32 tradeoff at
    fixture scale). Shape: three range-partitioned rank passes (x, y,
    zcode — no global ntile window; NTILE(k) is exact arithmetic on the
    bucketed row number, and the x rank serves both the 64-bucket grid
    and the 32-file range layout) + one grouped min/max — the audit
    runs on the slim (x, y, key) projection, never the full row."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"),
        F.col("l_suppkey").alias("y"),
        "l_orderkey",
        "l_linenumber",
    )
    ord_cols = ["l_orderkey", "l_linenumber"]

    # Exact NTILE(k) from a 1-based global row number — SQL semantics:
    # the first (n mod k) buckets carry one extra row. A pure function
    # of (rn, n, k), so the rank itself can come from the
    # range-partitioned cumsum instead of a global ntile window over
    # the full fact projection (r06 — the sax/spearman fix applied to
    # this audit's three total orders; n is one driver-side count,
    # bounded).
    def ntile_of(rn: F.Column, n: int, k: int) -> F.Column:
        q, r = divmod(n, k)
        if q == 0:
            return rn.cast("int")
        big = F.lit((q + 1) * r)
        return (
            F.when(rn <= big, F.floor((rn - 1) / F.lit(q + 1)))
            .otherwise(F.lit(r) + F.floor((rn - big - 1) / F.lit(q)))
            .cast("int")
            + 1
        )

    n_rows = li.count()
    one = li.withColumn("one", F.lit(1))
    rx, _bx = bucketed_running_sum(one, "one", "x", tie_cols=ord_cols, out_col="rnx")
    ry, _by = bucketed_running_sum(
        rx.drop(_bx), "one", "y", tie_cols=ord_cols, out_col="rny"
    )
    b = ry.drop(_by).select(
        "x",
        "y",
        "rnx",
        *ord_cols,
        "one",
        (ntile_of(F.col("rnx"), n_rows, 64) - 1).alias("bx"),
        (ntile_of(F.col("rny"), n_rows, 64) - 1).alias("by"),
    )
    zc = F.lit(0)
    for bit in range(6):
        zc = zc.bitwiseOR(
            F.shiftleft(F.shiftright(F.col("bx"), bit).bitwiseAND(F.lit(1)), 2 * bit)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(F.col("by"), bit).bitwiseAND(F.lit(1)), 2 * bit + 1
            )
        )
    # eager localCheckpoint: both layout branches (zorder + range_x)
    # union over z — without the pin each branch recomputes the x- and
    # y-rank passes (2x the fact-slim work; the top_supplier_revenue
    # idiom, blocks released with the DataFrame)
    z = b.withColumn("zcode", zc).localCheckpoint(eager=True)
    rz, _bz = bucketed_running_sum(z, "one", "zcode", tie_cols=ord_cols, out_col="rnz")
    zorder = rz.select(
        F.lit("zorder").alias("layout"),
        ntile_of(F.col("rnz"), n_rows, 32).alias("file_id"),
        "x",
        "y",
    )
    # the x-ordered rank is already in hand — NTILE(32) on it is pure
    # arithmetic, no second x-ordered pass
    range_x = z.select(
        F.lit("range_x").alias("layout"),
        ntile_of(F.col("rnx"), n_rows, 32).alias("file_id"),
        "x",
        "y",
    )
    files = (
        zorder.unionByName(range_x)
        .groupBy("layout", "file_id")
        .agg(
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
    )
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(
            F.when(
                (F.lit(1000) >= F.col("min_x")) & (F.lit(1000) <= F.col("max_x")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("files_hit_x1000"),
        F.sum(
            F.when(
                (F.lit(50) >= F.col("min_y")) & (F.lit(50) <= F.col("max_y")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("files_hit_y50"),
    )


@register(
    "olap_event_pattern_match",
    oracle="""
WITH seq AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(regexp_extract_all(s, 'v+cp')) AS BIGINT) AS n_funnel,
       CAST(len(regexp_extract_all(s, 'ee+')) AS BIGINT) AS n_error_bursts,
       CAST(len(s) AS BIGINT) AS n_events
FROM seq
WHERE len(regexp_extract_all(s, 'v+cp')) > 0
   OR len(regexp_extract_all(s, 'ee+')) > 0
""",
)
def olap_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing pattern matching (MATCH_RECOGNIZE /
    Flink-CEP class, which plain SQL engines and the reference lack):
    each user's event history becomes an ordered symbol string — one
    initial per event over the (ts, event_id) total order — and CEP
    patterns are then ordinary regular expressions evaluated per user:
    'v+cp' (one-or-more views immediately followed by click then
    purchase — the strict-contiguity funnel, stronger than
    `olap_funnel_stages`' eventually-ordered semantics) and 'ee+'
    (error bursts, the alerting pattern). Non-overlapping greedy match
    counts are engine-invariant for these anchored-free patterns.
    Shape: ONE user_id exchange; the symbol string builds via
    collect_list + array_sort inside the aggregate (in-memory per
    user, bounded by events-per-user), and the regex scan is a narrow
    codegen'd pass over |users| rows — at 100 TB sequences shard by
    (user, day) exactly like `sampling_dialogue_assemble`'s
    trajectories."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id", F.substring("event_type", 1, 1).alias("i")
                        )
                    )
                ),
                lambda x: x["i"],
            ),
            "",
        ).alias("s")
    )
    n_funnel = F.size(F.regexp_extract_all(F.col("s"), F.lit("v+cp"), F.lit(0)))
    n_bursts = F.size(F.regexp_extract_all(F.col("s"), F.lit("ee+"), F.lit(0)))
    return (
        seq.select(
            "user_id",
            n_funnel.cast("long").alias("n_funnel"),
            n_bursts.cast("long").alias("n_error_bursts"),
            F.length("s").cast("long").alias("n_events"),
        )
        .filter((F.col("n_funnel") > 0) | (F.col("n_error_bursts") > 0))
    )


def _lpa_oracle(iterations: int) -> str:
    """Unrolled-SQL replay of operators/graph.py::label_propagation on
    the nation trade graph — the PageRank convention for iterative
    algorithms (pure integer arithmetic, so the replay is bit-exact)."""
    head = """
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
  GROUP BY 1, 2
),
und AS (
  SELECT a, b, CAST(sum(w) AS BIGINT) AS w FROM (
    SELECT src AS a, dst AS b, w FROM edges
    UNION ALL SELECT dst AS a, src AS b, w FROM edges
  ) GROUP BY 1, 2
),
l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM und)"""
    step = """,
sc{k} AS (
  SELECT e.a AS node, l.lbl, CAST(sum(e.w) AS BIGINT) AS s
  FROM und e JOIN l{prev} l ON l.node = e.b GROUP BY 1, 2
),
l{k} AS (
  SELECT node, min(lbl) AS lbl FROM (
    SELECT node, lbl, s, max(s) OVER (PARTITION BY node) AS ms FROM sc{k}
  ) WHERE s = ms GROUP BY node
)"""
    body = "".join(step.format(k=k, prev=k - 1) for k in range(1, iterations + 1))
    return f"{head}{body}\nSELECT node, lbl AS community FROM l{iterations}\n"


@register("olap_nation_communities", oracle=_lpa_oracle(4))
def olap_nation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous weighted label propagation
    over the inter-nation trade graph (self-trade edges dropped so
    communities reflect CROSS-border affinity) — the clustering member
    of the graph family (components = connectivity, PageRank =
    centrality, triangles = cohesion, LPA = mesoscale structure). Four
    synchronous rounds, max-incident-weight label with ties to the
    smallest — all integer comparisons, so the full trajectory
    value-hash-oracles against an unrolled-SQL replay
    (operators/graph.py::label_propagation). Heavy work is the one-time
    edge extraction; per round: one broadcast label join + one
    map-side-combined (node, label) aggregate."""
    from stream_processing_project_spark.operators.graph import label_propagation

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey != s.s_nationkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.sum(cents).alias("w"))
    )
    return label_propagation(edges, iterations=4)


@register(
    "olap_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       n * 1.0 / sum(n) OVER (PARTITION BY prev_type) AS p
FROM pairs
""",
)
def olap_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams —
    the behavioral model behind Sankey flow diagrams, next-action
    prediction baselines, and journey-drop-off analysis (where
    `olap_funnel_stages` asks "did the funnel complete", this measures
    EVERY observed step's probability). One user_id window pass pairs
    each event with its predecessor over the (ts, event_id) total
    order; the |types|² count matrix aggregates map-side and the row-
    normalized probability is one division per cell. At 100 TB the
    window shards by (user, day) — transitions across shard cuts are
    the standard boundary trim."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    pairs = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n") * 1.0 / F.sum("n").over(wp)).alias("p"),
    )


@register(
    "timeseries_time_weighted_avg",
    oracle="""
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(lead(ts) OVER w) - epoch_us(ts) AS dur_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, count(dur_us) AS n_intervals,
       CAST(sum(dur_us) AS BIGINT) AS total_dur_us,
       CAST(sum(cents * dur_us) AS DOUBLE) / CAST(sum(dur_us) AS DOUBLE) / 100.0
         AS twa_value
FROM seq WHERE dur_us IS NOT NULL
GROUP BY user_id
""",
)
def timeseries_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TimescaleDB `time_weight('LOCF')`) — the
    correct mean for IRREGULARLY sampled state: each observation's
    value is weighted by how long it was held (until the next
    observation), so a sensor that reports rarely while steady isn't
    drowned out by one that chatters — plain AVG over samples is
    sampling-rate-biased; this is the integral ∫v dt / T. Durations
    are exact epoch-MICROSECOND bigints (second-granularity epochs
    would round sub-second timestamps differently across engines) and
    value·duration products stay in bigint; the final ratio casts BOTH
    sums explicitly to DOUBLE (numerators exceed 2^53 here, where
    DuckDB's `* 1.0` would take its DECIMAL path and round
    differently than an IEEE conversion — explicit casts keep one
    arithmetic). One user_id window pass + one aggregate — shards by
    series key at any scale."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))).alias(
            "dur_us"
        ),
    ).filter(F.col("dur_us").isNotNull())
    return seq.groupBy("user_id").agg(
        F.count("dur_us").alias("n_intervals"),
        F.sum("dur_us").alias("total_dur_us"),
        (
            F.sum(F.col("cents") * F.col("dur_us")).cast("double")
            / F.sum("dur_us").cast("double")
            / 100.0
        ).alias("twa_value"),
    )


_DAY_US = 86_400_000_000


@register(
    "olap_interval_overlap_join",
    oracle="""
WITH b AS (SELECT epoch_us(date_trunc('day', min(ts))) AS t0 FROM events),
marked AS (
  SELECT user_id, event_id, epoch_us(ts) AS tu,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, sid, min(tu) AS s_start, max(tu) AS s_end
  FROM (SELECT user_id, tu,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY tu, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
  GROUP BY 1, 2
),
promo AS (
  SELECT n_nationkey AS promo_id,
         t0 + n_nationkey * 86400000000 AS p_start,
         t0 + n_nationkey * 86400000000 + 129600000000 AS p_end
  FROM nation, b
),
ov AS (
  SELECT p.promo_id, s.user_id,
         least(s.s_end, p.p_end) - greatest(s.s_start, p.p_start) AS ov_us
  FROM sess s JOIN promo p ON s.s_start <= p.p_end AND p.p_start <= s.s_end
)
SELECT promo_id, count(*) AS n_sessions, count(DISTINCT user_id) AS n_users,
       CAST(sum(ov_us) AS BIGINT) AS total_overlap_us
FROM ov GROUP BY 1
""",
)
def olap_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL-×-INTERVAL overlap join — the temporal-join shape
    point-in-range (`olap_range_join_price_bands`) and as-of joins
    don't cover: user sessions (30-min-gap sessionization, exact
    epoch-micro bounds) against campaign windows (36 h, derived
    deterministically from the nation dim), reporting per-campaign
    session reach and total overlap exposure time. The SCALABLE plan is
    grid blocking: both interval sets explode onto a day-grid, the join
    is an EQUI-join on the cell (the tiny promo side broadcasts — the
    session table never shuffles for the join), duplicate multi-cell
    pairs collapse by key, and the exact overlap predicate + duration
    verify within candidates — a theta join done with hash machinery
    (the same pattern DuckDB's oracle runs as a plain nested-loop,
    which is the fixture-scale luxury this plan doesn't need).
    Durations are exact bigint micros end to end."""
    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    n = t(spark, sf_dir, "nation").select("n_nationkey")
    tu = F.unix_micros(F.col("ts"))
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "event_id",
        tu.alias("tu"),
        F.when(
            F.lag(tu).over(wo).isNull() | ((tu - F.lag(tu).over(wo)) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("tu", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = (
        marked.withColumn("sid", F.sum("is_new").over(wc))
        .groupBy("user_id", "sid")
        .agg(F.min("tu").alias("s_start"), F.max("tu").alias("s_end"))
    )
    t0 = ev.agg(
        F.unix_micros(F.date_trunc("day", F.min("ts"))).alias("t0")
    )
    promo = n.crossJoin(F.broadcast(t0)).select(
        F.col("n_nationkey").alias("promo_id"),
        (F.col("t0") + F.col("n_nationkey") * _DAY_US).alias("p_start"),
        (F.col("t0") + F.col("n_nationkey") * _DAY_US + 129_600_000_000).alias(
            "p_end"
        ),
    )
    # Exact integer division for the grid cell index (ADVICE r02):
    # epoch micros (~1.7e15) still fit a double exactly, but the double
    # QUOTIENT is rounded, so a bound within ~an ulp of a UTC day
    # boundary could land in the wrong cell — integer `div` is exact.
    scell = sess.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.expr(f"s_start div {_DAY_US}"),
                F.expr(f"s_end div {_DAY_US}"),
            )
        ),
    )
    pcell = promo.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.expr(f"p_start div {_DAY_US}"),
                F.expr(f"p_end div {_DAY_US}"),
            )
        ),
    )
    cand = (
        scell.join(F.broadcast(pcell), "cell")
        .filter(
            (F.col("s_start") <= F.col("p_end"))
            & (F.col("p_start") <= F.col("s_end"))
        )
        .dropDuplicates(["user_id", "sid", "promo_id"])
    )
    ov = F.least(F.col("s_end"), F.col("p_end")) - F.greatest(
        F.col("s_start"), F.col("p_start")
    )
    return cand.groupBy("promo_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(ov).alias("total_overlap_us"),
    )


@register(
    "timeseries_changepoint_cusum",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS t
  FROM hourly GROUP BY 1
),
cus AS (
  SELECT h.event_type, h.h,
         sum(h.cents * tot.n - tot.t) OVER
           (PARTITION BY h.event_type ORDER BY h.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_scaled
  FROM hourly h JOIN tot ON h.event_type = tot.event_type
),
mx AS (SELECT event_type, max(abs(s_scaled)) AS m FROM cus GROUP BY 1)
SELECT c.event_type,
       strftime(to_timestamp(min(c.h) * 3600), '%Y-%m-%d %H:%M:%S') AS change_at,
       CAST(max(abs(c.s_scaled)) AS BIGINT) AS cusum_scaled,
       CAST(max(CASE WHEN abs(c.s_scaled) = mx.m THEN sign(c.s_scaled) END) AS BIGINT)
         AS direction
FROM cus c JOIN mx ON c.event_type = mx.event_type
WHERE abs(c.s_scaled) = mx.m
GROUP BY 1
""",
)
def timeseries_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline change-point detection by CUSUM: per series, the hour
    where the cumulative deviation from the series mean peaks — the
    single most likely level-shift point (the monitoring question
    "WHEN did the metric change", where `olap_outlier_zscore` asks
    "which points are odd" and the seasonal decomposition asks "what
    is normal"). INTEGER formulation: instead of Σ(x_i − mean) with a
    fractional mean, track Σ(n·x_i − T) = n·CUSUM — same argmax, but
    every term and prefix sum is an exact bigint, so the detected
    change point, its scaled statistic, and the shift direction all
    value-hash-oracle with no float anywhere. Shape: hourly rollup
    (map-side combined), a |types|-row total broadcast back, one
    per-series prefix-sum window, one argmax aggregate."""
    ev = t(spark, sf_dir, "events").select("ts", "event_type", "value")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("t")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cus = (
        hourly.join(F.broadcast(tot), "event_type")
        .withColumn(
            "s_scaled",
            F.sum(F.col("cents") * F.col("n") - F.col("t")).over(wc),
        )
    )
    mx = cus.groupBy("event_type").agg(F.max(F.abs(F.col("s_scaled"))).alias("m"))
    return (
        cus.join(F.broadcast(mx), "event_type")
        .filter(F.abs(F.col("s_scaled")) == F.col("m"))
        .groupBy("event_type")
        .agg(
            F.from_unixtime(F.min("h") * 3600, "yyyy-MM-dd HH:mm:ss").alias(
                "change_at"
            ),
            F.max(F.abs(F.col("s_scaled"))).alias("cusum_scaled"),
            F.max(
                F.when(
                    F.abs(F.col("s_scaled")) == F.col("m"),
                    F.signum(F.col("s_scaled")),
                )
            )
            .cast("long")
            .alias("direction"),
        )
    )


# Integer EWMA lag weights: round(0.75^j * 1e6) for j = 0..11, inlined
# as literals in BOTH engines so no cross-engine pow()/round() step
# exists anywhere in the plan — the weights ARE the spec.
_EWMA_W = [1000000, 750000, 562500, 421875, 316406, 237305,
           177979, 133484, 100113, 75085, 56314, 42235]
_EWMA_K = len(_EWMA_W)
_EWMA_W_SQL = "[" + ", ".join(str(w) for w in _EWMA_W) + "]"


@register(
    "timeseries_ewma_smooth",
    tags=("bench",),
    oracle=f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
contrib AS (
  SELECT event_type, h + j.j AS th,
         cents * ({_EWMA_W_SQL}[j.j + 1]) AS num_part,
         ({_EWMA_W_SQL}[j.j + 1]) AS den_part
  FROM hourly, range(0, {_EWMA_K}) j(j)
),
sm AS (
  SELECT event_type, th, CAST(sum(num_part) AS BIGINT) AS num,
         CAST(sum(den_part) AS BIGINT) AS den
  FROM contrib GROUP BY 1, 2
)
SELECT h.event_type,
       strftime(to_timestamp(h.h * 3600), '%Y-%m-%d %H:%M:%S') AS bucket,
       h.cents * 1.0 / 100.0 AS raw_value,
       s.num * 1.0 / s.den / 100.0 AS ewma_value
FROM hourly h JOIN sm s ON h.event_type = s.event_type AND h.h = s.th
""",
)
def timeseries_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per series — the standard
    trend smoother (monitoring dashboards, feature pipelines computing
    "recent activity" signals), here with a 12-hour half-window and
    decay 0.75/lag. The recurrence ewma_t = a*x_t + (1-a)*ewma_{t-1}
    is inherently sequential; the SCALABLE formulation inverts it into
    a SCATTER: each observed bucket emits its contribution to the next
    K=12 target buckets via explode(sequence), with INTEGER lag
    weights round(0.75^j * 1e6) inlined as literals in both engines
    (no pow() in any plan — the weight table is the spec). The
    weighted numerator and weight-mass denominator are then exact
    bigint sums in ONE grouped aggregate keyed (series, target_hour) —
    map-side combined, associative across shards — and the EWMA is a
    fixed-order double division at the very end. Gaps decay naturally:
    an absent lag contributes neither numerator nor mass (the
    "ignore-missing" EWMA). Shape: hourly rollup, a 12x fan-out of the
    |series x buckets| rollup (NOT of the raw events), one more
    grouped agg, and an equi-join back onto real buckets. At 100 TB
    the fan-out multiplies the downsampled rollup only; weights at 1e6
    scale leave ~3 decades of bigint headroom over per-bucket cents.
    Reference scope: the monitor's per-minute rate series
    (monitor.py:197-296) smoothed the same way client-side."""
    ev = t(spark, sf_dir, "events").select("ts", "event_type", "value")
    hourly = (
        ev.groupBy(
            "event_type",
            (F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("h"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
        # consumed by contrib AND the raw-value join side: pin the tiny
        # |series × buckets| rollup so events is scanned once, not twice.
        # Lazy (r12, ADVICE r11): the eager form ran a full fact scan at
        # BUILD time — plan capture, registry sweeps and explain paid an
        # unconditional blocking job; the lazy pin computes at first
        # action and serves both consumers identically.
        .localCheckpoint(eager=False)
    )
    w = F.array(*[F.lit(x) for x in _EWMA_W])
    contrib = (
        hourly.select(
            "event_type",
            "h",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_EWMA_K - 1))).alias("j"),
        )
        .select(
            "event_type",
            (F.col("h") + F.col("j")).alias("th"),
            (F.col("cents") * F.element_at(w, F.col("j") + 1)).alias("num_part"),
            F.element_at(w, F.col("j") + 1).alias("den_part"),
        )
    )
    sm = contrib.groupBy("event_type", "th").agg(
        F.sum("num_part").alias("num"), F.sum("den_part").alias("den")
    )
    return (
        hourly.alias("hh")
        .join(
            sm.alias("ss"),
            (F.col("hh.event_type") == F.col("ss.event_type"))
            & (F.col("hh.h") == F.col("ss.th")),
        )
        .select(
            F.col("hh.event_type").alias("event_type"),
            F.from_unixtime(F.col("hh.h") * 3600, "yyyy-MM-dd HH:mm:ss").alias(
                "bucket"
            ),
            (F.col("hh.cents") * 1.0 / 100.0).alias("raw_value"),
            (F.col("ss.num") * 1.0 / F.col("ss.den") / 100.0).alias("ewma_value"),
        )
    )


@register(
    "timeseries_anomaly_mad",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS med FROM hourly GROUP BY 1
),
dev AS (
  SELECT h.event_type, h.h, h.cents, med.med,
         abs(h.cents - med.med) AS d
  FROM hourly h JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       strftime(to_timestamp(d.h * 3600), '%Y-%m-%d %H:%M:%S') AS bucket,
       d.cents AS value_cents, d.med, mad.mad,
       CASE WHEN mad.mad > 0 THEN d.d > mad.mad * 1.4826 * 3.0
            ELSE d.d > 0 END AS is_anomaly
FROM dev d JOIN mad USING (event_type)
""",
)
def timeseries_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series anomaly flagging by median absolute deviation
    — the outlier detector that survives the outliers it hunts (the
    z-score screen `olap_outlier_zscore` lets one huge spike inflate
    sigma and mask its neighbors; median and MAD have a 50% breakdown
    point). Per series: med = median(hourly value), MAD = median(|x -
    med|), flag x when |x - med| > 3 * 1.4826 * MAD (1.4826 makes MAD
    a consistent sigma estimate under normality). DETERMINISM: the
    series values are exact bigint cents, both engines interpolate the
    median identically (continuous quantile = mean of the two middle
    order statistics — a half, exactly representable), so med, MAD,
    and every comparison are bit-identical with no rounding step. A
    zero MAD (majority-constant series) degenerates the rule to
    "anything off the median" rather than dividing by zero. Shape:
    hourly rollup, two |series|-row percentile aggregates broadcast
    back, zero extra fact shuffles (the rollup exchange is reused);
    at 100 TB swap the exact grouped percentile for approx_percentile
    on the same plan. Flags ALL buckets (audit view), not only hits."""
    ev = t(spark, sf_dir, "events").select("ts", "event_type", "value")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = hourly.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(d, 0.5)").alias("mad"))
    return dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        F.from_unixtime(F.col("h") * 3600, "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.col("cents").alias("value_cents"),
        "med",
        "mad",
        F.when(
            F.col("mad") > 0, F.col("d") > F.col("mad") * 1.4826 * 3.0
        )
        .otherwise(F.col("d") > 0)
        .alias("is_anomaly"),
    )


# Day-granular decay factors round(2^(-d/7) * 1e6) for ages d = 0..45
# days (half-life 7 d), inlined as literals in BOTH engines — like the
# EWMA weight table, the decay curve IS the spec: no cross-engine pow()
# anywhere in either plan (libm pow is only ulp-reproducible per
# engine, not across engines).
_DECAY_MICRO = [
    1000000, 905724, 820335, 742997, 672950, 609507, 552045, 500000,
    452862, 410168, 371499, 336475, 304753, 276022, 250000, 226431,
    205084, 185749, 168238, 152377, 138011, 125000, 113215, 102542,
    92875, 84119, 76188, 69006, 62500, 56608, 51271, 46437, 42059,
    38094, 34503, 31250, 28304, 25635, 23219, 21030, 19047, 17251,
    15625, 14152, 12818, 11609,
]
_DECAY_SQL = "[" + ", ".join(str(x) for x in _DECAY_MICRO) + "]"
_DECAY_MAX_D = len(_DECAY_MICRO) - 1


@register(
    "olap_decayed_topk",
    tags=("bench",),
    oracle=f"""
WITH mx AS (SELECT max(ts) AS now FROM events),
scored AS (
  SELECT e.user_id,
         CAST(round(e.value * 100) AS BIGINT)
           * ({_DECAY_SQL})[least(CAST((epoch_us(mx.now) - epoch_us(e.ts))
                                       // 86400000000 AS BIGINT),
                                  {_DECAY_MAX_D}) + 1] AS contrib
  FROM events e, mx
),
agg AS (
  SELECT user_id, CAST(sum(contrib) AS BIGINT) AS score_scaled,
         CAST(count(*) AS BIGINT) AS n_events
  FROM scored GROUP BY 1
)
SELECT user_id, score_scaled, n_events
FROM agg ORDER BY score_scaled DESC, user_id LIMIT 20
""",
)
def olap_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed leaderboard — the ranking the reference's Redis
    top-k board (EngagementRedisSink.scala:186-197) ships WITHOUT:
    recency weighting. Each event contributes value·2^(−age/half-life)
    (half-life 7 days, DAY-granular decay, age against the corpus max
    ts so the oracle is deterministic; production passes now()), so
    yesterday's engagement outranks last month's at equal volume — the
    freshness-aware serving score. DETERMINISM: the decay curve is a
    46-entry INTEGER literal table round(2^(-d/7)·1e6) inlined in both
    engines (the EWMA-weight convention — no cross-engine pow()), the
    age-in-days index is exact integer division of unix-micros, and
    each contribution cents·decay_micro is an exact bigint product
    summed associatively; ages past the table clamp to its last entry
    (~1% weight; extend or coarsen the table to taste). Top-k orders
    by (bigint score, user_id). Shape: scalar broadcast of the
    reference time, ONE map-side-combined per-user aggregate,
    TakeOrderedAndProject(20) — no global sort, no second shuffle.
    The same decayed score maintains incrementally: per-key
    (score_scaled AT last-update, last_day) state rescaled on read."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    mx = ev.agg(F.max("ts").alias("now"))
    decay = F.array(*[F.lit(x) for x in _DECAY_MICRO])
    # exact integer division (the r02-ADVICE rule: never floor a double
    # quotient of epoch micros)
    day_age = F.least(
        F.expr("(unix_micros(now) - unix_micros(ts)) div 86400000000"),
        F.lit(_DECAY_MAX_D).cast("long"),
    )
    scored = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (
            F.round(F.col("value") * 100, 0).cast("long")
            * F.element_at(decay, (day_age + 1).cast("int"))
        ).alias("contrib"),
    )
    agg = scored.groupBy("user_id").agg(
        F.sum("contrib").alias("score_scaled"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.orderBy(F.col("score_scaled").desc(), "user_id").limit(20)


@register(
    "olap_promo_part_suppliers",
    oracle="""
WITH promo AS (
  SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
),
supply AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem JOIN promo ON l_partkey = p_partkey
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'
  GROUP BY 1, 2
),
part_tot AS (
  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS tot FROM supply GROUP BY 1
),
dominant AS (
  SELECT DISTINCT s.l_suppkey
  FROM supply s JOIN part_tot t USING (l_partkey)
  WHERE s.qty * 2 > t.tot
)
SELECT s_name, s_nationkey
FROM supplier JOIN dominant ON s_suppkey = l_suppkey
ORDER BY s_name
""",
)
def olap_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion), completing the
    engine's 22-query TPC-H-pattern sweep: find suppliers positioned
    to run a promotion on a part family ('red%' parts, two-year ship
    window) — here the partsupp-availability test becomes a DOMINANT-
    SHARE test (the fixture carries no partsupp table): a supplier
    qualifies if it shipped a strict MAJORITY of some promo part's
    volume in the window (qty·2 > part total — exact integer, no float
    ratio). Q20's signature nesting — aggregate, compare against a
    correlated aggregate over the same relation, then semi-join a
    dimension — survives intact. Shape: the promo part list filters
    lineitem BEFORE its one (part, supplier) aggregate (predicate +
    broadcast semi-join pushed to the scan); the part-total is a
    re-aggregation of that rollup (no second fact pass); `dominant`
    is ids-only; the supplier join is broadcast-sized. Scale: one
    fact shuffle keyed (part, supplier) — AQE handles the rest."""
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    supply = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
    )
    part_tot = supply.groupBy("l_partkey").agg(F.sum("qty").alias("tot"))
    dominant = (
        supply.join(part_tot, "l_partkey")
        .filter(F.col("qty") * 2 > F.col("tot"))
        .select("l_suppkey")
        .distinct()
    )
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(dominant, s.s_suppkey == F.col("l_suppkey"))
        .select("s_name", "s_nationkey")
        .orderBy("s_name")
    )


@register(
    "olap_yoy_growth",
    oracle="""
WITH yearly AS (
  SELECT n_name, year(o_orderdate) AS yr,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, CAST(yr AS BIGINT) AS yr, rev_cents,
       lag(rev_cents) OVER (PARTITION BY n_name ORDER BY yr) AS prev_cents,
       CASE WHEN lag(rev_cents) OVER (PARTITION BY n_name ORDER BY yr) > 0
            THEN (rev_cents - lag(rev_cents) OVER (PARTITION BY n_name
                                                   ORDER BY yr)) * 1.0
                 / lag(rev_cents) OVER (PARTITION BY n_name ORDER BY yr)
       END AS yoy_growth
FROM yearly
""",
)
def olap_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation — the reporting staple
    (periodic aggregate + self-comparison) in its scalable form: ONE
    map-side-combined aggregate to the |nations × years| rollup (exact
    integer cents), then lag() and the growth ratio computed on that
    SKETCH-SIZED table — the window never touches fact rows, and the
    only float is one final division in fixed order. Nation is
    broadcast-hinted (always tiny); customer is NOT — at warehouse
    scale it is a fact-sized dim, so its join is left to AQE (broadcast
    at small sf, shuffle at scale — the Q5 convention). NULL growth for
    a nation's first year / zero base (no division blow-up). Same
    envelope computes MoM/WoW by swapping the grain expression."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    yearly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
                "rev_cents"
            )
        )
    )
    w = Window.partitionBy("n_name").orderBy("yr")
    prev = F.lag("rev_cents").over(w)
    return yearly.select(
        "n_name",
        F.col("yr").cast("long").alias("yr"),
        "rev_cents",
        prev.alias("prev_cents"),
        F.when(prev > 0, (F.col("rev_cents") - prev) * 1.0 / prev).alias(
            "yoy_growth"
        ),
    )


@register(
    "olap_abc_pareto",
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS tot FROM rev),
ranked AS (
  SELECT l_partkey, cents,
         sum(cents) OVER (ORDER BY cents DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM rev
)
SELECT l_partkey, cents,
       CASE WHEN (cum - cents) * 10 < tot * 7 THEN 'A'
            WHEN (cum - cents) * 10 < tot * 9 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked, tot
""",
)
def olap_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification — rank parts by revenue
    and split at cumulative 70% / 90% of total (class A carries the
    top 70% of revenue, B the next 20%, C the tail): the
    assortment-planning and cache-tiering primitive (the same cut
    decides which keys get the hot tier). EXACT: per-part revenue in
    integer cents, the class test on cross-multiplied bigints
    ((cum_before)·10 < total·7 — no float share), ties broken by part
    id. Shape: ONE map-side-combined rollup to |parts| rows, a 1-row
    total broadcast, and RANGE-PARTITIONED cumulative ranking (the r03
    "documented swap", now implemented): approxQuantile boundaries on
    cents split the rollup into value ranges, the cumsum window runs
    PER RANGE in parallel, and each range adds a driver-computed
    prefix offset (≤ n_buckets rows collected — bounded by
    construction, the zorder-layout pattern). The final cum is
    bucketing-invariant — offset + within-range cumsum equals the
    global ordered cumsum for ANY monotone boundary set, so the sketch
    boundaries need no cross-partitioning determinism. No
    single-partition window anywhere in the plan (pinned)."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
        )
        .cast("long")
        .alias("c"),
    )
    rev = li.groupBy("l_partkey").agg(F.sum("c").alias("cents"))
    tot = rev.agg(F.sum("cents").alias("tot"))
    ranked, _ = bucketed_running_sum(
        rev, "cents", "cents", ["l_partkey"], descending=True
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "cents",
        F.when((F.col("cum") - F.col("cents")) * 10 < F.col("tot") * 7, "A")
        .when((F.col("cum") - F.col("cents")) * 10 < F.col("tot") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "olap_spatial_join_grid",
    oracle="""
WITH cust AS (
  SELECT c_custkey,
         ('0x' || substr(md5('lon:' || c_custkey), 1, 15))::BIGINT
           % 360000000 AS lon_off,
         ('0x' || substr(md5('lat:' || c_custkey), 1, 15))::BIGINT
           % 180000000 AS lat_off
  FROM customer
),
supp AS (
  SELECT s_suppkey,
         ('0x' || substr(md5('slon:' || s_suppkey), 1, 15))::BIGINT
           % 360000000 AS lon_off,
         ('0x' || substr(md5('slat:' || s_suppkey), 1, 15))::BIGINT
           % 180000000 AS lat_off
  FROM supplier
),
cgrid AS (
  SELECT *, lon_off // 10000000 AS cx, lat_off // 10000000 AS cy FROM cust
),
sgrid AS (
  SELECT s.s_suppkey, s.lon_off, s.lat_off,
         ((s.lon_off // 10000000) + dxs.dx + 36) % 36 AS cx,
         (s.lat_off // 10000000) + dys.dy AS cy
  FROM supp s,
       (SELECT unnest([-1, 0, 1]) AS dx) dxs,
       (SELECT unnest([-1, 0, 1]) AS dy) dys
),
pairs AS (
  SELECT s.s_suppkey, c.c_custkey,
         least(abs(s.lon_off - c.lon_off),
               360000000 - abs(s.lon_off - c.lon_off))
           * least(abs(s.lon_off - c.lon_off),
                   360000000 - abs(s.lon_off - c.lon_off))
           + (s.lat_off - c.lat_off) * (s.lat_off - c.lat_off) AS dist_sq
  FROM sgrid s JOIN cgrid c USING (cx, cy)
)
SELECT s_suppkey, c_custkey, CAST(dist_sq AS BIGINT) AS dist_sq
FROM pairs WHERE dist_sq <= CAST(10000000 AS BIGINT) * 10000000
""",
)
def olap_spatial_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via GRID BUCKETING — the operator Spark has
    no native form for (a naive within-distance join is a cross
    product), expressed as the engine's standard blocked-candidate
    shape: snap points to a grid whose cell size equals the radius,
    expand ONE side to its 3×3 neighborhood (so any pair within the
    radius must share a cell), equi-join on the cell id, then keep
    candidates passing the EXACT distance test — the same
    block-then-verify contract as the LSH/banding dedup family, with
    geometry as the hash. Coordinates are synthetic-deterministic
    micro-degrees derived from key hashes (the fixture carries no geo
    columns; a real deployment projects real lon/lat to the same
    integer micro-degree grid), offset to non-negative so integer
    `div`/`//` agree on the cell floor in both engines, and the
    distance test is exact bigint squares — no floats, no trig.
    Longitude WRAPS at the antimeridian (r04, formerly a documented
    delta): neighbor cells wrap mod 36 ((cx+dx+36)%36 — cell 0 and
    cell 35 are adjacent) and the lon delta is the torus distance
    least(|Δ|, 360e6−|Δ|), both expression-only changes on the same
    plan. Latitude keeps the planar form (no pole wrap in the grid
    approximation; haversine refinement remains the documented
    production delta — it only reweights verified candidates, the
    blocking is unchanged). Shape: each side
    scans once; the 9× fan-out multiplies the SMALLER side; one
    (cx, cy) equi-join — at 100 TB this is the point-in-polygon /
    nearest-facility workhorse, skew-safe because cell occupancy is
    bounded by geography, and AQE splits hot cells like any hot key."""
    mdint = (
        lambda prefix, col: F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
    )
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        (mdint("lon:", F.col("c_custkey")) % 360000000).alias("lon_off"),
        (mdint("lat:", F.col("c_custkey")) % 180000000).alias("lat_off"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (mdint("slon:", F.col("s_suppkey")) % 360000000).alias("lon_off"),
        (mdint("slat:", F.col("s_suppkey")) % 180000000).alias("lat_off"),
    )
    cgrid = cust.select(
        "c_custkey",
        "lon_off",
        "lat_off",
        F.expr("lon_off div 10000000").alias("cx"),
        F.expr("lat_off div 10000000").alias("cy"),
    )
    sgrid = (
        supp.select(
            "s_suppkey",
            "lon_off",
            "lat_off",
            F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dx"),
        )
        .select(
            "*", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("dy")
        )
        .select(
            "s_suppkey",
            F.col("lon_off").alias("s_lon"),
            F.col("lat_off").alias("s_lat"),
            (
                (F.expr("lon_off div 10000000") + F.col("dx") + 36) % 36
            ).alias("cx"),
            (F.expr("lat_off div 10000000") + F.col("dy")).alias("cy"),
        )
    )
    dlon = F.least(
        F.abs(F.col("s_lon") - F.col("lon_off")),
        F.lit(360000000).cast("long")
        - F.abs(F.col("s_lon") - F.col("lon_off")),
    )
    pairs = sgrid.join(cgrid, ["cx", "cy"]).select(
        "s_suppkey",
        "c_custkey",
        (
            dlon * dlon
            + (F.col("s_lat") - F.col("lat_off"))
            * (F.col("s_lat") - F.col("lat_off"))
        ).alias("dist_sq"),
    )
    return pairs.filter(
        F.col("dist_sq") <= F.lit(10000000).cast("long") * 10000000
    )


def _bfs_oracle(rounds: int, source: int, thr: int) -> str:
    head = f"""WITH edges AS (
  SELECT src, dst FROM (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
               AS BIGINT)) AS w
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
  ) WHERE w >= {thr}
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
h0 AS (SELECT node, CASE WHEN node = {source} THEN CAST(0 AS BIGINT)
                         ELSE CAST(1000000 AS BIGINT) END AS hop
       FROM nodes)"""
    step = """,
h{k} AS MATERIALIZED (
  SELECT n.node,
         least(p.hop, coalesce(m.reach, 1000000)) AS hop
  FROM nodes n
  JOIN h{prev} p ON p.node = n.node
  LEFT JOIN (
    SELECT e.dst AS node, min(p2.hop + 1) AS reach
    FROM edges e JOIN h{prev} p2 ON p2.node = e.src
    WHERE p2.hop < 1000000
    GROUP BY 1
  ) m ON m.node = n.node
)"""
    body = "".join(step.format(k=k, prev=k - 1) for k in range(1, rounds + 1))
    return f"""
{head}{body}
SELECT node AS nationkey,
       CASE WHEN hop < 1000000 THEN hop END AS hop
FROM h{rounds}
"""


@register("olap_nation_bfs_hops", oracle=_bfs_oracle(4, 0, 900000000))
def olap_nation_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance over the HEAVY-trade nation graph (edges kept
    only where pair revenue ≥ a fixed cent threshold — the dense
    trade matrix thresholds down to a sparse partner graph), from
    source nation 0, four synchronous rounds — the reachability /
    shortest-unweighted-path member of the graph family (PageRank =
    influence, LPA = communities, triangles = cohesion, CC = identity,
    BFS = distance). Each round is the scalable frontier shape: the
    O(|nodes|) hop table joins the edge list, min-aggregates per
    destination (map-side combinable), and least()-merges into the
    previous hops — exact integers with a 1e6 sentinel for
    unreached, so the unrolled-SQL oracle reproduces every round
    bit-for-bit (the PageRank convention). Unreached nodes surface as
    NULL. At scale: rounds are bounded by graph diameter; each round
    shuffles O(|frontier edges|) ids — the Pregel iteration as plain
    DataFrame algebra."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.sum(cents).alias("w"))
        .filter(F.col("w") >= 900000000)
        .select("src", "dst")
        .localCheckpoint()  # iterate over the materialized sparse edge list
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    hops = nodes.select(
        "node",
        F.when(F.col("node") == 0, F.lit(0).cast("long"))
        .otherwise(F.lit(1000000).cast("long"))
        .alias("hop"),
    )
    for _ in range(4):
        reach = (
            edges.join(
                F.broadcast(hops.filter(F.col("hop") < 1000000)),
                edges.src == F.col("node"),
            )
            .groupBy(F.col("dst").alias("rnode"))
            .agg(F.min(F.col("hop") + 1).alias("reach"))
        )
        hops = (
            hops.join(F.broadcast(reach), hops.node == F.col("rnode"), "left")
            .select(
                "node",
                F.least(
                    F.col("hop"), F.coalesce(F.col("reach"), F.lit(1000000))
                ).alias("hop"),
            )
        )
    return hops.select(
        F.col("node").alias("nationkey"),
        F.when(F.col("hop") < 1000000, F.col("hop")).alias("hop"),
    )


@register(
    "olap_attribution_last_touch",
    oracle="""
WITH touches AS (
  SELECT user_id, ts, event_id,
         'ch' || (CAST(json_extract(props, '$.k') AS BIGINT) % 5) AS channel
  FROM events WHERE event_type IN ('view', 'click')
),
convs AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
tl AS (
  SELECT user_id, ts, event_id, 0 AS tag, channel,
         CAST(NULL AS BIGINT) AS cents FROM touches
  UNION ALL
  SELECT user_id, ts, event_id, 1 AS tag, NULL, cents FROM convs
),
carried AS (
  SELECT *,
         last_value(channel IGNORE NULLS) OVER w AS last_channel,
         last_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS) OVER w
           AS last_touch_ts
  FROM tl
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, tag, event_id
               ROWS UNBOUNDED PRECEDING)
),
attributed AS (
  SELECT CASE WHEN last_touch_ts IS NOT NULL
                AND ts - last_touch_ts <= INTERVAL 7 DAY
              THEN last_channel ELSE 'direct' END AS channel,
         cents
  FROM carried WHERE tag = 1
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM attributed GROUP BY 1
""",
)
def olap_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style LAST-TOUCH attribution — every purchase credits
    the user's most recent view/click within a 7-day lookback, else
    'direct': the revenue-accounting query behind channel ROI. The
    per-conversion "most recent touch at or before ts" is the AS-OF
    join, expressed with the engine's union-and-carry idiom
    (`olap_asof_last_order`): touches and conversions interleave on
    the (ts, tag, event_id) total order per user, an IGNORE-NULLS
    last_value window carries the latest touch's channel and time
    into each conversion row — ONE user_id exchange serves the whole
    join, no per-conversion probe — and the lookback test is an exact
    timestamp comparison. Channel derives deterministically from the
    event's JSON props (json path → int → bucket). Credit then
    map-side-combines to |channels| rows of exact bigint cents.
    Swapping the carry expression gives first-touch; adding a second
    IGNORE-NULLS column gives linear/U-shaped credit on the same
    single exchange."""
    ev = t(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "ts",
        "event_id",
        F.lit(0).alias("tag"),
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("long") % 5).cast("string"),
        ).alias("channel"),
        F.lit(None).cast("long").alias("cents"),
    )
    convs = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("tag"),
        F.lit(None).cast("string").alias("channel"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = touches.unionByName(convs).select(
        "*",
        F.last("channel", ignorenulls=True).over(w).alias("last_channel"),
        F.last(
            F.when(F.col("tag") == 0, F.col("ts")), ignorenulls=True
        )
        .over(w)
        .alias("last_touch_ts"),
    )
    attributed = carried.filter(F.col("tag") == 1).select(
        F.when(
            F.col("last_touch_ts").isNotNull()
            & (
                F.col("ts")
                <= F.col("last_touch_ts") + F.expr("INTERVAL 7 DAY")
            ),
            F.col("last_channel"),
        )
        .otherwise("direct")
        .alias("channel"),
        "cents",
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum("cents").alias("revenue_cents"),
    )


# --- r04 additions: basket, autocorrelation, forecast, RFM -------------------


@register(
    "olap_market_basket",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
item_cnt AS (
  SELECT l_partkey, count(*) AS cnt FROM items GROUP BY 1
),
pair_cnt AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, count(*) AS support_xy
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, p.support_xy,
       ia.cnt AS support_x, ib.cnt AS support_y,
       CAST(p.support_xy AS DOUBLE) / ia.cnt AS confidence,
       CAST(p.support_xy AS DOUBLE) * n.n_orders
         / (CAST(ia.cnt AS DOUBLE) * ib.cnt) AS lift
FROM pair_cnt p
JOIN item_cnt ia ON ia.l_partkey = p.item_a
JOIN item_cnt ib ON ib.l_partkey = p.item_b
CROSS JOIN n
WHERE p.support_xy >= 2
""",
)
def olap_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (support / confidence / lift)
    over order line items — the co-purchase primitive behind
    "frequently bought together" and cross-sell ranking. Candidate
    pairs come from a SELF-EQUI-JOIN on the order key with pk_a < pk_b
    — per-order quadratic, but bounded by items-per-order (≤13 in the
    fixture, single digits in any real basket), the same sharp-key
    blocking contract as linkage_fuzzy_parts: the join never pairs
    items across orders, so cost is Σ|basket|², not |items|². Supports
    are exact bigint counts; confidence and lift divide through
    explicit DOUBLE casts (the DECIMAL-vs-IEEE trap from the
    determinism rules). min-support 2 prunes the singleton noise
    BEFORE the metric joins — the item-count joins see only surviving
    pairs. Shape at 100 TB: one distinct-items rollup, one per-order
    pair expansion (map-side bounded), two broadcast-or-shuffled
    equi-joins against the |items| count table, and a 1-row order
    count broadcast."""
    items = (
        t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    n = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    item_cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a = items.alias("a")
    b = items.alias("b")
    pair_cnt = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("item_a"),
            F.col("b.l_partkey").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("support_xy"))
        .filter(F.col("support_xy") >= 2)
    )
    ia = item_cnt.select(
        F.col("l_partkey").alias("item_a"), F.col("cnt").alias("support_x")
    )
    ib = item_cnt.select(
        F.col("l_partkey").alias("item_b"), F.col("cnt").alias("support_y")
    )
    return (
        pair_cnt.join(ia, "item_a")
        .join(ib, "item_b")
        .crossJoin(F.broadcast(n))
        .select(
            "item_a",
            "item_b",
            "support_xy",
            "support_x",
            "support_y",
            (
                F.col("support_xy").cast("double") / F.col("support_x")
            ).alias("confidence"),
            (
                F.col("support_xy").cast("double")
                * F.col("n_orders")
                / (F.col("support_x").cast("double") * F.col("support_y"))
            ).alias("lift"),
        )
    )


_ACF_MAX_LAG = 6


@register(
    "timeseries_autocorrelation",
    tags=("bench",),
    oracle=f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT s1.event_type, s2.h - s1.h AS lag,
         s1.x AS xa, s2.x AS xb
  FROM hourly s1
  JOIN (SELECT unnest(range(1, {_ACF_MAX_LAG + 1})) AS l) lags
    ON true
  JOIN hourly s2
    ON s2.event_type = s1.event_type AND s2.h = s1.h + lags.l
),
moments AS (
  SELECT event_type, lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(xa) AS BIGINT) AS s1, CAST(sum(xb) AS BIGINT) AS s2,
         CAST(sum(xa * xa) AS BIGINT) AS s11,
         CAST(sum(xb * xb) AS BIGINT) AS s22,
         CAST(sum(xa * xb) AS BIGINT) AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, lag, n_pairs,
       CASE WHEN (n_pairs * s11 - s1 * s1) > 0
             AND (n_pairs * s22 - s2 * s2) > 0
            THEN CAST(n_pairs * sxy - s1 * s2 AS DOUBLE)
                 / sqrt(CAST(n_pairs * s11 - s1 * s1 AS DOUBLE)
                        * CAST(n_pairs * s22 - s2 * s2 AS DOUBLE))
       END AS acf
FROM moments
""",
)
def timeseries_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1..6) of each hourly count
    series — the seasonality/burstiness detector (a daily-periodic
    series spikes at lag 24; a bursty one decays fast): feature
    screening before forecasting and the statistical cousin of
    timeseries_seasonal_decompose. Lagged pairs come from an EQUI-join
    of the hourly rollup to itself on (series, h + lag) after a 6×
    lag fan-out of one side — never a window over raw events and
    never a range join. All five moment sums are exact bigints
    (counts bounded keep n·s11 far inside int64); the Pearson ratio
    is assembled in ONE fixed-order double expression with explicit
    casts (no DECIMAL intermediates), null when a side is constant.
    Shape at 100 TB: the fan-out multiplies the |series × hours|
    rollup only; one grouped aggregation per (series, lag) —
    map-side combined, associative across shards."""
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
        # consumed by BOTH join sides: without the pin each side re-derives
        # the rollup from its own events scan (2 scans + 2 agg exchanges);
        # the |series × hours| table is tiny at any scale. Lazy (r12,
        # ADVICE r11): no blocking job at build time — first action
        # computes it once for both sides.
        .localCheckpoint(eager=False)
    )
    lagged = hourly.select(
        "event_type",
        "h",
        F.col("x").alias("xa"),
        F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG))).alias("lag"),
    ).select("event_type", (F.col("h") + F.col("lag")).alias("th"), "lag", "xa")
    pairs = lagged.join(
        hourly.select(
            "event_type", F.col("h").alias("th"), F.col("x").alias("xb")
        ),
        ["event_type", "th"],
    )
    m = pairs.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("xa").alias("s1"),
        F.sum("xb").alias("s2"),
        F.sum(F.col("xa") * F.col("xa")).alias("s11"),
        F.sum(F.col("xb") * F.col("xb")).alias("s22"),
        F.sum(F.col("xa") * F.col("xb")).alias("sxy"),
    )
    var_a = F.col("n_pairs") * F.col("s11") - F.col("s1") * F.col("s1")
    var_b = F.col("n_pairs") * F.col("s22") - F.col("s2") * F.col("s2")
    num = F.col("n_pairs") * F.col("sxy") - F.col("s1") * F.col("s2")
    return m.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        "n_pairs",
        F.when(
            (var_a > 0) & (var_b > 0),
            num.cast("double")
            / F.sqrt(var_a.cast("double") * var_b.cast("double")),
        ).alias("acf"),
    )


# epoch-hour origin (2024-01-01) keeps regression x-values small so
# n·sxx stays ~1e12, far inside int64 at any SF
_OLS_X0 = 473352
_OLS_HORIZON = 3


@register(
    "timeseries_linear_forecast",
    tags=("bench",),
    oracle=f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) - {_OLS_X0} AS x,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
fit AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(cents) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * cents) AS BIGINT) AS sxy,
         CAST(max(x) AS BIGINT) AS x_last
  FROM hourly GROUP BY 1
),
coef AS (
  SELECT event_type, n, x_last,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
         (CAST(sy AS DOUBLE)
           - CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS intercept
  FROM fit WHERE n * sxx - sx * sx > 0
)
SELECT c.event_type, c.slope, c.intercept,
       CAST(c.x_last + s.step AS BIGINT) AS x_future,
       c.intercept + c.slope * CAST(c.x_last + s.step AS DOUBLE)
         AS forecast_cents
FROM coef c, (SELECT unnest(range(1, {_OLS_HORIZON + 1})) AS step) s
""",
)
def timeseries_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series trend forecast by ordinary least squares — the
    capacity-planning baseline (next-3-hours load from the hourly
    revenue trend; Holt's level+trend smoother fitted over a window
    degenerates to exactly this regression). The whole fit is ONE
    map-side-combined aggregation per series: n, Σx, Σy, Σx², Σxy,
    max(x) — the textbook sufficient statistics, exact bigints with x
    re-origined to epoch-hour {_OLS_X0} (2024-01-01) so n·Σx² stays
    ~1e12. Slope and intercept assemble in fixed-order double
    expressions with explicit casts (n·Σxy − ΣxΣy can pass 2^53 — the
    DECIMAL trap); the 3-step horizon is a pure projection fan-out of
    the |series| coefficient rows. Degenerate series (single hour,
    zero x-variance) drop out via the determinant guard. At 100 TB:
    the scan is the only data-sized stage — sufficient statistics are
    associative, so the fit shuffles k·|series| partials, nothing
    else."""
    hourly = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (
                (F.unix_seconds(F.col("ts")) / 3600).cast("long") - _OLS_X0
            ).alias("x"),
        )
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    )
    fit = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("cents")).alias("sxy"),
        F.max("x").alias("x_last"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    s_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = s_num.cast("double") / det.cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    coef = fit.filter(det > 0).select(
        "event_type",
        slope.alias("slope"),
        intercept.alias("intercept"),
        "x_last",
    )
    return coef.select(
        "event_type",
        "slope",
        "intercept",
        "x_last",
        F.explode(F.sequence(F.lit(1), F.lit(_OLS_HORIZON))).alias("step"),
    ).select(
        "event_type",
        "slope",
        "intercept",
        (F.col("x_last") + F.col("step")).cast("long").alias("x_future"),
        (
            F.col("intercept")
            + F.col("slope") * (F.col("x_last") + F.col("step")).cast("double")
        ).alias("forecast_cents"),
    )


@register(
    "olap_rfm_segments",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         CAST(max(epoch_us(ts) // 86400000000) AS BIGINT) AS r_day,
         CAST(count(*) AS BIGINT) AS f_cnt,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m_cents
  FROM events GROUP BY 1
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_user),
rs AS (
  SELECT v, ((cum - c) * 5) // nn.n AS s FROM (
    SELECT r_day AS v, count(*) AS c,
           sum(count(*)) OVER (ORDER BY r_day) AS cum
    FROM per_user GROUP BY r_day) h, nn
),
fs AS (
  SELECT v, ((cum - c) * 5) // nn.n AS s FROM (
    SELECT f_cnt AS v, count(*) AS c,
           sum(count(*)) OVER (ORDER BY f_cnt) AS cum
    FROM per_user GROUP BY f_cnt) h, nn
),
ms AS (
  SELECT v, ((cum - c) * 5) // nn.n AS s FROM (
    SELECT m_cents AS v, count(*) AS c,
           sum(count(*)) OVER (ORDER BY m_cents) AS cum
    FROM per_user GROUP BY m_cents) h, nn
)
SELECT u.user_id,
       CAST(rs.s AS BIGINT) AS r_score,
       CAST(fs.s AS BIGINT) AS f_score,
       CAST(ms.s AS BIGINT) AS m_score,
       CAST(rs.s * 100 + fs.s * 10 + ms.s AS BIGINT) AS rfm_code
FROM per_user u
JOIN rs ON rs.v = u.r_day
JOIN fs ON fs.v = u.f_cnt
JOIN ms ON ms.v = u.m_cents
""",
)
def olap_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quintile
    scores per user, the classic lifecycle-marketing cut ("champions"
    = 444, "at risk" = high M, low R). Each metric's quintile comes
    from the HISTOGRAM-RANK idiom (the percent_rank swap): rank math
    runs on the |distinct values| histogram, cumulated
    range-partitioned (bucketed_running_sum — no single-partition
    window), and the score is PURE INTEGER math,
    (rows_strictly_below · 5) div N ∈ [0,4] — deterministic across
    engines and partitionings, ties share a score by construction.
    Scores join back to users on the metric value (three bounded
    histogram joins). Recency scores on last-active day ascending —
    later day → more rows below → higher score — so all three metrics
    share one formula. Shape at 100 TB: one per-user rollup (the only
    data-sized stage), three histogram aggregations over it, three
    equi-joins back; nothing quadratic, nothing globally sorted."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value")
    per_user = ev.groupBy("user_id").agg(
        F.expr("max(unix_micros(ts) div 86400000000)").alias("r_day"),
        F.count(F.lit(1)).alias("f_cnt"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("m_cents"),
    )
    # the three histogram builds each run boundary/offset actions
    # against per_user during plan construction — cache for THAT phase
    # only (the kmeans_fit lifetime pattern: released before return, so
    # registry-wide sweeps accumulate nothing; the returned plan
    # recomputes the rollup in one pass)
    per_user.persist()
    try:
        nn = F.broadcast(per_user.agg(F.count(F.lit(1)).alias("n")))

        def quintiles(metric: str, score: str) -> DataFrame:
            hist = per_user.groupBy(metric).agg(F.count(F.lit(1)).alias("c"))
            cum, bcol = bucketed_running_sum(hist, "c", metric)
            return cum.crossJoin(nn).select(
                metric,
                F.expr("((cum - c) * 5) div n").cast("long").alias(score),
            )

        scored = (
            per_user.join(quintiles("r_day", "r_score"), "r_day")
            .join(quintiles("f_cnt", "f_score"), "f_cnt")
            .join(quintiles("m_cents", "m_score"), "m_cents")
        )
    finally:
        per_user.unpersist(blocking=False)
    return scored.select(
        "user_id",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("long")
        .alias("rfm_code"),
    )


_MARKOV_ROUNDS = 20


def _markov_attribution_oracle(rounds: int = _MARKOV_ROUNDS) -> str:
    """Unrolled value-iteration twin of olap_attribution_markov:
    identical integer micro-unit floors at every step (PageRank/BFS
    oracle convention). Each v{k} is referenced exactly once by
    v{k+1}, so the CTE chain stays linear — no AS MATERIALIZED needed
    (the PCA lesson applies only to multiply-referenced CTEs)."""
    head = """
WITH touches AS (
  SELECT * FROM (
    SELECT user_id, ts, event_id,
           'ch' || (CAST(json_extract(props, '$.k') AS BIGINT) % 5) AS channel
    FROM events WHERE event_type IN ('view', 'click')
  ) WHERE channel IS NOT NULL
),
conv_users AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
seq AS (
  SELECT t.user_id, t.channel,
         lag(t.channel) OVER w AS prev_ch,
         lead(t.channel) OVER w AS next_ch,
         CASE WHEN cu.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv
  FROM touches t LEFT JOIN conv_users cu USING (user_id)
  WINDOW w AS (PARTITION BY t.user_id ORDER BY t.ts, t.event_id)
),
raw_edges AS (
  SELECT coalesce(prev_ch, 'START') AS src, channel AS dst FROM seq
  UNION ALL
  SELECT channel, CASE WHEN conv = 1 THEN 'CONV' ELSE 'NULLST' END
  FROM seq WHERE next_ch IS NULL
),
cnt AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM raw_edges GROUP BY 1, 2
),
p AS (
  SELECT src, dst,
         c * 1000000 // sum(c) OVER (PARTITION BY src) AS p_micro
  FROM cnt
),
scen AS (
  SELECT unnest(['base', 'ch0', 'ch1', 'ch2', 'ch3', 'ch4']) AS removed
),
sedges AS MATERIALIZED (
  SELECT s.removed, p.src,
         CASE WHEN p.dst = s.removed THEN 'NULLST' ELSE p.dst END AS dst,
         CAST(sum(p.p_micro) AS BIGINT) AS p_micro
  FROM p, scen s
  WHERE p.src <> s.removed
  GROUP BY 1, 2, 3
),
states AS MATERIALIZED (
  SELECT DISTINCT removed, src AS st FROM sedges
  UNION SELECT DISTINCT removed, dst FROM sedges
),
v0 AS MATERIALIZED (
  SELECT removed, st,
         CAST(CASE WHEN st = 'CONV' THEN 1000000 ELSE 0 END AS BIGINT) AS v
  FROM states
)"""
    step = """,
v{k} AS MATERIALIZED (
  SELECT s.removed, s.st,
         CAST(CASE WHEN s.st = 'CONV' THEN 1000000
                   WHEN s.st = 'NULLST' THEN 0
                   ELSE coalesce(m.s, 0) END AS BIGINT) AS v
  FROM states s
  LEFT JOIN (
    SELECT e.removed, e.src AS st,
           sum(e.p_micro * p.v // 1000000) AS s
    FROM sedges e JOIN v{prev} p
      ON p.removed = e.removed AND p.st = e.dst
    GROUP BY 1, 2
  ) m ON m.removed = s.removed AND m.st = s.st
)"""
    body = "".join(step.format(k=k, prev=k - 1) for k in range(1, rounds + 1))
    return f"""{head}{body}
SELECT r.removed AS scenario,
       r.v AS start_v_micro,
       CASE WHEN r.removed <> 'base' THEN b.v - r.v END
         AS removal_effect_micro
FROM v{rounds} r
CROSS JOIN (SELECT v FROM v{rounds}
            WHERE removed = 'base' AND st = 'START') b(v)
WHERE r.st = 'START'
"""


@register("olap_attribution_markov", oracle=_markov_attribution_oracle())
def olap_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain REMOVAL-EFFECT attribution — the data-driven
    counterpoint to last-touch (olap_attribution_last_touch): user
    journeys become a first-order chain (START → channels → CONV/NULL
    absorbing), and each channel's credit is how much the start-state
    conversion probability DROPS when paths through that channel are
    redirected to the null state — the standard removal-effect model.

    Determinism contract (the iterative-family convention):
    transition probabilities are integer micro-units via `div`, each
    value-iteration term floors (p·v div 1e6) before the incoming
    sum, fixed _MARKOV_ROUNDS=20 rounds — bit-identical to the unrolled-SQL
    oracle. All six scenarios (base + 5 removals) iterate TOGETHER as
    one (scenario, state) value table.

    Scale shape: the only data-sized stages are the journey windows
    (ONE user_id exchange: lag/lead per user) and the transition
    count rollup (map-side combined). The chain itself is
    |channels|+3 states × 6 scenarios ≤ ~300 probability rows —
    collected ONCE (bounded by the state-space construction, the PCA
    d²-fold precedent) and value-iterated driver-side in exact Python
    ints; at any corpus size the driver holds the transition matrix,
    never data."""
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events")
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.concat(
                F.lit("ch"),
                (F.get_json_object("props", "$.k").cast("long") % 5).cast(
                    "string"
                ),
            ).alias("channel"),
        )
        # rows with missing/non-numeric props.k have a NULL channel in
        # BOTH engines — filtered here as in the oracle (and a None in
        # the driver-side scenario solve would crash sorted())
        .filter(F.col("channel").isNotNull())
    )
    conv_users = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("conv", F.lit(1))
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        touches.join(F.broadcast(conv_users), "user_id", "left")
        .withColumn("prev_ch", F.lag("channel").over(w))
        .withColumn("next_ch", F.lead("channel").over(w))
    )
    incoming = seq.select(
        F.coalesce("prev_ch", F.lit("START")).alias("src"),
        F.col("channel").alias("dst"),
    )
    final = seq.filter(F.col("next_ch").isNull()).select(
        F.col("channel").alias("src"),
        F.when(F.col("conv") == 1, "CONV").otherwise("NULLST").alias("dst"),
    )
    cnt = (
        incoming.unionByName(final)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    out = cnt.groupBy(F.col("src").alias("osrc")).agg(F.sum("c").alias("tot"))
    probs = cnt.join(out, cnt.src == out.osrc).select(
        "src", "dst", F.expr("c * 1000000 div tot").alias("p_micro")
    )
    # bounded collect: ≤ (|channels|+3)^2 transition rows
    edges = [(r.src, r.dst, int(r.p_micro)) for r in probs.collect()]
    # the scenario list is FIXED (mirrors the oracle's scen CTE): a
    # channel absent from the data yields removal_effect 0, not a
    # missing row — deriving scenarios from observed edges would
    # row-count-diverge from the oracle on any fixture missing one
    scenarios = ["base", "ch0", "ch1", "ch2", "ch3", "ch4"]
    rows = []
    base_v = None
    for removed in scenarios:
        se: dict[tuple[str, str], int] = {}
        for s, d, pm in edges:
            if s == removed:
                continue
            d2 = "NULLST" if d == removed else d
            se[(s, d2)] = se.get((s, d2), 0) + pm
        states = {s for s, _ in se} | {d for _, d in se}
        v = {st: (1000000 if st == "CONV" else 0) for st in states}
        for _ in range(_MARKOV_ROUNDS):
            nxt = {}
            for st in states:
                if st == "CONV":
                    nxt[st] = 1000000
                elif st == "NULLST":
                    nxt[st] = 0
                else:
                    nxt[st] = sum(
                        pm * v[d] // 1000000
                        for (s, d), pm in se.items()
                        if s == st
                    )
            v = nxt
        sv = v.get("START", 0)
        if removed == "base":
            base_v = sv
        rows.append((removed, sv))
    return spark.createDataFrame(
        [
            (
                sc,
                sv,
                (base_v - sv) if sc != "base" else None,
            )
            for sc, sv in rows
        ],
        "scenario string, start_v_micro bigint, removal_effect_micro bigint",
    )


@register(
    "olap_interpurchase_time",
    oracle="""
WITH gaps AS (
  SELECT o_custkey,
         CAST(epoch_us(o_orderdate)
              - epoch_us(lag(o_orderdate) OVER
                  (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
              AS BIGINT) // 86400000000 AS gap_days
  FROM orders
),
g AS (SELECT * FROM gaps WHERE gap_days IS NOT NULL),
cust AS (SELECT c_custkey, c_mktsegment FROM customer)
SELECT c.c_mktsegment AS segment,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(sum(g.gap_days) AS BIGINT) AS sum_gap_days,
       CAST(median(g.gap_days) AS DOUBLE) AS median_gap_days,
       CAST(sum(CASE WHEN g.gap_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_within_30d
FROM g JOIN cust c ON c.c_custkey = g.o_custkey
GROUP BY 1
""",
)
def olap_interpurchase_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpurchase-time (survival) analysis — the repeat-behavior
    primitive behind churn models and reorder reminders: per customer,
    day gaps between CONSECUTIVE orders (lag window partitioned by
    customer — the per-key ordered window that scales, one customer
    exchange), rolled up per market segment into gap count, total,
    exact median, and the 30-day "survival" count (repeats landing
    within the window). Gaps are exact integer days via
    epoch-micros floor-div (the micro-precision gotcha: second-level
    epoch rounds vs truncates differently across engines); the median
    of INTEGER gaps interpolates identically in Spark's exact
    `percentile` and DuckDB's `median`. Shape at 100 TB: one orders
    exchange on custkey, a broadcast dimension join, one
    map-side-combined rollup to |segments| rows — median is the only
    non-algebraic aggregate, computed per small group."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.expr(
            "(unix_micros(o_orderdate)"
            " - unix_micros(lag(o_orderdate) OVER"
            "     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)))"
            " div 86400000000"
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        gaps.join(F.broadcast(c), gaps.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_days").alias("sum_gap_days"),
            F.expr("percentile(gap_days, 0.5)").alias("median_gap_days"),
            F.sum(
                F.when(F.col("gap_days") <= 30, 1).otherwise(0)
            ).alias("n_within_30d"),
        )
    )


@register(
    "olap_new_vs_returning",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         CAST(min(epoch_us(ts) // 86400000000) AS BIGINT) AS first_day
  FROM events GROUP BY 1
),
daily AS (
  SELECT CAST(epoch_us(e.ts) // 86400000000 AS BIGINT) AS day,
         e.user_id, f.first_day
  FROM events e JOIN firsts f USING (user_id)
)
SELECT day,
       CAST(count(DISTINCT CASE WHEN day = first_day THEN user_id END)
            AS BIGINT) AS new_users,
       CAST(count(DISTINCT CASE WHEN day > first_day THEN user_id END)
            AS BIGINT) AS returning_users
FROM daily GROUP BY 1
""",
)
def olap_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split NEW vs RETURNING — the growth-
    accounting companion of olap_cohort_retention (same first-touch
    spine, aggregated to the acquisition/retention composition per
    day instead of the cohort triangle). A user's first active day
    comes from one map-side-combined min; the daily split is
    conditional COUNT(DISTINCT) on first-day equality. Exact integer
    epoch days (micros floor-div). Shape at 100 TB: the firsts rollup
    is |users| rows shuffled once on user_id; the split re-joins
    events to it on the same key (co-partitioned with the rollup's
    exchange) and expands distinct aggregation per day — Spark plans
    the two conditional distincts via expand, one exchange on
    (day, user)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = ev.join(firsts, "user_id")
    return daily.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("day") == F.col("first_day"), F.col("user_id"))
        ).alias("new_users"),
        F.countDistinct(
            F.when(F.col("day") > F.col("first_day"), F.col("user_id"))
        ).alias("returning_users"),
    )


@register(
    "olap_mv_join_delta",
    oracle="""
SELECT o.o_orderkey, o.o_orderdate, c.c_custkey, c.c_mktsegment,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
""",
)
def olap_mv_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance — the delta-join rule, the
    other half of IVM (`olap_mv_incremental_refresh` covers aggregate
    views): for V = O ⋈ C under inserts ΔO, ΔC,
    ΔV = ΔO⋈C_old ∪ O_old⋈ΔC ∪ ΔO⋈ΔC, and the maintained view is the
    stored base union the three delta joins — the fact table is never
    re-joined in full. Here orders after a date cutoff play ΔO and a
    customer-key slice plays ΔC (simulated dimension inserts); the
    oracle is the FULL join, and base ∪ deltas matching it
    value-hash-exactly IS the maintenance-correctness claim (the
    four-way union is a disjoint partition of O×C matches, so no
    dedup step is needed — multiset semantics preserved). Scale
    shape: each delta join probes |Δ| against a broadcast or
    co-partitioned side; at 100 TB the base join is the stored view
    (zero cost at refresh), ΔO is partition-pruned by date, and the
    refresh cost is O(|ΔO| + |ΔC| fan-in) — independent of view
    history. Retractions propagate the same joins with tombstone
    rows."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    o_base = o.filter(F.col("o_orderdate") < cutoff)
    o_delta = o.filter(F.col("o_orderdate") >= cutoff)
    c_base = c.filter(F.col("c_custkey") % 20 != 0)
    c_delta = c.filter(F.col("c_custkey") % 20 == 0)

    def j(lo: DataFrame, rc: DataFrame) -> DataFrame:
        return lo.join(rc, lo.o_custkey == rc.c_custkey).select(
            "o_orderkey", "o_orderdate", "c_custkey", "c_mktsegment", "cents"
        )

    base_view = j(o_base, c_base)  # the stored MV (rebuilt here for the check)
    maintained = (
        base_view.unionByName(j(o_delta, c_base))
        .unionByName(j(o_base, c_delta))
        .unionByName(j(o_delta, c_delta))
    )
    return maintained


def _kcore_oracle(rounds: int, k: int, thr: int) -> str:
    """Unrolled peeling twin of olap_nation_kcore — one CTE per
    synchronous round (the BFS/PageRank oracle convention); each s{j}
    is referenced by s{j+1} and by the degree subquery, so rounds are
    AS MATERIALIZED (the multiply-referenced-CTE lesson)."""
    head = f"""
WITH dedges AS (
  SELECT src, dst FROM (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
               AS BIGINT)) AS w
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
  ) WHERE w >= {thr} AND src <> dst
),
edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM dedges UNION ALL SELECT dst, src FROM dedges
  )
),
s0 AS MATERIALIZED (
  SELECT DISTINCT src AS node FROM edges
)"""
    step = f""",
s{{j}} AS MATERIALIZED (
  SELECT e.src AS node
  FROM edges e
  JOIN s{{prev}} a ON a.node = e.src
  JOIN s{{prev}} b ON b.node = e.dst
  GROUP BY 1 HAVING count(*) >= {k}
)"""
    body = "".join(step.format(j=j, prev=j - 1) for j in range(1, rounds + 1))
    return f"""{head}{body}
SELECT s.node AS nationkey, CAST(d.deg AS BIGINT) AS core_degree
FROM s{rounds} s
JOIN (
  SELECT e.src AS node, count(*) AS deg
  FROM edges e
  JOIN s{rounds} a ON a.node = e.src
  JOIN s{rounds} b ON b.node = e.dst
  GROUP BY 1
) d ON d.node = s.node
"""


_KCORE_K = 3
_KCORE_ROUNDS = 6


@register(
    "olap_nation_kcore",
    oracle=_kcore_oracle(_KCORE_ROUNDS, _KCORE_K, 900000000),
)
def olap_nation_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the heavy-trade nation graph
    (undirected, symmetrized, self-loops dropped) — the cohesion-
    hierarchy member of the graph family (who survives when nodes
    with < k strong partners peel away): synchronous peeling, each
    round recomputing degrees WITHIN the surviving set and dropping
    sub-k nodes, fixed rounds chosen past the peel depth (a round
    that removes nobody is a fixpoint, so extra rounds are no-ops —
    the fixed count makes the unrolled-SQL oracle bit-exact, the
    BFS/PageRank convention). Exact integer degrees throughout.
    Output: the k-core members with their in-core degree. Scale
    shape: the edge extraction is the one data-sized stage; each peel
    round is two broadcast semi-joins of the O(|nodes|) survivor set
    against the sparse edge list plus a map-side-combined degree
    count — Pregel peeling as DataFrame algebra."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    directed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.sum(cents).alias("w"))
        .filter((F.col("w") >= 900000000) & (F.col("src") != F.col("dst")))
        .select("src", "dst")
    )
    edges = (
        directed.unionByName(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    surv = edges.select(F.col("src").alias("node")).distinct()

    def in_core_degrees(members: DataFrame) -> DataFrame:
        a = members.select(F.col("node").alias("a_node"))
        b = members.select(F.col("node").alias("b_node"))
        return (
            edges.join(F.broadcast(a), edges.src == F.col("a_node"))
            .join(F.broadcast(b), edges.dst == F.col("b_node"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    for _ in range(_KCORE_ROUNDS):
        surv = (
            in_core_degrees(surv)
            .filter(F.col("deg") >= _KCORE_K)
            .select("node")
            .localCheckpoint()
        )
    return (
        in_core_degrees(surv)
        .join(F.broadcast(surv), "node")
        .select(F.col("node").alias("nationkey"), F.col("deg").alias("core_degree"))
    )


@register(
    "olap_skyline_2d",
    oracle="""
WITH pts AS (
  SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
),
best AS (
  SELECT size, min(price_cents) AS min_price FROM pts GROUP BY 1
),
sky_sizes AS (
  SELECT size, min_price,
         min(min_price) OVER (ORDER BY size
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS better_smaller
  FROM best
)
SELECT p.p_partkey, p.size, p.price_cents
FROM pts p JOIN sky_sizes s USING (size)
WHERE p.price_cents = s.min_price
  AND (s.better_smaller IS NULL OR p.price_cents < s.better_smaller)
""",
)
def olap_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) — parts not dominated in
    (size, price): no other part is both ≤ size and ≤ price with one
    strict (minimize-both; the classic multi-criteria shortlist
    operator, BNL in the literature). The scalable 2-D formulation
    avoids any pairwise dominance join: ONE map-side-combined
    min-price-per-size rollup reduces the fact table to |distinct
    sizes| rows, a prefix-min over that tiny ordered set marks sizes
    whose best price beats every strictly-smaller size, and a final
    equi-join recovers the skyline members (ties on the front kept —
    all are non-dominated). Exact integer cents. The |sizes|-row
    window is dimension-bounded (part sizes are a small domain — same
    class as the serving-board windows); for continuous dimensions,
    quantize to the precision the decision needs and the same shape
    holds. Higher dimensions fall back to grid-dominance blocking
    (the spatial-join contract)."""
    from pyspark.sql import Window as W

    pts = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("long").alias("size"),
        F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("price_cents"),
    )
    best = pts.groupBy("size").agg(F.min("price_cents").alias("min_price"))
    w = W.orderBy("size").rowsBetween(W.unboundedPreceding, -1)
    sky_sizes = best.withColumn("better_smaller", F.min("min_price").over(w))
    return (
        pts.join(F.broadcast(sky_sizes), "size")
        .filter(
            (F.col("price_cents") == F.col("min_price"))
            & (
                F.col("better_smaller").isNull()
                | (F.col("price_cents") < F.col("better_smaller"))
            )
        )
        .select("p_partkey", "size", "price_cents")
    )


@register(
    "olap_conversion_paths_topk",
    oracle="""
WITH touches AS (
  SELECT * FROM (
    SELECT user_id, ts, event_id,
           'ch' || (CAST(json_extract(props, '$.k') AS BIGINT) % 5) AS channel
    FROM events WHERE event_type IN ('view', 'click')
  ) WHERE channel IS NOT NULL
),
conv_users AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
),
paths AS (
  SELECT t.user_id,
         array_to_string(list_slice(
           list(t.channel ORDER BY t.ts, t.event_id), 1, 5), '>') AS path
  FROM touches t JOIN conv_users USING (user_id)
  GROUP BY t.user_id
),
counted AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM paths GROUP BY 1
)
SELECT path, n_users FROM counted
ORDER BY n_users DESC, path LIMIT 20
""",
)
def olap_conversion_paths_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top converting journey PATHS — the path-frequency member of the
    attribution family (last-touch = endpoint credit, Markov = chain
    credit, transitions = step counts; this ranks WHOLE journeys):
    each converting user's first 5 touch channels in event order,
    joined into a path string, counted, top-20. Ordered collection
    inside a grouped aggregate is the determinism trap —
    collect_list's order is partition-dependent — so the path builds
    from sort_array over (ts, event_id, channel) STRUCTS (the total
    order carried into the array), then slice + join: deterministic
    on any partitioning, mirrored by DuckDB's ORDER BY inside list().
    Shape at 100 TB: one user_id exchange (the groupBy), a broadcast
    conversion semi-join, a map-side-combined path count, and
    TakeOrderedAndProject — journeys never leave their group task."""
    ev = t(spark, sf_dir, "events")
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.concat(
                F.lit("ch"),
                (F.get_json_object("props", "$.k").cast("long") % 5).cast(
                    "string"
                ),
            ).alias("channel"),
        )
        .filter(F.col("channel").isNotNull())
    )
    conv_users = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    paths = (
        touches.join(F.broadcast(conv_users), "user_id")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct("ts", "event_id", "channel")
                            )
                        ),
                        lambda s: s.getField("channel"),
                    ),
                    1,
                    5,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


# --- Exact distinct-count rollup via bitmap words (r05) -----------------------
@register(
    "olap_bitmap_distinct_rollup",
    oracle="""
WITH o AS (
  SELECT o_custkey, o_orderpriority,
         CAST(year(o_orderdate) AS INT) AS o_year
  FROM orders
)
SELECT CAST(0 AS INT) AS lvl, o_orderpriority,
       o_year, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
FROM o GROUP BY o_orderpriority, o_year
UNION ALL
SELECT CAST(1 AS INT), o_orderpriority, CAST(NULL AS INT),
       CAST(count(DISTINCT o_custkey) AS BIGINT)
FROM o GROUP BY o_orderpriority
UNION ALL
SELECT CAST(2 AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS INT),
       CAST(count(DISTINCT o_custkey) AS BIGINT)
FROM o
""",
)
def olap_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-customer counts at three rollup levels via bitmap
    words — the ClickHouse/Doris bitmap-rollup pattern expressed in pure
    built-in aggregates, for the case where approximate HLL
    (profile_distinct_rollup_hll) isn't acceptable. Each custkey sets
    one bit of a 32-bit word keyed by (group, chunk = custkey div 32);
    `bit_or` is associative+commutative so the word table builds with
    full map-side combine in ONE fact scan, and every coarser level
    re-ORs the WORD TABLE (|groups|x|present chunks| rows — sparse:
    only chunks with members materialize, the roaring trick), never
    rescanning facts the way a multi-level COUNT(DISTINCT) expand does.
    n_distinct = sum(bit_count(word)) exactly. The oracle computes the
    same levels with direct COUNT(DISTINCT) — the cross-engine hash
    match PROVES the bitmap path exact, not approximate. At 100 TB the
    word-table state is bounded by key-domain/32 per group and the
    rollup cascade costs |words|, not |facts|."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    base = o.select(
        "o_orderpriority",
        "o_year",
        F.expr("o_custkey div 32").alias("chunk"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 32 AS INT))").alias(
            "bit"
        ),
    )
    words = (
        base.groupBy("o_orderpriority", "o_year", "chunk")
        .agg(F.expr("bit_or(bit)").alias("w"))
        # |groups| x |present chunks| rows; reused by all three levels —
        # materialize so the fact scan runs ONCE (localCheckpoint, the
        # multi-branch idiom; plain lineage would rescan facts per level)
        .localCheckpoint()
    )
    lvl0 = words.groupBy("o_orderpriority", "o_year").agg(
        F.sum(F.bit_count("w")).cast("bigint").alias("n_distinct")
    )
    words_p = (
        words.groupBy("o_orderpriority", "chunk")
        .agg(F.expr("bit_or(w)").alias("w"))
        .localCheckpoint()  # reused by lvl1 and the grand-total level
    )
    lvl1 = words_p.groupBy("o_orderpriority").agg(
        F.sum(F.bit_count("w")).cast("bigint").alias("n_distinct")
    )
    words_t = words_p.groupBy("chunk").agg(F.expr("bit_or(w)").alias("w"))
    lvl2 = words_t.agg(F.sum(F.bit_count("w")).cast("bigint").alias("n_distinct"))
    return (
        lvl0.select(
            F.lit(0).alias("lvl"), "o_orderpriority", "o_year", "n_distinct"
        )
        .unionAll(
            lvl1.select(
                F.lit(1).alias("lvl"),
                "o_orderpriority",
                F.lit(None).cast("int").alias("o_year"),
                "n_distinct",
            )
        )
        .unionAll(
            lvl2.select(
                F.lit(2).alias("lvl"),
                F.lit(None).cast("string").alias("o_orderpriority"),
                F.lit(None).cast("int").alias("o_year"),
                "n_distinct",
            )
        )
    )


# Brown double-smoothing lag weights at alpha=0.25, K=12 lags, inlined
# as integer literals in BOTH engines (the EWMA convention): s1 weights
# round(a*(1-a)^j * 1e6), s2 weights round(a^2*(j+1)*(1-a)^j * 1e6) —
# s2 = EWMA(EWMA(x)) folds to a single convolution with (j+1)-weighted
# taps, which is what makes trend extraction ONE scatter pass.
_BROWN_W1 = [250000, 187500, 140625, 105469, 79102, 59326,
             44495, 33371, 25028, 18771, 14078, 10559]
_BROWN_W2 = [62500, 93750, 105469, 105469, 98877, 88989,
             77866, 66742, 56314, 46928, 38716, 31676]
_BROWN_K = len(_BROWN_W1)
_BROWN_W1_SQL = "[" + ", ".join(str(w) for w in _BROWN_W1) + "]"
_BROWN_W2_SQL = "[" + ", ".join(str(w) for w in _BROWN_W2) + "]"


@register(
    "timeseries_holt_brown_trend",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
contrib AS (
  SELECT event_type, h + j.j AS th,
         cents * ({_BROWN_W1_SQL}[j.j + 1]) AS n1,
         ({_BROWN_W1_SQL}[j.j + 1]) AS d1,
         cents * ({_BROWN_W2_SQL}[j.j + 1]) AS n2,
         ({_BROWN_W2_SQL}[j.j + 1]) AS d2
  FROM hourly, range(0, {_BROWN_K}) j(j)
),
sm AS (
  SELECT event_type, th,
         CAST(sum(n1) AS BIGINT) AS num1, CAST(sum(d1) AS BIGINT) AS den1,
         CAST(sum(n2) AS BIGINT) AS num2, CAST(sum(d2) AS BIGINT) AS den2
  FROM contrib GROUP BY 1, 2
)
SELECT h.event_type,
       strftime(to_timestamp(h.h * 3600), '%Y-%m-%d %H:%M:%S') AS bucket,
       2.0 * (CAST(s.num1 AS DOUBLE) / s.den1)
         - CAST(s.num2 AS DOUBLE) / s.den2 AS level_cents,
       (CAST(s.num1 AS DOUBLE) / s.den1
         - CAST(s.num2 AS DOUBLE) / s.den2) / 3.0 AS trend_cents,
       2.0 * (CAST(s.num1 AS DOUBLE) / s.den1)
         - CAST(s.num2 AS DOUBLE) / s.den2
         + 3.0 * ((CAST(s.num1 AS DOUBLE) / s.den1
                   - CAST(s.num2 AS DOUBLE) / s.den2) / 3.0)
         AS forecast_3h_cents
FROM hourly h JOIN sm s ON h.event_type = s.event_type AND h.h = s.th
""",
)
def timeseries_holt_brown_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown double exponential smoothing — trend-aware series
    smoothing + short-horizon forecast, the step between flat EWMA
    (timeseries_ewma_smooth, which lags trending series by design) and
    the global OLS forecast (timeseries_linear_forecast, one line for
    the whole history). Brown's method is Holt's linear trend with a
    single alpha: level = 2*s1 - s2, trend = a/(1-a)*(s1 - s2),
    h-step forecast = level + h*trend, where s1 = EWMA(x) and
    s2 = EWMA(s1). The decisive identity for scale: s2 folds to ONE
    convolution with (j+1)-weighted taps, so BOTH smoothers come out
    of a single scatter pass (the truncated-K inversion of the
    sequential recurrence, the EWMA-smooth idiom) — each hourly bucket
    emits K=12 contributions to both weight tables, one
    map-side-combined rollup keyed (series, target-hour) sums exact
    bigint numerators and weight masses, and every double expression
    after that is the same fixed-order text in both engines (raw
    divisions, never rounded — plans/common.py rules). Gap handling is
    mass-normalized per convolution (absent lags contribute neither).
    At 100 TB the 2K-wide fan-out multiplies the |series x hours|
    rollup only, never raw events."""
    ev = t(spark, sf_dir, "events").select("ts", "event_type", "value")
    hourly = ev.groupBy(
        "event_type",
        (F.unix_seconds(F.col("ts")) / 3600).cast("long").alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    w1 = F.array(*[F.lit(x) for x in _BROWN_W1])
    w2 = F.array(*[F.lit(x) for x in _BROWN_W2])
    contrib = hourly.select(
        "event_type",
        "h",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_BROWN_K - 1))).alias("j"),
    ).select(
        "event_type",
        (F.col("h") + F.col("j")).alias("th"),
        (F.col("cents") * F.element_at(w1, F.col("j") + 1)).alias("n1"),
        F.element_at(w1, F.col("j") + 1).alias("d1"),
        (F.col("cents") * F.element_at(w2, F.col("j") + 1)).alias("n2"),
        F.element_at(w2, F.col("j") + 1).alias("d2"),
    )
    sm = contrib.groupBy("event_type", "th").agg(
        F.sum("n1").alias("num1"),
        F.sum("d1").alias("den1"),
        F.sum("n2").alias("num2"),
        F.sum("d2").alias("den2"),
    )
    s1 = F.col("num1").cast("double") / F.col("den1")
    s2 = F.col("num2").cast("double") / F.col("den2")
    level = 2.0 * s1 - s2
    trend = (s1 - s2) / 3.0
    return (
        hourly.alias("hh")
        .join(
            sm.alias("ss"),
            (F.col("hh.event_type") == F.col("ss.event_type"))
            & (F.col("hh.h") == F.col("ss.th")),
        )
        .select(
            F.col("hh.event_type").alias("event_type"),
            F.from_unixtime(F.col("hh.h") * 3600, "yyyy-MM-dd HH:mm:ss").alias(
                "bucket"
            ),
            level.alias("level_cents"),
            trend.alias("trend_cents"),
            (level + 3.0 * trend).alias("forecast_3h_cents"),
        )
    )


def _sssp_oracle(rounds: int) -> str:
    head = """WITH raw AS MATERIALIZED (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS w
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
mx AS MATERIALIZED (SELECT max(w) AS max_w,
              (SELECT src FROM raw ORDER BY w DESC, src DESC, dst DESC
               LIMIT 1) AS src0
       FROM raw),
edges AS MATERIALIZED (
  SELECT src, dst, greatest(1, 10 - (w * 9) // max_w) AS cost
  FROM raw, mx WHERE w >= max_w // 3
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
h0 AS MATERIALIZED (SELECT node, CASE WHEN node = (SELECT src0 FROM mx)
                         THEN CAST(0 AS BIGINT)
                         ELSE CAST(1000000000 AS BIGINT) END AS dist
       FROM nodes)"""
    step = """,
h{k} AS MATERIALIZED (
  SELECT n.node,
         least(p.dist, coalesce(m.reach, 1000000000)) AS dist
  FROM nodes n
  JOIN h{prev} p ON p.node = n.node
  LEFT JOIN (
    SELECT e.dst AS node, min(p2.dist + e.cost) AS reach
    FROM edges e JOIN h{prev} p2 ON p2.node = e.src
    WHERE p2.dist < 1000000000
    GROUP BY 1
  ) m ON m.node = n.node
)"""
    body = "".join(step.format(k=k, prev=k - 1) for k in range(1, rounds + 1))
    return f"""
{head}{body}
SELECT node AS nationkey,
       CASE WHEN dist < 1000000000 THEN dist END AS dist
FROM h{rounds}
"""


@register("olap_weighted_sssp", oracle=_sssp_oracle(6))
def olap_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest path (Bellman-Ford, 6
    synchronous rounds) over the nation trade graph — weighted
    distance next to `olap_nation_bfs_hops`'s unweighted hop count,
    the pair every routing/lineage question needs. The SOURCE is the
    busiest hub — the src nation of the max-volume corridor (arg-max
    via one struct-max, deterministic tie-break) — so it is in-graph
    at every scale (a fixed nation id is not). The graph is
    SCALE-FREE by construction: edges keep the top third of corridor
    volume RELATIVE to the max corridor (w >= max_w div 3 — a fixed
    cent threshold would keep everything at sf1 and nothing at
    sf0.001), and edge cost is exact-integer "corridor latency"
    greatest(1, 10 − (w·9) div max_w): the heaviest corridor costs 1,
    threshold-edge corridors cost 7, so cheapest routes prefer
    high-volume multi-hop paths over thin direct edges — where
    weighted and unweighted answers genuinely diverge. The 1-row max
    broadcasts (scalar-subquery idiom); each round is the frontier
    shape: reachable dist joins the edge list, min-aggregates
    dist+cost per destination (map-side combinable), least()-merges —
    exact bigints with a 1e9 sentinel, so the unrolled-SQL oracle
    reproduces every round bit-for-bit (the BFS/PageRank convention).
    Headroom: w·9 < 2^63 up to ~1e18 cents per corridor. At scale:
    rounds bounded by weighted-path hop diameter; each round shuffles
    O(|frontier edges|) ids."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    raw = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(c.c_nationkey.alias("src"), s.s_nationkey.alias("dst"))
        .agg(F.sum(cents).alias("w"))
    )
    mx = raw.agg(
        F.max("w").alias("max_w"),
        F.max(F.struct("w", "src", "dst")).getField("src").alias("src0"),
    )
    edges = (
        raw.crossJoin(F.broadcast(mx))
        .filter(F.col("w") >= F.expr("max_w div 3"))
        .select(
            "src",
            "dst",
            F.greatest(
                F.lit(1).cast("long"),
                F.lit(10) - F.expr("(w * 9) div max_w"),
            ).alias("cost"),
            "src0",
        )
        .localCheckpoint()  # iterate over the materialized sparse edge list
    )
    src0 = F.broadcast(edges.select("src0").limit(1))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    dist = nodes.crossJoin(src0).select(
        "node",
        F.when(F.col("node") == F.col("src0"), F.lit(0).cast("long"))
        .otherwise(F.lit(1000000000).cast("long"))
        .alias("dist"),
    )
    edges = edges.drop("src0")
    for _ in range(6):
        reach = (
            edges.join(
                F.broadcast(dist.filter(F.col("dist") < 1000000000)),
                edges.src == F.col("node"),
            )
            .groupBy(F.col("dst").alias("rnode"))
            .agg(F.min(F.col("dist") + F.col("cost")).alias("reach"))
        )
        dist = (
            dist.join(F.broadcast(reach), dist.node == F.col("rnode"), "left")
            .select(
                "node",
                F.least(
                    F.col("dist"),
                    F.coalesce(F.col("reach"), F.lit(1000000000)),
                ).alias("dist"),
            )
        )
    return dist.select(
        F.col("node").alias("nationkey"),
        F.when(F.col("dist") < 1000000000, F.col("dist")).alias("dist"),
    )


@register(
    "maintenance_zonemap_prune",
    oracle="""
WITH o AS (
  SELECT o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         year(o_orderdate) * 100 + month(o_orderdate) AS ym
  FROM orders
),
bounds AS (
  SELECT date_diff('day', DATE '1970-01-01', DATE '1997-03-01') AS lo,
         date_diff('day', DATE '1970-01-01', DATE '1997-05-31') AS hi
),
layouts AS (
  SELECT 'date_clustered' AS layout, CAST(ym AS BIGINT) AS file_id, d FROM o
  UNION ALL
  SELECT 'insertion_order' AS layout, o_orderkey // 1500 AS file_id, d FROM o
),
zm AS (
  SELECT layout, file_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         min(d) AS min_d, max(d) AS max_d,
         CAST(sum(CASE WHEN d BETWEEN (SELECT lo FROM bounds)
                                  AND (SELECT hi FROM bounds)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM layouts GROUP BY layout, file_id
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN max_d < (SELECT lo FROM bounds)
                       OR min_d > (SELECT hi FROM bounds)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN max_d < (SELECT lo FROM bounds)
                       OR min_d > (SELECT hi FROM bounds)
                THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matching,
       (CAST(sum(CASE WHEN max_d < (SELECT lo FROM bounds)
                        OR min_d > (SELECT hi FROM bounds)
                 THEN 0 ELSE n_rows END) AS BIGINT) * 1000000)
         // CAST(sum(n_rows) AS BIGINT) AS scan_fraction_micro
FROM zm GROUP BY layout
""",
)
def maintenance_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max file-skipping) effectiveness audit — the
    lakehouse statistic that decides whether a table needs re-layout:
    for the SAME date-range predicate, how many files does the scan
    skip under (a) a date-clustered layout (file = order month) vs
    (b) raw insertion order (file = orderkey range)? Zone maps only
    prune when the filter column is CLUSTERED by the layout — the
    fixture's date/key independence makes (b) scan ~everything while
    (a) prunes to the predicate months; `maintenance_zorder_layout`
    decides where rows go, this op measures what that buys. ONE
    map-side-combined rollup builds the per-file zone maps (n, min,
    max, matching) for both layouts via a two-way union of file-id
    assignments; the audit is a |files|-row aggregate — exact integers
    (epoch-day bounds, integer-div scan fraction), no row ever leaves
    the first rollup. At 100 TB this runs off the transaction log's
    existing per-file stats; here the rollup computes them."""
    lo = F.expr("datediff(DATE '1997-03-01', DATE '1970-01-01')")
    hi = F.expr("datediff(DATE '1997-05-31', DATE '1970-01-01')")
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
    )
    layouts = o.select(
        F.lit("date_clustered").alias("layout"),
        F.col("ym").cast("bigint").alias("file_id"),
        "d",
    ).unionByName(
        o.select(
            F.lit("insertion_order").alias("layout"),
            F.expr("o_orderkey div 1500").alias("file_id"),
            "d",
        )
    )
    zm = layouts.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
        F.sum(
            F.when((F.col("d") >= lo) & (F.col("d") <= hi), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_match"),
    )
    pruned = (F.col("max_d") < lo) | (F.col("min_d") > hi)
    return (
        zm.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(pruned, 1).otherwise(0)).cast("bigint").alias("n_pruned"),
            F.sum("n_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(pruned, 0).otherwise(F.col("n_rows")))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_match").cast("bigint").alias("rows_matching"),
        )
        .select(
            "layout",
            "n_files",
            "n_pruned",
            "rows_total",
            "rows_scanned",
            "rows_matching",
            F.expr("(rows_scanned * 1000000) div rows_total").alias(
                "scan_fraction_micro"
            ),
        )
    )


@register(
    "timeseries_sax_symbols",
    oracle="""
WITH hours AS (
  SELECT user_id,
         CAST(floor((epoch_us(ts) - 1704067200000000) / 3600000000) AS BIGINT)
           AS h,
         CAST(round(sum(value) * 100) AS BIGINT) AS cents
  FROM events
  GROUP BY 1, 2
),
grid AS (
  SELECT u.user_id, s.seg,
         CAST(COALESCE(sum(hh.cents), 0) AS BIGINT) AS v
  FROM (SELECT DISTINCT user_id FROM events) u
  CROSS JOIN (SELECT unnest(range(0, 8)) AS seg) s
  LEFT JOIN hours hh
    ON hh.user_id = u.user_id AND hh.h >= s.seg * 8 AND hh.h < (s.seg + 1) * 8
  GROUP BY 1, 2
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM grid),
vals AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM grid GROUP BY 1),
buck AS (
  SELECT v, ((cum - c) * 4) // nn.n AS s
  FROM (SELECT v, c, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        FROM vals), nn
),
sym AS (
  SELECT g.user_id, g.seg,
         substr('abcd', CAST(b.s AS INTEGER) + 1, 1) AS sy
  FROM grid g JOIN buck b ON b.v = g.v
),
words AS (
  SELECT user_id, string_agg(sy, '' ORDER BY seg) AS sax_word
  FROM sym GROUP BY 1
),
sup AS (SELECT sax_word, CAST(count(*) AS BIGINT) AS support FROM words
        GROUP BY 1)
SELECT w.user_id, w.sax_word, s.support
FROM words w JOIN sup s USING (sax_word)
""",
    tags=("bench",),
)
def timeseries_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin et al., DMKD'07 "Experiencing SAX") —
    compress each user's 64-hour activity series to an 8-char word
    over alphabet {a..d}, the discretization that turns time-series
    MOTIF/novelty mining into string algebra (shared words = shared
    shapes; `support` counts users per word — the motif table). The
    PAA stage is `timeseries_paa_similarity`'s exact-integer 8-segment
    profile; breakpoints are EQUI-DEPTH over the corpus's own values
    rather than the classic Gaussian table (the fixture's cents are
    not normal; data-driven breakpoints keep every decision an exact
    integer): symbol = ((cum_before)·4) div N over the per-distinct-
    value count table — the olap_distinct_quantiles bucketing idiom —
    so ties share symbols and the whole alphabet assignment is
    partitioning-proof. Word assembly is a struct-sort fold (no
    ordered string_agg dependence on shuffle order). Shape: hourly
    rollup is the only fact-sized stage; words re-aggregate |users|
    rows. The breakpoint cumsum over the distinct-segment-value table
    is range-partitioned (bucketed_running_sum — no single-partition
    window): segment cents are SUMS of near-unique revenue values, so
    the distinct table approaches |users|·8 rows at scale, exactly the
    class the abc_pareto idiom exists for (r05 verdict, What's wrong
    #1)."""
    ev = t(spark, sf_dir, "events")
    origin = 1704067200000000
    hr = F.floor(
        (F.unix_micros("ts") - F.lit(origin)) / F.lit(3600000000)
    ).cast("long")
    hours = (
        ev.groupBy(
            "user_id",
            # hours outside the 64-h SAX horizon collapse to one
            # sentinel bucket: their per-hour rounded cents are never
            # read (the conditional sums skip h=-1), but the row keeps
            # users with no in-horizon activity in the zero-filled
            # grid — and the (user, hour) shuffle shrinks ~10x
            F.when((hr >= 0) & (hr < 64), hr)
            .otherwise(F.lit(-1))
            .alias("h"),
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
    )
    # one-pass segment fill: every user has ≥1 hours row (no hour
    # filter before the groupBy), so 8 conditional sums zero-fill the
    # grid in a single user-keyed aggregation — the former
    # map-assembly + distinct-users right-join chain cost two extra
    # shuffles and a join for the same rows (r07 verdict task 3)
    grid = (
        hours.groupBy("user_id")
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("h") >= s * 8) & (F.col("h") < (s + 1) * 8),
                            F.col("cents"),
                        )
                    ),
                    F.lit(0).cast("long"),
                ).alias(f"_v{s}")
                for s in range(8)
            ]
        )
        .select(
            "user_id",
            F.posexplode(
                F.array(*[F.col(f"_v{s}") for s in range(8)])
            ).alias("seg", "v"),
        )
        # eager checkpoint: the hourly rollup is the only fact-sized
        # stage and four consumers read it (nn, vals + the breakpoint
        # plan's recompute, the sym join) — without the pin each
        # replays it (r06 bench flagged the 2.7x construction cost).
        # |users|·8 rows — far smaller than the fact table.
        .localCheckpoint(eager=True)
    )
    # nn folds into vals (row count = sum of per-value counts — exact
    # bigint identity, same oracle)
    vals = grid.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    nn = vals.agg(F.sum("c").cast("bigint").alias("n"))
    cum, bcol = bucketed_running_sum(vals, "c", "v", out_col="cum")
    buck = (
        cum.drop(bcol)
        .crossJoin(F.broadcast(nn))
        .select(
            "v",
            F.expr("((cum - c) * 4) div n").alias("s"),
        )
    )
    sym = grid.join(buck, "v").select(
        "user_id",
        "seg",
        F.expr("substr('abcd', CAST(s AS INT) + 1, 1)").alias("sy"),
    )
    words = (
        sym.groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sy"))),
                    lambda x: x["sy"],
                ),
            ).alias("sax_word")
        )
    )
    # support as a word-partitioned window — one shuffle on sax_word
    # instead of the former aggregate + broadcast-join-back pair
    return words.select(
        "user_id",
        "sax_word",
        F.count(F.lit(1))
        .over(Window.partitionBy("sax_word"))
        .cast("bigint")
        .alias("support"),
    )


@register(
    "olap_dau_wau_stickiness",
    oracle="""
WITH e AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, user_id
  FROM events
),
days AS (SELECT DISTINCT day FROM e),
dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM e GROUP BY 1),
wau AS (
  SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
  FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
  GROUP BY 1
)
SELECT d.day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
FROM days d JOIN dau ON dau.day = d.day JOIN wau ON wau.day = d.day
""",
    tags=("bench",),
)
def olap_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness — the product-analytics headline metric,
    and underneath it the HARD aggregation problem: an exact SLIDING-
    WINDOW COUNT DISTINCT (each day's WAU needs the distinct users of
    a 7-day window — naive recomputation rescans facts once per day).
    Solved with the bitmap-word algebra of olap_bitmap_distinct_rollup:
    ONE fact scan builds per-(day, chunk) 32-bit words (bit_or is
    associative — full map-side combine), and every window re-ORs the
    WORD TABLE (|days|×|present chunks| rows), never the facts; WAU =
    Σ bit_count over the 7-day word union. The oracle computes both
    counts with naive COUNT(DISTINCT) over a range self-join — the
    hash match proves the bitmap sliding distinct EXACT. Stickiness is
    one double division. At 100 TB: word-table state is key-domain/32
    per day; the 7-day union is a broadcast-range join on the slim
    word table — the fact table is scanned exactly once."""
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("day"),
        F.expr("user_id div 32").alias("chunk"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))"
        ).alias("bit"),
    )
    words = (
        base.groupBy("day", "chunk")
        .agg(F.expr("bit_or(bit)").alias("w"))
        .localCheckpoint()  # one fact scan feeds both the DAU and WAU branches
    )
    days = words.select("day").distinct()
    dau = words.groupBy("day").agg(
        F.sum(F.expr("bit_count(w)")).cast("bigint").alias("dau")
    )
    wau = (
        words.select(F.col("day").alias("wday"), "chunk", "w")
        .join(
            F.broadcast(days),
            (F.col("wday") <= F.col("day"))
            & (F.col("wday") >= F.col("day") - 6),
        )
        .groupBy("day", "chunk")
        .agg(F.expr("bit_or(w)").alias("ww"))
        .groupBy("day")
        .agg(F.sum(F.expr("bit_count(ww)")).cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
    )


@register(
    "olap_pvm_decomposition",
    oracle="""
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CAST(year(o.o_orderdate) AS INT) AS yr,
         CAST(count(*) AS BIGINT) AS q,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS r_cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE year(o.o_orderdate) IN (1997, 1998)
  GROUP BY 1, 2
),
w AS (
  SELECT a.segment, a.q AS q1, b.q AS q2,
         a.r_cents AS r1_cents, b.r_cents AS r2_cents,
         (CAST(a.r_cents AS DOUBLE) / 100.0) / a.q AS p1,
         (CAST(b.r_cents AS DOUBLE) / 100.0) / b.q AS p2
  FROM base a JOIN base b ON b.segment = a.segment AND b.yr = 1998
  WHERE a.yr = 1997
)
SELECT segment, q1, q2, r1_cents, r2_cents,
       CAST(q2 - q1 AS DOUBLE) * p1 AS volume_effect,
       (p2 - p1) * CAST(q2 AS DOUBLE) AS price_effect,
       CAST(r2_cents - r1_cents AS DOUBLE) / 100.0 AS delta_revenue
FROM w
""",
)
def olap_pvm_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume(-mix) waterfall decomposition — the FP&A bridge
    chart query ("why did revenue move?"): per customer segment, the
    1997→1998 revenue delta splits into volume effect (ΔQ at old
    price) and price effect (ΔP at new volume), which sum to ΔR
    EXACTLY by construction (ΔR = Q₂P₂−Q₁P₁ = (Q₂−Q₁)P₁ + (P₂−P₁)Q₂ —
    the two-factor bridge identity; the test pins it to float
    round-off). Revenue cents and order counts are exact bigints from
    ONE map-side-combined (segment, year) rollup over the pushed-down
    two-year scan; average prices and effects derive by a fixed IEEE
    sequence, so the whole bridge value-hash-oracles. Shape: fact scan
    → |segments|×2 rows → self-join on segment (broadcast); at 100 TB
    the year filter partition-prunes and the report stays
    dimension-sized."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    base = (
        o.filter(F.year("o_orderdate").isin(1997, 1998))
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("q"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("r_cents"),
        )
    )
    a = base.filter(F.col("yr") == 1997).select(
        "segment",
        F.col("q").alias("q1"),
        F.col("r_cents").alias("r1_cents"),
    )
    b = base.filter(F.col("yr") == 1998).select(
        F.col("segment").alias("_s"),
        F.col("q").alias("q2"),
        F.col("r_cents").alias("r2_cents"),
    )
    p1 = (F.col("r1_cents").cast("double") / F.lit(100.0)) / F.col("q1")
    p2 = (F.col("r2_cents").cast("double") / F.lit(100.0)) / F.col("q2")
    return (
        a.join(b, a.segment == F.col("_s"))
        .select(
            "segment",
            "q1",
            "q2",
            "r1_cents",
            "r2_cents",
            ((F.col("q2") - F.col("q1")).cast("double") * p1).alias(
                "volume_effect"
            ),
            ((p2 - p1) * F.col("q2").cast("double")).alias("price_effect"),
            (
                (F.col("r2_cents") - F.col("r1_cents")).cast("double")
                / F.lit(100.0)
            ).alias("delta_revenue"),
        )
    )


@register(
    "olap_survival_kaplan_meier",
    oracle="""
WITH cm AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS first_m,
         max(year(o_orderdate) * 12 + month(o_orderdate)) AS last_m
  FROM orders GROUP BY 1
),
mx AS (SELECT max(last_m) AS m FROM cm),
life AS (
  SELECT CAST(last_m - first_m AS BIGINT) AS tenure,
         CASE WHEN last_m < mx.m THEN 1 ELSE 0 END AS died
  FROM cm, mx
),
byt AS (
  SELECT tenure, CAST(sum(died) AS BIGINT) AS n_events,
         CAST(sum(1 - died) AS BIGINT) AS n_censored,
         CAST(count(*) AS BIGINT) AS n_total
  FROM life GROUP BY 1
),
risk AS (
  SELECT tenure, n_events, n_censored,
         CAST(sum(n_total) OVER (ORDER BY tenure DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
  FROM byt
),
lt AS (
  SELECT tenure, n_events, n_censored, n_risk,
         CASE WHEN n_events > 0 AND n_events < n_risk
              THEN CAST(round(ln(1.0 - CAST(n_events AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)) * 1000000.0)
                        AS BIGINT)
              ELSE CAST(0 AS BIGINT) END AS lnterm_micro,
         CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END AS hit_zero
  FROM risk
)
SELECT tenure, n_risk, n_events, n_censored,
       CASE WHEN sum(hit_zero) OVER (ORDER BY tenure
              ROWS UNBOUNDED PRECEDING) > 0 THEN CAST(0 AS BIGINT)
       ELSE CAST(round(exp(CAST(sum(lnterm_micro) OVER (ORDER BY tenure
              ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0)
              * 1000000.0) AS BIGINT) END AS survival_micro
FROM lt
""",
)
def olap_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival over customer lifetimes — the retention
    curve done RIGHT (censoring-aware: customers still active in the
    dataset's final month are censored, not counted as churn — the
    error naive retention tables make): tenure = months from first to
    last order, death = churn before the global last month, at-risk
    counts by suffix-sum over the tenure table, S(t) = Π(1 − dᵤ/nᵤ).
    The product evaluates in log space with per-tenure ln terms
    micro-quantized to bigints (the ln/exp-then-quantize discipline),
    so the cumulative sum is exact-integer and the published survival
    curve value-hash-oracles. Shape: one (customer → first/last) fact
    rollup is the only data-sized stage; the life table is
    |tenure-months| rows (≤ dataset span) — windows over it are
    trivially small at any corpus size. Output: the classic life
    table (n_risk, events, censored, S(t) in micro-units)."""
    o = t(spark, sf_dir, "orders")
    midx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    cm = o.groupBy("o_custkey").agg(
        F.min(midx).alias("first_m"), F.max(midx).alias("last_m")
    )
    mx = cm.agg(F.max("last_m").alias("m"))
    life = cm.crossJoin(F.broadcast(mx)).select(
        (F.col("last_m") - F.col("first_m")).cast("bigint").alias("tenure"),
        F.when(F.col("last_m") < F.col("m"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("died"),
    )
    byt = life.groupBy("tenure").agg(
        F.sum("died").cast("bigint").alias("n_events"),
        F.sum(F.lit(1) - F.col("died")).cast("bigint").alias("n_censored"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )
    wdesc = Window.orderBy(F.col("tenure").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = byt.select(
        "tenure",
        "n_events",
        "n_censored",
        F.sum("n_total").over(wdesc).cast("bigint").alias("n_risk"),
    )
    lnterm = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("n_events").cast("double") / F.col("n_risk").cast("double")
            )
            * F.lit(1000000.0),
            0,
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    hit_zero = F.when(
        F.col("n_events") >= F.col("n_risk"), F.lit(1)
    ).otherwise(F.lit(0))
    wasc = Window.orderBy("tenure").rowsBetween(Window.unboundedPreceding, 0)
    return (
        risk.withColumn("lnterm_micro", lnterm)
        .withColumn("hit_zero", hit_zero)
        .select(
            "tenure",
            "n_risk",
            "n_events",
            "n_censored",
            F.when(
                F.sum("hit_zero").over(wasc) > 0, F.lit(0).cast("bigint")
            )
            .otherwise(
                F.round(
                    F.exp(
                        F.sum("lnterm_micro").over(wasc).cast("double")
                        / F.lit(1000000.0)
                    )
                    * F.lit(1000000.0),
                    0,
                ).cast("bigint")
            )
            .alias("survival_micro"),
        )
    )


@register(
    "olap_budget_allocation_hamilton",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1
),
tot AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS t FROM rev),
base AS (
  SELECT nation, rev_cents,
         (1000000 * rev_cents) // tot.t AS base_units,
         (1000000 * rev_cents) % tot.t AS rem
  FROM rev, tot
),
leftover AS (SELECT 1000000 - CAST(sum(base_units) AS BIGINT) AS k FROM base),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, nation) AS rnk FROM base
)
SELECT nation, rev_cents,
       CAST(base_units + CASE WHEN rnk <= l.k THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_units,
       CAST(base_units AS BIGINT) AS base_units,
       rnk <= l.k AS got_remainder
FROM ranked, leftover l
""",
)
def olap_budget_allocation_hamilton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional budget allocation with EXACT integer apportionment
    (Hamilton / largest-remainder — the method quota systems and
    financial allocations use because floats don't sum back to the
    budget): 1,000,000 budget units split across nations in proportion
    to supplier revenue, floor quotas first ((B·rev) div total — exact
    bigint), then the leftover units go to the largest fractional
    remainders ((B·rev) mod total, ranked with a deterministic name
    tie-break). The invariant Σalloc = B holds EXACTLY by
    construction — no float ever appears, so the allocation
    value-hash-oracles and is partitioning-proof. Headroom: B·rev at
    B=1e6 and sf100 revenue cents ~1e13 → 1e19 overflows — at that
    scale pre-divide revenue to whole dollars (same quotas); at tested
    SFs cents keep 1e17 < 2^63. Shape: the revenue rollup is the only
    fact-sized stage; apportionment runs on the 25-row nation table
    (rank window trivially small). The OLAP family's answer to "turn
    these shares into whole units that add up"."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(cents).cast("bigint").alias("rev_cents"))
    )
    tot = rev.agg(F.sum("rev_cents").cast("bigint").alias("t"))
    base = rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        "rev_cents",
        F.expr("(1000000 * rev_cents) div t").alias("base_units"),
        F.expr("(1000000 * rev_cents) % t").alias("rem"),
    )
    leftover = base.agg(
        (F.lit(1000000) - F.sum("base_units")).cast("bigint").alias("k")
    )
    ranked = base.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("nation"))),
    )
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "nation",
        "rev_cents",
        (
            F.col("base_units")
            + F.when(F.col("rnk") <= F.col("k"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("alloc_units"),
        F.col("base_units").cast("bigint").alias("base_units"),
        (F.col("rnk") <= F.col("k")).alias("got_remainder"),
    )


@register(
    "olap_market_concentration_hhi",
    oracle="""
WITH rev AS (
  SELECT r.r_name AS region, s.s_suppkey,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2
),
tot AS (SELECT region, CAST(sum(rev_cents) AS BIGINT) AS t FROM rev
        GROUP BY 1),
terms AS (
  SELECT rev.region,
         CAST(round((CAST(rev.rev_cents AS DOUBLE) / tot.t)
              * (CAST(rev.rev_cents AS DOUBLE) / tot.t) * 1e8) AS BIGINT)
           AS term,
         rev.rev_cents, tot.t
  FROM rev JOIN tot ON tot.region = rev.region
)
SELECT region,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(term) AS BIGINT) / 10000.0 AS hhi,
       max(CAST(rev_cents AS DOUBLE) / t) AS top_share,
       CAST(sum(term) AS BIGINT) / 10000.0 > 2500.0 AS concentrated
FROM terms GROUP BY region
""",
)
def olap_market_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman market concentration per region — the
    antitrust/marketplace-health metric (HHI = Σ shareᵢ² on the
    0–10,000 scale; DOJ calls >2,500 highly concentrated): supplier
    revenue shares within each region, each squared share
    micro-quantized to a bigint term BEFORE the per-region sum (the
    repo's float-sum discipline — Σ of doubles is partitioning-
    dependent, Σ of quantized bigints is not), HHI read out by one
    division. Complements `profile_skew_gini` (inequality of a
    distribution) with the market-power view (share-of-total
    squared). Shape: one fact rollup to (region, supplier) — map-side
    combined; totals re-aggregate the rollup; the terms table is
    |suppliers| rows. At 100 TB the dims broadcast and the only
    shuffle is the (region, supplier) rollup key."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("bigint")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), "s_suppkey")
        .agg(F.sum(cents).cast("bigint").alias("rev_cents"))
    )
    tot = rev.groupBy(F.col("region").alias("_r")).agg(
        F.sum("rev_cents").cast("bigint").alias("t")
    )
    share = F.col("rev_cents").cast("double") / F.col("t")
    terms = rev.join(F.broadcast(tot), rev.region == F.col("_r")).select(
        "region",
        F.round(share * share * F.lit(1e8), 0).cast("bigint").alias("term"),
        share.alias("share"),
    )
    hhi = F.sum("term").cast("bigint") / F.lit(10000.0)
    return terms.groupBy("region").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
        hhi.alias("hhi"),
        F.max("share").alias("top_share"),
        (hhi > F.lit(2500.0)).alias("concentrated"),
    )


@register(
    "olap_lorenz_curve_deciles",
    oracle="""
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders GROUP BY 1
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
              CAST(sum(rev_cents) AS BIGINT) AS t FROM rev),
vals AS (SELECT rev_cents AS v, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(rev_cents) AS BIGINT) AS s
         FROM rev GROUP BY 1),
buck AS (
  SELECT v, c, s, ((cum - c) * 10) // nn.n AS decile
  FROM (SELECT v, c, s, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS cum FROM vals), nn
),
byd AS (
  SELECT decile, CAST(sum(c) AS BIGINT) AS n_customers,
         CAST(sum(s) AS BIGINT) AS rev_cents
  FROM buck GROUP BY 1
)
SELECT CAST(decile AS BIGINT) AS decile, n_customers, rev_cents,
       CAST(sum(rev_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) / nn.t AS cum_share
FROM byd, nn
""",
)
def olap_lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration table — the "bottom 50% of customers drive
    X% of revenue" chart behind every Gini/Pareto claim
    (`profile_skew_gini` reports the scalar; this reports the CURVE
    analysts actually read): customers sort into equi-depth revenue
    deciles via the exact ((cum−c)·10) div N bucketing idiom (ties
    share deciles — partitioning-proof, no global fact row_number),
    and each decile reports its customer count, exact revenue cents,
    and cumulative revenue share. All sums are bigints; the share is
    one division per decile row. Shape: per-customer rollup (map-side
    combined) → distinct-value cumsum (range-partitioned via
    bucketed_running_sum — revenue cents are near-unique, so the
    distinct table is |customers|-sized) → 10-row window.
    Composes with olap_abc_pareto (item-grain ABC classes) and
    olap_market_concentration_hhi (supplier market power) into the
    concentration-analysis family."""
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("rev_cents")
    )
    nn = rev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rev_cents").cast("bigint").alias("t"),
    )
    vals = rev.groupBy(F.col("rev_cents").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("rev_cents").cast("bigint").alias("s"),
    )
    # per-customer revenue cents are near-unique, so the distinct-value
    # table is really |customers|-sized — range-partition the cumsum
    # (the spearman/sax fix, r06; a plain global window here is the
    # exact single-partition class the r05 verdict flagged)
    cum_vals, _b = bucketed_running_sum(vals, "c", "v", out_col="cum")
    buck = (
        cum_vals
        .crossJoin(F.broadcast(nn))
        .select(
            "c",
            "s",
            F.expr("((cum - c) * 10) div n").alias("decile"),
        )
    )
    byd = buck.groupBy("decile").agg(
        F.sum("c").cast("bigint").alias("n_customers"),
        F.sum("s").cast("bigint").alias("rev_cents"),
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return byd.crossJoin(F.broadcast(nn)).select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        "rev_cents",
        (
            F.sum("rev_cents").over(wd).cast("double") / F.col("t")
        ).alias("cum_share"),
    )


@register(
    "olap_frequent_itemsets",
    oracle="""
WITH li AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON p_partkey = l_partkey
),
ms AS (SELECT (count(DISTINCT basket) + 249) // 250 AS m FROM li),
l1 AS (
  SELECT item, count(*) AS sup FROM li GROUP BY item
  HAVING count(*) >= (SELECT m FROM ms)
),
i1 AS (SELECT basket, item FROM li WHERE item IN (SELECT item FROM l1)),
p AS (
  SELECT a.basket, a.item AS x1, b.item AS x2
  FROM i1 a JOIN i1 b ON a.basket = b.basket AND a.item < b.item
),
l2 AS (
  SELECT x1, x2, count(*) AS sup FROM p GROUP BY x1, x2
  HAVING count(*) >= (SELECT m FROM ms)
),
p2 AS (SELECT p.* FROM p JOIN l2 USING (x1, x2)),
t3 AS (
  SELECT p2.basket, p2.x1, p2.x2, c.item AS x3
  FROM p2 JOIN i1 c ON c.basket = p2.basket AND c.item > p2.x2
  WHERE EXISTS (SELECT 1 FROM l2 w WHERE w.x1 = p2.x2 AND w.x2 = c.item)
    AND EXISTS (SELECT 1 FROM l2 w WHERE w.x1 = p2.x1 AND w.x2 = c.item)
),
l3 AS (
  SELECT x1, x2, x3, count(*) AS sup FROM t3 GROUP BY x1, x2, x3
  HAVING count(*) >= (SELECT m FROM ms)
)
SELECT CAST(1 AS INTEGER) AS k, item AS i1,
       CAST(NULL AS VARCHAR) AS i2, CAST(NULL AS VARCHAR) AS i3, sup
FROM l1
UNION ALL
SELECT CAST(2 AS INTEGER), x1, x2, CAST(NULL AS VARCHAR), sup FROM l2
UNION ALL
SELECT CAST(3 AS INTEGER), x1, x2, x3, sup FROM l3
""",
)
def olap_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori frequent itemsets to size 3 (baskets = orders, items =
    part brands, relative minsup = ⌈0.4 % of baskets⌉ in exact integer
    arithmetic) — the real algorithm past `olap_market_basket`'s
    pairwise stop. Candidate generation is BOUNDED the A-priori way:
    level k candidates come only from level-(k−1) SURVIVORS — per-basket
    pairs are an equi-self-join of the L1-filtered item list on basket,
    and a triple is generated only from a basket pair already in L2
    extended by an item whose two remaining sub-pairs are also in L2
    (broadcast semi-joins against the ≤|brands|² frequent-pair table) —
    never a blind basket×basket×basket expansion (plan-pinned: no
    cartesian/BNLJ anywhere). Downward closure makes the prune exact,
    not heuristic.

    Scale shape: every join on `basket` is an equi-join (one shuffle
    co-partitions all three levels); L1/L2 and the minsup scalar ride
    broadcasts. Per-basket work is O(b²·f) in basket size b AFTER
    infrequent-item filtering — on corpora with mega-baskets, cap or
    salt the per-basket item list before the self-join (the
    linkage-family blocking rule applied here)."""
    li = (
        t(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(t(spark, sf_dir, "part")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
        # eager checkpoint: the three union branches (L1/L2/L3) and the
        # minsup scalar all consume this table — without the pin the
        # lineitem⋈part distinct replays once per branch (the zorder
        # shared-rank idiom; blocks release with the DataFrame)
        .localCheckpoint(eager=True)
    )
    # integer ceil — exact cross-engine, never a rounded division
    ms = li.agg(F.expr("(count(DISTINCT basket) + 249) div 250").alias("m"))
    l1 = (
        li.groupBy("item")
        .agg(F.count(F.lit(1)).alias("sup"))
        .crossJoin(F.broadcast(ms))
        .filter(F.col("sup") >= F.col("m"))
        .select("item", "sup")
    )
    i1 = li.join(F.broadcast(l1.select("item")), "item", "left_semi")
    pairs = (
        i1.alias("a")
        .join(i1.alias("b"), "basket")
        .filter(F.col("a.item") < F.col("b.item"))
        .select(
            "basket", F.col("a.item").alias("x1"), F.col("b.item").alias("x2")
        )
        # NOT checkpointed (unlike li/l2): the pair table is the one
        # fact-×-fanout-sized intermediate, and materializing it OOM'd
        # a 24 g single JVM at 100× (r07 curve). Its two consumers (L2
        # census, L3 candidate base) each recompute one cheap
        # self-join of the CHECKPOINTED item list instead — at cluster
        # scale recompute-over-materialize is the right trade for a
        # wide intermediate with exactly two readers.
    )
    l2 = (
        pairs.groupBy("x1", "x2")
        .agg(F.count(F.lit(1)).alias("sup"))
        .crossJoin(F.broadcast(ms))
        .filter(F.col("sup") >= F.col("m"))
        .select("x1", "x2", "sup")
        # consumed as output row set, as the p2 semi filter, and twice
        # as the downward-closure filter — ≤|brands|² rows
        .localCheckpoint(eager=True)
    )
    l2k = l2.select("x1", "x2")
    p2 = pairs.join(F.broadcast(l2k), ["x1", "x2"], "left_semi")
    triples = (
        p2.join(i1.alias("c"), "basket")
        .filter(F.col("c.item") > F.col("x2"))
        .select("basket", "x1", "x2", F.col("c.item").alias("x3"))
        # downward closure: both remaining sub-pairs must be frequent
        .join(
            F.broadcast(l2k.select(F.col("x1").alias("x2"), F.col("x2").alias("x3"))),
            ["x2", "x3"],
            "left_semi",
        )
        .join(
            F.broadcast(l2k.select("x1", F.col("x2").alias("x3"))),
            ["x1", "x3"],
            "left_semi",
        )
    )
    l3 = (
        triples.groupBy("x1", "x2", "x3")
        .agg(F.count(F.lit(1)).alias("sup"))
        .crossJoin(F.broadcast(ms))
        .filter(F.col("sup") >= F.col("m"))
        .select("x1", "x2", "x3", "sup")
    )
    null_s = F.lit(None).cast("string")
    return (
        l1.select(
            F.lit(1).alias("k"),
            F.col("item").alias("i1"),
            null_s.alias("i2"),
            null_s.alias("i3"),
            "sup",
        )
        .unionAll(
            l2.select(
                F.lit(2).alias("k"),
                F.col("x1").alias("i1"),
                F.col("x2").alias("i2"),
                null_s.alias("i3"),
                "sup",
            )
        )
        .unionAll(
            l3.select(
                F.lit(3).alias("k"),
                F.col("x1").alias("i1"),
                F.col("x2").alias("i2"),
                F.col("x3").alias("i3"),
                "sup",
            )
        )
    )
