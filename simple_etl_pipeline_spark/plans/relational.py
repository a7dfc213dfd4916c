"""Relational query surface: joins, aggregations, windows, set ops.

The reference has none of these (SURVEY.md §2f) — its only dataflow is
scan->filter->project->sink. This module supplies the relational algebra
a real engine needs, expressed declaratively so Catalyst owns the
physical strategy:

- joins shuffle on their keys; small dims (part/nation/region/supplier)
  are broadcast (explicit hint where the stats can't prove it);
- aggregations get map-side partial aggregation for free;
- filters/projections sit against the parquet scan (pushdown + pruning);
- top-k per group is window row_number <= k (no global sort);
- AQE re-plans skew and coalesces small shuffle partitions at runtime.

Every query aliases its computed columns identically to its DuckDB
oracle twin, sums via decimal (see functions/agg.py), and emits
timestamps as epoch bigints so value hashes are engine-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.internal import InternalFunction

from simple_etl_pipeline_spark.functions.agg import (
    davg,
    dsum,
    epoch_seconds,
    floor_div,
    sql_davg,
    sql_dsum,
    sql_epoch,
    sql_floor_div,
)
from simple_etl_pipeline_spark.schemas import load_table


# --- Q1: pricing summary (TPC-H Q1 shape) -------------------------------
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-heavy single-table agg: filter pushes into the parquet scan,
    partial aggregation map-side, tiny shuffle (6 groups)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
  {sql_dsum('l_quantity')} AS sum_qty,
  {sql_dsum('l_extendedprice')} AS sum_base_price,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
  {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
  {sql_davg('l_quantity')} AS avg_qty,
  {sql_davg('l_extendedprice')} AS avg_price,
  {sql_davg('l_discount')} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- Q3: shipping priority (3-way join + top-k) --------------------------
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer (broadcast) |><| orders |><| lineitem, agg by order, top 10.
    Revenue is decimal-summed so the top-10 cut is engine-deterministic;
    o_orderkey breaks ties."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "o_orderkey",
            epoch_seconds("o_orderdate").alias("o_orderdate_epoch"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


Q3_ORACLE = f"""
SELECT o_orderkey,
  {sql_epoch('o_orderdate')} AS o_orderdate_epoch,
  o_orderpriority,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1997-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


# --- Q5: local supplier volume (6-way join) ------------------------------
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: the dimension chain region->nation->customer/supplier is
    broadcast; only orders|><|lineitem shuffles. The c_nationkey =
    s_nationkey condition rides on the join, not a post-filter."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    dims = (
        customer.join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            customer.c_nationkey == nation.n_nationkey,
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (supplier.s_nationkey == dims.n_nationkey),
        )
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q5_ORACLE = f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# --- Q6: forecast revenue change (pushdown showcase) ----------------------
def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three predicates reach the parquet scan (PushedFilters);
    single partial+final agg, no join."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


Q6_ORACLE = f"""
SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue, COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


# --- semi / anti joins ----------------------------------------------------
def join_semi_discounted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having >=1 heavily discounted line: left_semi join — no
    row multiplication, no dedup needed (EXISTS semantics)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.08)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("sum_total"))
        .orderBy("o_orderstatus")
    )


JOIN_SEMI_ORACLE = f"""
SELECT o_orderstatus, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS sum_total
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders: left_anti (NOT EXISTS semantics)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .orderBy("c_custkey")
    )


JOIN_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
ORDER BY c_custkey
"""


def join_broadcast_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact |><| broadcast(dim): part is small at every SF — the hint
    pins a broadcast hash join so lineitem never shuffles."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("p_brand")
    )


JOIN_BROADCAST_ORACLE = f"""
SELECT p_brand, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


# --- aggregation variants -------------------------------------------------
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts: Spark expands to a two-phase aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


AGG_DISTINCT_ORACLE = """
SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
       COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def agg_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(status, priority): hierarchy totals in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("sum_total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


AGG_ROLLUP_ORACLE = f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS sum_total
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def agg_cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(returnflag, linestatus): all 2^2 grouping sets in one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity").alias("sum_qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


AGG_CUBE_ORACLE = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, {sql_dsum('l_quantity')} AS sum_qty
FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (also exercises
    spark.sql as an API entry point)."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
        FROM {t}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """,
        t=load_table(spark, sf_dir, "orders"),
    )


AGG_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch counts — the 100 TB path for distincts.

    Sketch estimates are engine-specific, so the hashed output carries
    the EXACT distinct counts plus a boolean asserting the HLL estimate
    landed within 5% of exact; the oracle emits the exact counts and a
    literal TRUE. That makes the sketch driver-checkable without
    requiring bit-identical HLL registers across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
        F.approx_count_distinct("l_partkey", 0.01).alias("_ap"),
        F.approx_count_distinct("l_suppkey", 0.01).alias("_as"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    within = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) / F.col(exact) < F.lit(0.05)
    )
    return agg.select(
        "exact_parts",
        "exact_supps",
        "n_rows",
        within("_ap", "exact_parts").alias("parts_within_5pct"),
        within("_as", "exact_supps").alias("supps_within_5pct"),
    )


AGG_APPROX_DISTINCT_ORACLE = """
SELECT COUNT(DISTINCT l_partkey) AS exact_parts,
  COUNT(DISTINCT l_suppkey) AS exact_supps,
  COUNT(*) AS n_rows,
  TRUE AS parts_within_5pct,
  TRUE AS supps_within_5pct
FROM lineitem
"""


# --- window functions -----------------------------------------------------
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: row_number window, no global sort —
    the scalable form of per-group top-k."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    )


WINDOW_TOPK_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 3 ORDER BY o_custkey, rn
"""


def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running sum ordered by (date, orderkey). The frame
    sum is decimal so segment-tree vs sequential evaluation in different
    engines cannot produce different doubles."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        epoch_seconds("o_orderdate").alias("o_orderdate_epoch"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double").alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


WINDOW_RUNNING_ORACLE = f"""
SELECT o_custkey, o_orderkey, {sql_epoch('o_orderdate')} AS o_orderdate_epoch,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
FROM orders ORDER BY o_custkey, o_orderkey
"""


def window_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over an event stream per user; delta in plain double
    (deterministic per-row arithmetic)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    ).orderBy("user_id", "event_id")


WINDOW_LAG_ORACLE = """
SELECT user_id, event_id, value,
  LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
  value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events ORDER BY user_id, event_id
"""


# --- set operations -------------------------------------------------------
def setops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION in one tagged result."""
    cust_nk = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_nk = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = cust_nk.intersect(supp_nk).withColumn("op", F.lit("intersect"))
    cust_only = cust_nk.subtract(supp_nk).withColumn("op", F.lit("except"))
    either = cust_nk.union(supp_nk).distinct().withColumn("op", F.lit("union"))
    return both.unionByName(cust_only).unionByName(either).orderBy("op", "nationkey")


SETOPS_ORACLE = """
SELECT nationkey, 'intersect' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'except' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'union' AS op FROM
  (SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier)
ORDER BY op, nationkey
"""


def orderby_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — a per-partition
    heap + driver merge, never a full sort of the table."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


ORDERBY_LIMIT_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


# --- more TPC-H shapes ----------------------------------------------------
def q2_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): best supplier per nation via a
    window rank — replaces Q2's correlated subquery with one shuffle."""
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    best = supplier.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(F.broadcast(nation), best.s_nationkey == nation.n_nationkey)
        .select("n_name", "s_suppkey", "s_name", "s_acctbal")
        .orderBy("n_name")
    )


Q2_ORACLE = """
SELECT n_name, s_suppkey, s_name, s_acctbal FROM (
  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY s_nationkey
          ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
  FROM supplier s
) b JOIN nation ON b.s_nationkey = n_nationkey
WHERE rn = 1 ORDER BY n_name
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between customer-nation and
    supplier-nation pairs by ship year. Both nation lookups broadcast;
    the only shuffles are lineitem|><|orders and the final group."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cust_nation = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    supp_nation = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_nation), orders.o_custkey == cust_nation.c_custkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


Q7_ORACLE = f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS ship_year,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name != sn.n_name
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join so zero-order customers count,
    then a distribution over the per-customer counts (two aggregations,
    each keyed)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


Q13_ORACLE = """
SELECT n_orders, COUNT(*) AS n_customers FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS n_orders
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY n_orders ORDER BY n_customers DESC, n_orders DESC
"""


def join_full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: customer-count vs supplier-count per nation key,
    keeping nations present on either side only."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cust.join(supp, cust.ck == supp.sk, "full_outer")
        .select(
            F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


JOIN_FULL_OUTER_ORACLE = """
SELECT coalesce(ck, sk) AS nationkey,
       coalesce(n_customers, 0) AS n_customers,
       coalesce(n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS ck, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
FULL OUTER JOIN (SELECT s_nationkey AS sk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
  ON ck = sk
ORDER BY nationkey
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum revenue —
    scalar max joined back by equality. The decimal-derived revenue
    makes the equality comparison engine-safe."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (HAVING), joined back to customers — the having filter runs on the
    aggregated (small) side before the join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey",
            epoch_seconds("o_orderdate").alias("o_orderdate_epoch"),
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


Q18_ORACLE = f"""
SELECT c_custkey, c_name, o_orderkey, {sql_epoch('o_orderdate')} AS o_orderdate_epoch,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING {sql_dsum('l_quantity')} > 150
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
"""


def window_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based window frame (RANGE, not ROWS): each order with its
    customer's trailing-7-day order total. rangeBetween over epoch
    seconds = the sliding aggregate SQL engines express with RANGE
    INTERVAL frames."""
    orders = load_table(spark, sf_dir, "orders")
    with_epoch = orders.withColumn("od_epoch", epoch_seconds("o_orderdate"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("od_epoch")
        .rangeBetween(-7 * 86400, 0)
    )
    return with_epoch.select(
        "o_custkey",
        "o_orderkey",
        "od_epoch",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("trailing_7d_total"),
    ).orderBy("o_custkey", "o_orderkey")


WINDOW_ROLLING_7D_ORACLE = f"""
SELECT o_custkey, o_orderkey, od_epoch,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
    PARTITION BY o_custkey ORDER BY od_epoch
    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d_total
FROM (SELECT *, {sql_epoch('o_orderdate')} AS od_epoch FROM orders)
ORDER BY o_custkey, o_orderkey
"""


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    orders — scalar aggregate (decimal avg, broadcast as a 1-row cross
    join) + anti join, grouped by nation."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    return (
        customer.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


Q22_ORACLE = f"""
SELECT c_nationkey, COUNT(*) AS n_customers, {sql_dsum('c_acctbal')} AS total_bal
FROM customer c
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for orders with >=1 late
    line — EXISTS as a left_semi join."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    late = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns —
    join, decimal-summed agg, deterministic top-k cut."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = f"""
SELECT c_custkey, c_name, n_name, c_acctbal,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) —
    high/low-priority line counts per return flag."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_ORACLE = """
SELECT l_returnflag,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional to total revenue (promo =
    parts whose type starts with a prefix). Both sums decimal-reduced;
    the final ratio is one double division."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("STANDARD"), rev).otherwise(F.lit(0.0))
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        (dsum(promo) * 100.0 / dsum(rev)).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q14_ORACLE = f"""
SELECT
  {sql_dsum("CASE WHEN p_type LIKE 'STANDARD%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
    * 100.0 / {sql_dsum('l_extendedprice * (1 - l_discount)')} AS promo_revenue_pct,
  COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates across the
    join — Catalyst extracts the common l_partkey=p_partkey conjunct so
    the join stays an equi-join with a residual OR filter."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = (F.col("p_brand") == "Brand#1") & (F.col("l_quantity") >= 1) & (
        F.col("l_quantity") <= 11
    ) & (F.col("p_size") <= 10)
    c2 = (F.col("p_brand") == "Brand#2") & (F.col("l_quantity") >= 10) & (
        F.col("l_quantity") <= 20
    ) & (F.col("p_size") <= 20)
    c3 = (F.col("p_brand") == "Brand#3") & (F.col("l_quantity") >= 20) & (
        F.col("l_quantity") <= 30
    ) & (F.col("p_size") <= 30)
    return joined.filter(c1 | c2 | c3).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


Q19_ORACLE = f"""
SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue, COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size <= 10)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size <= 20)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size <= 30)
"""


def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage in one projection: string ops, date
    parts/arithmetic, null handling — every expression dialect-safe in
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_upper"),
        F.substring("o_orderpriority", 1, 1).alias("priority_digit"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.length("o_orderpriority").alias("priority_len"),
        F.col("o_orderpriority").like("%HIGH%").alias("is_high_like"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        epoch_seconds(F.date_trunc("month", "o_orderdate")).alias("month_start_epoch"),
        F.coalesce(
            F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")
        ).alias("status_or_pending"),
        F.when(F.col("o_totalprice") > 100000, "big").otherwise("small").alias(
            "size_class"
        ),
    ).orderBy("o_orderkey")


SCALAR_FUNCTIONS_ORACLE = f"""
SELECT o_orderkey,
  upper(o_orderstatus) AS status_upper,
  substr(o_orderpriority, 1, 1) AS priority_digit,
  concat_ws('-', o_orderstatus, o_orderpriority) AS status_priority,
  length(o_orderpriority) AS priority_len,
  o_orderpriority LIKE '%HIGH%' AS is_high_like,
  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
  CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS order_month,
  CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS order_day,
  {sql_epoch("date_trunc('month', o_orderdate)")} AS month_start_epoch,
  coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_or_pending,
  CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class
FROM orders ORDER BY o_orderkey
"""


# --- pivot / percentiles / histogram / relative-to-group -----------------
def agg_conditional_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order totals: status columns per priority row. Spark's pivot
    compiles to conditional aggregates — one shuffle, no per-status scan."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(dsum("o_totalprice"))
        .orderBy("o_orderpriority")
    )


AGG_PIVOT_ORACLE = f"""
SELECT o_orderpriority,
  {sql_dsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS "F",
  {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS "O",
  {sql_dsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS "P"
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the sketch-free form;
    at 100 TB use approx_percentile — same API shape). Rounded because
    interpolation factoring differs across engines in the last bits."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


AGG_PERCENTILES_ORACLE = """
SELECT o_orderstatus,
  round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
  round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
  COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via integer bucketing — a groupBy on a
    derived key, the scalable form of numeric distribution profiling."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_quantity") / 10).cast("long")
    return (
        li.groupBy(bucket.alias("qty_bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_extendedprice").alias("sum_price"))
        .orderBy("qty_bucket")
    )


AGG_HISTOGRAM_ORACLE = f"""
SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bucket,
  COUNT(*) AS n_rows, {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def agg_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/skew.py) on a
    deliberately hot key (3 return flags over all of lineitem). The
    salted plan must be value-identical to the plain GROUP BY oracle —
    decimal reduction makes that exact, proving salting is a drop-in."""
    from simple_etl_pipeline_spark.operators.skew import salted_sum_count

    li = load_table(spark, sf_dir, "lineitem")
    return salted_sum_count(
        li,
        ["l_returnflag"],
        F.col("l_extendedprice") * (1 - F.col("l_discount")),
        sum_alias="sum_revenue",
        count_alias="n_rows",
    ).orderBy("l_returnflag")


AGG_SALTED_ORACLE = f"""
SELECT l_returnflag,
  {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_revenue,
  COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def window_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above their customer's average (correlated-subquery shape,
    expressed as a window — one shuffle instead of a self-join)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        orders.withColumn("cust_avg", cust_avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select("o_custkey", "o_orderkey", "o_totalprice", "cust_avg")
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_ABOVE_AVG_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, cust_avg FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (PARTITION BY o_custkey) AS DOUBLE)
      / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
  FROM orders
) WHERE o_totalprice > cust_avg
ORDER BY o_custkey, o_orderkey
"""


# --- remaining TPC-H shapes (Q8/Q9/Q11/Q16/Q17/Q20/Q21) ------------------
# The testdata has no partsupp table and no l_commitdate/l_receiptdate
# columns, so Q9/Q11/Q16/Q20/Q21 are adapted to the available schema
# while keeping each query's *characteristic plan shape* — that shape
# (scalar-subquery HAVING, correlated per-group average, nested
# semi-joins, exists/not-exists) is what exercises the optimizer.


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue sold
    into ASIA, by order year. Two conditional decimal sums, one ratio;
    every dimension (part/customer-nation-region/supplier-nation)
    broadcast, so only lineitem|><|orders shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    cust_in_region = customer.join(
        F.broadcast(
            nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        ),
        customer.c_nationkey == nation.n_nationkey,
    ).select("c_custkey")
    supp_nation = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_in_region), orders.o_custkey == cust_in_region.c_custkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((dsum(target) / dsum(vol)).alias("mkt_share"))
        .orderBy("o_year")
    )


Q8_ORACLE = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
  {sql_dsum("CASE WHEN sn.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
    / {sql_dsum('l_extendedprice * (1 - l_discount)')} AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
GROUP BY 1 ORDER BY 1
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for parts
    matching a name pattern. No partsupp in the testdata, so unit cost
    is modeled as 60% of p_retailprice (same join/agg shape: fact joins
    two broadcast dims, grouped on nation x year)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp_nation = supplier.join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_ORACLE = f"""
SELECT n_name AS nation,
  CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
  {sql_dsum('l_extendedprice * (1 - l_discount) - 0.6 * p_retailprice * l_quantity')} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


Q11_FRACTION = 0.0005


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose value exceeds a fraction of the
    GLOBAL total — the scalar-subquery HAVING. The global total is a
    broadcast 1-row aggregate cross-joined onto the per-part rollup
    (never a driver-side collect), so the threshold comparison is a
    map-side filter after one reuse-able aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(dsum(val).alias("part_value"))
    total = li.agg(dsum(val).alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.lit(Q11_FRACTION) * F.col("total_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_ORACLE = f"""
SELECT l_partkey, {sql_dsum('l_extendedprice * (1 - l_discount)')} AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING {sql_dsum('l_extendedprice * (1 - l_discount)')} > {Q11_FRACTION} * (
  SELECT {sql_dsum('l_extendedprice * (1 - l_discount)')} FROM lineitem
)
ORDER BY part_value DESC, l_partkey
"""


def q16_supplier_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    combo, with NOT-predicates on the part side and an exclusion
    subquery on the supplier side (here: negative-balance suppliers,
    standing in for the complaints filter; anti-join keeps it a
    broadcast). The part-supplier relation comes from lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    bad_suppliers = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_suppliers),
            li.l_suppkey == bad_suppliers.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#4'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems under 20% of their part's
    average quantity — the correlated scalar subquery, expressed as a
    per-part aggregate joined back to the fact (one extra keyed shuffle
    instead of N correlated rescans)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    # per-part average as a window, not an aggregate-and-join-back:
    # one scan of the fact instead of two, one shuffle on p_partkey.
    w = Window.partitionBy("p_partkey")
    threshold = F.lit(0.2) * (
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).over(w).cast("double")
        / F.count(F.lit(1)).over(w)
    )
    return (
        branded.withColumn("qty_threshold", threshold)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q17_ORACLE = f"""
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#4'
),
thresholds AS (
  SELECT l_partkey AS t_partkey, 0.2 * {sql_davg('l_quantity')} AS qty_threshold
  FROM branded GROUP BY 1
)
SELECT {sql_dsum('l_extendedprice')} / 7.0 AS avg_yearly, COUNT(*) AS n_lines
FROM branded JOIN thresholds ON l_partkey = t_partkey
WHERE l_quantity < qty_threshold
"""


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who dominate shipment of red-named
    parts (>20% of a part's total shipped quantity — a scale-free
    stand-in for the 0.5*availqty threshold; no partsupp table, and
    supplier shares in the synthetic data are near-uniform ~5-10%, so
    20% means 2-4x a fair share). Nested aggregation -> semi-join chain
    into the supplier dimension."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    red_lines = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_supp = red_lines.groupBy("l_partkey", "l_suppkey").agg(
        dsum("l_quantity").alias("supp_qty")
    )
    per_part = red_lines.groupBy("l_partkey").agg(
        dsum("l_quantity").alias("part_qty")
    )
    dominant = (
        per_supp.join(per_part, "l_partkey")
        .filter(F.col("supp_qty") > F.lit(0.2) * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(dominant, supplier.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


Q20_ORACLE = f"""
WITH red_lines AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red%'
),
per_supp AS (
  SELECT l_partkey, l_suppkey, {sql_dsum('l_quantity')} AS supp_qty
  FROM red_lines GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, {sql_dsum('l_quantity')} AS part_qty
  FROM red_lines GROUP BY 1
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey FROM per_supp JOIN per_part USING (l_partkey)
  WHERE supp_qty > 0.2 * part_qty
)
ORDER BY s_suppkey
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for late
    multi-supplier finished orders. Lateness adapted to
    l_shipdate > o_orderdate + 90 days (no l_receiptdate/l_commitdate in
    the testdata). The exists / not-exists pair is one per-order
    aggregate (distinct suppliers vs distinct late suppliers) instead of
    two correlated self-joins — one shuffle on orderkey replaces two."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    supplier = load_table(spark, sf_dir, "supplier")
    lines = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).cast(
            "int"
        ),
    )
    # per-order distinct-supplier counts as window expressions over one
    # shuffle on l_orderkey — a groupBy-and-join-back would scan
    # lineitem|><|orders twice (verified in .explain before this form).
    w = Window.partitionBy("l_orderkey")
    annotated = lines.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn(
        "n_late_supp",
        F.size(
            F.collect_set(
                F.when(F.col("is_late") == 1, F.col("l_suppkey"))
            ).over(w)
        ),
    )
    sole_late = (
        annotated.filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1)
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        sole_late.join(
            F.broadcast(supplier), sole_late.l_suppkey == supplier.s_suppkey
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_ORACLE = """
WITH lines AS (
  SELECT l_orderkey, l_suppkey,
    CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
    COUNT(DISTINCT l_suppkey) AS n_supp,
    COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END) AS n_late_supp
  FROM lines GROUP BY 1
),
sole_late AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lines l JOIN per_order o ON l.l_orderkey = o.l_orderkey
  WHERE l.is_late = 1 AND o.n_supp > 1 AND o.n_late_supp = 1
)
SELECT s_name, COUNT(*) AS numwait
FROM sole_late JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


QUERIES = {
    # Registration order is meaningful: the driver's correctness gate
    # checks a prefix window of queries() in registration order, so the
    # entries most in need of a fresh driver row (historically q12
    # after the oracle CAST fix) come first.
    "q12_shipmode_priority": q12_shipmode_priority,
    # agg_approx_distinct DEMOTED round 14 (capacity rule, one per r14
    # registration — matching dq_snapshot_diff at TAIL_QUERIES): the
    # HLL-sketch sibling of the registered EXACT agg_distinct_counts
    # on the same key universe — the sketch-vs-exact precedent that
    # demoted agg_approx_percentile (r12) and ev_countmin_users (r13);
    # its hashed output already IS the exact counts plus a tolerance
    # boolean, so the registered exact row pins the whole surface.
    # Full pytest parity continues via testing.demoted_queries()
    # (never a bench HEADLINE member, so no perf trend ends here —
    # the r14 review corrected this note class repo-wide).
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_revenue": q5_region_revenue,
    "q6_revenue_filter": q6_revenue_filter,
    "q14_promo_revenue": q14_promo_revenue,
    "join_broadcast_brand_revenue": join_broadcast_brand_revenue,
    "window_rolling_7d": window_rolling_7d,
    # round-10 demotions (one per round-10 registration; capacity rule
    # — each keeps full pytest oracle parity via
    # testing.demoted_queries() and its bench row):
    #   - orderby_limit_top_orders: TakeOrderedAndProject surface
    #     shared with the registered q10/q15/q18 order+limit heads.
    #   - agg_rollup_orders: grouping-sets family — the registered
    #     agg_cube_lineitem + agg_grouping_sets pin the Expand
    #     operator; rollup is a strict subset of both.
    #   - agg_salted_sum: its RESULT equals the plain sum the
    #     registered aggregation rows already hash; its unique content
    #     — the salting plan shape — is pinned by test_plan_shapes.
    #   - window_running_total: prefix-sum semantics are now pinned by
    #     the global_prefix_sum surfaces (train_token_budget_pack's
    #     plan-shape test + the registering ev_trimmed_mean rank
    #     path); the un-partitioned running-sum window it demonstrates
    #     is the exact shape global_prefix_sum exists to replace.
    "q2_top_supplier_per_nation": q2_top_supplier_per_nation,
    "q4_order_priority": q4_order_priority,
    "q7_nation_volume": q7_nation_volume,
    "q10_returned_items": q10_returned_items,
    "q13_order_count_distribution": q13_order_count_distribution,
    "join_full_outer_nation_presence": join_full_outer_nation_presence,
    "q15_top_supplier": q15_top_supplier,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_disjunctive_filter": q19_disjunctive_filter,
    "q22_idle_customers": q22_idle_customers,
    "scalar_functions": scalar_functions,
    "join_semi_discounted": join_semi_discounted,
    "join_anti_customers_without_orders": join_anti_customers_without_orders,
    "agg_distinct_counts": agg_distinct_counts,
    # agg_cube_lineitem DEMOTED round 13 (capacity rule, one per r13
    # registration — matching st_dedup_lsh_index at
    # streaming/stateful.py QUERIES): its Expand operator is a strict
    # special case of the registered agg_grouping_sets (the rationale
    # that demoted agg_rollup_orders in r10 — grouping_sets is the
    # strictly-larger surface). Full pytest parity via
    # testing.demoted_queries().
    "agg_grouping_sets": agg_grouping_sets,
    "agg_conditional_pivot": agg_conditional_pivot,
    "agg_percentiles": agg_percentiles,
    # agg_histogram DEMOTED round 11 (capacity rule, matching the
    # dq_profile_drift registration): the equi-width bucketing sibling
    # of the registered percentile heads — agg_percentiles pins the
    # same numeric-distribution scan, and dq_profile_drift itself
    # registers a histogram-per-window comparison this round. Full
    # pytest parity via testing.demoted_queries() (never a bench
    # HEADLINE member; note corrected r14).
    "window_above_customer_avg": window_above_customer_avg,
    "window_topk_orders_per_customer": window_topk_orders_per_customer,
    "setops_nations": setops_nations,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_important_parts": q11_important_parts,
    "q16_supplier_cardinality": q16_supplier_cardinality,
    "q17_small_qty_revenue": q17_small_qty_revenue,
    "q20_excess_shippers": q20_excess_shippers,
    "q21_waiting_suppliers": q21_waiting_suppliers,
}

ORACLES = {
    "q1_pricing_summary": Q1_ORACLE,
    "q3_shipping_priority": Q3_ORACLE,
    "q5_region_revenue": Q5_ORACLE,
    "q6_revenue_filter": Q6_ORACLE,
    "q2_top_supplier_per_nation": Q2_ORACLE,
    "q4_order_priority": Q4_ORACLE,
    "q7_nation_volume": Q7_ORACLE,
    "q10_returned_items": Q10_ORACLE,
    "q12_shipmode_priority": Q12_ORACLE,
    "q13_order_count_distribution": Q13_ORACLE,
    "join_full_outer_nation_presence": JOIN_FULL_OUTER_ORACLE,
    "q14_promo_revenue": Q14_ORACLE,
    "q15_top_supplier": Q15_ORACLE,
    "q18_large_volume_customers": Q18_ORACLE,
    "q19_disjunctive_filter": Q19_ORACLE,
    "window_rolling_7d": WINDOW_ROLLING_7D_ORACLE,
    "q22_idle_customers": Q22_ORACLE,
    "scalar_functions": SCALAR_FUNCTIONS_ORACLE,
    "join_semi_discounted": JOIN_SEMI_ORACLE,
    "join_anti_customers_without_orders": JOIN_ANTI_ORACLE,
    "join_broadcast_brand_revenue": JOIN_BROADCAST_ORACLE,
    "agg_distinct_counts": AGG_DISTINCT_ORACLE,
    # agg_cube_lineitem demoted r13 — see QUERIES comment
    "agg_grouping_sets": AGG_GROUPING_SETS_ORACLE,
    # agg_approx_distinct demoted r14 — see QUERIES comment
    "agg_conditional_pivot": AGG_PIVOT_ORACLE,
    "agg_percentiles": AGG_PERCENTILES_ORACLE,
    # agg_histogram demoted r11 — see QUERIES comment
    "window_above_customer_avg": WINDOW_ABOVE_AVG_ORACLE,
    "window_topk_orders_per_customer": WINDOW_TOPK_ORACLE,
    "setops_nations": SETOPS_ORACLE,
    "q8_market_share": Q8_ORACLE,
    "q9_product_profit": Q9_ORACLE,
    "q11_important_parts": Q11_ORACLE,
    "q16_supplier_cardinality": Q16_ORACLE,
    "q17_small_qty_revenue": Q17_ORACLE,
    "q20_excess_shippers": Q20_ORACLE,
    "q21_waiting_suppliers": Q21_ORACLE,
}


def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest-style percentile sketch (approx_percentile) made
    oracle-checkable the same way as agg_approx_distinct: emit the exact
    interpolated percentiles plus booleans asserting the sketch landed
    within 5% relative error; the oracle computes exact + TRUE. At
    100 TB the sketch is the only viable percentile path (mergeable,
    one pass, bounded memory) — this query pins its accuracy contract."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("exact_p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("exact_p90"),
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("_a50"),
        F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias("_a90"),
    )
    within = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) / F.col(exact) < F.lit(0.05)
    )
    return agg.select(
        "o_orderstatus",
        "exact_p50",
        "exact_p90",
        within("_a50", "exact_p50").alias("p50_within_5pct"),
        within("_a90", "exact_p90").alias("p90_within_5pct"),
    ).orderBy("o_orderstatus")


AGG_APPROX_PERCENTILE_ORACLE = """
SELECT o_orderstatus,
  round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
  round(quantile_cont(o_totalprice, 0.9), 2) AS exact_p90,
  TRUE AS p50_within_5pct,
  TRUE AS p90_within_5pct
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# Registered after every module's main dict (no driver-window slot).
def window_ntile_customer_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value deciles: rank customers by total spend, NTILE(10),
    then per-decile totals — the segmentation query behind every
    marketing/LTV dashboard. Ordering is made fully deterministic
    (spend desc, custkey asc) so the decile assignment — and therefore
    the oracle hash — is engine-identical.

    Scale shape: the per-customer aggregate shuffles on c_custkey; the
    NTILE is a single global ordering of the already-aggregated rows
    (customers, not orders). At 100 TB you'd range-partition that sort;
    the decile rollup after it is 10 rows."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        dsum("o_totalprice").alias("spend"), F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey"))
    return (
        spend.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("spend").alias("decile_spend"),
            F.sum("n_orders").alias("n_orders"),
        )
        .orderBy("decile")
    )


WINDOW_NTILE_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey, {sql_dsum('o_totalprice')} AS spend, COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT *, NTILE(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS decile
  FROM spend
)
SELECT decile, COUNT(*) AS n_customers,
  {sql_dsum('spend')} AS decile_spend,
  CAST(SUM(n_orders) AS BIGINT) AS n_orders
FROM ranked GROUP BY decile ORDER BY decile
"""


FUZZY_LEN_BAND = 4
FUZZY_MAX_DIST = 2


def join_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution: near-identical part names within a brand via a
    banded self-join + Levenshtein verify — the record-linkage shape for
    dirty catalog data (the reference's domain is exactly such records).

    Scale shape: candidate pairs come from an equi-join on
    (brand, length-band) — never a cross join — so the verify runs on
    bucket-bounded candidates; edit distance is computed only inside
    buckets. The band admits distance edits that preserve length band;
    like LSH banding, boundary-crossing pairs are the documented recall
    trade. Distance-0 pairs are excluded (exact dedup's job)."""
    part = load_table(spark, sf_dir, "part")
    b = part.select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.floor(F.length("p_name") / FUZZY_LEN_BAND).alias("lb"),
    )
    x = b.alias("x")
    y = b.alias("y")
    dist = F.levenshtein(F.col("x.p_name"), F.col("y.p_name"))
    return (
        x.join(
            y,
            (F.col("x.p_brand") == F.col("y.p_brand"))
            & (F.col("x.lb") == F.col("y.lb"))
            & (F.col("x.p_partkey") < F.col("y.p_partkey")),
        )
        .filter(dist.between(1, FUZZY_MAX_DIST))
        .select(
            F.col("x.p_brand").alias("p_brand"),
            F.col("x.p_partkey").alias("key1"),
            F.col("y.p_partkey").alias("key2"),
            F.col("x.p_name").alias("name1"),
            F.col("y.p_name").alias("name2"),
            dist.alias("edit_dist"),
        )
        .orderBy("key1", "key2")
    )


JOIN_FUZZY_ORACLE = f"""
WITH b AS (
  SELECT p_partkey, p_brand, p_name,
         length(p_name) // {FUZZY_LEN_BAND} AS lb
  FROM part
)
SELECT x.p_brand, x.p_partkey AS key1, y.p_partkey AS key2,
  x.p_name AS name1, y.p_name AS name2,
  levenshtein(x.p_name, y.p_name) AS edit_dist
FROM b x JOIN b y
  ON x.p_brand = y.p_brand AND x.lb = y.lb AND x.p_partkey < y.p_partkey
WHERE levenshtein(x.p_name, y.p_name) BETWEEN 1 AND {FUZZY_MAX_DIST}
ORDER BY key1, key2
"""


def join_fuzzy_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded fuzzy join vs the unbanded within-brand
    ground truth (brand buckets are small enough to verify exhaustively
    here — the same pattern as sim_ivf_recall: the cheap exact twin
    exists precisely to pin the approximate path's quality).

    One row: ground-truth pairs, banded pairs, recall. Banded is a
    strict subset of ground truth (banding only drops pairs), so
    banded/full IS the recall."""
    part = load_table(spark, sf_dir, "part")
    b = part.select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.floor(F.length("p_name") / FUZZY_LEN_BAND).alias("lb"),
    )
    x, y = b.alias("x"), b.alias("y")
    dist = F.levenshtein(F.col("x.p_name"), F.col("y.p_name"))
    full = (
        x.join(
            y,
            (F.col("x.p_brand") == F.col("y.p_brand"))
            & (F.col("x.p_partkey") < F.col("y.p_partkey")),
        )
        .filter(dist.between(1, FUZZY_MAX_DIST))
        .select((F.col("x.lb") == F.col("y.lb")).cast("bigint").alias("in_band"))
    )
    return full.groupBy().agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.sum("in_band").alias("n_banded_pairs"),
        F.round(
            F.sum("in_band").cast("double") / F.count(F.lit(1)), 6
        ).alias("recall"),
    )


JOIN_FUZZY_RECALL_ORACLE = f"""
WITH b AS (
  SELECT p_partkey, p_brand, p_name,
         length(p_name) // {FUZZY_LEN_BAND} AS lb
  FROM part
), full_pairs AS (
  SELECT CAST(x.lb = y.lb AS BIGINT) AS in_band
  FROM b x JOIN b y
    ON x.p_brand = y.p_brand AND x.p_partkey < y.p_partkey
  WHERE levenshtein(x.p_name, y.p_name) BETWEEN 1 AND {FUZZY_MAX_DIST}
)
SELECT COUNT(*) AS n_true_pairs,
  CAST(SUM(in_band) AS BIGINT) AS n_banded_pairs,
  round(CAST(SUM(in_band) AS DOUBLE) / COUNT(*), 6) AS recall
FROM full_pairs
"""


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long): melt three lineitem measure columns into
    (measure, value) rows and aggregate per (returnflag, measure) — the
    inverse of agg_conditional_pivot and the missing half of the
    pivot/unpivot pair. DataFrame.unpivot is a narrow Expand node (each
    input row fans out to 3, no shuffle until the aggregate), so the
    plan is scan -> expand -> partial agg -> one keyed exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("val").alias("sum_val"),
            davg("val").alias("avg_val"),
        )
        .orderBy("l_returnflag", "measure")
    )


UNPIVOT_ORACLE = f"""
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
)
SELECT l_returnflag, measure, COUNT(*) AS n,
  {sql_dsum('val')} AS sum_val,
  {sql_davg('val')} AS avg_val
FROM long GROUP BY l_returnflag, measure
ORDER BY l_returnflag, measure
"""


def agg_mode_source_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE: the most frequent source per language, with
    explicit tie-breaks (count desc, value asc). Built-in mode() in both
    engines returns an ARBITRARY value on ties, which can never pass a
    cross-engine value-hash — so the operator is expressed as the
    count-then-rank idiom (one keyed aggregation + a WindowGroupLimit
    rank over the tiny per-group counts), which is also how a 100 TB
    mode should run: partial counts map-side, rank over groups, never a
    global sort."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("source"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "lang", F.col("source").alias("mode_source"), F.col("n").alias("n")
        )
        .orderBy("lang")
    )


AGG_MODE_ORACLE = """
SELECT lang, mode_source, n FROM (
  SELECT lang, source AS mode_source, COUNT(*) AS n,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, source ASC)
      AS rn
  FROM documents GROUP BY lang, source
) WHERE rn = 1 ORDER BY lang
"""


def window_percent_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions: percent_rank and cume_dist
    of supplier account balance within each nation — the remaining
    analytic-window shapes the engine didn't yet cover (rank/lag/ntile/
    rolling are elsewhere). Both are rank-based, so ties produce the
    same value regardless of row order — deterministic across engines.
    One shuffle keyed by nation; WindowExec sorts within partitions."""
    supplier = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.asc("s_acctbal"))
    return (
        supplier.select(
            "s_suppkey",
            "s_nationkey",
            "s_acctbal",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
        )
        .orderBy("s_suppkey")
    )


WINDOW_PERCENT_RANK_ORACLE = """
SELECT s_suppkey, s_nationkey, s_acctbal,
  round(percent_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal ASC), 6)
    AS pct_rank,
  round(cume_dist() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal ASC), 6)
    AS cume_dist
FROM supplier ORDER BY s_suppkey
"""


# Rows per prefix-sum block: global_prefix_sum's running-sum window
# runs per block of this many consecutive ranks, and the block offsets
# window sees at most N / PREFIX_BLOCK_ROWS rows.
PREFIX_BLOCK_ROWS = 1 << 20


def global_row_number(
    df: DataFrame,
    sort_cols: list,
    out: str = "_rn",
    num_partitions: int | None = None,
):
    """Exact 1-based global row number under a TOTAL order, without a
    single-partition window:

      1. range-shuffle on the sort key (`repartitionByRange`), so
         partition i holds a contiguous key range and partition order
         equals key order;
      2. sort within each partition;
      3. number the rows with Spark's distributed sequence
         (`AttachDistributedSequenceExec`, the pandas-on-Spark default
         index): it zips ONE execution of its child with 64-bit
         indices in partition order, then row order. Spark caches that
         child for the length of the action and frees it when the
         action ends, so the per-partition counts and the numbered rows
         come from the same range boundaries.

    No window runs at all; the only data-sized work is the range
    shuffle and the local sort. The ranks are a pure function of the
    total order, not of where the sampled range boundaries fall, so a
    recompute (a lost partition, a cleared cache, a second branch that
    reads the ranked frame) reproduces them exactly and the frame needs
    no persist and no release.

    `sort_cols` must be a total order (include a unique tiebreaker)
    and null placement must be encoded explicitly (e.g. a null-flag
    column): range partitioning and the local sort both use plain
    ascending order."""
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn(out, InternalFunction.distributed_sequence_id() + 1)
    )


def global_prefix_sum(
    df: DataFrame,
    sort_cols: list,
    val_col: str,
    out_rank: str = "_rn",
    out_cum: str = "_cum",
    num_partitions: int | None = None,
):
    """Exact global 1-based rank AND inclusive running sum of
    `val_col` under a TOTAL order: the scale-safe form of
    `SUM(v) OVER (ORDER BY ...)`, an un-partitioned running sum that
    would otherwise pull the whole frame through one task.

      1. rank with `global_row_number`;
      2. cut the ranks into blocks of PREFIX_BLOCK_ROWS consecutive
         rows (`_blk`) and run the running sum as a `_blk`-keyed
         window: each window partition holds at most 2^20 rows;
      3. per-block sums (a `_blk`-keyed aggregation, combined map-side)
         give exclusive block offsets through a running-sum window over
         the block sums: at most N / 2^20 rows;
      4. broadcast-join the offsets back: cum = local cum + offset.

    Every branch is a pure function of the total order, so no barrier
    is needed. Preconditions as for global_row_number (total order,
    explicit null placement) plus: `val_col` must be a non-null
    integral column (coalesce at the call site) so partial sums are
    exact under any partitioning."""
    ranked = global_row_number(
        df, sort_cols, out=out_rank, num_partitions=num_partitions
    ).withColumn("_blk", F.expr(f"({out_rank} - 1) div {PREFIX_BLOCK_ROWS}"))
    block_sums = ranked.groupBy("_blk").agg(F.sum(val_col).alias("_bsum"))
    offsets = block_sums.select(
        "_blk",
        F.coalesce(
            F.sum("_bsum").over(
                Window.orderBy("_blk").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_voff"),
    )
    local_cum = F.sum(F.col(val_col)).over(
        Window.partitionBy("_blk")
        .orderBy(out_rank)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranked.withColumn("_lcum", local_cum)
        .join(F.broadcast(offsets), "_blk")
        .withColumn(out_cum, (F.col("_lcum") + F.col("_voff")).cast("bigint"))
        .drop("_blk", "_lcum", "_voff")
    )


def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer Recency (days since
    last order, against the dataset's as-of date), Frequency (order
    count) and Monetary (exact decimal-micros spend), each cut into
    quintiles, then per-(R,F,M)-cell rollups — the classic marketing/
    LTV segmentation grid (<= 125 cells). Quintile assignment is
    NTILE(5) with fully deterministic ordering (metric, then custkey),
    so the bucket of every customer — and the oracle hash — is
    engine-identical; R orders ascending (bucket 1 = most recent),
    F and M descending (bucket 1 = most frequent / highest spend);
    NULL spend (all-NULL prices) sorts LAST under M, matching both
    engines' DESC null placement, via an explicit null-flag sort
    column.

    Scale shape (the VERDICT r7 #3 fix — no global un-partitioned
    NTILE anywhere): one o_custkey-keyed aggregation of orders
    (map-side combined); the as-of date and N are one 1-row scalar
    broadcast aggregated from it;
    the three quintile assignments MELT the customer frame into
    (metric_code, sort_value) rows — exactly 3N, one range shuffle —
    and compute each customer's exact per-metric rank with
    `global_row_number` (range partition + distributed sequence, no
    window). NTILE(5)'s bucket arithmetic is then a pure
    per-row formula of (rank, N): the first N%5 buckets take
    ceil(N/5) rows, the rest floor(N/5) — bit-identical to the window
    NTILE both engines run, at any N. Buckets rejoin per customer via
    one conditional-aggregation groupBy (no pivot, no self-join); the
    cell rollup after it is <= 125 rows. Every shuffle is linear and
    keyed — this plan survives a billion-customer frame."""
    orders = load_table(spark, sf_dir, "orders")
    micros = (
        F.col("o_totalprice").cast("decimal(38,6)") * 1_000_000
    ).cast("bigint")
    per_cust = orders.select(
        "o_custkey",
        epoch_seconds(F.col("o_orderdate")).alias("od_ep"),
        micros.alias("v_micros"),
    ).groupBy("o_custkey").agg(
        F.max("od_ep").alias("last_ep"),
        F.count(F.lit(1)).alias("f"),
        F.sum(F.col("v_micros").cast("decimal(38,0)")).alias("m_micros"),
    )
    # The as-of date (the max of the per-customer maxima) and N come
    # from one 1-row aggregate of per_cust, so orders is aggregated
    # once; n_cust rides through the melt to the bucket arithmetic.
    scalars = per_cust.agg(
        F.max("last_ep").alias("asof_ep"),
        F.count(F.lit(1)).alias("n_cust"),
    )
    rfm = per_cust.crossJoin(F.broadcast(scalars)).select(
        "o_custkey",
        F.expr("(asof_ep - last_ep) div 86400").alias("r_days"),
        "f",
        "m_micros",
        "n_cust",
    )
    # Melt: metric code 0=R (asc), 1=F (desc via negation), 2=M (desc
    # via negation, NULL last via the null flag). All sort values fit
    # decimal(38,0) exactly; f/m/n_cust ride along so no join-back is
    # needed.
    dec = "decimal(38,0)"
    melted = rfm.select(
        "o_custkey",
        "f",
        "m_micros",
        "n_cust",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("mc"),
                    F.lit(0).alias("null_last"),
                    F.col("r_days").cast(dec).alias("sv"),
                ),
                F.struct(
                    F.lit(1).alias("mc"),
                    F.lit(0).alias("null_last"),
                    (-F.col("f")).cast(dec).alias("sv"),
                ),
                F.struct(
                    F.lit(2).alias("mc"),
                    F.when(F.col("m_micros").isNull(), F.lit(1))
                    .otherwise(F.lit(0))
                    .alias("null_last"),
                    (-F.col("m_micros")).cast(dec).alias("sv"),
                ),
            )
        ).alias("x"),
    ).select(
        "o_custkey",
        "f",
        "m_micros",
        "n_cust",
        "x.mc",
        "x.null_last",
        F.coalesce("x.sv", F.lit(0).cast(dec)).alias("sv"),
    )
    ranked = global_row_number(
        melted, ["mc", "null_last", "sv", "o_custkey"], out="grn"
    )
    # Each metric block holds exactly N rows (every customer melts into
    # all three), so per-metric rank = global rn - mc*N, and NTILE(5)
    # is pure arithmetic on (rank, N): q=N div 5, r=N mod 5, the first
    # r buckets take q+1 rows. greatest(q,1) keeps the (unreachable
    # when q=0) ELSE branch ANSI-safe.
    scored = (
        ranked
        .withColumn("mrank", F.col("grn") - F.col("mc") * F.col("n_cust"))
        .withColumn(
            "bucket",
            F.expr(
                """CASE
                     WHEN mrank <= (n_cust % 5) * (n_cust div 5 + 1)
                     THEN (mrank + n_cust div 5) div (n_cust div 5 + 1)
                     ELSE (n_cust % 5)
                          + (mrank - (n_cust % 5) * (n_cust div 5 + 1)
                             + greatest(n_cust div 5, 1L) - 1)
                            div greatest(n_cust div 5, 1L)
                   END"""
            ).cast("int"),
        )
    )
    per_cust_buckets = scored.groupBy("o_custkey").agg(
        F.max(F.when(F.col("mc") == 0, F.col("bucket"))).alias("r_bucket"),
        F.max(F.when(F.col("mc") == 1, F.col("bucket"))).alias("f_bucket"),
        F.max(F.when(F.col("mc") == 2, F.col("bucket"))).alias("m_bucket"),
        F.max("f").alias("f"),
        F.max("m_micros").alias("m_micros"),
    )
    return (
        per_cust_buckets.groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("f").cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("m_micros")).cast("double") / 1e6, 2
            ).alias("segment_value"),
        )
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    )


AGG_RFM_ORACLE = f"""
WITH per_cust AS (
  SELECT o_custkey,
    MAX({sql_epoch('o_orderdate')}) AS last_ep,
    COUNT(*) AS f,
    SUM(CAST(CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 1000000
             AS BIGINT) AS DECIMAL(38,0))) AS m_micros
  FROM orders GROUP BY o_custkey
), asof_d AS (
  SELECT MAX({sql_epoch('o_orderdate')}) AS asof_ep FROM orders
), rfm AS (
  SELECT o_custkey, (asof_ep - last_ep) // 86400 AS r_days, f, m_micros
  FROM per_cust CROSS JOIN asof_d
), scored AS (
  SELECT o_custkey, f, m_micros,
    NTILE(5) OVER (ORDER BY r_days ASC, o_custkey ASC) AS r_bucket,
    NTILE(5) OVER (ORDER BY f DESC, o_custkey ASC) AS f_bucket,
    NTILE(5) OVER (ORDER BY m_micros DESC, o_custkey ASC) AS m_bucket
  FROM rfm
)
SELECT r_bucket, f_bucket, m_bucket,
  COUNT(*) AS n_customers,
  CAST(SUM(f) AS BIGINT) AS n_orders,
  round(CAST(SUM(m_micros) AS DOUBLE) / 1e6, 2) AS segment_value
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the Deequ/Great-Expectations
    gate every scheduled 100 TB pipeline fronts with): declarative
    constraints evaluated in one pass per table, emitting one row per
    constraint — (constraint, table, n_checked, n_violations, passed)
    — so a scheduler can fail the run BEFORE a broken batch propagates
    downstream. Constraint classes covered: completeness (NULL keys),
    uniqueness (primary-key duplicates), referential integrity
    (orphaned foreign keys), and domain ranges (non-positive prices,
    discounts outside [0, 1]).

    Scale shape: the completeness/range checks for a table fuse into
    ONE conditional-sum aggregate over ONE scan (no shuffle beyond
    the 1-row agg); uniqueness is n_rows - exact COUNT(DISTINCT pk)
    (one pk-keyed shuffle, map-side partial); each referential check
    is a LEFT ANTI join — customer broadcasts under the dimension
    threshold, lineitem->orders resolves to a shuffled join on the
    key Catalyst picks. Every output is an exact integer count, so
    the gate is engine- and partitioning-deterministic (no sampled
    approximations that flap between runs)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def row(constraint, table, checked_col, violations_col):
        return F.struct(
            F.lit(constraint).alias("constraint_name"),
            F.lit(table).alias("table_name"),
            checked_col.cast("bigint").alias("n_checked"),
            violations_col.cast("bigint").alias("n_violations"),
            (violations_col == 0).alias("passed"),
        )

    cnt = F.count(F.lit(1))
    o = orders.agg(
        F.array(
            row(
                "custkey_not_null", "orders", cnt,
                F.coalesce(
                    F.sum(F.when(F.col("o_custkey").isNull(), 1)), F.lit(0)
                ),
            ),
            row(
                "orderkey_unique", "orders", cnt,
                cnt - F.countDistinct("o_orderkey"),
            ),
            row(
                "totalprice_positive", "orders", cnt,
                F.coalesce(
                    F.sum(F.when(F.col("o_totalprice") <= 0, 1)), F.lit(0)
                ),
            ),
        ).alias("rows")
    )
    li = lineitem.agg(
        F.array(
            row(
                "discount_in_unit_range", "lineitem", cnt,
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("l_discount") < 0)
                            | (F.col("l_discount") > 1),
                            1,
                        )
                    ),
                    F.lit(0),
                ),
            ),
            row(
                "quantity_positive", "lineitem", cnt,
                F.coalesce(
                    F.sum(F.when(F.col("l_quantity") <= 0, 1)), F.lit(0)
                ),
            ),
        ).alias("rows")
    )
    orphan_orders = (
        orders.join(
            F.broadcast(customer.select("c_custkey")),
            orders["o_custkey"] == customer["c_custkey"],
            "left_anti",
        )
        .agg(cnt.alias("v"))
        .crossJoin(orders.agg(cnt.alias("n")))
        .select(
            F.array(
                row(
                    "custkey_references_customer", "orders",
                    F.col("n"), F.col("v"),
                )
            ).alias("rows")
        )
    )
    orphan_lines = (
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem["l_orderkey"] == orders["o_orderkey"],
            "left_anti",
        )
        .agg(cnt.alias("v"))
        .crossJoin(lineitem.agg(cnt.alias("n")))
        .select(
            F.array(
                row(
                    "orderkey_references_orders", "lineitem",
                    F.col("n"), F.col("v"),
                )
            ).alias("rows")
        )
    )
    return (
        o.unionByName(li)
        .unionByName(orphan_orders)
        .unionByName(orphan_lines)
        .select(F.explode("rows").alias("r"))
        .select("r.*")
        .orderBy("table_name", "constraint_name")
    )


DQ_EXPECTATIONS_ORACLE = """
WITH o AS (SELECT COUNT(*) AS n FROM orders),
     li AS (SELECT COUNT(*) AS n FROM lineitem),
checks AS (
  SELECT 'custkey_not_null' AS constraint_name, 'orders' AS table_name,
    (SELECT n FROM o) AS n_checked,
    (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL)
      AS n_violations
  UNION ALL
  SELECT 'orderkey_unique', 'orders', (SELECT n FROM o),
    (SELECT n FROM o) - (SELECT COUNT(DISTINCT o_orderkey) FROM orders)
  UNION ALL
  SELECT 'totalprice_positive', 'orders', (SELECT n FROM o),
    (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
  UNION ALL
  SELECT 'custkey_references_customer', 'orders', (SELECT n FROM o),
    (SELECT COUNT(*) FROM orders
     WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                             WHERE c_custkey IS NOT NULL)
       OR o_custkey IS NULL)
  UNION ALL
  SELECT 'discount_in_unit_range', 'lineitem', (SELECT n FROM li),
    (SELECT COUNT(*) FROM lineitem
     WHERE l_discount < 0 OR l_discount > 1)
  UNION ALL
  SELECT 'quantity_positive', 'lineitem', (SELECT n FROM li),
    (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
  UNION ALL
  SELECT 'orderkey_references_orders', 'lineitem', (SELECT n FROM li),
    (SELECT COUNT(*) FROM lineitem
     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                              WHERE o_orderkey IS NOT NULL)
       OR l_orderkey IS NULL)
)
SELECT constraint_name, table_name,
  CAST(n_checked AS BIGINT) AS n_checked,
  CAST(n_violations AS BIGINT) AS n_violations,
  n_violations = 0 AS passed
FROM checks ORDER BY table_name, constraint_name
"""


# --- two-window data-profile drift (round-11 prebuild bank) ----------------
DQ_DRIFT_FLAG_PPM = 200_000  # flag a metric that moved > 20%
DQ_DRIFT_PPM_CAP = 10**15  # saturation: keeps drift_ppm inside BIGINT
DQ_DELTA_CAP = 2**63 - 1  # symmetric delta clamp: the subtraction of two
# near-extreme opposite-signed micros means can reach ~1.8e19, which NO
# BIGINT holds (review-caught: DuckDB throws on the subtraction, Spark
# wraps or throws) — so delta is computed in decimal(38,0)/HUGEINT and
# saturates symmetrically at +/-(2^63-1)


def dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profile drift between the first and second half of the
    events stream — the monitoring twin of dq_expectations: where the
    expectation gate asks "is this batch VALID", the drift profile
    asks "is this batch LIKE the last one" (schema-stable but
    distribution-shifted feeds are the silent killer of both
    dashboards and models). The stream splits at the exact midpoint
    of its observed time span (mid = (min+max) div 2, integer micros,
    reproducible from the data alone); each half is profiled on seven
    metrics — event count, distinct users, distinct event types,
    NULL-user ppm, NULL-value ppm, exact mean value in micros,
    events-per-user ppm — and each metric row carries both values,
    the signed delta and drift_ppm = |delta| * 1e6 div max(|a|, 1),
    flagged when it exceeds DQ_DRIFT_FLAG_PPM. All arithmetic is
    integer/decimal-exact; NULL-ts events have no window and are
    excluded.

    Overflow (found by the round-9 hypothesis fuzz — the SRM chi2
    class again, caught at the bank stage this time): micros-scale
    metrics make |delta| * 1e6 exceed BIGINT (a 1e9-valued stream
    gives value_mean_micros ~1e15), so the multiply runs in
    decimal(38,0) / HUGEINT on the two sides, and drift_ppm is capped
    at DQ_DRIFT_PPM_CAP (1e15 ppm = a billion-fold move — any real
    drift saturates the 20% flag long before the cap matters) so the
    final BIGINT cast can never overflow either engine.

    Scale shape: one 1-row bounds agg (map-side combined), broadcast
    as a scalar; then ONE conditional-aggregation pass over the scan
    computes both halves' metrics in a single 1-row frame (the two
    countDistincts collapse per (half, key) map-side), which unpivots
    via stack() into 7 metric rows. No data-sized structure after the
    scan at any corpus size."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    us = F.unix_micros("ts")
    bounds = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")
        .alias("mid_us")
    )
    t = ev.select(
        us.alias("us"), "user_id", "event_type", "value"
    ).crossJoin(F.broadcast(bounds))
    in_a = F.col("us") < F.col("mid_us")

    def half(cond, tag):
        vm = (
            F.sum(
                F.when(cond, F.col("value").cast("decimal(38,6)"))
            ) * 1_000_000
        ).cast("decimal(38,0)").cast("bigint")
        nv = F.count(F.when(cond & F.col("value").isNotNull(), F.lit(1)))
        return [
            F.count(F.when(cond, F.lit(1))).alias(f"{tag}_n"),
            F.countDistinct(F.when(cond, F.col("user_id")))
            .alias(f"{tag}_users"),
            F.countDistinct(F.when(cond, F.col("event_type")))
            .alias(f"{tag}_types"),
            F.count(F.when(cond & F.col("user_id").isNull(), F.lit(1)))
            .alias(f"{tag}_null_user"),
            F.count(F.when(cond & F.col("value").isNull(), F.lit(1)))
            .alias(f"{tag}_null_value"),
            F.coalesce(vm, F.lit(0)).alias(f"{tag}_vsum"),
            nv.alias(f"{tag}_nv"),
        ]

    wide = t.agg(*(half(in_a, "a") + half(~in_a, "b")))
    derived = wide.select(
        F.expr("a_n").alias("a_n_events"),
        F.expr("b_n").alias("b_n_events"),
        F.expr("a_users").alias("a_users"),
        F.expr("b_users").alias("b_users"),
        F.expr("a_types").alias("a_types"),
        F.expr("b_types").alias("b_types"),
        F.expr("a_null_user * 1000000 div greatest(a_n, 1)")
        .alias("a_null_user_ppm"),
        F.expr("b_null_user * 1000000 div greatest(b_n, 1)")
        .alias("b_null_user_ppm"),
        F.expr("a_null_value * 1000000 div greatest(a_n, 1)")
        .alias("a_null_value_ppm"),
        F.expr("b_null_value * 1000000 div greatest(b_n, 1)")
        .alias("b_null_value_ppm"),
        F.expr("a_vsum div greatest(a_nv, 1)").alias("a_value_mean_micros"),
        F.expr("b_vsum div greatest(b_nv, 1)").alias("b_value_mean_micros"),
        F.expr("a_n * 1000000 div greatest(a_users, 1)")
        .alias("a_events_per_user_ppm"),
        F.expr("b_n * 1000000 div greatest(b_users, 1)")
        .alias("b_events_per_user_ppm"),
    )
    long = derived.select(
        F.expr(
            "stack(7,"
            " 'n_events', a_n_events, b_n_events,"
            " 'distinct_users', a_users, b_users,"
            " 'distinct_types', a_types, b_types,"
            " 'null_user_ppm', a_null_user_ppm, b_null_user_ppm,"
            " 'null_value_ppm', a_null_value_ppm, b_null_value_ppm,"
            " 'value_mean_micros', a_value_mean_micros, b_value_mean_micros,"
            " 'events_per_user_ppm', a_events_per_user_ppm,"
            "   b_events_per_user_ppm"
            ") AS (metric, a_value, b_value)"
        )
    )
    return (
        long.select(
            "metric",
            F.col("a_value").cast("bigint").alias("a_value"),
            F.col("b_value").cast("bigint").alias("b_value"),
            # NULL-skip audit note (r12): least()/greatest() SKIP NULL
            # operands in both engines, but NO metric value here can
            # be NULL — counts by construction, and the value sums
            # coalesce to 0 for a valueless half (the documented
            # "values disappeared" reading: mean 0, real delta, real
            # flag) — so the skip semantics are unreachable. The
            # dq_embedding_drift twin, whose snapshot means CAN be
            # NULL, carries the explicit NULL branch instead.
            F.expr(
                f"CAST(least(greatest("
                f"CAST(b_value AS DECIMAL(38,0)) - a_value,"
                f" {-DQ_DELTA_CAP}), {DQ_DELTA_CAP}) AS BIGINT)"
            ).alias("delta"),
            # Saturation via a DECIMAL-space comparison, not
            # least(quotient, cap): Spark's `div` on decimal operands
            # converts the quotient to LONG by truncating the
            # BigInteger's low 64 bits — it WRAPS silently past 2^63
            # even under ANSI (r12 find: the dq_embedding_drift fuzz
            # produced a wrapped NEGATIVE drift; this op's own cap
            # test had been passing only because ITS wrapped value
            # happened to land positive and above the cap).
            # p >= cap * q  <=>  p div q >= cap for positive q, so the
            # branch is exactly the saturation the old least()
            # expressed; the ELSE quotient is < 1e15 and can never
            # wrap. The oracle's LEAST form is already exact — DuckDB
            # runs the whole expression in HUGEINT.
            F.expr(
                f"CASE WHEN abs(CAST(b_value AS DECIMAL(38,0)) - a_value)"
                f" * 1000000 >= CAST({DQ_DRIFT_PPM_CAP} AS DECIMAL(38,0))"
                f" * greatest(abs(a_value), 1)"
                f" THEN {DQ_DRIFT_PPM_CAP}"
                f" ELSE abs(CAST(b_value AS DECIMAL(38,0)) - a_value)"
                f" * 1000000 div greatest(abs(a_value), 1) END"
            ).cast("bigint").alias("drift_ppm"),
        )
        .withColumn("flagged", F.col("drift_ppm") > DQ_DRIFT_FLAG_PPM)
        .orderBy("metric")
    )


DQ_PROFILE_DRIFT_ORACLE = f"""
WITH base AS (
  SELECT epoch_us(ts) AS us, user_id, event_type, value
  FROM events WHERE ts IS NOT NULL
), b AS (
  SELECT (MIN(us) + MAX(us)) // 2 AS mid_us FROM base
), wide AS (
  SELECT
    COUNT(*) FILTER (us < mid_us) AS a_n,
    COUNT(*) FILTER (us >= mid_us) AS b_n,
    COUNT(DISTINCT CASE WHEN us < mid_us THEN user_id END) AS a_users,
    COUNT(DISTINCT CASE WHEN us >= mid_us THEN user_id END) AS b_users,
    COUNT(DISTINCT CASE WHEN us < mid_us THEN event_type END) AS a_types,
    COUNT(DISTINCT CASE WHEN us >= mid_us THEN event_type END) AS b_types,
    COUNT(*) FILTER (us < mid_us AND user_id IS NULL) AS a_null_user,
    COUNT(*) FILTER (us >= mid_us AND user_id IS NULL) AS b_null_user,
    COUNT(*) FILTER (us < mid_us AND value IS NULL) AS a_null_value,
    COUNT(*) FILTER (us >= mid_us AND value IS NULL) AS b_null_value,
    COALESCE(CAST(CAST(SUM(CASE WHEN us < mid_us THEN
        CAST(value AS DECIMAL(38,6)) END) * 1000000 AS HUGEINT)
      AS BIGINT), 0) AS a_vsum,
    COALESCE(CAST(CAST(SUM(CASE WHEN us >= mid_us THEN
        CAST(value AS DECIMAL(38,6)) END) * 1000000 AS HUGEINT)
      AS BIGINT), 0) AS b_vsum,
    COUNT(CASE WHEN us < mid_us AND value IS NOT NULL THEN 1 END) AS a_nv,
    COUNT(CASE WHEN us >= mid_us AND value IS NOT NULL THEN 1 END) AS b_nv
  FROM base, b
), metrics AS (
  SELECT 'n_events' AS metric, a_n AS a_value, b_n AS b_value FROM wide
  UNION ALL SELECT 'distinct_users', a_users, b_users FROM wide
  UNION ALL SELECT 'distinct_types', a_types, b_types FROM wide
  UNION ALL SELECT 'null_user_ppm',
    a_null_user * 1000000 // greatest(a_n, 1),
    b_null_user * 1000000 // greatest(b_n, 1) FROM wide
  UNION ALL SELECT 'null_value_ppm',
    a_null_value * 1000000 // greatest(a_n, 1),
    b_null_value * 1000000 // greatest(b_n, 1) FROM wide
  UNION ALL SELECT 'value_mean_micros',
    a_vsum // greatest(a_nv, 1), b_vsum // greatest(b_nv, 1) FROM wide
  UNION ALL SELECT 'events_per_user_ppm',
    a_n * 1000000 // greatest(a_users, 1),
    b_n * 1000000 // greatest(b_users, 1) FROM wide
)
SELECT metric, CAST(a_value AS BIGINT) AS a_value,
  CAST(b_value AS BIGINT) AS b_value,
  CAST(least(greatest(CAST(b_value AS HUGEINT) - a_value,
                      {-DQ_DELTA_CAP}), {DQ_DELTA_CAP}) AS BIGINT) AS delta,
  CAST(least(abs(CAST(b_value AS HUGEINT) - a_value) * 1000000
             // greatest(abs(a_value), 1),
             {DQ_DRIFT_PPM_CAP}) AS BIGINT) AS drift_ppm,
  least(abs(CAST(b_value AS HUGEINT) - a_value) * 1000000
        // greatest(abs(a_value), 1),
        {DQ_DRIFT_PPM_CAP}) > {DQ_DRIFT_FLAG_PPM} AS flagged
FROM metrics ORDER BY metric
"""


MAX_BASKET = 100  # whale-basket guard: pair work per order is
# C(|basket|, 2) — a single bulk order of 100k distinct parts would
# put 5e9 pairs on ONE task. Baskets above the cap are dropped
# entirely (the classic Apriori practicality guard: bulk orders are
# procurement noise, not co-purchase signal), and supports/N compute
# over the SAME capped universe so lift denominators stay consistent
# with the pair universe. TPC-H baskets are <= 7 items, so the cap is
# invisible at every test SF; the capped-basket edge corpus pins the
# boundary on both engines.


def agg_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair co-occurrence (round-9 prebuild): the top
    100 part pairs that ship together in the same order, ranked by
    co-occurrence count, with exact per-part supports and the lift
    ratio — the classic association-rule mining head (reference has
    nothing comparable; a training-data variant of the same shape
    powers co-occurrence vocabularies).

    Output: (part_a, part_b, n_ab, n_a, n_b, n_orders, lift) with
    part_a < part_b; lift = n_ab·N / (n_a·n_b) as a double over exact
    integers < 2^53, rounded to 6 dp (the ints pin exactness; the
    ratio is derived). Ties at the cutoff are broken by
    (n_ab DESC, part_a, part_b) — a total order, so the top-100 set
    is engine-identical.

    Scale shape: distinct (order, part) first (one orderkey shuffle —
    also dedupes line-level multiplicity); baskets via
    collect_list(sorted) per order and the single-shuffle
    `_pairs_from_sorted_list` expansion (plans/text.py — pair count
    per order is C(|basket|, 2), bounded by basket size, never a
    corpus cross); pair counts collapse map-side to the co-occurring
    pair universe; per-part counts join back KEYED on each side; the
    basket total is the adjudicated 1-row scalar broadcast; the final
    top-100 is a TakeOrdered (shuffle-free). Orderkeys are non-null by
    schema, satisfying the pair helper's non-null-key precondition."""
    from simple_etl_pipeline_spark.plans.text import _pairs_from_sorted_list

    li = load_table(spark, sf_dir, "lineitem")
    # NULL l_partkey cannot co-occur with anything AND would make the
    # cap count diverge (collect_list drops NULLs, the oracle's
    # COUNT(*) would not) — excluded on both sides before anything
    # counts (review-caught boundary divergence).
    items = (
        li.select("l_orderkey", "l_partkey")
        .filter(F.col("l_partkey").isNotNull())
        .distinct()
    )
    # Persisted: three consumers (the pair expansion, the per-part
    # supports, the 1-row basket total) would otherwise each replay
    # the distinct + collect_list corpus subtree — the shared-stage
    # barrier device (guide §5: reused AND expensive to recompute).
    baskets = (
        items.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("ds"))
        .filter(F.size("ds") <= MAX_BASKET)
        .persist()
    )
    pairs = (
        _pairs_from_sorted_list(baskets.select("ds"))
        .groupBy(
            F.col("doc_a").alias("part_a"), F.col("doc_b").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    part_counts = baskets.select(
        F.explode("ds").alias("l_partkey")
    ).groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_i")
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        pairs.join(
            part_counts.select(
                F.col("l_partkey").alias("part_a"),
                F.col("n_i").alias("n_a"),
            ),
            "part_a",
        )
        .join(
            part_counts.select(
                F.col("l_partkey").alias("part_b"),
                F.col("n_i").alias("n_b"),
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_orders",
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_ab"), "part_a", "part_b")
        .limit(100)
    )


AGG_BASKET_LIFT_ORACLE = f"""
WITH all_items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_partkey IS NOT NULL
), kept AS (
  SELECT l_orderkey FROM all_items
  GROUP BY 1 HAVING COUNT(*) <= {MAX_BASKET}
), items AS (
  SELECT a.l_orderkey, a.l_partkey
  FROM all_items a JOIN kept k ON a.l_orderkey = k.l_orderkey
), ic AS (
  SELECT l_partkey, COUNT(*) AS n_i FROM items GROUP BY 1
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_ab, ia.n_i AS n_a, ib.n_i AS n_b, n_orders,
  round(CAST(n_ab AS DOUBLE) * n_orders
        / (CAST(ia.n_i AS DOUBLE) * ib.n_i), 6) AS lift
FROM pairs
JOIN ic ia ON part_a = ia.l_partkey
JOIN ic ib ON part_b = ib.l_partkey
CROSS JOIN n
ORDER BY n_ab DESC, part_a, part_b LIMIT 100
"""


# --- k-anonymity privacy audit (round-12 prebuild bank) -----------------
# Thresholds audited: the classic k=5 release bar plus the stricter
# k=25 "safe harbor"-style bar. Quasi-identifier band width for the
# account balance: 1000 currency units (100_000 cents).
K_ANON_THRESHOLDS = (5, 25)
K_ANON_BAND_CENTS = 100_000


def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy audit over the customer table — the release
    gate every training-data pipeline with people-derived rows needs:
    a row is k-anonymous iff at least k rows share its full
    quasi-identifier (QI) tuple, so an attacker who knows someone's
    QIs cannot single them out below a 1-in-k re-identification bound
    (Sweeney 2002). QIs here are the classic linkable attributes:
    nation, market segment, and the account balance coarsened into
    1000-unit bands (banding is itself the standard k-anonymity
    generalization step — exact balances would make nearly every row
    unique). The audit reports, for k in {5, 25}: how many
    equivalence classes and rows fall below k and the at-risk row
    share in exact ppm — the numbers a privacy review needs to decide
    between suppression and further generalization.

    Cross-engine exactness: balances become integer cents via one
    decimal(15,2) cast (exact); the band is a FLOOR division via the
    shared floor_div / sql_floor_div helper pair — integer division
    truncates toward zero in BOTH engines, so a bare `div`/`//` would
    band negative balances one band HIGH on both sides (the
    ev_seasonal_residuals hazard class); subtracting the non-negative
    pmod first makes the numerator an exact multiple, where truncation
    and floor agree.
    NULL QI values form their own class in BOTH engines (GROUP BY
    treats NULLs equal) — no mapping needed.

    Scale shape: one customer-keyed aggregation to QI classes
    (map-side combined, output bounded by the QI universe, orders of
    magnitude below the row count), then one 1-row summary agg.
    Nothing after the scan is row-sized; this plan is two linear
    keyed passes at any corpus size."""
    cust = load_table(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(15,2)") * 100).cast("bigint")
    band = floor_div("acct_cents", K_ANON_BAND_CENTS)
    classes = (
        cust.select(
            "c_nationkey", "c_mktsegment", cents.alias("acct_cents")
        )
        .select("c_nationkey", "c_mktsegment", band.alias("acct_band"))
        .groupBy("c_nationkey", "c_mktsegment", "acct_band")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    k5, k25 = K_ANON_THRESHOLDS
    return classes.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_classes"),
        F.min("cnt").alias("min_class_size"),
        F.count(F.when(F.col("cnt") < k5, F.lit(1))).alias("k5_classes"),
        F.coalesce(F.sum(F.when(F.col("cnt") < k5, F.col("cnt"))), F.lit(0))
        .cast("bigint")
        .alias("k5_rows"),
        F.count(F.when(F.col("cnt") < k25, F.lit(1))).alias("k25_classes"),
        F.coalesce(F.sum(F.when(F.col("cnt") < k25, F.col("cnt"))), F.lit(0))
        .cast("bigint")
        .alias("k25_rows"),
    ).select(
        "n_rows",
        "n_classes",
        "min_class_size",
        "k5_classes",
        "k5_rows",
        F.expr("k5_rows * 1000000 div greatest(n_rows, 1)")
        .alias("k5_risk_ppm"),
        "k25_classes",
        "k25_rows",
        F.expr("k25_rows * 1000000 div greatest(n_rows, 1)")
        .alias("k25_risk_ppm"),
    )


DQ_K_ANONYMITY_ORACLE = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
    {sql_floor_div('acct_cents', K_ANON_BAND_CENTS)} AS acct_band,
    COUNT(*) AS cnt
  FROM (
    SELECT c_nationkey, c_mktsegment,
      CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT) AS acct_cents
    FROM customer
  )
  GROUP BY 1, 2, 3
), s AS (
  SELECT
    CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
    COUNT(*) AS n_classes,
    MIN(cnt) AS min_class_size,
    COUNT(CASE WHEN cnt < {K_ANON_THRESHOLDS[0]} THEN 1 END) AS k5_classes,
    CAST(COALESCE(SUM(CASE WHEN cnt < {K_ANON_THRESHOLDS[0]} THEN cnt END),
                  0) AS BIGINT) AS k5_rows,
    COUNT(CASE WHEN cnt < {K_ANON_THRESHOLDS[1]} THEN 1 END) AS k25_classes,
    CAST(COALESCE(SUM(CASE WHEN cnt < {K_ANON_THRESHOLDS[1]} THEN cnt END),
                  0) AS BIGINT) AS k25_rows
  FROM classes
)
SELECT n_rows, n_classes, min_class_size, k5_classes, k5_rows,
  CAST(k5_rows * 1000000 // GREATEST(n_rows, 1) AS BIGINT) AS k5_risk_ppm,
  k25_classes, k25_rows,
  CAST(k25_rows * 1000000 // GREATEST(n_rows, 1) AS BIGINT) AS k25_risk_ppm
FROM s
"""


# --- per-nation OLS trend (round-12 prebuild bank) -----------------------
# Constant x-shift: the midpoint of the TPC-H o_orderdate range
# (1992-01-01 .. 1998-08-02 = epoch days 8035..10440). Shifting x by a
# CONSTANT before the sums keeps the algorithm single-pass and
# engine-identical while shrinking the moment magnitudes ~1e3x, which
# is what keeps n*Sxy inside decimal(38,0) headroom (see docstring).
OLS_X0_DAYS = 9237


def agg_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation ordinary-least-squares trend of order value over
    time — closed-form simple linear regression from distributive
    sums, the aggregate form every SQL engine's regr_slope family
    implements, built here in EXACT staged-integer arithmetic so the
    result is engine-identical (regr_slope itself accumulates doubles
    whose partition-order rounding differs across engines):

      x = epoch_day(o_orderdate) - {OLS_X0_DAYS}  (constant shift)
      y = order total in exact cents (decimal(15,2) * 100)
      per nation: n, Sx, Sy, Sxx, Sxy, Syy as decimal(38,0) sums
      sxx_n = n*Sxx - Sx^2, sxy_n = n*Sxy - Sx*Sy, syy_n = n*Syy - Sy^2
      slope  = sxy_n / sxx_n      (micro-cents/day, staged integer)
      r2     = sxy_n^2 / (sxx_n * syy_n)  (ppm, staged integer)

    Staged-integer division: every ratio is sign(p) * (|p| * scale div
    q). Integer division truncates toward zero in BOTH engines, so the
    explicit |p| staging is not a divergence fix — it PINS the
    truncate-toward-zero rounding convention in the query text itself,
    matching the python reference twin's tdiv() and staying correct if
    either engine ever changes its default. (Where FLOOR semantics are
    required — the day bucketing of x — the shared floor_div /
    sql_floor_div helper pair is used on both sides; bare division is
    never floor for negative numerators.)
    r2_ppm evaluates as tdiv(tdiv(|sxy_n|*1e6, sxx_n) * |sxy_n|,
    syy_n) — the 1e6 of the inner stage is itself the ppm scale —
    staged truncation costs a few ulp of the exact rational but is
    bit-identical across engines, which is the gate's requirement. Degenerate groups: a single distinct order day
    (sxx_n = 0) has no slope -> NULL; constant y (syy_n = 0) has no
    r2 -> NULL.

    Overflow headroom: with |x| <= ~1300 (shifted days) and y <= ~6e7
    cents, n*Sxy stays under 1e38 to beyond 1e9 orders per nation and
    the r2 staging to ~1e8; past that the documented two-pass variant
    (subtract a first-pass mean instead of the constant) is the 100 TB
    fallback — the sums themselves remain exact far beyond any real
    per-nation cardinality.

    Scale shape: one orders->customer equi-join (both sides shuffle on
    custkey, linear), map-side partial aggregation into 25 nation
    groups, then pure per-row arithmetic on the bounded frame and a
    25-row broadcast join to nation names. Nothing after the join
    exceeds the nation universe."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    dec = "decimal(38,0)"
    y = (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("bigint")
    base = (
        orders.select(
            "o_custkey",
            epoch_seconds(F.col("o_orderdate")).alias("oep"),
            y.alias("y"),
        )
        # FLOOR day bucketing via the shared floor_div helper: both
        # engines' integer division truncates toward zero, so a bare
        # `div`/`//` would land any pre-1970 order date one day HIGH
        # on both sides (the ev_seasonal_residuals hazard class). The
        # helper pair guarantees the idiom is applied to BOTH engines
        # (ADVICE r9: the oracle side had kept the bare `//`).
        .select(
            "o_custkey",
            (floor_div("oep", 86400) - F.lit(OLS_X0_DAYS)).alias("x"),
            "y",
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    sums = base.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        # per-row products fit bigint by construction (|x| <= ~1300
        # shifted days, y <= ~6e7 cents -> y*y <= 3.6e15); only the
        # REDUCTIONS need the 128-bit headroom
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
    )
    moments = sums.select(
        "c_nationkey",
        F.col("n").cast("bigint").alias("n_orders"),
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("sxx_n"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("sxy_n"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .alias("syy_n"),
    )
    derived = moments.select(
        "c_nationkey",
        "n_orders",
        F.expr(
            "CASE WHEN sx < 0 THEN -((-sx) * 1000000 div n)"
            f" ELSE sx * 1000000 div n END + {OLS_X0_DAYS * 1_000_000}L"
        ).cast("bigint").alias("xbar_day_ppm"),
        # sign-symmetric like every other ratio here: both engines'
        # integer division truncates toward zero, so a bare `sy div n`
        # would in fact agree cross-engine — the explicit |p| staging
        # pins the rounding convention (and the python twin's tdiv)
        # in the query text rather than relying on engine defaults
        F.expr(
            "CASE WHEN sy < 0 THEN -((-sy) div n) ELSE sy div n END"
        ).cast("bigint").alias("mean_cents"),
        F.expr(
            "CASE WHEN sxx_n = 0 THEN NULL"
            " WHEN sxy_n < 0 THEN -((-sxy_n) * 1000000 div sxx_n)"
            " ELSE sxy_n * 1000000 div sxx_n END"
        ).cast("bigint").alias("slope_microcents_per_day"),
        F.expr(
            # r2_ppm = (|sxy_n|*1e6 div sxx_n) * |sxy_n| div syy_n
            # ~= 1e6 * sxy_n^2 / (sxx_n*syy_n); the 1e6 from the first
            # stage IS the ppm scale — no second scale factor
            "CASE WHEN sxx_n = 0 OR syy_n = 0 THEN NULL ELSE"
            " (CASE WHEN sxy_n < 0 THEN (-sxy_n) * 1000000 div sxx_n"
            "  ELSE sxy_n * 1000000 div sxx_n END)"
            " * (CASE WHEN sxy_n < 0 THEN -sxy_n ELSE sxy_n END)"
            " div syy_n END"
        ).cast("bigint").alias("r2_ppm"),
    )
    return (
        derived.join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            "n_orders",
            "xbar_day_ppm",
            "mean_cents",
            "slope_microcents_per_day",
            "r2_ppm",
        )
        .orderBy("n_name")
    )


AGG_OLS_TREND_ORACLE = f"""
WITH base AS (
  SELECT c_nationkey,
    {sql_floor_div(sql_epoch('o_orderdate'), 86400)} - {OLS_X0_DAYS} AS x,
    CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT) AS y
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
), sums AS (
  -- the moment products run in HUGEINT (DuckDB's 128-bit integer,
  -- the same headroom class as Spark's decimal(38,0) on the other
  -- side; two DECIMAL(38,0)s cannot multiply here — width 76)
  SELECT c_nationkey,
    CAST(COUNT(*) AS HUGEINT) AS n,
    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
    CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
    CAST(SUM(CAST(x * x AS HUGEINT)) AS HUGEINT) AS sxx,
    CAST(SUM(CAST(x * y AS HUGEINT)) AS HUGEINT) AS sxy,
    CAST(SUM(CAST(y * y AS HUGEINT)) AS HUGEINT) AS syy
  FROM base GROUP BY 1
), m AS (
  SELECT c_nationkey, CAST(n AS BIGINT) AS n_orders, n, sx, sy,
    n * sxx - sx * sx AS sxx_n,
    n * sxy - sx * sy AS sxy_n,
    n * syy - sy * sy AS syy_n
  FROM sums
)
SELECT n_name, n_orders,
  CAST(CASE WHEN sx < 0 THEN -((-sx) * 1000000 // n)
       ELSE sx * 1000000 // n END
       + {OLS_X0_DAYS * 1_000_000} AS BIGINT) AS xbar_day_ppm,
  CAST(CASE WHEN sy < 0 THEN -((-sy) // n) ELSE sy // n END
       AS BIGINT) AS mean_cents,
  CAST(CASE WHEN sxx_n = 0 THEN NULL
       WHEN sxy_n < 0 THEN -((-sxy_n) * 1000000 // sxx_n)
       ELSE sxy_n * 1000000 // sxx_n END AS BIGINT)
    AS slope_microcents_per_day,
  CAST(CASE WHEN sxx_n = 0 OR syy_n = 0 THEN NULL ELSE
       (CASE WHEN sxy_n < 0 THEN (-sxy_n) * 1000000 // sxx_n
        ELSE sxy_n * 1000000 // sxx_n END)
       * (CASE WHEN sxy_n < 0 THEN -sxy_n ELSE sxy_n END)
       // syy_n END AS BIGINT) AS r2_ppm
FROM m JOIN nation ON c_nationkey = n_nationkey
ORDER BY n_name
"""


# --- content-level corpus snapshot diff (round-14 prebuild bank) ----------
SNAPDIFF_SALT = "snapdiff"
SNAPDIFF_REV_TAIL = " [rev2]"


def snapshot_diff(snap_a: DataFrame, snap_b: DataFrame) -> DataFrame:
    """Core content-level diff of two corpus snapshots — the CDC twin
    of dq_embedding_drift on TEXT, and the audit row every retraining
    decision wants ("what actually changed since the last crawl?").
    Inputs are two document-shaped frames (doc_id, text, source);
    doc_id is the corpus key (non-null, unique per snapshot — the
    documents-table contract every packing/dedup op shares). Each side
    reduces to (doc_id, source, md5(text), char count); the two
    reductions FULL OUTER equi-join on doc_id and every document
    classifies exactly one way:

      added      in A-side NULL (new in B)
      deleted    in B-side NULL (gone from B)
      unchanged  both present, hashes null-safe equal (<=> / IS NOT
                 DISTINCT FROM — two NULL-text versions are the SAME
                 content, not a change; an unguarded = would leak them
                 into neither class)
      changed    both present, hashes differ

    Comparison is on the CONTENT HASH, not the text — at 100 TB the
    diff never moves document bodies through the join, only 32-byte
    digests (the realistic snapshot-manifest layout). A document whose
    source moved between snapshots is attributed to its CURRENT
    (B-side) source via coalesce(b_src, a_src); NULL source is the
    real group '(null)' (the txt_domain_split convention). The
    per-source rollup emits exact counts per class, char volumes
    (chars added with new docs, chars removed with deleted docs, the
    SIGNED char delta across changed docs), and churn_ppm =
    (added + deleted + changed) * 1e6 div |A ∪ B| — staged in
    decimal(38,0) so the product can never wrap (the quotient is
    <= 1e6 by construction; the dq_profile_drift decimal-div lesson
    applied at build time).

    Scale shape: two narrow scan reductions (hash + length — no
    shuffle), ONE doc_id-keyed full-outer equi-join (unique keys on
    both sides: no skew, AQE-planned), and a source-keyed rollup whose
    map-side partials collapse to |sources| rows before the shuffle.
    Nothing after the join exceeds the source universe."""

    def prep(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col("doc_id"),
            F.coalesce(F.col("source"), F.lit("(null)")).alias(
                f"{tag}_src"
            ),
            F.md5(F.col("text")).alias(f"{tag}_hash"),
            F.coalesce(F.length("text"), F.lit(0))
            .cast("bigint")
            .alias(f"{tag}_chars"),
            F.lit(True).alias(f"in_{tag}"),
        )

    joined = prep(snap_a, "a").join(prep(snap_b, "b"), "doc_id", "full_outer")
    tagged = joined.select(
        F.coalesce(F.col("b_src"), F.col("a_src")).alias("src"),
        "in_a",
        "in_b",
        "a_chars",
        "b_chars",
        F.when(F.col("in_a").isNull(), F.lit("added"))
        .when(F.col("in_b").isNull(), F.lit("deleted"))
        .when(
            F.col("a_hash").eqNullSafe(F.col("b_hash")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
        .alias("cls"),
    )
    agg = tagged.groupBy("src").agg(
        F.count("in_a").alias("n_a"),
        F.count("in_b").alias("n_b"),
        F.count(F.when(F.col("cls") == "added", F.lit(1))).alias("n_added"),
        F.count(F.when(F.col("cls") == "deleted", F.lit(1))).alias(
            "n_deleted"
        ),
        F.count(F.when(F.col("cls") == "changed", F.lit(1))).alias(
            "n_changed"
        ),
        F.count(F.when(F.col("cls") == "unchanged", F.lit(1))).alias(
            "n_unchanged"
        ),
        F.coalesce(
            F.sum(F.when(F.col("cls") == "added", F.col("b_chars"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("chars_added"),
        F.coalesce(
            F.sum(F.when(F.col("cls") == "deleted", F.col("a_chars"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("chars_deleted"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("cls") == "changed",
                    F.col("b_chars") - F.col("a_chars"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("chars_changed_delta"),
    )
    return (
        agg.withColumn(
            "churn_ppm",
            F.expr(
                "cast(n_added + n_deleted + n_changed as decimal(38,0))"
                " * 1000000 div greatest(n_a + n_added, 1)"
            ).cast("bigint"),
        )
        .orderBy("src")
    )


def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() adapter for :func:`snapshot_diff`: the testdata has one
    documents table, so the two snapshots are derived deterministically
    from it (the st_dedup_index injection device) via a salted 60-bit
    md5 of doc_id into ten classes: class 0 is absent from snapshot A
    (arrives as `added`), class 1 is absent from snapshot B
    (`deleted`), classes 2-3 carry revised content in B (`changed` —
    a literal tail appended; a NULL-text doc in these classes stays
    NULL under concat, so its hash is null-safe-equal and it correctly
    reads `unchanged`: the content did not change), classes 4-9 are
    `unchanged`. Every classification branch is therefore exercised on
    the stock corpus, and the split is stable under corpus growth."""
    from simple_etl_pipeline_spark.functions.text import md5_hash60

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "text",
        "source",
        (
            md5_hash60(F.col("doc_id").cast("string"), F.lit(SNAPDIFF_SALT))
            % 10
        ).alias("_h"),
    )
    snap_a = base.filter(F.col("_h") != 0).select("doc_id", "text", "source")
    snap_b = base.filter(F.col("_h") != 1).select(
        "doc_id",
        F.when(
            F.col("_h").isin(2, 3),
            F.concat(F.col("text"), F.lit(SNAPDIFF_REV_TAIL)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    return snapshot_diff(snap_a, snap_b)


def _snapshot_diff_oracle() -> str:
    from simple_etl_pipeline_spark.functions.text import sql_md5_hash60

    h = sql_md5_hash60("CAST(doc_id AS VARCHAR)", f"'{SNAPDIFF_SALT}'")
    # `||` (not concat()): DuckDB's concat() treats NULL as '', while
    # Spark's concat is NULL-propagating — `||` matches Spark.
    b_text = (
        f"CASE WHEN h IN (2, 3) THEN text || '{SNAPDIFF_REV_TAIL}'"
        " ELSE text END"
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, source, ({h}) % 10 AS h FROM documents
), a AS (
  SELECT doc_id, COALESCE(source, '(null)') AS a_src,
    md5(text) AS a_hash,
    CAST(COALESCE(length(text), 0) AS BIGINT) AS a_chars,
    TRUE AS in_a
  FROM base WHERE h <> 0
), b AS (
  SELECT doc_id, COALESCE(source, '(null)') AS b_src,
    md5({b_text}) AS b_hash,
    CAST(COALESCE(length({b_text}), 0) AS BIGINT) AS b_chars,
    TRUE AS in_b
  FROM base WHERE h <> 1
), tagged AS (
  SELECT COALESCE(b_src, a_src) AS src, in_a, in_b, a_chars, b_chars,
    CASE WHEN in_a IS NULL THEN 'added'
         WHEN in_b IS NULL THEN 'deleted'
         WHEN a_hash IS NOT DISTINCT FROM b_hash THEN 'unchanged'
         ELSE 'changed' END AS cls
  FROM a FULL OUTER JOIN b USING (doc_id)
), agg AS (
  SELECT src,
    COUNT(in_a) AS n_a,
    COUNT(in_b) AS n_b,
    COUNT(CASE WHEN cls = 'added' THEN 1 END) AS n_added,
    COUNT(CASE WHEN cls = 'deleted' THEN 1 END) AS n_deleted,
    COUNT(CASE WHEN cls = 'changed' THEN 1 END) AS n_changed,
    COUNT(CASE WHEN cls = 'unchanged' THEN 1 END) AS n_unchanged,
    CAST(COALESCE(SUM(CASE WHEN cls = 'added' THEN b_chars END), 0)
         AS BIGINT) AS chars_added,
    CAST(COALESCE(SUM(CASE WHEN cls = 'deleted' THEN a_chars END), 0)
         AS BIGINT) AS chars_deleted,
    CAST(COALESCE(SUM(CASE WHEN cls = 'changed'
                           THEN b_chars - a_chars END), 0)
         AS BIGINT) AS chars_changed_delta
  FROM tagged GROUP BY src
)
SELECT src, n_a, n_b, n_added, n_deleted, n_changed, n_unchanged,
  chars_added, chars_deleted, chars_changed_delta,
  CAST(CAST(n_added + n_deleted + n_changed AS HUGEINT) * 1000000
       // GREATEST(n_a + n_added, 1) AS BIGINT) AS churn_ppm
FROM agg ORDER BY src
"""


DQ_SNAPSHOT_DIFF_ORACLE = _snapshot_diff_oracle()


# join_fuzzy_recall was DEMOTED to pytest-only parity in round 6
# (tests/test_oracle_parity.py DEMOTED map): it recomputes
# join_fuzzy_part_names' banded pairs against the unbanded ground
# truth — a metric twin whose semantics the registered sibling's hash
# already pins. Same rationale as sim_ivf_recall.
TAIL_QUERIES = {
    # agg_approx_percentile DEMOTED round 12 (capacity rule, matching
    # the dq_k_anonymity registration): sketch sibling of the
    # registered exact-percentile heads, and its approx_percentile
    # surface stays pinned by the registered ev_quantile_sketch. Full
    # pytest parity via testing.demoted_queries() (never a bench
    # HEADLINE member; note corrected r14).
    # window_ntile_customer_deciles DEMOTED round 12 (capacity rule,
    # matching the agg_ols_trend registration): rank-derivative of the
    # registered window_percent_rank_suppliers — the same
    # customer-keyed rank scan with an ntile head instead of
    # percent_rank. Full pytest parity via testing.demoted_queries().
    "join_fuzzy_part_names": join_fuzzy_part_names,
    "unpivot_lineitem_measures": unpivot_lineitem_measures,
    "agg_mode_source_by_lang": agg_mode_source_by_lang,
    "window_percent_rank_suppliers": window_percent_rank_suppliers,
    # round-8 registration (prebuilt round 7; single-partition NTILE
    # rewritten to the global_row_number range-shuffle pattern before
    # registering — VERDICT r7 #3. Matching demotion: ref_clean_price.)
    "agg_rfm_segments": agg_rfm_segments,
    # round-9 registrations (prebuilt r7/r8, pytest-oracle green with
    # probe + edge-corpus rows before earning a slot. Matching
    # demotions: ref_clean_rating (dq_expectations), ref_clean_colors
    # (agg_basket_lift) — rationale at plans/reference_parity.py.)
    "dq_expectations": dq_expectations,
    "agg_basket_lift": agg_basket_lift,
    # round-11 registration (r11 bank, prebuilt + pytest-oracle-green
    # since r9, sf0.1 hash-swept on final r10 code; 1e15-ppm
    # saturation cap). Matching demotion: agg_histogram at QUERIES
    # above — capacity rule, net registry growth zero.
    "dq_profile_drift": dq_profile_drift,
    # round-12 registrations (r12 bank, prebuilt + pytest-oracle-green
    # since the r9 continuation session, sf0.1 hash-swept on final r11
    # code — the floor-div helpers both consume changed guard-only in
    # r11, evidence re-earned per SCALING.md r11). Matching demotions:
    # agg_approx_percentile + window_ntile_customer_deciles above —
    # capacity rule, net registry growth zero; both demotions are also
    # IN the r12 mandatory set, freeing the window slots the ledger
    # arithmetic needs (48 - 4 + 4 = 48 with 2 canaries).
    "dq_k_anonymity": dq_k_anonymity,
    "agg_ols_trend": agg_ols_trend,
    # round-14 registration (r14 bank, built in the round-12
    # continuation session with its full evidence kit — pytest-oracle
    # at 3 SFs, add/remove/change/no-op edge corpora, sf0.1
    # judge-swept every round since; matching demotion:
    # agg_approx_distinct at QUERIES above — capacity rule, net
    # registry growth zero). Content-level corpus snapshot diff — the
    # CDC twin of dq_embedding_drift on text: each snapshot reduces to
    # (doc_id, source, md5(text), chars), the reductions FULL OUTER
    # equi-join on doc_id (32-byte digests through the shuffle, never
    # document bodies), and every doc classifies exactly one way into
    # added/deleted/changed/unchanged with null-safe hash compare.
    "dq_snapshot_diff": dq_snapshot_diff,
}
TAIL_ORACLES = {
    "join_fuzzy_part_names": JOIN_FUZZY_ORACLE,
    "unpivot_lineitem_measures": UNPIVOT_ORACLE,
    "agg_mode_source_by_lang": AGG_MODE_ORACLE,
    "window_percent_rank_suppliers": WINDOW_PERCENT_RANK_ORACLE,
    "agg_rfm_segments": AGG_RFM_ORACLE,
    "dq_expectations": DQ_EXPECTATIONS_ORACLE,
    "agg_basket_lift": AGG_BASKET_LIFT_ORACLE,
    "dq_profile_drift": DQ_PROFILE_DRIFT_ORACLE,
    "dq_k_anonymity": DQ_K_ANONYMITY_ORACLE,
    "agg_ols_trend": AGG_OLS_TREND_ORACLE,
    "dq_snapshot_diff": DQ_SNAPSHOT_DIFF_ORACLE,
}
