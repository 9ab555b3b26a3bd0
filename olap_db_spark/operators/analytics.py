"""Flagship analytical queries — the full OLAP spine in three plans.

These are the engine's headline scan→filter→join→agg→sort→limit pipelines
over the TPC-H-ish testdata, exercising the backend-implied OLAP surface the
reference provisions (SURVEY.md §2.3: ClickHouse deployed at
/root/reference/docker-compose.yml:4 but all analytical SQL lives
server-side).

Scale notes (100 TB design point):
- ``region``/``nation`` are broadcast by Catalyst (far below the broadcast
  threshold); ``customer``⋈``orders``⋈``lineitem`` are shuffle joins on
  their natural keys with AQE skew handling.
- Aggregations are partial→final automatically (map-side combine), so the
  shuffle carries group keys, not raw rows.
- Filters are written on scan columns so they push into the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register
from ._determinism import (
    fixed_avg,
    fixed_sum,
    scaled_long_sum,
    sql_fixed_avg,
    sql_fixed_sum,
)

_Q1_CUTOFF = "2000-12-01"

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  SUM(l_quantity) AS sum_qty,
  {sql_fixed_sum('l_extendedprice', 100)} AS sum_base_price,
  {sql_fixed_sum('l_extendedprice * (1 - l_discount)', 10000)} AS sum_disc_price,
  {sql_fixed_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 1000000)} AS sum_charge,
  CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty,
  {sql_fixed_avg('l_extendedprice', 100)} AS avg_price,
  {sql_fixed_avg('l_discount', 100)} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE, tags=("agg", "flagship"))
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan→filter→groupBy→agg→sort.

    Single shuffle (by the 2-column group key) after a map-side partial
    aggregate; the shipdate filter pushes down to the parquet scan.
    """
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit(_Q1_CUTOFF))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            fixed_sum(F.col("l_extendedprice"), 100).alias("sum_base_price"),
            fixed_sum(disc_price, 10000).alias("sum_disc_price"),
            fixed_sum(charge, 1000000).alias("sum_charge"),
            (F.sum("l_quantity").cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            fixed_avg(F.col("l_extendedprice"), 100).alias("avg_price"),
            fixed_avg(F.col("l_discount"), 100).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q3_ORACLE = f"""
SELECT
  l.l_orderkey,
  CAST(o.o_orderdate AS DATE) AS order_date,
  {sql_fixed_sum('l.l_extendedprice * (1 - l.l_discount)', 10000)} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
  AND CAST(l.l_shipdate AS DATE) > DATE '1998-01-01'
GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@register("q3_top_revenue_orders", oracle=_Q3_ORACLE, tags=("join", "flagship"))
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: 3-way join → group → top-10 by revenue.

    Mirrors the reference's "top rows per criterion" pattern
    (/root/reference/s3_rankings_collector.py:88 keeps top-3 per topic).
    ``customer`` filters to one segment before the join (selective filter
    first → smaller shuffle); the final top-10 is TakeOrderedAndProject —
    no global sort materialization.
    """
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-01-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-01-01")
    )
    revenue_expr = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_orderkey"), F.col("o_orderdate").cast("date").alias("order_date"))
        .agg(fixed_sum(revenue_expr, 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT
  n.n_name,
  {sql_fixed_sum('l.l_extendedprice * (1 - l.l_discount)', 10000)} AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1999-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name
"""


@register("q5_local_supplier_volume", oracle=_Q5_ORACLE, tags=("join", "flagship"))
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 6-way join incl. a non-key equality (local supplier).

    ``region``/``nation``/``supplier`` broadcast (small dims); the
    fact-side joins shuffle on orderkey/custkey. The supplier join carries
    the extra ``s_nationkey = c_nationkey`` condition — a compound-key
    equi-join, still hash-joinable (no nested loop).
    """
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1999-01-01"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    revenue_expr = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .join(c, c.c_nationkey == n.n_nationkey)
        .join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .groupBy("n_name")
        .agg(fixed_sum(revenue_expr, 10000).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


_Q4_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-07-01'
  AND CAST(o_orderdate AS DATE) < DATE '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE))
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("q4_priority_exists", oracle=_Q4_ORACLE, tags=("subquery", "flagship"))
def q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: correlated EXISTS through the SQL surface.

    Catalyst decorrelates the EXISTS into a left-semi join on
    (orderkey + the date comparison) — demonstrating that the engine's
    SQL entry point gets the same join-based plan a hand-written
    left_semi would (SURVEY.md §2.3 joins row)."""
    from ..catalog import register_views

    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_Q4_ORACLE)


_Q17_ORACLE = """
SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
         / 100.0 / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (SELECT CAST(0.2 AS DOUBLE) * AVG(l2.l_quantity)
                      FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
"""


@register("q17_small_qty_revenue", oracle=_Q17_ORACLE, tags=("subquery", "flagship"))
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped: correlated SCALAR subquery (per-part average)
    through the SQL surface; Catalyst decorrelates it into an aggregate +
    join. Quantities are integer-valued doubles, so the per-part AVG is
    exact in both engines and the threshold comparison is deterministic."""
    from ..catalog import register_views

    register_views(spark, sf_dir, ("lineitem", "part"))
    return spark.sql(_Q17_ORACLE)


_Q6_ORACLE = f"""
SELECT {sql_fixed_sum('l_extendedprice * l_discount', 10000)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) <  DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE, tags=("agg", "flagship"))
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue: the pure scan→filter→agg shape.
    Every predicate is on scan columns (all push into the parquet reader;
    at 100 TB with date partitioning the year range prunes partitions) and
    the aggregate is a map-side-combined global sum — the cheapest query
    plan Spark can produce."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            fixed_sum(
                F.col("l_extendedprice") * F.col("l_discount"), 10000
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# The two fixed-point scales cancel in the ratio, so both sides compute
# 100.0 * S1 / S2 over the raw scaled-integer sums — one multiply and one
# divide, in identical left-associative order.
_PROMO_CASE = (
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) "
    "ELSE 0 END"
)
_Q14_ORACLE = f"""
SELECT
  100.0 * CAST(SUM(CAST(ROUND(({_PROMO_CASE}) * 10000, 0) AS BIGINT)) AS DOUBLE)
        / CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000, 0)
                        AS BIGINT)) AS DOUBLE) AS promo_pct,
  COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l.l_shipdate AS DATE) <  DATE '1996-07-01'
"""


@register("q14_promo_revenue", oracle=_Q14_ORACLE, tags=("agg", "flagship"))
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo-revenue share: fact⋈dim with conditional
    aggregation. `part` broadcasts (below threshold); the date filter
    pushes into the lineitem scan so the join sees six months, not the
    table. Both engines compute the identical fixed-point ratio."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1996-07-01"))
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (
                F.lit(100.0)
                * scaled_long_sum(promo, 10000).cast("double")
                / scaled_long_sum(disc_price, 10000).cast("double")
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q19_ORACLE = f"""
SELECT {sql_fixed_sum('l_extendedprice * (1 - l_discount)', 10000)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("q19_brand_band_revenue", oracle=_Q19_ORACLE, tags=("agg", "flagship"))
def q19_brand_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive-predicate join: three OR'd
    (brand, size, quantity-band) arms — the classic case where the
    optimizer must keep the equi-join key (partkey) OUT of the
    disjunction so the join stays a broadcast hash join with the OR as a
    post-join filter, not a nested-loop over the fact table."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    arm = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(arm)
        .agg(
            fixed_sum(disc_price, 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
