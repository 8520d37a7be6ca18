"""TPC-H-pattern query suite over the driver's star schema.

The reference pipeline has one aggregate query (word count — SURVEY.md
§2.1 O3); SURVEY.md §2.2 commits this engine to the full relational
surface.  ``relational.py`` covers each operator category individually;
this module adds the composed, benchmark-grade shapes: the classic TPC-H
queries Q2/Q4/Q6-Q10/Q12/Q14-Q22, adapted to the columns the driver's
tables actually have (no ``partsupp``; ``lineitem`` doubles as the
part↔supplier link; no commit/receipt dates, so Q4/Q12/Q21 pivot on the
columns that exist while keeping the same operator shape: EXISTS
semi-join, conditional aggregation, multi-EXISTS anti-join).

Scale design notes (what the plans look like at 100 TB):

* Every dimension join (region/nation/customer/supplier/part) is
  ``F.broadcast`` — the fact table never shuffles for them.
* orders⋈lineitem is the only fact-fact join; it shuffles once on
  orderkey and AQE handles skew.
* Correlated EXISTS / NOT EXISTS become LEFT SEMI / LEFT ANTI joins —
  never a cross join, never a collected subquery.
* Scalar subqueries (Q15's max, Q17's per-part average, Q22's global
  average) become broadcast one-row / small aggregates, not driver
  round-trips.
* Double sums use order-independent decimal accumulation
  (functions/numeric.py) so results are deterministic under any
  partitioning — required for value-hash parity and correct money math
  on 600-billion-row sums.
* Top-k (Q10) sorts on the *stabilized* revenue with an explicit unique
  tie-break key, so the selected k rows are partition-order independent;
  Spark executes it as TakeOrdered (per-partition heap, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import (
    round_ratio,
    round_ratio_sql,
    stable_sum,
    stable_sum_sql,
)
from ..sources.tables import load_table
from .relational import QueryFn

from ..registry import registrar

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _rev():
    # built lazily: Column construction needs an active SparkContext
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))
_REV_SQL = "l_extendedprice * (1 - l_discount)"


# ---------------------------------------------------------------------------
# Q6 — single-table filtered aggregate (pure scan+pushdown shape)
# ---------------------------------------------------------------------------

@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {stable_sum_sql("l_extendedprice * l_discount", "revenue")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: all three predicates push into the parquet scan
    (``PushedFilters``), then a partial→final agg of one decimal sum —
    the cheapest possible shape; at 100 TB the shuffle is one row/task."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(stable_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# ---------------------------------------------------------------------------
# Q4 — EXISTS decorrelated to LEFT SEMI
# ---------------------------------------------------------------------------

@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS → semi-join; the reference's commit/receipt
    dates don't exist, so the correlated predicate is ``l_quantity > 45``).
    The semi-join shuffles both sides on orderkey but carries only the
    key + group column — no payload amplification at scale."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    heavy = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey")
    )
    return (
        orders.join(heavy, orders.o_orderkey == heavy.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q2 — min-cost supplier (correlated scalar min → aggregate + re-join)
# ---------------------------------------------------------------------------

@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS offer_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, min(offer_price) AS min_price
      FROM offers GROUP BY l_partkey
    )
    SELECT p_partkey, p_name, s_name, s_acctbal,
           CAST(o.offer_price AS DOUBLE) AS min_price
    FROM part
    JOIN offers o ON o.l_partkey = p_partkey
    JOIN best b ON b.l_partkey = p_partkey AND o.offer_price = b.min_price
    JOIN supplier ON s_suppkey = o.l_suppkey
    WHERE p_size <= 5 AND p_type = 'SMALL'
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) offering
    the minimum price.  No ``partsupp`` table exists, so lineitem acts as
    the part↔supplier offer relation (min extendedprice per pair).

    The correlated scalar subquery (``price = (SELECT min ...)``)
    decorrelates to: aggregate offers → aggregate per-part min → re-join.
    Both aggregates shuffle on partkey, so Catalyst reuses the exchange;
    part and supplier are broadcast.  min() of raw doubles is exact (no
    accumulation), so the equality re-join is engine-stable."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 5) & (F.col("p_type") == "SMALL")
    )
    supplier = _t(spark, sf_dir, "supplier")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("offer_price")
    )
    best = offers.groupBy("l_partkey").agg(F.min("offer_price").alias("min_price"))
    return (
        offers.join(best, ["l_partkey"])
        .filter(F.col("offer_price") == F.col("min_price"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "s_acctbal",
            F.col("offer_price").cast("double").alias("min_price"),
        )
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between nation pairs
# ---------------------------------------------------------------------------

@register(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           {stable_sum_sql(_REV_SQL, "revenue")}
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: revenue flows between two nations by ship year.

    Join graph: lineitem⋈orders is the one shuffle; customer, supplier
    and both nation aliases broadcast.  The nation-pair disjunction is
    applied after the broadcasts — Catalyst still prunes most rows early
    because each broadcast nation join filters to the two nations."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n1 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.filter(F.col("n_name").isin(pair)).select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nkey") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("c_nkey") == F.col("c_nationkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(stable_sum(_rev(), "revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 — market share (conditional aggregation ratio)
# ---------------------------------------------------------------------------

@register(
    "q8_market_share",
    oracle=f"""
    WITH all_nations AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             {_REV_SQL} AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n2.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    )
    SELECT o_year,
           {round_ratio_sql(
               "sum(CAST(round(CASE WHEN supp_nation = 'NATION_5' "
               "THEN volume ELSE 0 END, 6) AS DECIMAL(30,6))) * 1000000",
               "sum(CAST(round(volume, 6) AS DECIMAL(30,6))) * 1000000",
               6, wide=True)} AS mkt_share
    FROM all_nations GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_5's share of ASIA's PROMO revenue per order year.

    Numerator and denominator are both exact decimal sums (order
    independent); the final double division + round is then deterministic
    on any cluster.  Six-table join: one orders⋈lineitem shuffle, five
    broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nkey"))
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol_dec = F.round(_rev(), 6).cast("decimal(30,6)")
    num_dec = F.round(
        F.when(F.col("supp_nation") == "NATION_5", _rev()).otherwise(F.lit(0.0)), 6
    ).cast("decimal(30,6)")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nkey") == F.col("c_nationkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nkey") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.sum(num_dec).alias("sn"),
            F.sum(vol_dec).alias("sv"),
        )
        .select(
            "o_year",
            # exact decimal-sum ratio via wide round_ratio (r14 idiom)
            round_ratio(
                "sn * 1000000", "sv * 1000000", 6, wide=True
            ).alias("mkt_share"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product profit by nation and year
# ---------------------------------------------------------------------------

@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
           {stable_sum_sql(f"{_REV_SQL} - p_retailprice * l_quantity", "sum_profit")}
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (no ``ps_supplycost``; ``p_retailprice`` is the unit-cost
    stand-in).  The LIKE filter lands on the broadcast part side, pruning
    the fact rows at the join instead of post-hoc."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    profit = _rev() - F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(stable_sum(profit, "sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q10 — returned-item top customers (deterministic top-k)
# ---------------------------------------------------------------------------

@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, revenue, c_acctbal, n_name
    FROM (
      SELECT c_custkey, c_name, c_acctbal, n_name,
             {stable_sum_sql(_REV_SQL, "revenue")}
      FROM customer
      JOIN orders ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON n_nationkey = c_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY c_custkey, c_name, c_acctbal, n_name
    )
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue.

    The sort key is the *stabilized* revenue (exact decimal sum → rounded
    double, bit-identical on every engine) with c_custkey as a unique
    tie-break, so the selected 20 rows are deterministic.  Spark executes
    orderBy+limit as TakeOrdered: a k-heap per partition, k·p rows to the
    driver — no global sort at 100 TB."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(stable_sum(_rev(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


# ---------------------------------------------------------------------------
# Q12 — conditional aggregation over a fact-fact join
# ---------------------------------------------------------------------------

@register(
    "q12_priority_lines",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (``l_shipmode`` doesn't exist; grouped by
    ``l_returnflag``): urgent-vs-other line counts per group — integer
    conditional sums, no float stabilization needed."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q14 — promo revenue percentage (single-row ratio)
# ---------------------------------------------------------------------------

@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT {round_ratio_sql(
        "sum(CAST(round(CASE WHEN p_type = 'PROMO' "
        f"THEN {_REV_SQL} ELSE 0 END, 6) AS DECIMAL(30,6))) * 100000000",
        f"sum(CAST(round({_REV_SQL}, 6) AS DECIMAL(30,6))) * 1000000",
        6,
        wide=True,
    )} AS promo_revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: percent of one month's revenue from PROMO parts.
    Broadcast part join; both ratio terms are exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    promo_dec = F.round(
        F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0)), 6
    ).cast("decimal(30,6)")
    all_dec = F.round(_rev(), 6).cast("decimal(30,6)")
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.sum(promo_dec).alias("sp"),
            F.sum(all_dec).alias("sa"),
        )
        .select(
            # 100·P/A as an exact round_ratio on the 1e-6-unit integers
            # (r14 parity idiom)
            round_ratio(
                "sp * 100000000", "sa * 1000000", 6, wide=True
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier (scalar-subquery max over an aggregate)
# ---------------------------------------------------------------------------

@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {stable_sum_sql(_REV_SQL, "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max quarterly revenue.

    The scalar subquery becomes a one-row aggregate cross-joined
    (broadcast) back onto the per-supplier revenues; the equality is on
    the stabilized revenue, so it's engine-deterministic.  At scale: two
    aggregations over one shuffle on suppkey + a broadcast of one row."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        stable_sum(_rev(), "total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier counts with NOT IN subquery
# ---------------------------------------------------------------------------

@register(
    "q16_part_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part group, with a
    NOT IN exclusion subquery (→ broadcast LEFT ANTI join; the excluded
    set is tiny, so the anti join never shuffles the fact side)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25))
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity revenue (correlated average → broadcast re-join)
# ---------------------------------------------------------------------------

@register(
    "q17_small_qty_revenue",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {round_ratio_sql(
        "sum(CAST(round(l_extendedprice, 6) AS DECIMAL(30,6))) * 1000000",
        "7000000", 2, wide=True)} AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON part_avg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < half_avg_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems below half their part's average
    quantity (0.2× selects nothing in this data; 0.5× keeps the shape
    selective but non-empty).  The correlated AVG decorrelates to a
    per-part aggregate re-joined on partkey; ``l_quantity`` is integral
    so the double average is exact and the comparison engine-stable."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("pa_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            round_ratio(
                "sum(cast(round(l_extendedprice, 6) as decimal(30,6)))"
                " * 1000000",
                "7000000",
                2,
                wide=True,
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume customers (HAVING over a fact aggregate)
# ---------------------------------------------------------------------------

@register(
    "q18_large_volume_customer",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {stable_sum_sql("l_quantity", "total_qty")}
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    HAVING sum(l_quantity) > 150
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 150 (threshold
    scaled to this data's ~4 lines/order).  Aggregate lineitem by
    orderkey FIRST, filter, then join the survivors — at 100 TB the join
    input shrinks by the HAVING's selectivity before any wide row is
    built."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            stable_sum(F.col("l_quantity"), "total_qty"),
            F.sum("l_quantity").alias("raw_qty"),
        )
        .filter(F.col("raw_qty") > 150)
        .drop("raw_qty")
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive bracket predicates
# ---------------------------------------------------------------------------

@register(
    "q19_bracketed_revenue",
    oracle=f"""
    SELECT {stable_sum_sql(_REV_SQL, "revenue")}
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_bracketed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: three OR'd predicate brackets spanning both join sides.
    Catalyst derives the cross-bracket residuals (p_brand IN (...),
    l_quantity BETWEEN 1 AND 30) and pushes them below the join, so the
    broadcast hash join only sees candidate rows."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .filter(bracket)
        .agg(stable_sum(_rev(), "revenue"))
    )


# ---------------------------------------------------------------------------
# Q20 — heavy shippers (IN over a grouped HAVING subquery)
# ---------------------------------------------------------------------------

@register(
    "q20_heavy_shippers",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 50
    )
    """,
)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved >50 units of any red part in
    1997.  IN-subquery → aggregate, project the key set, LEFT SEMI join.
    The grouped HAVING runs on the fact side once; the semi join against
    the 100-row supplier table is a broadcast."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    heavy = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Q21 — last shipper per multi-supplier order (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------

@register(
    "q21_last_shipper",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
)
def q21_last_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates: "kept the order waiting"
    becomes "shipped last among the order's suppliers").

    The correlated EXISTS + NOT EXISTS pair is NOT executed as two
    re-scans of lineitem.  A line l1 qualifies iff the order has another
    supplier (EXISTS) and no other supplier's line ships strictly later
    (NOT EXISTS), i.e. ``l1.shipdate >= max_other``, where ``max_other``
    is the max shipdate over the order's OTHER suppliers.  That per-
    supplier ``max_other`` falls out of two per-order aggregates (top-1 /
    top-2 supplier max shipdates + count of top-1 holders) — all shuffles
    hash on l_orderkey, so Catalyst reuses one exchange; DuckDB runs the
    literal double-EXISTS SQL as the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")

    lines = li.join(
        orders.select("o_orderkey"), F.col("o_orderkey") == F.col("l_orderkey")
    ).select("l_orderkey", "l_suppkey", "l_shipdate")
    # per-(order, supplier) latest shipment
    s_max = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("s_max")
    )
    # per-order: top-1 max shipdate and supplier count
    o_stats = s_max.groupBy("l_orderkey").agg(
        F.max("s_max").alias("top1"),
        F.count(F.lit(1)).alias("n_supps"),
    )
    s_lvl = (
        s_max.join(o_stats, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(
            F.first("top1").alias("top1"),
            F.first("n_supps").alias("n_supps"),
            F.sum(F.when(F.col("s_max") == F.col("top1"), 1).otherwise(0)).alias(
                "cnt_top1"
            ),
            F.max(F.when(F.col("s_max") < F.col("top1"), F.col("s_max"))).alias(
                "top2"
            ),
        )
    )
    per_supplier = s_max.join(s_lvl, "l_orderkey").withColumn(
        "max_other",
        F.when(
            (F.col("s_max") == F.col("top1")) & (F.col("cnt_top1") == 1),
            F.col("top2"),
        ).otherwise(F.col("top1")),
    )
    qualifying = (
        lines.join(
            per_supplier.select("l_orderkey", "l_suppkey", "max_other", "n_supps"),
            ["l_orderkey", "l_suppkey"],
        )
        .filter((F.col("n_supps") >= 2) & (F.col("l_shipdate") >= F.col("max_other")))
    )
    return (
        qualifying.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q22 — idle high-balance customers (scalar avg + anti join)
# ---------------------------------------------------------------------------

@register(
    "q22_idle_customers",
    oracle=f"""
    SELECT c_nationkey AS cntry, count(*) AS numcust,
           {stable_sum_sql("c_acctbal", "totacctbal")}
    FROM customer
    WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
      AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
                              / count(c_acctbal)
                       FROM customer
                       WHERE c_acctbal > 0
                         AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (phone prefixes don't exist; nationkey is the
    country code, and "no orders" — empty at this SF — becomes "no
    URGENT orders").  Scalar AVG → one-row broadcast; NOT EXISTS →
    LEFT ANTI join on custkey.

    The average is computed over integral-cent-scale doubles summed as
    decimal, so the ``>`` comparison is engine-stable."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13)
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    # DuckDB's scalar avg() is a sequential double sum; replicate exactly:
    # exact decimal sum (order-independent) / count gives the identical
    # double for acctbal's 2-decimal values.
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(30,6)")).cast("double")
            / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            stable_sum(F.col("c_acctbal"), "totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q11 — per-key value share with a scalar-subquery threshold (HAVING > k·total)
# ---------------------------------------------------------------------------

Q11_NATION = "NATION_9"
# TPC-H scales Q11's HAVING fraction as 0.0001/SF precisely so the cut
# stays non-trivial as data grows (per-part value is ~SF-invariant while
# the total grows with SF).  With supplier count = 10000·SF in real
# TPC-H, 0.0001/SF == 1/n_supp — i.e. the spec's rule IS a data-derived
# fraction.  We mirror that: fraction = Q11_K / count(supplier), with
# Q11_K chosen so the sf0.01 rowset matches the former fixed 0.001
# (0.1/100 suppliers).  The r14 verdict flagged the fixed fraction as
# vacuous at sf0.1 (0 rows — the 10× scale gate never exercised the
# cut); the scale-aware form emits non-empty rowsets at BOTH SFs.
Q11_K = 0.1


@register(
    "q11_important_values",
    oracle=f"""
    WITH scoped AS (
      SELECT l_partkey, l_extendedprice, l_discount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = '{Q11_NATION}'
    ),
    per_part AS (
      SELECT l_partkey, {stable_sum_sql(_REV_SQL, "value")}
      FROM scoped GROUP BY l_partkey
    )
    SELECT l_partkey, value
    FROM per_part
    WHERE value > (SELECT {stable_sum_sql(_REV_SQL, "total")} FROM scoped)
                  * CAST({Q11_K} AS DOUBLE)
                  / (SELECT count(*) FROM supplier)
    ORDER BY value DESC, l_partkey
    """,
)
def q11_important_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no ``partsupp``; lineitem is the part↔supplier
    link, revenue is the value metric): per-part value for one nation's
    suppliers, kept only when above a fraction of that nation's total.
    The fraction is SCALE-AWARE — ``Q11_K / count(supplier)``, the
    TPC-H 0.0001/SF rule re-expressed in data terms (see Q11_K) — so
    the HAVING cut stays non-trivial at every scale factor.

    Plan shape at 100 TB: lineitem ⋈ broadcast(supplier ⋈
    broadcast(nation)) — the fact table never shuffles for the dims; one
    hash agg on l_partkey; the threshold is a broadcast single-row
    aggregate joined to a broadcast single-row supplier count (never a
    driver round-trip).  Both sides of the HAVING compare derive from
    the same order-independent decimal sums, and the threshold is the
    identical left-associated double expression (total · K) / n_supp in
    both engines, so the cut is deterministic under any partitioning."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    scoped = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    per_part = scoped.groupBy("l_partkey").agg(stable_sum(_rev(), "value"))
    n_supp = supp.agg(F.count(F.lit(1)).alias("n_supp"))
    total = (
        scoped.agg(stable_sum(_rev(), "total"))
        .join(F.broadcast(n_supp))
        .select(
            (F.col("total") * F.lit(Q11_K) / F.col("n_supp")).alias("threshold")
        )
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("threshold"))
        .orderBy(F.col("value").desc(), "l_partkey")
        .select("l_partkey", "value")
    )


# ---------------------------------------------------------------------------
# Q13 — outer-join count distribution (customers by number of orders)
# ---------------------------------------------------------------------------

@register(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (no ``o_comment``; the excluded class is urgent
    orders): distribution of per-customer order counts, customers with
    zero orders included via the left outer join.

    Plan shape: one shuffle join on custkey (both sides fact-sized at
    100 TB — broadcasting would be wrong), a combiner count per
    customer reusing the join partitioning, then a tiny second agg over
    at most a few hundred distinct counts."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    c_counts = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_counts.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))
