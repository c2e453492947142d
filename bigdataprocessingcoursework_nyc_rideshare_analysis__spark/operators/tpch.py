"""Decision-support query shapes (TPC-H-style) over the star schema.

The reference never goes past fact×dim joins and single-level aggregation
(SURVEY.md §2.3-2.4: "no semi/anti/theta/range/as-of joins", no subqueries,
no conditional aggregation).  A complete engine must also cover the classic
warehouse shapes users run daily: scan-heavy flag/status summaries,
EXISTS-driven counts, conditional (CASE) aggregation, two-level aggregation
(aggregate of an aggregate), scalar-subquery filters, argmin-per-group, and
HAVING-driven semi joins back into the fact.  This module implements those
shapes with the public TPC-H queries as the semantic model — Q1, Q4, Q6, Q8,
Q10, Q13, Q14, Q15, Q18, Q22 — re-parameterized for the driver's synthetic
tables (TESTDATA.md; date ranges 1995-2001, p_type ∈ {PROMO, ...}).

Scale notes (100 TB design point), per query in its docstring; common rules:
- money accumulates in DECIMAL(18,2) and converts to DOUBLE only at the end
  (``functions.scalar``) — order-independent, so results are bit-identical
  across partitionings and engines;
- every dimension join is explicitly ``F.broadcast`` (customer/supplier/
  part/nation are dims here; at 100 TB customer may outgrow broadcast — the
  plan degrades to a shuffle join on the same code);
- fact-side predicates are plain column comparisons so they reach the
  parquet scan as PushedFilters (pinned in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import money_avg, money_sum
from ..registry import register
from ..sources import load_table, load_tables
from ..sources.warehouse import trip_tables


def _revenue(extendedprice: str = "l_extendedprice", discount: str = "l_discount") -> F.Column:
    """Exact-decimal revenue term ``extprice * (1 - discount)``."""
    return F.col(extendedprice).cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col(discount).cast("decimal(18,2)")
    )


# ---------------------------------------------------------------------------
# Q1 — pricing summary report: the canonical scan-heavy flag/status rollup.
# ---------------------------------------------------------------------------

_PRICING_SUMMARY_ORACLE = """
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary_by_flag_status", oracle=_PRICING_SUMMARY_ORACLE, tags=("olap", "agg", "tpch"))
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single-table scan → 6-group rollup with 8 aggregates.

    The scan-bound archetype: no join at all, the shipdate predicate and the
    9-column projection reach the parquet scan, and every aggregate computes
    map-side partial state before one exchange on a 6-row key space.  At
    100 TB this query is pure scan throughput — the plan cannot do better
    than partial-agg + tiny final exchange, which is exactly what Catalyst
    emits here (pinned in tests/test_plans.py)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        money_sum("l_quantity", "sum_qty"),
        money_sum("l_extendedprice", "sum_base_price"),
        F.sum(_revenue()).cast("double").alias("sum_disc_price"),
        F.sum(
            _revenue() * (F.lit(1).cast("decimal(18,2)") + F.col("l_tax").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("sum_charge"),
        money_avg("l_quantity", "avg_qty"),
        money_avg("l_extendedprice", "avg_price"),
        money_avg("l_discount", "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change: pure pushdown showcase, scalar answer.
# ---------------------------------------------------------------------------

_DISCOUNT_REVENUE_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS potential_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("discount_revenue_impact", oracle=_DISCOUNT_REVENUE_ORACLE, tags=("olap", "filter", "tpch"))
def q_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: conjunctive range predicates → one global sum.

    Every predicate is a plain comparison on a scanned column, so all four
    reach the parquet reader as PushedFilters and row groups outside the
    shipdate year are skipped on min/max stats alone.  The aggregation is a
    partial-sum per partition plus a single-row final — at 100 TB the cost
    is the (pruned) scan, nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast("decimal(18,2)"))
            .cast("double")
            .alias("potential_revenue")
        )
    )


# ---------------------------------------------------------------------------
# Q4 — order priority checking: EXISTS-driven count (left semi join).
# ---------------------------------------------------------------------------

_LATE_SHIP_ORACLE = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
GROUP BY o.o_orderpriority
"""


@register("late_shipment_priority_counts", oracle=_LATE_SHIP_ORACLE, tags=("olap", "semijoin", "tpch"))
def q_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi equi-join + extra
    condition, then a tiny group-count.

    The semi join keeps each qualifying order once however many late lines
    it has — ``leftsemi`` is the plan-level EXISTS, no distinct needed.  The
    quarter predicate prunes orders *before* the join, so the shuffle moves
    one quarter of one fact, not the whole table; at 100 TB both sides hash
    on orderkey (or skip the exchange entirely on an orderkey-bucketed
    layout, see sources/warehouse.py)."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    late = (
        F.col("l_orderkey") == F.col("o_orderkey")
    ) & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    return (
        ords.join(li, on=late, how="leftsemi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Q14 — promo revenue share: conditional (CASE) aggregation over a dim join.
# ---------------------------------------------------------------------------

_PROMO_SHARE_ORACLE = """
SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                              ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-07-01 00:00:00'
"""


@register("promo_revenue_share", oracle=_PROMO_SHARE_ORACLE, tags=("olap", "agg", "tpch"))
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: CASE-conditional sum / total sum over fact⋈dim.

    Both sums ride one aggregation pass (no second scan for the
    denominator); part broadcasts.  The share divides two exact decimal
    sums *after* each converts to double, so both engines evaluate the same
    two bit-identical doubles — ratio parity without any tolerance."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-07-01").cast("timestamp"))
    )
    joined = li.join(F.broadcast(t["part"].select("p_partkey", "p_type")), li["l_partkey"] == F.col("p_partkey"))
    promo = F.when(F.col("p_type") == "PROMO", _revenue()).otherwise(F.lit(0).cast("decimal(18,2)"))
    agg = joined.agg(
        F.sum(promo).cast("double").alias("_promo"),
        F.sum(_revenue()).cast("double").alias("_total"),
    )
    return agg.select((F.lit(100.0) * F.col("_promo") / F.col("_total")).alias("promo_revenue_pct"))


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution: aggregate of an aggregate.
# ---------------------------------------------------------------------------

_ORDER_DISTRIBUTION_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) per_customer
GROUP BY c_count
"""


@register("customer_order_distribution", oracle=_ORDER_DISTRIBUTION_ORACLE, tags=("olap", "agg", "join", "tpch"))
def q_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left join with an extra join-side predicate, then a
    two-level aggregation (orders per customer → customers per order-count).

    The join predicate on priority must stay *in the join* (not a WHERE) so
    customers whose only orders are urgent still appear with c_count = 0 —
    the same null-survival semantics the reference's zone join needs
    (SURVEY.md §7.4).  COUNT(o_orderkey) counts non-null matches only.
    First aggregation shuffles on custkey (fact-sized); the second reduces
    |distinct counts| rows — negligible.  At 100 TB the big join hashes
    customer⋈orders on custkey; both level-1 agg and join share that
    partitioning, so Catalyst plans one exchange, not two."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    ords = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT").select("o_custkey", "o_orderkey")
    per_customer = (
        t["customer"]
        .select("c_custkey")
        .join(ords, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_customer.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q15 — top supplier(s): aggregate joined against its own max (scalar subquery).
# ---------------------------------------------------------------------------

_TOP_SUPPLIER_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@register("top_revenue_supplier", oracle=_TOP_SUPPLIER_ORACLE, tags=("olap", "subquery", "tpch"))
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, keep the one(s)
    equal to the global max — a scalar aggregate subquery.

    The SQL's literal shape (join the aggregate against its own MAX) makes
    Spark build the revenue aggregate TWICE — exchange reuse does not fire
    across the broadcast boundary, so lineitem scans twice.  Instead the
    max-filter is ``rank() == 1`` over the *aggregated* rows: rank keeps
    every tie (identical semantics to equality-with-max on these exact
    decimal-derived doubles) and the fact scans once.  The unpartitioned
    window funnels only |suppliers-with-sales-this-quarter| rows — a
    dimension-sized input, same caveat as ``user_value_quartiles`` — while
    the heavy lifting stays in the partial-agg + one suppkey shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_revenue()).cast("double").alias("total_revenue")
    )
    w = Window.orderBy(F.desc("total_revenue"))
    top = (
        revenue.withColumn("_rk", F.rank().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return sup.join(F.broadcast(top), F.col("s_suppkey") == F.col("supplier_no")).select(
        "s_suppkey", "s_name", "total_revenue"
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume customers: HAVING on the fact, semi join back.
# ---------------------------------------------------------------------------

_LARGE_ORDERS_ORACLE = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
)
GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
"""


@register("large_volume_customers", oracle=_LARGE_ORDERS_ORACLE, tags=("olap", "semijoin", "agg", "tpch"))
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose line quantities sum past a threshold,
    with their customers.

    Instead of the literal IN-subquery (aggregate lineitem twice), the
    qualifying orderkeys come from ONE aggregation whose result joins back
    to orders — the HAVING output is tiny (threshold-selective), so it
    broadcasts and the orders side never shuffles.  The quantity total is
    carried from that same aggregate rather than recomputed.  At 100 TB the
    single lineitem aggregation shuffles on orderkey; everything after is
    broadcast."""
    t = load_tables(spark, sf_dir, "orders", "customer", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_qty"))
        .filter(F.col("_qty") > 300)
        .select("l_orderkey", F.col("_qty").cast("double").alias("total_qty"))
    )
    ords = t["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    cust = t["customer"].select("c_custkey", "c_name")
    return (
        ords.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


# ---------------------------------------------------------------------------
# Q10 — returned-item losses: 4-table join, top-20 by lost revenue.
# ---------------------------------------------------------------------------

_RETURNED_LOSSES_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS lost_revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY lost_revenue DESC, c_custkey ASC
LIMIT 20
"""


@register("returned_item_losses_top20", oracle=_RETURNED_LOSSES_ORACLE, tags=("olap", "join", "topk", "tpch"))
def q_returned_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned lineitems through orders→customer→nation,
    top-20 customers by lost revenue (deterministic custkey tie-break).

    The returnflag filter prunes lineitem at the scan; the orderdate year
    prunes orders before the fact⋈fact join.  customer/nation broadcast;
    the final top-20 plans TakeOrderedAndProject (no global sort).  At
    100 TB: one orderkey shuffle for the fact join, one custkey-space
    aggregation exchange — both unavoidable, both minimal."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    li = t["lineitem"].filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    ords = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = t["customer"].select("c_custkey", "c_name", "c_nationkey")
    nat = t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "nation")
        .agg(F.sum(_revenue()).cast("double").alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q8 — market share: share-of-total via two CASE-less decimal sums per year.
# ---------------------------------------------------------------------------

_MARKET_SHARE_ORACLE = """
SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n.n_name = 'NATION_7'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                     ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS mkt_share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY EXTRACT(YEAR FROM o.o_orderdate)
"""


@register("nation_market_share_by_year", oracle=_MARKET_SHARE_ORACLE, tags=("olap", "agg", "join", "tpch"))
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7 suppliers' share of total revenue per order
    year — conditional numerator and unconditional denominator in one pass.

    supplier→nation resolves the selling nation (both broadcast); the only
    big shuffle is lineitem⋈orders on orderkey.  Numerator and denominator
    are separate exact-decimal sums converted to double before the divide,
    so the ratio is bit-identical to the oracle's."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "supplier", "nation")
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    ords = t["orders"].select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    sup = t["supplier"].select("s_suppkey", "s_nationkey")
    nat = t["nation"].select("n_nationkey", "n_name")
    nation_rev = F.when(F.col("n_name") == "NATION_7", _revenue()).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("o_year")
        .agg(
            F.sum(nation_rev).cast("double").alias("_num"),
            F.sum(_revenue()).cast("double").alias("_den"),
        )
        .select("o_year", (F.col("_num") / F.col("_den")).alias("mkt_share"))
    )


# ---------------------------------------------------------------------------
# Q22 — dormant rich customers: scalar-subquery filter + windowed anti join.
# ---------------------------------------------------------------------------

_DORMANT_CUSTOMERS_ORACLE = """
SELECT n.n_name AS nation,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
GROUP BY n.n_name
"""


@register("dormant_rich_customers", oracle=_DORMANT_CUSTOMERS_ORACLE, tags=("olap", "antijoin", "subquery", "tpch"))
def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers above the global average balance with no
    recent orders, counted per nation — scalar subquery + NOT EXISTS.

    The average computes once (1-row aggregate, broadcast into the filter);
    NOT EXISTS is a left-anti equi-join against date-pruned orders.  AVG
    here is the exact-decimal sum/count form on both engines, so the
    threshold double is bit-identical and the > comparison agrees row for
    row.  At 100 TB the anti join hashes on custkey; the recent-orders side
    is a fraction of one fact after pushdown."""
    t = load_tables(spark, sf_dir, "customer", "orders", "nation")
    cust = t["customer"]
    threshold = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(money_avg("c_acctbal", "_avg"))
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    nat = t["nation"].select("n_nationkey", F.col("n_name").alias("nation"))
    return (
        cust.join(F.broadcast(threshold), F.col("c_acctbal") > F.col("_avg"))
        .drop("_avg")
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum("c_acctbal", "total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q2-flavored argmin: cheapest observed supplier per brand.
# ---------------------------------------------------------------------------

_CHEAPEST_SUPPLIER_ORACLE = """
WITH offers AS (
  SELECT p.p_brand, l.l_suppkey,
         l.l_extendedprice / l.l_quantity AS unit_price
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
),
best AS (
  SELECT p_brand, MIN(unit_price) AS min_unit_price FROM offers GROUP BY p_brand
)
SELECT o.p_brand, b.min_unit_price, MIN(o.l_suppkey) AS best_suppkey
FROM offers o
JOIN best b ON o.p_brand = b.p_brand AND o.unit_price = b.min_unit_price
GROUP BY o.p_brand, b.min_unit_price
"""


@register("cheapest_supplier_per_brand", oracle=_CHEAPEST_SUPPLIER_ORACLE, tags=("olap", "argmin", "tpch"))
def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (argmin-per-group): per brand, the minimum observed
    unit price and the supplier achieving it (min suppkey on ties —
    deterministic, unlike ``min_by``'s arbitrary-tie pick).

    Implemented as ONE aggregation with ``min(struct(price, suppkey))`` —
    the struct's lexicographic min IS (min price, then min suppkey at that
    price), replacing the SQL's two-pass join-back with a single shuffle on
    |brands| keys.  Unit price is an IEEE double division both engines
    evaluate identically; MIN is order-independent, so no decimal machinery
    is needed.  At 100 TB this stays one-pass: struct ordering is not
    hash-aggregable so Catalyst plans SortAggregate, but it is still a
    map-side partial (one struct per brand per partition) feeding a single
    exchange."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    offers = (
        t["lineitem"]
        .select("l_partkey", "l_suppkey", (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
        .join(F.broadcast(t["part"].select("p_partkey", "p_brand")), F.col("l_partkey") == F.col("p_partkey"))
    )
    best = offers.groupBy("p_brand").agg(
        F.min(F.struct("unit_price", "l_suppkey")).alias("_best")
    )
    return best.select(
        "p_brand",
        F.col("_best.unit_price").alias("min_unit_price"),
        F.col("_best.l_suppkey").alias("best_suppkey"),
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity orders: correlated per-group scalar subquery.
# ---------------------------------------------------------------------------

_SMALL_QTY_ORACLE = """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         AS avg_yearly_loss,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN (
  SELECT l_partkey, 0.3 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                           / COUNT(l_quantity)) AS qty_limit
  FROM lineitem GROUP BY l_partkey
) pa ON l.l_partkey = pa.l_partkey
WHERE l.l_quantity < pa.qty_limit
"""


@register("small_quantity_order_revenue", oracle=_SMALL_QTY_ORACLE, tags=("olap", "subquery", "tpch"))
def q_small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lineitems whose quantity is below 30% of their
    part's average quantity — a *correlated* scalar subquery (one threshold
    per part), decorrelated into aggregate-then-join.

    The literal correlated form would re-aggregate lineitem per outer row;
    the decorrelated form aggregates once on partkey and joins back — the
    same single-fact-scan-twice shape every optimizer rewrites Q17 into.
    Here the per-part averages are |parts|-sized, so the join-back
    broadcasts; at 100 TB it degrades to a partkey-hash join, co-located
    with the aggregation's own partitioning (one exchange serves both).
    The average is exact-decimal SUM/COUNT so the 0.3× threshold double is
    bit-identical across engines — the < comparison agrees row for row."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    limits = li.groupBy("l_partkey").agg(
        (F.lit(0.3) * money_avg("l_quantity", "_avg")).alias("qty_limit")
    ).select("l_partkey", "qty_limit")
    return (
        li.join(F.broadcast(limits), "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (money_sum("l_extendedprice", "_s") / F.lit(7.0)).alias("avg_yearly_loss"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive predicate join: OR-of-ANDs across both join sides.
# ---------------------------------------------------------------------------

_DISJUNCTIVE_ORACLE = """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 35)
"""


@register("disjunctive_brand_revenue", oracle=_DISJUNCTIVE_ORACLE, tags=("olap", "filter", "tpch"))
def q_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of conjunctive brand/size/
    quantity bands spanning both join sides.

    The disjunction cannot be pushed below the join whole, but Catalyst
    derives the *per-side implied* predicates (brand IN (...) ∧ size ∈
    [1,30] on part; quantity ∈ [1,35] on lineitem) and pushes those to the
    scans, so the join sees pre-filtered inputs and the full OR evaluates
    only on surviving rows.  part broadcasts; one aggregation, no shuffle
    beyond the final 1-row agg."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li = t["lineitem"].select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    pt = t["part"].select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
    band1 = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    band2 = (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    )
    return joined.filter(band1 | band2).agg(
        F.sum(_revenue()).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# Q21 flavor — EXISTS and NOT EXISTS against the same fact, per supplier.
# ---------------------------------------------------------------------------

_SOLE_LATE_ORACLE = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
  AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
GROUP BY s.s_name
"""


@register("sole_late_supplier_waits", oracle=_SOLE_LATE_ORACLE, tags=("olap", "semijoin", "antijoin", "tpch"))
def q_sole_late_suppliers(
    spark: SparkSession, sf_dir: str, use_warehouse: bool = False
) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper on
    multi-supplier finished orders — an EXISTS and a NOT EXISTS correlated
    against the same fact.

    Instead of two more fact joins (the literal plan), both quantifiers
    collapse into ONE per-(order, supplier) aggregation joined back:
    `n_supp` (distinct suppliers on the order) answers the EXISTS, and
    `n_late_supp` (distinct suppliers with a late line) answers the NOT
    EXISTS — l1 is late, so "no OTHER supplier late" ≡ n_late_supp = 1.
    One orderkey-keyed aggregation + one join replaces two semi/anti fact
    joins; all three fact passes share the orderkey partitioning at
    100 TB.  With ``use_warehouse=True`` that partitioning comes from the
    bucketed ingest: the li⋈orders join, the per-order aggregation, AND the
    join-back all reuse the bucket distribution — the only Exchange left
    is the supplier-sized name rollup (pinned in tests/test_bucketing.py)."""
    t = trip_tables(spark, sf_dir, "supplier", "lineitem", "orders", use_warehouse=use_warehouse)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    ords = t["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    lines = li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
    # Two stacked aggregations instead of a double countDistinct: the
    # multi-distinct rewrite plans an Expand (2x row blow-up) plus TWO
    # exchanges on expanded keys, which also defeats the bucket
    # distribution.  Per-(order, supplier) first — clustering on a key set
    # CONTAINING l_orderkey, so an orderkey partitioning (bucketed or from
    # the join shuffle) satisfies both groupBys with zero extra Exchange.
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late.cast("int")).alias("has_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("has_late").alias("n_late_supp"),
    )
    waits = (
        lines.filter(late)
        .join(per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)).select("l_orderkey"), "l_orderkey")
    )
    sup = t["supplier"].select("s_suppkey", "s_name")
    return (
        waits.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between a nation pair, by year: the two-role dim join.
# ---------------------------------------------------------------------------

_VOLUME_SHIPPING_ORACLE = """
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_12')
      OR (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_11'))
    AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
)
GROUP BY supp_nation, cust_nation, l_year
"""


@register("volume_shipping_by_year", oracle=_VOLUME_SHIPPING_ORACLE, tags=("olap", "join", "tpch"))
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year — the same dimension (nation) joined in TWO ROLES (supplier's and
    customer's), with a disjunctive cross-role predicate.

    The nation filter is applied INSIDE each role's dim subtree (supplier→
    nation, customer→nation, each pre-filtered to the pair and broadcast),
    so the fact join fans in only matching suppliers/customers and the OR
    collapses to the residual ``supp_nation <> cust_nation``.  The only
    big-data exchange is lineitem⋈orders on orderkey — the same bucketable
    fact×fact join every order-grain query here shares.  Ship-date range
    reaches the parquet scan as PushedFilters."""
    t = load_tables(spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation")
    pair = t["nation"].filter(F.col("n_name").isin("NATION_11", "NATION_12"))
    supp = (
        t["supplier"]
        .join(F.broadcast(pair), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        t["customer"]
        .join(F.broadcast(pair), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q9 — product-line profit by supplier nation and order year.
# ---------------------------------------------------------------------------

_PRODUCT_PROFIT_ORACLE = """
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l_discount AS DECIMAL(18,2)))
              - CAST(p_retailprice AS DECIMAL(18,2))
                  * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY 1, 2
"""


@register("product_profit_by_nation_year", oracle=_PRODUCT_PROFIT_ORACLE, tags=("olap", "join", "agg", "tpch"))
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation, per-year profit on a product line
    selected by part-name substring.  (The reference schema has no partsupp
    table, so supply cost is re-parameterized as the part's retail price —
    the plan shape is unchanged: 4 dims + both facts.)

    part is filtered by the LIKE *before* broadcasting, so the fact join
    fans in only the product line (substring predicates can't prune parquet
    row groups, but the dim-side filter prunes the JOIN, which is what
    matters — lineitem rows drop at the first broadcast probe).  The one
    big exchange is again lineitem⋈orders on orderkey.  Profit accumulates
    in exact decimal; the two decimal products stay well inside precision
    38, so SUM is order-independent and the final double is bit-identical
    to the oracle's."""
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier", "nation", "orders")
    pt = t["part"].filter(F.col("p_name").like("%gear%")).select("p_partkey", "p_retailprice")
    sup = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    profit = _revenue() - F.col("p_retailprice").cast("decimal(18,2)") * F.col(
        "l_quantity"
    ).cast("decimal(18,2)")
    return (
        t["lineitem"]
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"].select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q11 — important part values: share-of-global-total HAVING.
# ---------------------------------------------------------------------------

_IMPORTANT_PARTS_ORACLE = """
WITH pv AS (
  SELECT l_partkey AS partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS val
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_4')
  GROUP BY l_partkey
)
SELECT partkey, CAST(val AS DOUBLE) AS part_value
FROM pv, (SELECT SUM(val) AS total FROM pv) t
WHERE CAST(val AS DOUBLE) > 0.002 * CAST(total AS DOUBLE)
"""


@register("important_part_values", oracle=_IMPORTANT_PARTS_ORACLE, tags=("olap", "subquery", "agg", "tpch"))
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value within a supplier-nation
    group exceeds a FRACTION OF THE GLOBAL TOTAL — a HAVING against an
    uncorrelated scalar aggregate of the same subquery.  (No partsupp table
    in this schema; "value" is re-parameterized as discounted revenue from
    the selected nations' suppliers.)

    The per-part aggregate computes once and feeds BOTH sides: its 1-row
    re-aggregation becomes the scalar threshold, cross-joined back
    (broadcast of one row — free).  Spark evaluates the tiny total branch
    first; the big branch is one partkey-keyed shuffle.  Both branches sit
    on exact decimal; only the final share comparison drops to double, and
    both engines derive it from the same exact sums."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name").isin("NATION_3", "NATION_4"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    pv = (
        t["lineitem"]
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_revenue()).alias("val"))
    )
    total = pv.agg(F.sum("val").alias("total"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.lit(0.002) * F.col("total").cast("double"))
        .select("partkey", F.col("val").cast("double").alias("part_value"))
    )


# ---------------------------------------------------------------------------
# Q16 — supplier diversity per part class, excluding flagged suppliers.
# ---------------------------------------------------------------------------

_SUPPLIER_DIVERSITY_ORACLE = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


@register("supplier_diversity_by_part_class", oracle=_SUPPLIER_DIVERSITY_ORACLE, tags=("olap", "antijoin", "agg", "tpch"))
def q_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each (brand,
    type, size) part class, excluding a NOT-IN supplier set (here: negative
    account balance, the schema's stand-in for the complaints predicate).

    The NOT IN is a broadcast ANTI join against the (tiny) flagged-supplier
    list — null-safe here because s_suppkey is a key.  part is filtered on
    brand/type/size before broadcasting.  COUNT(DISTINCT) over
    (class, suppkey) is the only real exchange; Spark plans it as the
    standard two-phase distinct-aggregate expand, partial on the map side."""
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    pt = t["part"].filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    flagged = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(flagged), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q20 flavor — suppliers dominating a part's shipped volume in a year.
# ---------------------------------------------------------------------------

_DOMINANT_SUPPLIER_ORACLE = """
WITH pq AS (
  SELECT l_suppkey, l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY 1, 2
), w AS (
  SELECT l_suppkey, supp_qty,
         SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
  FROM pq
)
SELECT DISTINCT s_suppkey AS suppkey, s_name
FROM w JOIN supplier ON s_suppkey = l_suppkey
WHERE CAST(supp_qty AS DOUBLE) > 0.3 * CAST(part_qty AS DOUBLE)
"""


@register("dominant_part_suppliers", oracle=_DOMINANT_SUPPLIER_ORACLE, tags=("olap", "window", "semijoin", "tpch"))
def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than 30% of a selected
    product line's volume in one year.  (No partsupp availqty in this
    schema, so the correlated "more than half the stock" threshold is
    re-parameterized as a share of the part's own shipped total.)

    The correlated per-part threshold is a WINDOW SUM over the per-
    (supplier, part) aggregate — no join-back at all: the aggregation
    already shuffled on (suppkey, partkey), and the window re-partitions
    the *aggregate* (|suppliers×parts| rows, orders of magnitude smaller
    than the fact).  Quantities stay exact-decimal through both the
    aggregate and the window; the 0.3× share test drops to double at the
    end.  DISTINCT dedups suppliers dominating several parts; the supplier
    name lookup broadcasts."""
    t = load_tables(spark, sf_dir, "lineitem", "part", "supplier")
    pt = t["part"].filter(F.col("p_name").like("red%")).select("p_partkey")
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pq = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("supp_qty"))
    )
    w = pq.withColumn("part_qty", F.sum("supp_qty").over(Window.partitionBy("l_partkey")))
    dominant = w.filter(
        F.col("supp_qty").cast("double") > F.lit(0.3) * F.col("part_qty").cast("double")
    ).select("l_suppkey").distinct()
    sup = t["supplier"].select(F.col("s_suppkey").alias("suppkey"), "s_name")
    return dominant.join(
        F.broadcast(sup), F.col("l_suppkey") == F.col("suppkey")
    ).select("suppkey", "s_name")


# ---------------------------------------------------------------------------
# Q5 — local supplier volume: the cross-dimension equality join.
# ---------------------------------------------------------------------------

_LOCAL_SUPPLIER_ORACLE = """
SELECT n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1
"""


@register("local_supplier_volume", oracle=_LOCAL_SUPPLIER_ORACLE, tags=("olap", "join", "tpch"))
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue where the SUPPLYING nation equals the
    ORDERING customer's nation — the classic cross-dimension equality
    (``s_nationkey = c_nationkey``) that distinguishes Q5 from a plain
    star join: the supplier join carries a residual predicate referencing
    a column that arrives from the *other* dimension chain.

    Plan shape at scale: lineitem⋈orders is the only fact×fact shuffle
    (orderkey-bucketed warehouse skips it); customer, supplier, nation,
    region all broadcast, so the cross-dim equality evaluates as a cheap
    residual filter inside the broadcast hash joins rather than forcing
    any extra exchange.  Region filter prunes nation rows before the fact
    ever joins; aggregation finishes on a ≤|nations| key space."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region")
    rg = t["region"].filter(F.col("r_name") == "ASIA").select("r_regionkey")
    na = (
        t["nation"]
        .join(F.broadcast(rg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    od = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cu = t["customer"].select("c_custkey", "c_nationkey")
    su = t["supplier"].select("s_suppkey", "s_nationkey")
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(su),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q12 — shipping-delay priority mix: dual conditional counts off one join.
# ---------------------------------------------------------------------------

_PRIORITY_MIX_ORACLE = """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >  o.o_orderdate + INTERVAL 30 DAY
  AND l.l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
GROUP BY 1
"""


@register("late_line_priority_mix", oracle=_PRIORITY_MIX_ORACLE, tags=("olap", "agg", "join", "tpch"))
def q_late_line_priority_mix(
    spark: SparkSession, sf_dir: str, use_warehouse: bool = False
) -> DataFrame:
    """TPC-H Q12 shape: for lines shipped ≥30 days after ordering in one
    year, count high- vs low-priority orders per line status — two
    CASE-conditional counts off a single fact×fact join.  (This schema has
    no l_shipmode/l_commitdate/l_receiptdate, so Q12's "committed vs
    received" lateness is re-parameterized as ship-lag > 30 days and the
    shipmode group-by becomes l_linestatus.)

    The shipdate-year predicates are plain comparisons that reach the
    parquet scan; the ship-lag predicate references both sides so it
    evaluates as a post-join residual — exactly where it belongs, since it
    cannot prune either scan alone.  Both conditional counts come out of
    ONE aggregation pass (map-side partials over a 2-row key space); at
    100 TB the cost is the pruned scan plus the one orderkey shuffle —
    which ``use_warehouse=True`` removes entirely (bucketed ingest; the
    2-row final agg's Exchange is all that remains, pinned in
    tests/test_bucketing.py)."""
    t = trip_tables(spark, sf_dir, "lineitem", "orders", use_warehouse=use_warehouse)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    od = t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q3 — shipping-priority: top unshipped orders by open revenue at a date.
# ---------------------------------------------------------------------------

_UNSHIPPED_ORACLE = """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
LIMIT 10
"""


@register("unshipped_orders_by_revenue", oracle=_UNSHIPPED_ORACLE, tags=("olap", "join", "topk", "tpch", "r7"))
def q_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: orders from one market segment placed before a date
    whose lineitems ship after it (revenue still in flight), top-10 by open
    revenue.  The reference's output column is o_shippriority; the synthetic
    orders table carries o_orderpriority instead — same shape, same plan.

    Plan: the segment filter prunes customer BEFORE its broadcast (1/5 of
    the dim); both date predicates are plain comparisons pushed to the
    orders/lineitem scans.  The one big shuffle is the orderkey fact⋈fact
    join; the aggregate reuses that partitioning (groupBy leads with
    l_orderkey), and the top-10 plans TakeOrderedAndProject — per-partition
    heaps, no global sort.  Ties broken (o_orderdate, l_orderkey) so the
    10-row result is deterministic across engines and partitionings."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    cutoff = F.lit("1998-03-15").cast("timestamp")
    ords = t["orders"].filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return (
        ords.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Grouped OLS: discount elasticity of quantity per brand.
# ---------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH s AS (
  SELECT p.p_brand,
         COUNT(*) AS n,
         SUM(CAST(l.l_discount AS DECIMAL(18,2))) AS sx,
         SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS sy,
         SUM(CAST(l.l_discount AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2))) AS sxy,
         SUM(CAST(l.l_discount AS DECIMAL(18,2)) * CAST(l.l_discount AS DECIMAL(18,2))) AS sxx
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
)
SELECT p_brand, CAST(n AS BIGINT) AS n,
       (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
       (CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n
         AS intercept
FROM s
WHERE n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
"""


@register("discount_quantity_elasticity_by_brand", oracle=_ELASTICITY_ORACLE, tags=("olap", "stats", "agg", "r7"))
def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS: per brand, the least-squares slope (and intercept) of
    order quantity on discount — "does discounting move volume, and for
    which brands?".  The grouped counterpart of the corpus-wide sufficient-
    stats correlation (``corr_value_hour_by_event_type``); the built-in
    ``regr_slope`` would give the same numbers but accumulates streaming
    covariances whose float reduction order varies by partitioning —
    the four DECIMAL sums here are order-independent, so the slope is
    bit-identical across engines and partition counts (the repo-wide
    differential-testing discipline).

    Plan: broadcast part (dim) into the lineitem scan, ONE shuffle for the
    per-brand aggregate, closed-form division on the |brands|-sized result.
    Zero-variance groups (all lineitems at one discount) are excluded
    explicitly rather than emitting engine-dependent inf/NaN."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li = t["lineitem"].select("l_partkey", "l_discount", "l_quantity")
    pt = t["part"].select("p_partkey", "p_brand")
    x = F.col("l_discount").cast("decimal(18,2)")
    y = F.col("l_quantity").cast("decimal(18,2)")
    s = (
        li.join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
        )
    )
    n = F.col("n")
    sx, sy, sxy, sxx = (F.col(c).cast("double") for c in ("sx", "sy", "sxy", "sxx"))
    var = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / var
    return s.filter(var > 0).select(
        "p_brand",
        n.alias("n"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )
