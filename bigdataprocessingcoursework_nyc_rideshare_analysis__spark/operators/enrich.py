"""Dimension-enrichment join — the reference's shared "prelude".

Reference semantics (``codes/task1.py:40-69``, repeated verbatim in
task2-task7): fact table left-joined twice against one zone dimension
(pickup then dropoff LocationID), join keys dropped, dimension columns
renamed ``Pickup_*`` / ``Dropoff_*``, and the epoch date decoded.  Unmatched
location IDs must survive (left join) — the golden outputs contain
``Unknown`` boroughs and null-zone routes.

Star-schema realization (FIXTURES.md §B): ``lineitem`` is the trip fact;
the pickup dimension is ``supplier ⋈ nation`` (via ``l_suppkey``) and the
dropoff dimension is ``customer ⋈ nation`` reached through ``orders`` (via
``l_orderkey`` → ``o_custkey``).  ``o_orderpriority`` stands in for
``time_of_day``; ``month(l_shipdate)`` for the trip month.

Scale strategy (100 TB):
- The zone-style dimensions (supplier⋈nation, customer⋈nation) get explicit
  ``F.broadcast`` hints — they are orders of magnitude smaller than the fact
  and a shuffle join here would dominate the job.  (The reference relies on
  auto-broadcast of its 265-row lookup; we make it deterministic.)
- ``lineitem ⋈ orders`` is fact×fact: no broadcast hint — at scale it is a
  shuffle join on ``orderkey`` where both sides would be bucketed/co-located;
  locally AQE auto-broadcasts the small side.  A pre-bucketed layout
  (``bucketBy(orderkey)``) removes this shuffle entirely.
- Everything is a single declarative plan: Catalyst prunes the fact scan to
  the referenced columns and pushes any downstream filter below the joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_tables
from ..sources.warehouse import trip_tables

# Generic core ---------------------------------------------------------------


def enrich_with_dim(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    rename: dict[str, str],
    broadcast_dim: bool = True,
) -> DataFrame:
    """Left-join ``fact`` with a (broadcast) dimension, rename the brought-in
    columns, and drop the duplicated join key.

    Models ``codes/task1.py:45-54`` (and ``:57-66`` for the second leg) as a
    parameterized operator instead of copy-pasted script blocks.
    """
    d = dim.select(dim_key, *rename.keys())
    for old, new in rename.items():
        d = d.withColumnRenamed(old, new)
    if broadcast_dim:
        d = F.broadcast(d)
    joined = fact.join(d, fact[fact_key] == d[dim_key], "left")
    return joined.drop(d[dim_key])


# Star-schema wiring ---------------------------------------------------------


def pickup_zone_dim(t: dict[str, DataFrame]) -> DataFrame:
    """supplier ⋈ nation → (s_suppkey, Pickup_Borough, Pickup_Zone)."""
    sup, nat = t["supplier"], t["nation"]
    return (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"], "left")
        .select(
            F.col("s_suppkey"),
            F.col("n_name").alias("Pickup_Borough"),
            F.col("s_name").alias("Pickup_Zone"),
        )
    )


def dropoff_zone_dim(t: dict[str, DataFrame]) -> DataFrame:
    """customer ⋈ nation → (c_custkey, Dropoff_Borough, Dropoff_Zone)."""
    cus, nat = t["customer"], t["nation"]
    return (
        cus.join(F.broadcast(nat), cus["c_nationkey"] == nat["n_nationkey"], "left")
        .select(
            F.col("c_custkey"),
            F.col("n_name").alias("Dropoff_Borough"),
            F.col("c_mktsegment").alias("Dropoff_Zone"),
        )
    )


ENRICHED_COLUMNS = (
    "l_orderkey",
    "l_linenumber",
    "business",
    "trip_length",
    "fare",
    "discount",
    "time_of_day",
    "ship_month",
    "Pickup_Borough",
    "Pickup_Zone",
    "Dropoff_Borough",
    "Dropoff_Zone",
)


def enriched_trips(spark: SparkSession, sf_dir: str, use_warehouse: bool = False) -> DataFrame:
    """The engine's central enriched view (reference's 21-column substrate,
    ``Images/task1_op1.2.png``), realized on the star schema.

    ``use_warehouse=True`` swaps the lineitem/orders parquet scans for the
    bucketed managed tables written by
    ``sources.warehouse.build_trip_warehouse`` — both sides arrive
    hash-distributed on orderkey, so the fact×fact join below plans with NO
    Exchange (the bucketing metadata replaces the runtime shuffle; pinned
    in ``tests/test_bucketing.py``).  The default stays on raw parquet:
    the driver's oracle harness owns no warehouse."""
    t = trip_tables(
        spark, sf_dir, "lineitem", "orders", "supplier", "customer", "nation",
        use_warehouse=use_warehouse,
    )
    li, orders = t["lineitem"], t["orders"]

    fact = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.col("l_returnflag").alias("business"),
        F.col("l_quantity").alias("trip_length"),
        F.col("l_extendedprice").alias("fare"),
        F.col("l_discount").alias("discount"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
    )

    fact = enrich_with_dim(
        fact,
        pickup_zone_dim(t),
        "l_suppkey",
        "s_suppkey",
        {"Pickup_Borough": "Pickup_Borough", "Pickup_Zone": "Pickup_Zone"},
    ).drop("l_suppkey")

    # orders leg: fact×fact, no broadcast hint (see module docstring)
    ord_slim = orders.select("o_orderkey", "o_custkey", F.col("o_orderpriority").alias("time_of_day"))
    fact = fact.join(ord_slim, fact["l_orderkey"] == ord_slim["o_orderkey"], "left").drop("o_orderkey")

    fact = enrich_with_dim(
        fact,
        dropoff_zone_dim(t),
        "o_custkey",
        "c_custkey",
        {"Dropoff_Borough": "Dropoff_Borough", "Dropoff_Zone": "Dropoff_Zone"},
    ).drop("o_custkey")

    return fact.select(*ENRICHED_COLUMNS)


_ENRICH_ORACLE = """
SELECT
  l.l_orderkey,
  l.l_linenumber,
  l.l_returnflag  AS business,
  l.l_quantity    AS trip_length,
  l.l_extendedprice AS fare,
  l.l_discount    AS discount,
  o.o_orderpriority AS time_of_day,
  CAST(month(l.l_shipdate) AS INTEGER) AS ship_month,
  sn.n_name       AS Pickup_Borough,
  s.s_name        AS Pickup_Zone,
  cn.n_name       AS Dropoff_Borough,
  c.c_mktsegment  AS Dropoff_Zone
FROM lineitem l
LEFT JOIN supplier s  ON l.l_suppkey = s.s_suppkey
LEFT JOIN nation  sn  ON s.s_nationkey = sn.n_nationkey
LEFT JOIN orders  o   ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c  ON o.o_custkey = c.c_custkey
LEFT JOIN nation  cn  ON c.c_nationkey = cn.n_nationkey
"""


@register("enrich_trips", oracle=_ENRICH_ORACLE, tags=("join", "prelude"))
def q_enrich_trips(spark: SparkSession, sf_dir: str, use_warehouse: bool = False) -> DataFrame:
    return enriched_trips(spark, sf_dir, use_warehouse=use_warehouse)


_UNKNOWN_ORACLE = """
SELECT sn.n_name AS Pickup_Borough, COUNT(*) AS trip_count
FROM lineitem l
LEFT JOIN (SELECT * FROM supplier WHERE s_suppkey % 3 <> 0) s ON l.l_suppkey = s.s_suppkey
LEFT JOIN nation sn ON s.s_nationkey = sn.n_nationkey
GROUP BY 1
"""


@register("unknown_zone_trip_count", oracle=_UNKNOWN_ORACLE, tags=("join", "null-semantics"))
def q_unknown_zone_trip_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-join null survival: unmatched dimension keys must reach the
    output as a null group (the reference's ``Unknown``-borough golden rows,
    ``Images/task3_op2.png``).  The dimension is deliberately thinned
    (``s_suppkey % 3 <> 0``) because the synthetic star schema has full FK
    integrity."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    thin = t["supplier"].filter(F.col("s_suppkey") % 3 != 0)
    dim = (
        thin.join(
            F.broadcast(t["nation"]),
            thin["s_nationkey"] == t["nation"]["n_nationkey"],
            "left",
        ).select("s_suppkey", F.col("n_name").alias("Pickup_Borough"))
    )
    li = t["lineitem"]
    return (
        li.join(F.broadcast(dim), li["l_suppkey"] == dim["s_suppkey"], "left")
        .groupBy("Pickup_Borough")
        .agg(F.count(F.lit(1)).alias("trip_count"))
    )
