"""Analytic window operators with explicit frames: rolling aggregates and
lag/lead deltas.

The reference's only window is an unframed ranking (SURVEY.md §2.5 — "no
frame specs, no lag/lead"); these complete the window surface:

- rolling average over the last N events per user (``ROWS BETWEEN N-1
  PRECEDING AND CURRENT ROW``), decimal-exact so both engines agree bit-wise;
- inter-event gap via ``lag`` (the building block sessionization uses).

Scale: one shuffle to co-locate each user's events + an in-partition sort —
identical profile to sessionization; frames add O(frame) state per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

ROLLING_N = 5

_GAP_ORACLE = """
SELECT event_id, user_id, ts,
       datediff('microsecond', lag(ts) OVER w, ts) AS gap_us,
       lead(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


@register("event_gaps_per_user", oracle=_GAP_ORACLE, tags=("window", "lag"))
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (lag) and next event id (lead)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


# --- distribution-position analytics (percent_rank / cume_dist / first / last)

_POSITION_ORACLE = """
SELECT event_id, user_id,
       percent_rank() OVER v AS pr,
       cume_dist() OVER v AS cd,
       first_value(value) OVER t AS first_val,
       last_value(value) OVER t AS last_val
FROM events
WINDOW v AS (PARTITION BY user_id ORDER BY value ASC, event_id ASC),
       t AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("user_value_position_stats", oracle=_POSITION_ORACLE, tags=("window", "analytic"))
def q_user_position_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: its position in the user's value distribution
    (``percent_rank``, ``cume_dist``) plus the user's chronologically first
    and last values (full-partition ROWS frame).

    Both rank ratios are integer-over-integer divisions ((rank-1)/(n-1),
    rows≤current/n), so the doubles are bit-identical across engines.  Two
    window specs share one shuffle on user_id — Catalyst plans a single
    Exchange and two sorts; the deterministic ``event_id`` tiebreak makes
    ties reproducible (SURVEY §7.4 determinism discipline)."""
    ev = load_table(spark, sf_dir, "events")
    v = Window.partitionBy("user_id").orderBy(F.asc("value"), F.asc("event_id"))
    t = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.percent_rank().over(v).alias("pr"),
        F.cume_dist().over(v).alias("cd"),
        F.first("value").over(t).alias("first_val"),
        F.last("value").over(t).alias("last_val"),
    )


_ROLLING_ORACLE = f"""
SELECT event_id, user_id, ts, value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) / COUNT(value) OVER w
         AS rolling_avg_value,
       COUNT(*) OVER w AS n_in_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN {ROLLING_N - 1} PRECEDING AND CURRENT ROW)
"""


@register("rolling_avg_value_per_user", oracle=_ROLLING_ORACLE, tags=("window", "frame"))
def q_rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving average of the last 5 event values per user."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-(ROLLING_N - 1), Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        (F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double") / F.count("value").over(w))
        .alias("rolling_avg_value"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


_RUNNING_ORACLE = """
WITH m AS (
  SELECT l_returnflag AS business,
         CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue_dec
  FROM lineitem GROUP BY 1, 2
)
SELECT business, ship_month,
       CAST(revenue_dec AS DOUBLE) AS revenue,
       CAST(SUM(revenue_dec) OVER (PARTITION BY business ORDER BY ship_month) AS DOUBLE)
         AS running_revenue
FROM m
"""


@register("monthly_revenue_running_total", oracle=_RUNNING_ORACLE, tags=("window", "frame", "agg"))
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per business across months: window-over-aggregate
    (the aggregation shrinks the data to |business×month| rows first, so the
    window is nearly free).  Decimal running sum keeps both engines
    bit-identical regardless of frame evaluation order."""
    li = load_table(spark, sf_dir, "lineitem")
    monthly = (
        li.groupBy(
            F.col("l_returnflag").alias("business"),
            F.month("l_shipdate").cast("int").alias("ship_month"),
        )
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue_dec"))
    )
    w = Window.partitionBy("business").orderBy("ship_month")
    return monthly.select(
        "business",
        "ship_month",
        F.col("revenue_dec").cast("double").alias("revenue"),
        F.sum("revenue_dec").over(w).cast("double").alias("running_revenue"),
    )


_SHARE_ORACLE = """
WITH m AS (
  SELECT n.n_name AS borough, s.s_name AS zone,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS revenue_dec
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
)
SELECT borough, zone,
       CAST(revenue_dec AS DOUBLE) AS revenue,
       CAST(revenue_dec AS DOUBLE) / CAST(SUM(revenue_dec) OVER (PARTITION BY borough) AS DOUBLE)
         AS share_of_borough
FROM m
"""


@register("zone_share_of_borough_revenue", oracle=_SHARE_ORACLE, tags=("window", "agg", "join"))
def q_zone_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent: each zone's share of its borough's revenue via an
    unordered partition window over the aggregate (no second shuffle — the
    window reuses the groupBy's hash partitioning on the prefix key)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "supplier", "nation")}
    dim = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), t["supplier"]["s_nationkey"] == t["nation"]["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("borough"), F.col("s_name").alias("zone"))
    )
    monthly = (
        t["lineitem"]
        .join(F.broadcast(dim), t["lineitem"]["l_suppkey"] == dim["s_suppkey"])
        .groupBy("borough", "zone")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue_dec"))
    )
    w = Window.partitionBy("borough")
    return monthly.select(
        "borough",
        "zone",
        F.col("revenue_dec").cast("double").alias("revenue"),
        (F.col("revenue_dec").cast("double") / F.sum("revenue_dec").over(w).cast("double")).alias(
            "share_of_borough"
        ),
    )


_NTILE_ORACLE = """
WITH u AS (
  SELECT user_id, SUM(CAST(value AS DECIMAL(18,2))) AS total_dec
  FROM events GROUP BY 1
)
SELECT user_id,
       CAST(total_dec AS DOUBLE) AS total_value,
       CAST(ntile(4) OVER (ORDER BY total_dec DESC, user_id ASC) AS INTEGER) AS quartile
FROM u
"""


@register("user_value_quartiles", oracle=_NTILE_ORACLE, tags=("window", "ntile"))
def q_user_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) cohorting of users by total event value (deterministic
    tiebreak on user_id) WITHOUT the unpartitioned ``Window.orderBy`` —
    that window funnels every per-user total through ONE task, the exact
    single-partition trap the ``functions.skew`` two-phase helpers exist for.

    Two-phase form: (1) global 1-based row_number over
    (total DESC, user_id ASC) via ``global_row_number`` (descending order
    encoded as ascending ``-total``; the tuple is duplicate-free because
    user_id is unique); (2) ``ntile_from_rn`` arithmetic — ANSI ntile gives
    the first N % 4 buckets ⌈N/4⌉ rows and the rest ⌊N/4⌋, identical in
    Spark and DuckDB, so computing the bucket from rn is bit-identical to
    the window function.  N rides out of the helper (``count_alias``); the
    only unpartitioned window left is the offset prefix-sum over the
    small per-partition totals frame."""
    from ..functions.skew import global_row_number, ntile_from_rn

    ev = load_table(spark, sf_dir, "events")
    totals = (
        ev.groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"))
        .withColumn("_neg", -F.col("total_dec"))
    )
    # frame size rides out of the helper (count_alias) — the r11 persist +
    # 1-row crossJoin leg is gone, totals now has exactly one consumer (r12)
    return (
        global_row_number(totals, ["_neg", "user_id"], "_rn", count_alias="_n")
        .select(
            "user_id",
            F.col("total_dec").cast("double").alias("total_value"),
            ntile_from_rn(F.col("_rn"), F.col("_n"), 4).cast("int").alias("quartile"),
        )
    )


# --- time-RANGE frame (interval window, no gap-fill spine needed) -----------

RANGE_WINDOW_US = 3_600_000_000  # one hour in microseconds

_RANGE_FRAME_ORACLE = f"""
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {RANGE_WINDOW_US} PRECEDING AND CURRENT ROW)
"""


@register("user_events_last_hour", oracle=_RANGE_FRAME_ORACLE, tags=("window", "frame", "range"))
def q_user_events_last_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: how many events (and how much value) the same user
    produced in the preceding hour — a true RANGE frame over event *time*,
    not a ROWS frame over event *count*.

    This is the frame `rolling_7day_event_counts` avoids by densifying onto
    a date spine; here the spine-free form: order by epoch microseconds and
    bound the frame by an interval.  RANGE includes all ORDER-BY peers
    (identical tie semantics both engines).  One shuffle on user_id + an
    in-partition sort; frame state is O(events-in-window) per row — bounded
    by user activity rate, not corpus size, so it holds at 100 TB."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-RANGE_WINDOW_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("value_last_hour"),
    )
