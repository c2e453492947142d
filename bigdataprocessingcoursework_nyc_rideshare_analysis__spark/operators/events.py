"""Event-stream batch operators over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2.9); these operators are
the engine extension that makes the ``events`` fixture first-class: temporal
bucketing, gap-based sessionization, and semi-structured (JSON) extraction.
``streaming.windows`` provides the Structured Streaming counterpart of the
hourly rollup, and the test suite proves batch/stream parity.

Scale strategy:
- hourly rollup: single shuffle on (hour, event_type); map-side partials make
  it cardinality-bound, not data-bound.
- sessionization: one shuffle to co-locate each user's events
  (``Window.partitionBy(user_id)``); state per user is a sort — at 100 TB
  with a hot user you would pre-bucket by user_id and let AQE handle skew.
  This is the batch equivalent of ``session_window`` in streaming.
- JSON extraction: ``get_json_object`` is JVM-side; at scale prefer
  ``from_json`` with an explicit schema (also JVM) so the parse happens once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

SESSION_GAP_MIN = 30


def load_events(spark: SparkSession, sf_dir: str, use_warehouse: bool = False) -> DataFrame:
    """The events fact: raw parquet by default; with ``use_warehouse=True``
    the user-bucketed, (user_id, ts, event_id)-sorted managed table from
    ``sources.warehouse.build_events_warehouse`` — user-keyed aggregations
    then inherit their distribution from the scan (no Exchange) and
    user-partitioned windows inherit the sort too (no Sort), which is the
    whole point of paying the bucketing shuffle once at ingest.  Same
    opt-in discipline as ``enriched_trips(use_warehouse=...)``: registered
    queries default to raw parquet (the driver's harness owns no warehouse)."""
    if use_warehouse:
        from ..sources.warehouse import events_warehouse_name

        return spark.table(events_warehouse_name(sf_dir))
    return load_table(spark, sf_dir, "events")


_HOURLY_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS avg_value
FROM events GROUP BY 1, 2
"""


@register("events_hourly_rollup", oracle=_HOURLY_ORACLE, tags=("temporal", "agg"))
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.count("value"))
            .alias("avg_value"),
        )
    )


def sessionize(df: DataFrame, user_col: str, ts_col: str, gap_minutes: int) -> DataFrame:
    """Gap-based sessionization: a new session starts when the inter-event
    gap exceeds ``gap_minutes``.  Classic lag → flag → running-sum pattern;
    deterministic tiebreak on event ordering via (ts, event_id)."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col("event_id").asc())
    gap_us = gap_minutes * 60 * 1_000_000
    flagged = df.withColumn(
        "new_session",
        (
            F.coalesce(
                F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w)),
                F.lit(gap_us + 1),
            )
            > gap_us
        ).cast("int"),
    )
    return flagged.withColumn(
        "session_id", F.sum("new_session").over(w).cast("long")
    ).drop("new_session")


_SESSIONS_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN datediff('microsecond', lag(ts) OVER w, ts) IS NULL
                OR datediff('microsecond', lag(ts) OVER w, ts) > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessions AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       datediff('microsecond', MIN(ts), MAX(ts)) AS duration_us
FROM sessions GROUP BY 1, 2
"""


@register("events_sessionize", oracle=_SESSIONS_ORACLE, tags=("window", "temporal"))
def q_events_sessions(
    spark: SparkSession, sf_dir: str, use_warehouse: bool = False
) -> DataFrame:
    """Gap sessionization + per-session rollup.  ``use_warehouse=True``
    drops BOTH the window's Exchange and its Sort: the bucketed table is
    hash-distributed on user_id and sorted (user_id, ts, event_id) — the
    window's exact required ordering (pinned in ``test_bucketing.py``)."""
    ev = load_events(spark, sf_dir, use_warehouse).select("user_id", "ts", "event_id")
    sess = sessionize(ev, "user_id", "ts", SESSION_GAP_MIN)
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


_JSON_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       COUNT(json_extract_string(props, '$.k')) AS n_with_k
FROM events GROUP BY 1
"""


@register("events_json_extract", oracle=_JSON_ORACLE, tags=("semi-structured", "agg"))
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction from the JSON ``props`` column + rollup."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.withColumn("k", k).groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("sum_k"),
        F.count("k").alias("n_with_k"),
    )


# --- funnel conversion -------------------------------------------------------

_FUNNEL_ORACLE = """
WITH c AS (
  SELECT user_id, MIN(ts) AS first_click
  FROM events WHERE event_type = 'click' GROUP BY 1
), p AS (
  SELECT e.user_id, MIN(e.ts) AS first_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
  GROUP BY 1
)
SELECT c.user_id, c.first_click, p.first_purchase,
       p.first_purchase IS NOT NULL AS converted
FROM c LEFT JOIN p ON c.user_id = p.user_id
"""


@register("click_purchase_funnel", oracle=_FUNNEL_ORACLE, tags=("temporal", "funnel"))
def q_click_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: per clicking user, the first click and the first
    purchase at-or-after it (ordered sequence matching — a purchase before
    any click does NOT convert).

    Plan: two user-keyed aggregations and two user-keyed joins — all four
    stages share the same shuffle key, so Exchange reuse keeps it at one
    effective repartition of each input branch.  The conversion *rate*
    is one ``avg(converted::int)`` away; row-level output is kept so the
    differential check pins every user's funnel state, not one ratio."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return clicks.join(purchases, "user_id", "left").select(
        "user_id",
        "first_click",
        "first_purchase",
        F.col("first_purchase").isNotNull().alias("converted"),
    )


# --- single-aggregation argmax (top-1 per group without a window) ------------

_ARGMAX_ORACLE = """
WITH c AS (
  SELECT event_type, user_id, COUNT(*) AS n FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, MAX({'n': n, 'neg': -user_id}) AS s FROM c GROUP BY 1
)
SELECT event_type, CAST(s.n AS BIGINT) AS n_events, CAST(-s.neg AS BIGINT) AS top_user
FROM m
"""


@register("top_user_per_event_type", oracle=_ARGMAX_ORACLE, tags=("agg", "argmax"))
def q_top_user_per_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-active user per event type via the max-of-struct argmax idiom:
    ``max(struct(n, -user_id))`` picks the lexicographic max in ONE
    aggregation — no window, no sort, no join-back.  For top-1-per-group
    this beats the dense_rank pattern (operators/topk.py) at scale: partial
    aggregation reduces map-side to one struct per (group) instead of
    shuffling every row into a sorted window.  The negated id is the
    deterministic tiebreak (smallest user wins ties), mirrored exactly in
    the oracle's struct field order."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    s = F.max(F.struct(F.col("n"), (-F.col("user_id")).alias("neg"))).alias("s")
    return (
        c.groupBy("event_type")
        .agg(s)
        .select(
            "event_type",
            F.col("s.n").alias("n_events"),
            (-F.col("s.neg")).alias("top_user"),
        )
    )


# --- Spark 4 VariantType path (semi-structured without schema-on-write) -----

_VARIANT_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       COUNT(json_extract_string(props, '$.k')) AS n_with_k
FROM events
GROUP BY event_type
"""


@register("events_variant_extract", oracle=_VARIANT_ORACLE, tags=("semi-structured", "variant", "agg"))
def q_events_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same rollup as ``events_json_extract`` through Spark 4's VariantType:
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` paths.

    Versus per-path ``get_json_object`` (which re-parses the JSON string
    for every extracted path), the variant parse happens once per row and
    each path access is a cheap binary probe — the right shape when many
    paths are pulled from the same document at 100 TB.  The oracle is the
    plain JSON-path SQL: the encoding is an implementation detail, the
    extracted values must be identical."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("bigint").alias("sum_k"),
            F.count("k").alias("n_with_k"),
        )
    )


# --- N-step funnel ------------------------------------------------------------

_FUNNEL3_ORACLE = """
WITH su AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY 1
), ck AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.event_type = 'click' AND e.ts > su.signup_ts GROUP BY 1
), pu AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN ck ON e.user_id = ck.user_id
  WHERE e.event_type = 'purchase' AND e.ts > ck.click_ts GROUP BY 1
)
SELECT su.user_id, su.signup_ts, ck.click_ts, pu.purchase_ts,
       1 + CASE WHEN ck.user_id IS NULL THEN 0 ELSE 1 END
         + CASE WHEN pu.user_id IS NULL THEN 0 ELSE 1 END AS steps_completed
FROM su
LEFT JOIN ck ON su.user_id = ck.user_id
LEFT JOIN pu ON su.user_id = pu.user_id
"""


@register("signup_click_purchase_funnel", oracle=_FUNNEL3_ORACLE, tags=("events", "funnel"))
def q_three_step_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step ordered funnel with earliest-completion semantics: first
    signup, then the first click STRICTLY after it, then the first purchase
    strictly after that — the greedy chain every product-analytics funnel
    uses (k steps generalize by repeating the step join).  Strictly-later
    is on timestamps alone, so MIN per step is deterministic without
    tiebreaks.

    Plan: one filtered aggregation per step, each keyed on user_id — three
    small user-keyed exchanges AQE can co-partition; each step's input is
    pre-filtered by event_type at the scan (pushed filter), so step k only
    reads its own event class.  Output: per signed-up user, per-step
    timestamps (NULL = dropped off) and the steps-completed count the
    conversion report aggregates."""
    ev = load_table(spark, sf_dir, "events")
    su = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("signup_ts")
    )
    ck = (
        ev.filter(F.col("event_type") == "click")
        .join(su, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(ck, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    steps = (
        F.lit(1)
        + F.when(F.col("click_ts").isNull(), 0).otherwise(1)
        + F.when(F.col("purchase_ts").isNull(), 0).otherwise(1)
    )
    return (
        su.join(ck, "user_id", "left")
        .join(pu, "user_id", "left")
        .select("user_id", "signup_ts", "click_ts", "purchase_ts", steps.alias("steps_completed"))
    )


_MODAL_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
), r AS (
  SELECT user_id, event_type, n,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rn
  FROM c
)
SELECT user_id, event_type AS modal_event_type, CAST(n AS BIGINT) AS n_events
FROM r WHERE rn = 1
"""


@register("modal_event_type_per_user", oracle=_MODAL_ORACLE, tags=("events", "agg", "argmax"))
def q_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user MODE of event_type (most frequent value, alphabetical
    tiebreak) — the categorical summary statistic behind 'dominant
    behavior' features.  Single-aggregation argmax via struct-min over
    (−count, type): no window, no second shuffle — the same plan trick as
    the TPC-H argmin (``cheapest_supplier_per_brand``), pinned there in
    ``test_plans.py``."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    best = F.min(
        F.struct((-F.col("n")).alias("neg_n"), F.col("event_type").alias("et"))
    ).alias("b")
    return counts.groupBy("user_id").agg(best).select(
        "user_id",
        F.col("b.et").alias("modal_event_type"),
        (-F.col("b.neg_n")).cast("long").alias("n_events"),
    )



_SESSION_STATS_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN datediff('microsecond', lag(ts) OVER w, ts) IS NULL
                OR datediff('microsecond', lag(ts) OVER w, ts) > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessions AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         datediff('microsecond', MIN(ts), MAX(ts)) AS duration_us
  FROM sessions GROUP BY 1, 2
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(MAX(duration_us) AS BIGINT) AS longest_session_us,
       CAST(SUM(duration_us) AS BIGINT) AS total_engaged_us,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounce_sessions
FROM per_session
GROUP BY user_id
"""


@register("user_session_stats", oracle=_SESSION_STATS_ORACLE, tags=("events", "temporal", "r4"))
def q_user_session_stats(
    spark: SparkSession, sf_dir: str, use_warehouse: bool = False
) -> DataFrame:
    """Per-user session rollup over the gap-sessionized stream: session
    count, total events, longest session, total engaged time, and bounce
    (single-event) sessions — the product-analytics engagement summary.
    Composes ``sessionize`` (already user-partitioned) with one further
    user-keyed aggregation: the second groupBy re-uses the same hash
    partitioning, so AQE plans no extra exchange.  ``use_warehouse=True``
    removes even the first exchange AND the window sort — the whole query
    then has zero user-keyed Exchanges (pinned in ``test_bucketing.py``)."""
    ev = load_events(spark, sf_dir, use_warehouse).select("user_id", "ts", "event_id")
    per_session = (
        sessionize(ev, "user_id", "ts", SESSION_GAP_MIN)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.max("duration_us").cast("bigint").alias("longest_session_us"),
        F.sum("duration_us").cast("bigint").alias("total_engaged_us"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("bounce_sessions"),
    )



_GROWTH_ACCOUNTING_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), flagged AS (
  SELECT user_id, day,
         LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day
  FROM activity
), classified AS (
  SELECT day,
         CASE WHEN prev_day IS NULL THEN 'new'
              WHEN day - prev_day = 1 THEN 'retained'
              ELSE 'resurrected' END AS status
  FROM flagged
), counts AS (
  SELECT day, status, COUNT(*) AS n FROM classified GROUP BY 1, 2
), churn AS (
  SELECT day + 1 AS day, 'churned' AS status, COUNT(*) AS n
  FROM flagged f
  WHERE NOT EXISTS (SELECT 1 FROM activity a
                    WHERE a.user_id = f.user_id AND a.day = f.day + 1)
    AND day + 1 <= (SELECT MAX(day) FROM activity)
  GROUP BY 1
)
SELECT day, status, CAST(n AS BIGINT) AS n FROM counts
UNION ALL
SELECT day, status, CAST(n AS BIGINT) AS n FROM churn
"""


@register("user_growth_accounting", oracle=_GROWTH_ACCOUNTING_ORACLE, tags=("events", "temporal", "r4"))
def q_user_growth_accounting(
    spark: SparkSession, sf_dir: str, use_warehouse: bool = False
) -> DataFrame:
    """Growth accounting over daily activity: each active (user, day) is
    classified new (first ever day), retained (also active the previous
    day), or resurrected (returning after a gap); churned counts users
    active on day d−1 but not on d (attributed to d, capped at the last
    observed day).  The product-analytics identity DAU_d = new + retained
    + resurrected and ΔDAU = new + resurrected − churned follows directly.
    One distinct + one user-partitioned window carrying BOTH lag and lead
    (same WindowExec, zero extra cost) + day-keyed counts; churn reads the
    lead column — a user's day with no next-day activity churns at day+1 —
    instead of the earlier activity⋈activity anti-join, which re-derived
    the distinct frame and shuffled it a second time.

    ``use_warehouse=True``: the (user_id, day) distinct and the user window
    both inherit the bucketed scan's user_id distribution — the only
    remaining exchange is the tiny day-keyed count (pinned in
    ``test_bucketing.py``)."""
    ev = load_events(spark, sf_dir, use_warehouse)
    activity = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    flagged = activity.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    status = (
        F.when(F.col("prev_day").isNull(), "new")
        .when(F.datediff("day", "prev_day") == 1, "retained")
        .otherwise("resurrected")
    )
    counts = flagged.select("day", status.alias("status")).groupBy("day", "status").agg(
        F.count(F.lit(1)).alias("n")
    )
    max_day = activity.agg(F.max("day").alias("max_day"))
    churn = (
        flagged.filter(
            F.col("next_day").isNull() | (F.datediff("next_day", "day") > 1)
        )
        .select(F.date_add("day", 1).alias("day"))
        .join(F.broadcast(max_day))
        .filter(F.col("day") <= F.col("max_day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("day", F.lit("churned").alias("status"), "n")
    )
    return counts.select("day", "status", F.col("n").cast("bigint")).unionByName(
        churn.select("day", "status", F.col("n").cast("bigint"))
    )



_AUDIENCE_OVERLAP_ORACLE = """
WITH aud AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, COUNT(*) AS n FROM aud GROUP BY 1
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_common
  FROM aud a JOIN aud b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, i.n_common,
       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
       CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
"""


@register("audience_overlap_matrix", oracle=_AUDIENCE_OVERLAP_ORACLE, tags=("events", "setops", "r4"))
def q_audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: shared distinct
    users and Jaccard similarity per (type_a < type_b) pair — the audience
    segmentation matrix.  Each user collapses to ONE sorted type array
    (a single user-keyed shuffle) and the ≤C(|types|,2) pair fan-out runs
    map-side as a nested array transform — no aud⋈aud self-join exchange
    (the basket-mining shape, ``q_basket_part_pair_lift``); output is
    |types|²-sized.  Same set-similarity arithmetic as the document dedup
    tier, applied to behavioral cohorts."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    sizes = (
        per_user.select(F.explode("types").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from ..functions.arrays import ordered_pairs

    inter = (
        per_user.select(F.explode(ordered_pairs("types", "type_a", "type_b")).alias("p"))
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "n_common",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            jac.alias("jaccard"),
        )
    )


_SESSION_WINDOW_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN datediff('microsecond', lag(ts) OVER w, ts) IS NULL
                OR datediff('microsecond', lag(ts) OVER w, ts) >= {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
), sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessions GROUP BY user_id, sid
"""


@register("session_window_rollup", oracle=_SESSION_WINDOW_ORACLE, tags=("window", "temporal", "session"))
def q_session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions via the BUILT-IN ``session_window`` aggregate —
    the declarative twin of the lag→flag→cumsum ``sessionize`` operator
    (and the batch twin of ``streaming/windows.session_window_stream``).

    Semantics nuance this query pins differentially: ``session_window``
    merges an event into the previous session only while the gap is
    STRICTLY below the timeout (windows ``[ts, ts+gap)`` must overlap), so
    the lag-form oracle uses ``>= gap`` where ``sessionize`` uses
    ``> gap`` — an off-by-one-microsecond corner that silently desyncs
    naive reimplementations.

    Plan: session_window is a real aggregate — partial session merge
    map-side, one shuffle on user_id, final merge — not a window function,
    so there is no per-user sort amplification beyond the merge.  At
    100 TB this is THE shape for sessionizing a fact table; duplicate
    timestamps merge identically on both engines because a 0-gap is
    < timeout."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    gap = f"{SESSION_GAP_MIN} minutes"
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


_PEAK_CONCURRENCY_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN datediff('microsecond', lag(ts) OVER w, ts) IS NULL
                OR datediff('microsecond', lag(ts) OVER w, ts) > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
), sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
             ROWS UNBOUNDED PRECEDING) AS sid,
         ts
  FROM flagged
), spans AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e FROM sessions GROUP BY 1, 2
), bounds AS (
  SELECT s AS ts, 1 AS delta FROM spans
  UNION ALL
  SELECT e, -1 FROM spans
), swept AS (
  SELECT ts, SUM(delta) AS d FROM bounds GROUP BY ts
), running AS (
  SELECT ts, SUM(d) OVER (ORDER BY ts ASC ROWS UNBOUNDED PRECEDING) AS live
  FROM swept
)
SELECT CAST(MAX(live) AS BIGINT) AS peak_concurrent,
       MIN(CASE WHEN live = (SELECT MAX(live) FROM running) THEN ts END) AS first_peak_ts
FROM running
"""


@register("peak_concurrent_sessions", oracle=_PEAK_CONCURRENCY_ORACLE, tags=("window", "temporal", "session"))
def q_peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-active sessions (capacity planning's
    defining question) via the sweep-line: each session span emits +1 at
    its start and −1 at its end, boundary deltas collapse per timestamp
    (which also makes the inclusive-overlap tie rule explicit: a session
    ending at instant t and one starting at t coexist only through the
    summed delta at t, identically on both engines), and a running sum
    over the time-ordered deltas is the live count whose max is the peak.

    Scale: the running sum goes through ``functions.skew.global_running_sum``
    — partition-local prefix sums plus broadcast per-partition offsets —
    so NO row of the boundary table ever funnels through one task: the
    only unpartitioned window is over the P-row offsets frame.  The
    boundary table is itself already small (2 rows per session,
    pre-collapsed by a distributed groupBy), so this query stays shaped
    for corpora where even |sessions| is cluster-sized."""
    from ..functions.skew import global_running_sum

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    spans = (
        sessionize(ev, "user_id", "ts", SESSION_GAP_MIN)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    bounds = spans.select(F.col("s").alias("ts"), F.lit(1).alias("delta")).unionAll(
        spans.select(F.col("e").alias("ts"), F.lit(-1).alias("delta"))
    )
    swept = bounds.groupBy("ts").agg(F.sum("delta").alias("d"))
    running = global_running_sum(swept, ["ts"], "d", "live").select("ts", "live")
    # ONE aggregation finds the peak AND its earliest timestamp: the
    # lexicographic max of (live, −epoch_µs) picks the highest live count,
    # earliest-first on ties — a separate peak subquery joined back would
    # recompute the whole sweep lineage twice (measured 24 shuffles vs 12)
    best = running.agg(
        F.max(
            F.struct(F.col("live"), (-F.unix_micros("ts")).alias("neg_us"))
        ).alias("b")
    )
    return best.select(
        F.col("b.live").cast("long").alias("peak_concurrent"),
        F.timestamp_micros(-F.col("b.neg_us")).alias("first_peak_ts"),
    )


_CONVERSION_LATENCY_ORACLE = """
WITH clicks AS (
  SELECT user_id, MIN(ts) AS first_click FROM events
  WHERE event_type = 'click' GROUP BY 1
),
purchases AS (
  SELECT e.user_id, MIN(e.ts) AS first_purchase
  FROM events e JOIN clicks c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
  GROUP BY 1
),
lat AS (
  SELECT c.user_id,
         epoch_us(p.first_purchase) - epoch_us(c.first_click) AS latency_us
  FROM clicks c JOIN purchases p ON p.user_id = c.user_id
),
ranked AS (
  SELECT latency_us,
         ROW_NUMBER() OVER (ORDER BY latency_us, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM lat
),
qs AS (
  SELECT
    MAX(CASE WHEN rn = greatest(((n + 1) * 1) // 4, 1) THEN latency_us END) AS p25_us,
    MAX(CASE WHEN rn = greatest(((n + 1) * 2) // 4, 1) THEN latency_us END) AS p50_us,
    MAX(CASE WHEN rn = greatest(((n + 1) * 3) // 4, 1) THEN latency_us END) AS p75_us,
    MAX(CASE WHEN rn = greatest(((n + 1) * 9) // 10, 1) THEN latency_us END) AS p90_us,
    MAX(n) AS n_converted
  FROM ranked
)
SELECT (SELECT COUNT(*) FROM clicks) AS n_clickers,
       n_converted,
       ROUND(CAST(n_converted AS DOUBLE) / (SELECT COUNT(*) FROM clicks), 9) AS conversion_rate,
       p25_us, p50_us, p75_us, p90_us
FROM qs
"""


@register("conversion_latency_quantiles", oracle=_CONVERSION_LATENCY_ORACLE, tags=("events", "funnel", "quantile", "r5"))
def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the click→purchase funnel: exact
    discrete p25/p50/p75/p90 of (first purchase − first click) across
    converted users, plus the conversion rate — the funnel's LATENCY
    half (``click_purchase_funnel`` pins who converts; this pins how fast).

    Latencies are exact int64 microsecond differences (no float time math),
    quantiles are rank selections with the quartile family's pinned rule
    and (latency, user_id) tie order, and the single division is rounded
    once — bit-identical cross-engine.  Plan: the funnel's user-keyed
    aggregation chain (one effective shuffle), then ranking over the
    CONVERTED-USERS set via ``global_row_number`` (round-8 sweep of
    unpartitioned windows over user-sized frames) — the rank numbering
    partitions by ranges of (latency, user_id), so no task ever holds more
    than its share of converted users; the frame size comes from a
    broadcast 1-row count."""
    from ..functions.skew import global_row_number

    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = clicks.join(purchases, "user_id").select(
        "user_id",
        (F.unix_micros("first_purchase") - F.unix_micros("first_click")).alias("latency_us"),
    )
    # the converted-user count rides out of the helper (count_alias) — the
    # r11 persist + 1-row crossJoin leg is gone, lat now has exactly one
    # consumer (r12)
    ranked = global_row_number(lat, ["latency_us", "user_id"], "rn", count_alias="n")
    qs = ranked.agg(
        *[
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"greatest(((n + 1) * {num}) div {den}, 1)"),
                    F.col("latency_us"),
                )
            ).alias(alias)
            for num, den, alias in [(1, 4, "p25_us"), (2, 4, "p50_us"), (3, 4, "p75_us"), (9, 10, "p90_us")]
        ],
        F.max("n").alias("n_converted"),
    )
    n_clickers = clicks.agg(F.count(F.lit(1)).alias("n_clickers"))
    return qs.crossJoin(F.broadcast(n_clickers)).select(
        "n_clickers",
        "n_converted",
        F.round(F.col("n_converted").cast("double") / F.col("n_clickers"), 9).alias(
            "conversion_rate"
        ),
        "p25_us",
        "p50_us",
        "p75_us",
        "p90_us",
    )


ATTRIBUTION_WINDOW_HOURS = 24

_ATTRIBUTION_ORACLE = f"""
WITH purchases AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT p.purchase_id, e.event_id AS click_id, CAST(e.ts AS DATE) AS click_day
  FROM purchases p
  JOIN events e
    ON e.user_id = p.user_id
   AND e.event_type = 'click'
   AND e.ts <= p.purchase_ts
   AND e.ts > p.purchase_ts - INTERVAL {ATTRIBUTION_WINDOW_HOURS} HOUR
),
credited AS (
  SELECT purchase_id, click_id, click_day,
         1.0 / COUNT(*) OVER (PARTITION BY purchase_id) AS credit
  FROM touches
)
SELECT click_day, COUNT(*) AS n_touches,
       ROUND(SUM(credit), 9) AS credited_conversions
FROM credited GROUP BY 1
"""


@register("linear_attribution_by_day", oracle=_ATTRIBUTION_ORACLE, tags=("events", "attribution", "r5"))
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution: every click in the
    {ATTRIBUTION_WINDOW_HOURS}h window before a purchase shares the
    conversion credit equally (1/n_touches), rolled up to credited
    conversions per click day — the marketing-analytics counterpart of the
    last-touch ``asof_last_click_before_error`` join (last-touch gives the
    final click everything; linear splits it across the path).

    Credit is ONE division per touch (exact counts).  The per-day SUM of
    1/n doubles is fold-order-sensitive in the last ulp, but both engines
    sum the same finite multiset of credit values per day, so 9-dp
    rounding after the sum absorbs the fold-order noise.  Plan: the
    user-keyed interval join is the cost — bounded state exactly like the
    streaming interval join's window; per-purchase touch counts come from
    a purchase-keyed window on the join output (touches-sized)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    touches = purchases.join(
        clicks,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            > F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_HOURS} HOURS")
        ),
    ).select("purchase_id", "click_id", F.to_date("click_ts").alias("click_day"))
    w = Window.partitionBy("purchase_id")
    credited = touches.withColumn("credit", F.lit(1.0) / F.count(F.lit(1)).over(w))
    return credited.groupBy("click_day").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(F.sum("credit"), 9).alias("credited_conversions"),
    )


THROTTLE_GAP_S = 3600

_THROTTLE_ORACLE = f"""
WITH x AS (
  SELECT event_id, user_id, event_type, ts,
         lag(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT event_id, user_id, event_type, ts
FROM x
WHERE prev IS NULL OR epoch_us(ts) - epoch_us(prev) > {THROTTLE_GAP_S * 1000000}
"""


@register("events_throttle_dedup", oracle=_THROTTLE_ORACLE, tags=("events", "window", "dedup", "r6"))
def q_events_throttle_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throttle-style event dedup: within each (user, event_type) stream,
    drop any event arriving within {THROTTLE_GAP_S}s (1h) of the PREVIOUS event —
    the batch twin of the instrumentation-side debounce that collapses
    double-clicks, retry storms, and at-least-once delivery duplicates
    before sessionization/funnel logic consumes the stream.  (Gap measured
    to the previous raw event, lag-expressible and SQL-mirrorable; the
    strictly-iterative variant measured to the previous KEPT event is the
    streaming `transformWithState` shape.)

    One shuffle on (user_id, event_type) for the lag window; ties broken by
    event_id so the kept set is deterministic.  Microsecond epoch
    comparison on both sides dodges interval/decimal coercion differences.
    At 100 TB the window partitions by user — millions of small partitions,
    no skew beyond the hottest single user."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        ev.select("event_id", "user_id", "event_type", "ts", prev.alias("prev"))
        .filter(
            F.col("prev").isNull()
            | (F.unix_micros("ts") - F.unix_micros("prev") > THROTTLE_GAP_S * 1_000_000)
        )
        .drop("prev")
    )


# --- interval-overlap self-join: concurrency histogram -----------------------

_OVERLAP_HIST_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN datediff('microsecond', lag(ts) OVER w, ts) IS NULL
                OR datediff('microsecond', lag(ts) OVER w, ts) > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
), sessions AS (
  SELECT user_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
             ROWS UNBOUNDED PRECEDING) AS sid,
         ts
  FROM flagged
), spans AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e FROM sessions GROUP BY 1, 2
), partner AS (
  SELECT a.user_id, a.sid, COUNT(*) AS n_overlapping
  FROM spans a JOIN spans b
    ON a.s <= b.e AND b.s <= a.e
   AND (a.user_id <> b.user_id OR a.sid <> b.sid)
  GROUP BY 1, 2
)
SELECT CAST(COALESCE(p.n_overlapping, 0) AS BIGINT) AS n_overlapping,
       COUNT(*) AS n_sessions
FROM spans s LEFT JOIN partner p ON s.user_id = p.user_id AND s.sid = p.sid
GROUP BY 1
"""


@register("session_overlap_histogram", oracle=_OVERLAP_HIST_ORACLE, tags=("window", "temporal", "session", "join", "r7"))
def q_session_overlap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of session concurrency: for every session, how many
    OTHER sessions' [start, end] intervals overlap it (inclusive ends, the
    same tie rule the sweep-line in ``peak_concurrent_sessions`` encodes),
    histogrammed as (n_overlapping, n_sessions) — sessions overlapping
    nothing report bucket 0.

    The interval self-join is the operator Spark lacks natively (DuckDB
    plans it as an IEJoin — that IS the oracle).  Spark-first formulation:
    **temporal binning** turns the non-equi range predicate into an
    equi-join — each span explodes to the hour bins it covers
    (``sequence(date_trunc(s), date_trunc(e), 1 hour)``), candidates meet
    on the bin key, the true overlap predicate filters residually, and
    each surviving pair is counted exactly once by the bin-ownership rule
    ``bin == date_trunc(hour, greatest(a.s, b.s))`` (the overlap start lies
    inside both spans, so exactly one shared bin owns the pair — no
    ``distinct`` materialization).

    100 TB: shuffle is keyed by time bin — cardinality ∝ corpus span ÷ bin
    width, with per-bin fan-in ∝ concurrency, the quantity being measured;
    a skewed hot hour is exactly an AQE skew-join split.  Bin width trades
    explode factor (long sessions → more bins) against per-bin join fan-in;
    hour ≈ the 30-min-gap session scale.  The histogram tail is bounded by
    peak concurrency, so the final aggregate is tiny."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    spans = (
        sessionize(ev, "user_id", "ts", SESSION_GAP_MIN)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    return interval_overlap_histogram(spans)


def interval_overlap_histogram(spans: DataFrame) -> DataFrame:
    """Core of ``session_overlap_histogram``, factored over an arbitrary
    interval table (user_id, session_id, s, e) so the bin-ownership
    exactly-once invariant is property-testable on generated intervals
    (``tests/test_properties.py``), independent of sessionization.

    ``spans`` is read once: ``explode_outer`` keeps a session whose span
    is NULL (one NULL bin), the LEFT self-join keeps every session's bins,
    and ``count(b.user_id)`` counts only real partners — so sessions that
    overlap nothing, NULL spans included, land in bucket 0 with no join
    back to ``spans``."""
    binned = spans.select(
        "user_id",
        "session_id",
        "s",
        "e",
        F.explode_outer(
            F.sequence(
                F.date_trunc("hour", "s"), F.date_trunc("hour", "e"), F.expr("interval 1 hour")
            )
        ).alias("bin"),
    )
    a, b = binned.alias("a"), binned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e"))
            & (
                (F.col("a.user_id") != F.col("b.user_id"))
                | (F.col("a.session_id") != F.col("b.session_id"))
            )
            & (F.col("a.bin") == F.date_trunc("hour", F.greatest(F.col("a.s"), F.col("b.s")))),
            "left",
        )
        .groupBy("a.user_id", "a.session_id")
        .agg(F.count("b.user_id").alias("n_overlapping"))
        .groupBy("n_overlapping")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )


# --- global sequence numbers without a global window ---------------------------

_GLOBAL_SEQ_ORACLE = """
SELECT event_id,
       CAST(ROW_NUMBER() OVER (ORDER BY ts ASC, event_id ASC) AS BIGINT) AS seq
FROM events
"""


@register("events_global_sequence", oracle=_GLOBAL_SEQ_ORACLE, tags=("window", "events", "r7"))
def q_events_global_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global sequence numbers in (ts, event_id) order — WITHOUT
    the naive ``row_number() OVER (ORDER BY ...)`` whose empty PARTITION BY
    drags the entire table through ONE task (the canonical global-ordering
    scale trap; cf. the bounded-by-|days| exceptions documented on
    ``record_high_days``).

    Two-phase offset pattern (``functions.skew.global_row_number``):
    label rows with an order-monotone partition id, count rows per id,
    prefix-sum those counts into offsets on the small totals frame,
    broadcast-join them back, and add the partition-local row number.
    Every partition then numbers its rows independently — the only global
    coordination is the tiny offsets table.  Output is independent of
    where the partition bounds land (ranks depend only on the total order;
    (ts, event_id) is a total order because event_id is unique).  This is
    how exports get stable line numbers at 100 TB."""
    from ..functions.skew import global_row_number

    ev = load_table(spark, sf_dir, "events").select("ts", "event_id")
    return global_row_number(ev, ["ts", "event_id"], "seq").select("event_id", "seq")


# --- top session paths -----------------------------------------------------------

PATH_PREFIX_LEN = 3
PATH_TOP_K = 20

_SESSION_PATHS_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN datediff('microsecond', lag(ts) OVER w, ts) IS NULL
                OR datediff('microsecond', lag(ts) OVER w, ts) > {SESSION_GAP_MIN} * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sessions AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged
), ranked AS (
  SELECT user_id, session_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM sessions
), paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM ranked WHERE rn <= {PATH_PREFIX_LEN}
  GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {PATH_TOP_K}
"""


@register("top_session_paths", oracle=_SESSION_PATHS_ORACLE, tags=("events", "temporal", "path", "r10"))
def q_top_session_paths(
    spark: SparkSession, sf_dir: str, use_warehouse: bool = False
) -> DataFrame:
    """Top session entry paths: the first {PATH_PREFIX_LEN} event types of
    each gap-session, joined ``a>b>c``, ranked by session count — the
    "how do sessions start" table behind every product-analytics path/Sankey
    view (full-path mining explodes combinatorially; prefix paths are the
    standard bounded form).  Complements ``top_event_paths``
    (``operators/behavior.py``): that query mines ALL consecutive trigrams
    across each user's whole timeline; this one asks specifically how
    sessions BEGIN — same display, different question.

    Plan: the sessionizer's user-keyed window (free of Exchange AND Sort
    under ``use_warehouse=True``, like the rest of the family), one
    (user, session)-keyed aggregate that ASSEMBLES the prefix in-row
    (array_sort over (rn, type) structs — no second ordered aggregation
    pass), then a |distinct paths|-keyed count and a top-k
    TakeOrderedAndProject.  Deterministic: event order pins on
    (ts, event_id), ties in the ranking pin on path text."""
    ev = load_events(spark, sf_dir, use_warehouse).select(
        "user_id", "ts", "event_id", "event_type"
    )
    sess = sessionize(ev, "user_id", "ts", SESSION_GAP_MIN)
    w = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = sess.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= PATH_PREFIX_LEN
    )
    paths = (
        ranked.groupBy("user_id", "session_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("rn", "event_type"))).alias("steps")
        )
        .select(
            F.concat_ws(">", F.transform("steps", lambda s: s["event_type"])).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(PATH_TOP_K)
    )
