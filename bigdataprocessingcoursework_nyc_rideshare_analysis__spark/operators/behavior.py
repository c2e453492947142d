"""Behavioral analytics over the event stream: per-user event-type entropy
and the first-order Markov transition matrix.

No reference counterpart (SURVEY.md §2.9 extension tier — the events table
is our streaming-shaped addition).  Both are classic product-analytics /
user-modeling shapes:

- ``user_event_entropy``: Shannon entropy of each user's event-type
  distribution — the engagement-diversity signal.  Computed as
  ``ln N − (Σ c·ln c)/N`` from per-(user,type) counts, so the plan is two
  hash aggregations and nothing else; entropy is rounded once (12 dp) in
  both engines because JVM ``Math.log`` and C ``log`` may differ in the
  last ulp.
- ``event_transition_probs``: (prev_type → type) counts and row-normalized
  probabilities over each user's time-ordered stream.  One window (lag over
  user partitions, deterministically tie-broken on event_id) + one
  aggregation; |types|² output.  At 100 TB the window partitions by
  user_id — millions of small partitions, no global sort.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

_ENTROPY_ORACLE = """
WITH per_type AS (
  SELECT user_id, event_type, COUNT(*) AS c
  FROM events GROUP BY user_id, event_type
)
SELECT user_id,
       CAST(SUM(c) AS BIGINT) AS n_events,
       COUNT(*) AS n_types,
       ROUND(ln(CAST(SUM(c) AS DOUBLE))
             - SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / SUM(c), 9) AS entropy
FROM per_type
GROUP BY user_id
"""


@register("user_event_entropy", oracle=_ENTROPY_ORACLE, tags=("events", "agg", "r4"))
def q_user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement diversity: Shannon entropy (nats) of each user's
    event-type mix.  A user doing only one thing scores 0; uniform use of
    all types scores ln(n_types)."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return per_type.groupBy("user_id").agg(
        n.cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        # 9 dp: the Σ c·ln c accumulation can drift past the 12th decimal
        # on active users (seen at sf0.1)
        F.round(
            F.log(n.cast("double"))
            - F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))) / n,
            9,
        ).alias("entropy"),
    )


_TRANSITIONS_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n,
       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
FROM pairs
"""


@register("event_transition_probs", oracle=_TRANSITIONS_ORACLE, tags=("events", "window", "r4"))
def q_event_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: for each
    (prev → next) pair, the transition count and the probability normalized
    over the source state's outgoing mass.  The lag window orders by
    (ts, event_id) so simultaneous events resolve deterministically; the
    final normalization runs on the |types|²-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(norm)).alias("p"),
    )



_GEOMEAN_ORACLE = """
SELECT event_type,
       COUNT(*) AS n,
       ROUND(exp(avg(ln(value))), 9) AS geo_mean_value
FROM events
WHERE value > 0
GROUP BY event_type
"""


@register("geo_mean_value_by_event_type", oracle=_GEOMEAN_ORACLE, tags=("events", "agg", "udaf", "r4"))
def q_geo_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric mean of event values per type, computed through a
    GROUPED_AGG pandas UDAF — the remaining Python-UDF flavor the engine
    demonstrates (scalar pandas UDFs, grouped-map, mapInPandas, UDTF, and
    stateful processors are covered elsewhere).  The UDAF receives each
    group's values as one pandas Series over Arrow; the oracle is the
    exp-of-mean-of-logs identity.  At scale a grouped-agg UDAF has no
    partial aggregation — for an algebraic metric like this the pure-SQL
    ``exp(avg(ln(x)))`` form (the oracle) is the production path; the UDAF
    exists to pin the API route for metrics that genuinely need Python."""
    from pyspark.sql.functions import pandas_udf

    def _geo(v: pd.Series) -> float:
        import numpy as np

        return round(float(np.exp(np.log(v.to_numpy(dtype="float64")).mean())), 9)

    def _n(v: pd.Series) -> int:
        return len(v)

    # annotations resolve against module globals (``pd`` imported there);
    # the Series -> scalar signature selects the GROUPED_AGG flavor.  The
    # count rides in a second pandas UDAF: Spark refuses to mix group-agg
    # pandas UDFs with JVM aggregates in one agg().
    geo_mean = pandas_udf(_geo, "double")
    n_rows = pandas_udf(_n, "long")

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        n_rows("value").alias("n"),
        geo_mean("value").alias("geo_mean_value"),
    )


PATH_TOP_K = 20

_PATH_ORACLE = f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events
),
paths AS (
  SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path, COUNT(*) AS n
  FROM seq WHERE e3 IS NOT NULL
  GROUP BY 1
)
SELECT path, n FROM paths
ORDER BY n DESC, path
LIMIT {PATH_TOP_K}
"""


@register("top_event_paths", oracle=_PATH_ORACLE, tags=("behavior", "sequence", "r5"))
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioural path mining: the top-{PATH_TOP_K} 3-step event sequences
    across all users (every consecutive event trigram in each user's
    timeline) — the Sankey/flow-diagram aggregate product analytics tools
    build, and the order-sensitive extension of the first-order Markov
    transition matrix above (a 3-gram distinguishes click>view>click from
    click>click>view; the transition matrix cannot).

    Event order is pinned (ts, event_id) so ties sequence identically on
    both engines.  Plan: one user-keyed window (two LEADs share a single
    sort), a map-side-combinable path count, TakeOrderedAndProject for the
    top-K — the path-cardinality aggregate is |event_types|³-bounded, never
    corpus-sized."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    paths = (
        seq.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(" > ", "event_type", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return paths.orderBy(F.desc("n"), F.asc("path")).limit(PATH_TOP_K)


AB_Z_CRIT = 1.959963985  # two-sided 95%

_AB_TEST_ORACLE = f"""
WITH assigned AS (
  SELECT user_id,
         CASE WHEN instr('0123456789abcdef',
                         substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1 < 8
              THEN 'A' ELSE 'B' END AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
),
arm AS (
  SELECT variant, COUNT(*) AS n_users, SUM(converted) AS conversions
  FROM assigned GROUP BY 1
),
wide AS (
  SELECT
    MAX(CASE WHEN variant = 'A' THEN n_users END) AS n_a,
    CAST(MAX(CASE WHEN variant = 'A' THEN conversions END) AS BIGINT) AS conv_a,
    MAX(CASE WHEN variant = 'B' THEN n_users END) AS n_b,
    CAST(MAX(CASE WHEN variant = 'B' THEN conversions END) AS BIGINT) AS conv_b
  FROM arm
)
SELECT n_a, conv_a, n_b, conv_b,
       ROUND(CAST(conv_a AS DOUBLE) / n_a, 9) AS rate_a,
       ROUND(CAST(conv_b AS DOUBLE) / n_b, 9) AS rate_b,
       -- saturated arms (0% or 100% pooled conversion) have zero pooled
       -- variance: the z-statistic is undefined, reported as 0 / not-sig
       ROUND(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0.0
         ELSE (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)) END,
         9) AS z_stat,
       abs(CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0.0
         ELSE (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
         / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                * (1.0 / n_a + 1.0 / n_b)) END) > {AB_Z_CRIT} AS significant
FROM wide
"""


@register("ab_test_purchase_conversion", oracle=_AB_TEST_ORACLE, tags=("behavior", "experiment", "r5"))
def q_ab_test_purchase_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hash-bucketed into
    variants (first md5 hex digit — the industry assignment device, same
    as ``stratified_hash_sample``'s gate: stable across sessions, engines,
    reruns), per-arm purchase-conversion rates, and the pooled
    two-proportion z-statistic with a 95% significance verdict.

    All inputs to the statistic are exact int64 counts; the z formula is a
    fixed parse tree of divisions, one sqrt (correctly rounded on both
    engines), rounded once at the end.  Plan: one user-keyed aggregate
    (conversion flag per user), one 2-row arm rollup, a CASE pivot to one
    row — corpus cost is a single events scan regardless of scale.  On a
    synthetic corpus with no real treatment effect the expected readout is
    z ≈ 0 / not significant — the null calibration a healthy experiment
    pipeline should reproduce."""
    ev = load_table(spark, sf_dir, "events")
    digit = (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) - 1
    )
    assigned = (
        ev.select(
            "user_id",
            F.when(digit < 8, "A").otherwise("B").alias("variant"),
            (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
        )
        .groupBy("user_id", "variant")
        .agg(F.max("is_purchase").alias("converted"))
    )
    arm = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("conversions")
    )
    wide = arm.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("n_a"),
        F.max(F.when(F.col("variant") == "A", F.col("conversions"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("n_b"),
        F.max(F.when(F.col("variant") == "B", F.col("conversions"))).alias("conv_b"),
    )
    rate_a = F.col("conv_a").cast("double") / F.col("n_a")
    rate_b = F.col("conv_b").cast("double") / F.col("n_b")
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    saturated = (F.col("conv_a") + F.col("conv_b") == 0) | (
        F.col("conv_a") + F.col("conv_b") == F.col("n_a") + F.col("n_b")
    )
    # saturated arms (0% or 100% pooled conversion) have zero pooled
    # variance: z is undefined — reported as 0 / not-significant
    z = F.when(saturated, F.lit(0.0)).otherwise(
        (rate_a - rate_b)
        / F.sqrt(
            p_pool
            * (F.lit(1.0) - p_pool)
            * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
        )
    )
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(rate_a, 9).alias("rate_a"),
        F.round(rate_b, 9).alias("rate_b"),
        F.round(z, 9).alias("z_stat"),
        (F.abs(z) > AB_Z_CRIT).alias("significant"),
    )


_KM_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'click' THEN CAST(ts AS DATE) END) AS first_click,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS first_purchase,
         MAX(CAST(ts AS DATE)) AS last_seen
  FROM events GROUP BY 1
),
durations AS (
  SELECT user_id,
         CASE WHEN first_purchase IS NOT NULL AND first_purchase >= first_click
              THEN date_diff('day', first_click, first_purchase) ELSE date_diff('day', first_click, last_seen) END AS t_u,
         (first_purchase IS NOT NULL AND first_purchase >= first_click) AS is_event
  FROM per_user WHERE first_click IS NOT NULL
),
times AS (
  SELECT t_u AS t, COUNT(*) AS leaving,
         SUM(CASE WHEN is_event THEN 1 ELSE 0 END) AS d
  FROM durations GROUP BY 1
),
risk AS (
  SELECT t, d, leaving,
         (SELECT COUNT(*) FROM durations) 
           - COALESCE(SUM(leaving) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM times
),
km AS (
  SELECT t, d, n_risk,
         SUM(CASE WHEN d > 0 AND d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0.0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS log_s,
         MAX(CASE WHEN d = n_risk AND d > 0 THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero
  FROM risk
)
SELECT t AS duration_days, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_events,
       CASE WHEN hit_zero = 1 THEN 0.0 ELSE ROUND(exp(log_s), 9) END AS survival
FROM km WHERE d > 0
"""


@register("km_time_to_purchase", oracle=_KM_ORACLE, tags=("behavior", "survival", "r5"))
def q_km_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for time-to-first-purchase after first
    click, with right-censoring at each non-converter's last-seen day —
    the estimator conversion-latency analysis NEEDS once users can be
    still-pending (``conversion_latency_quantiles`` conditions on
    converters; KM uses censored users' at-risk time instead of dropping
    them, which is what makes the curve unbiased).

    Classic KM product Π(1 − dᵢ/nᵢ) computed as exp of an ORDERED running
    sum of logs (both engines fold in duration order → identical doubles;
    the ln/exp pair is the ``zipf_slope_terms`` precedent), with an exact
    zero-flag window handling the dᵢ = nᵢ boundary (ln 0) instead of
    relying on ±inf arithmetic.  Risk sets come from one ordered window
    over the |distinct durations|-sized aggregate — corpus cost is the
    per-user aggregation scan."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.to_date("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.to_date("ts"))).alias("first_purchase"),
        F.max(F.to_date("ts")).alias("last_seen"),
    )
    converted = F.col("first_purchase").isNotNull() & (
        F.col("first_purchase") >= F.col("first_click")
    )
    durations = per_user.filter(F.col("first_click").isNotNull()).select(
        F.when(converted, F.datediff("first_purchase", "first_click"))
        .otherwise(F.datediff("last_seen", "first_click"))
        .alias("t_u"),
        converted.alias("is_event"),
    )
    times = durations.groupBy(F.col("t_u").alias("t")).agg(
        F.count(F.lit(1)).alias("leaving"),
        F.sum(F.col("is_event").cast("int")).alias("d"),
    )
    total = durations.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = times.crossJoin(F.broadcast(total)).withColumn(
        "n_risk", F.col("n_total") - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
    )
    log_term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        F.log(F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    zero_flag = F.max(
        F.when((F.col("d") == F.col("n_risk")) & (F.col("d") > 0), 1).otherwise(0)
    ).over(w_cum)
    km = risk.withColumn("log_s", F.sum(log_term).over(w_cum)).withColumn("hit_zero", zero_flag)
    return km.filter(F.col("d") > 0).select(
        F.col("t").alias("duration_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("log_s"), 9))
        .alias("survival"),
    )


ABSORBING_STATES = ("purchase", "error")


def absorption_probabilities(ev: DataFrame, absorbing: tuple[str, ...] = ABSORBING_STATES):
    """P(absorbed in each absorbing state | start) for every transient
    event type, from the first-order transition counts.

    The corpus-sized work is the same user-ordered window + pair count as
    ``event_transition_probs``; the collected matrix is |types|² (≤ tens)
    — model-sized, the PCA/k-means collect rule — and the fundamental-
    matrix solve B = (I−Q)⁻¹R runs on the driver.  Returns a list of
    (state, dict absorbing→prob) pairs sorted by state."""
    import numpy as np
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # |types|² rows: model-sized, never corpus-sized
    )
    states = sorted({r["src"] for r in pairs} | {r["dst"] for r in pairs})
    absorbing = tuple(a for a in absorbing if a in states)
    transient = [s for s in states if s not in absorbing]
    counts = {(r["src"], r["dst"]): r["c"] for r in pairs}
    row_tot = {s: sum(counts.get((s, t), 0) for t in states) for s in states}
    nt, na = len(transient), len(absorbing)
    Q = np.zeros((nt, nt))
    R = np.zeros((nt, na))
    for i, s in enumerate(transient):
        if row_tot[s] == 0:
            continue
        for j, t in enumerate(transient):
            Q[i, j] = counts.get((s, t), 0) / row_tot[s]
        for j, a in enumerate(absorbing):
            R[i, j] = counts.get((s, a), 0) / row_tot[s]
    B = np.linalg.solve(np.eye(nt) - Q, R)
    return [
        (s, {a: float(B[i, j]) for j, a in enumerate(absorbing)})
        for i, s in enumerate(transient)
    ]


def absorption_purchase_vs_error_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-Markov funnel analysis: for each transient event type, the
    probability the user's event chain reaches PURCHASE before ERROR —
    what the one-step ``event_transition_probs`` matrix cannot say (it
    answers "what happens next"; absorption answers "where does the walk
    END"), solved exactly via the fundamental matrix B = (I−Q)⁻¹R rather
    than by simulation.  Gambler's-ruin hand case and numpy-reference
    equality pinned in ``test_r5_ops.py`` / ``test_golden_r6b.py``; the
    registered ``absorption_purchase_vs_error`` wraps this surface with
    the probability-axiom bound summary."""
    ev = load_table(spark, sf_dir, "events")
    rows = [
        (s, round(probs.get("purchase", 0.0), 9), round(probs.get("error", 0.0), 9))
        for s, probs in absorption_probabilities(ev)
    ]
    return spark.createDataFrame(rows, "start_state string, p_purchase double, p_error double")


#: The state universe is derived EXACTLY the way the solver derives it —
#: from lead() transition pairs (src ∪ dst over non-null successors), not
#: from DISTINCT event_type: an event type occurring only as single-event
#: user chains enters no transition and is absent from the solver's
#: output, so a bare-DISTINCT universe would false-fail the hash gate on
#: such a degenerate corpus (round-10 advice).  On the synthetic corpora
#: the two universes coincide (every type appears inside some multi-event
#: chain); the pair-derived form keeps the gate diagnosable at any scale.
_ABSORPTION_BOUND_ORACLE = """
WITH p AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
), s AS (
  SELECT src AS state FROM p WHERE dst IS NOT NULL
  UNION
  SELECT dst FROM p WHERE dst IS NOT NULL
)
SELECT state AS start_state,
       TRUE AS probs_in_unit_interval,
       TRUE AS p_total_le_one
FROM s
WHERE state NOT IN ('purchase', 'error')
"""


@register(
    "absorption_purchase_vs_error",
    oracle=_ABSORPTION_BOUND_ORACLE,
    tags=("behavior", "markov", "iterative", "r5"),
)
def q_absorption_purchase_vs_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered surface of the absorption solve (round-10
    oracle-ization): the TRANSIENT-STATE universe is oracle-exact (every
    event type that is not an absorbing state gets a row — a solve that
    drops a state fails the hash on that state), and the probability
    axioms are Spark-computed booleans the twin asserts TRUE: both
    absorption probabilities lie in [0, 1] and their sum ≤ 1 (the walk
    may also never absorb).  The solved numbers stay on
    ``absorption_purchase_vs_error_detail`` with the hand-case golden and
    the NumPy fundamental-matrix replica."""
    det = absorption_purchase_vs_error_detail(spark, sf_dir)
    in01 = lambda c: (F.col(c) >= 0.0) & (F.col(c) <= 1.0)
    return det.select(
        "start_state",
        (in01("p_purchase") & in01("p_error")).alias("probs_in_unit_interval"),
        ((F.col("p_purchase") + F.col("p_error")) <= 1.0 + 1e-9).alias("p_total_le_one"),
    )


# --- CUPED variance-reduced experiment readout --------------------------------

#: Pre-period / experiment-period boundary: the month's midpoint.
CUPED_SPLIT = "2024-01-16"

_CUPED_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN instr('0123456789abcdef',
                         substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1 < 8
              THEN 'A' ELSE 'B' END AS variant,
         CAST(COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{CUPED_SPLIT}'
                                THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(14,6)) AS x,
         CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}'
                                THEN CAST(value AS DECIMAL(18,6)) END), 0) AS DECIMAL(14,6)) AS y
  FROM events GROUP BY 1
),
stats AS (
  -- widen one multiplicand so DuckDB's product runs on int128 (it would
  -- otherwise overflow int64 at scale 12); Spark's (14,6)x(14,6) product
  -- is already exact at scale 12, so both engines hold identical values
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS DECIMAL(20,6)) * y) AS sxy,
         SUM(CAST(x AS DECIMAL(20,6)) * x) AS sxx
  FROM per_user
),
th AS (
  SELECT n, sx,
         CASE WHEN CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n = 0
              THEN 0.0
              ELSE (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) END AS theta
  FROM stats
)
SELECT p.variant,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(p.y) AS DOUBLE) / COUNT(*), 9) AS mean_y,
       ROUND(MAX(t.theta), 9) AS theta,
       ROUND(CAST(SUM(p.y) AS DOUBLE) / COUNT(*)
             - MAX(t.theta) * (CAST(SUM(p.x) AS DOUBLE) / COUNT(*)
                               - CAST(MAX(t.sx) AS DOUBLE) / MAX(t.n)), 9) AS mean_y_cuped
FROM per_user p CROSS JOIN th t
GROUP BY 1
"""


@register("ab_test_cuped_value", oracle=_CUPED_ORACLE, tags=("behavior", "experiment", "r8"))
def q_ab_test_cuped_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM 2013):
    per-user experiment-period value adjusted by the pre-period covariate,
    y′ = y − θ·(x − x̄), θ = cov(x,y)/var(x) — the industry-standard way to
    shrink A/B metric variance using pre-experiment behavior (same variants
    and hash-assignment device as ``ab_test_purchase_conversion``; here the
    metric is continuous value, not conversion).  On a synthetic corpus
    with no treatment effect the adjusted means converge toward each other
    — the variance-reduction null calibration.

    Determinism without decimal-free covariance: per-user x/y are EXACT
    decimal sums (order-free — float covar_samp would be partition-order
    dependent), the moment sums Σx, Σy, Σxy, Σx² stay in decimal (exact
    int128-backed accumulation on both engines), and θ is one fixed double
    parse tree over their correctly-rounded casts, so every engine sees
    bit-identical inputs.  Scale shape: one user-keyed aggregate over the
    fact table, a 1-row broadcast moments frame, a 2-row variant rollup —
    the same single-scan shape as the conversion readout; the decimal
    moment sums bound the method at ~10³⁸ absolute mass, far past any real
    corpus."""
    ev = load_table(spark, sf_dir, "events")
    digit = (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) - 1
    )
    split = F.lit(CUPED_SPLIT).cast("timestamp")
    val = F.col("value").cast("decimal(18,6)")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.when(digit < 8, "A").otherwise("B")).alias("variant"),
            F.coalesce(F.sum(F.when(F.col("ts") < split, val)), F.lit(0))
            .cast("decimal(14,6)")
            .alias("x"),
            F.coalesce(F.sum(F.when(F.col("ts") >= split, val)), F.lit(0))
            .cast("decimal(14,6)")
            .alias("y"),
        )
    )
    stats = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    var_num = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
    cov_num = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
    th = stats.select(
        "n",
        "sx",
        F.when(var_num == 0, F.lit(0.0)).otherwise(cov_num / var_num).alias("theta"),
    )
    mean_y = F.sum("y").cast("double") / F.count(F.lit(1))
    mean_x = F.sum("x").cast("double") / F.count(F.lit(1))
    grand_mean_x = F.max(F.col("sx").cast("double")) / F.max("n")
    return (
        per_user.crossJoin(F.broadcast(th))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(mean_y, 9).alias("mean_y"),
            F.round(F.max("theta"), 9).alias("theta"),
            F.round(mean_y - F.max("theta") * (mean_x - grand_mean_x), 9).alias("mean_y_cuped"),
        )
    )


# --- sample-ratio-mismatch guardrail --------------------------------------------

#: chi-square 95% critical value at 1 degree of freedom.
SRM_CHI2_CRIT = 3.841458820694124

_SRM_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CASE WHEN instr('0123456789abcdef',
                         substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1 < 8
              THEN 1 ELSE 0 END AS is_a
  FROM events GROUP BY 1
),
m AS (
  SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
         CAST(COUNT(*) - SUM(is_a) AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM per_user
)
SELECT n_a, n_b,
       ROUND((n_a - n / 2.0) * (n_a - n / 2.0) / (n / 2.0)
             + (n_b - n / 2.0) * (n_b - n / 2.0) / (n / 2.0), 9) AS chi2,
       CASE WHEN (n_a - n / 2.0) * (n_a - n / 2.0) / (n / 2.0)
                 + (n_b - n / 2.0) * (n_b - n / 2.0) / (n / 2.0) > {SRM_CHI2_CRIT}
            THEN 'mismatch' ELSE 'balanced' END AS verdict
FROM m
"""


@register("ab_srm_check", oracle=_SRM_ORACLE, tags=("behavior", "experiment", "r9"))
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the hash-bucketed A/B assignment
    (same first-md5-hex-digit device as ``ab_test_purchase_conversion`` /
    ``ab_test_cuped_value``, designed 8/16 = 50/50): chi-square
    goodness-of-fit of the observed arm sizes against the design ratio,
    with the 5 % verdict.  SRM is the first thing experiment platforms
    check — a significant imbalance means the ASSIGNMENT is broken
    (redirect loss, bot filtering, logging bias) and every downstream
    readout is invalid, CUPED included.

    Exactness: arm counts are exact int64 off one user-keyed aggregate;
    the statistic is a single fixed parse tree over them (n/2 is an exact
    half-integer), rounded once.  Scale shape: the same single corpus
    aggregate as the conversion readout, collapsed to one row."""
    ev = load_table(spark, sf_dir, "events")
    digit = (
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)) - 1
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(digit < 8, 1).otherwise(0)).alias("is_a")
    )
    m = per_user.agg(
        F.sum("is_a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("is_a")).cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    half = F.col("n") / 2.0
    chi2 = (F.col("n_a") - half) * (F.col("n_a") - half) / half + (
        F.col("n_b") - half
    ) * (F.col("n_b") - half) / half
    return m.select(
        "n_a",
        "n_b",
        F.round(chi2, 9).alias("chi2"),
        F.when(chi2 > SRM_CHI2_CRIT, "mismatch").otherwise("balanced").alias("verdict"),
    )


# --- index of dispersion (Fano factor) -------------------------------------------

_DISPERSION_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(y) AS BIGINT) AS s,
         CAST(SUM(y * y) AS BIGINT) AS ssq
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, s AS total_events,
       ROUND((CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_days)
             / n_days / (CAST(s AS DOUBLE) / n_days), 9) AS dispersion,
       CASE WHEN (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_days)
                 / n_days / (CAST(s AS DOUBLE) / n_days) > 1.5 THEN 'bursty'
            WHEN (CAST(ssq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_days)
                 / n_days / (CAST(s AS DOUBLE) / n_days) < 0.5 THEN 'regular'
            ELSE 'poisson-like' END AS verdict
FROM m
"""


@register("event_type_dispersion", oracle=_DISPERSION_ORACLE, tags=("behavior", "stats", "r9"))
def q_event_type_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (Fano factor) of daily arrival counts per event
    type: var/mean with the Poisson process as the unit baseline — >1 means
    bursty/clustered arrivals, <1 regular/throttled, ≈1 memoryless — the
    one-number arrival-process characterization behind capacity planning
    and bot detection (a scripted client is suspiciously regular; a viral
    spike is over-dispersed).  Coarse 1.5/0.5 verdict bands keep the label
    deterministic.

    Exactness: Σy and Σy² are exact int64 per type, variance and the ratio
    are one fixed double parse tree over them (the population-variance
    moment identity), rounded once.  Scale shape: one corpus shuffle for
    the (type, day) aggregate, then a |types|-row rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ssq"),
    )
    var = (
        F.col("ssq").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n_days")
    ) / F.col("n_days")
    disp = var / (F.col("s").cast("double") / F.col("n_days"))
    return m.select(
        "event_type",
        "n_days",
        F.col("s").alias("total_events"),
        F.round(disp, 9).alias("dispersion"),
        F.when(disp > 1.5, "bursty")
        .when(disp < 0.5, "regular")
        .otherwise("poisson-like")
        .alias("verdict"),
    )


# --- jackknife CI for the purchase rate -------------------------------------------

_JACKKNIFE_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM events GROUP BY 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d, CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(c) AS BIGINT) AS cc FROM daily),
loo AS (
  SELECT daily.day, tot.d, tot.nn, tot.cc,
         CAST(tot.cc - daily.c AS DOUBLE) / (tot.nn - daily.n) AS theta_i
  FROM daily CROSS JOIN tot
),
jk AS (
  SELECT MAX(d) AS d, MAX(nn) AS nn, MAX(cc) AS cc,
         SUM(CAST(theta_i AS DECIMAL(20,18))) AS sum_t,
         SUM(CAST(theta_i * theta_i AS DECIMAL(22,20))) AS sum_t2
  FROM loo
)
SELECT CAST(d AS BIGINT) AS n_days, CAST(cc AS BIGINT) AS purchases, CAST(nn AS BIGINT) AS events,
       ROUND(CAST(cc AS DOUBLE) / nn, 9) AS rate,
       ROUND((d - 1.0) / d * (CAST(sum_t2 AS DOUBLE)
             - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE) / d), 9) AS jk_var,
       ROUND(CAST(cc AS DOUBLE) / nn
             - 1.959963984540054 * sqrt((d - 1.0) / d * (CAST(sum_t2 AS DOUBLE)
               - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE) / d)), 9) AS ci_lo,
       ROUND(CAST(cc AS DOUBLE) / nn
             + 1.959963984540054 * sqrt((d - 1.0) / d * (CAST(sum_t2 AS DOUBLE)
               - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE) / d)), 9) AS ci_hi
FROM jk
"""


@register("purchase_rate_jackknife_ci", oracle=_JACKKNIFE_ORACLE, tags=("behavior", "stats", "experiment", "r9"))
def q_purchase_rate_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-DAY jackknife 95 % CI for the corpus purchase rate: the
    resampling-based interval that respects within-day correlation, where
    the i.i.d. binomial interval (``repeat_rate_wilson_ci``'s device) is
    too narrow whenever events cluster by day — the block-jackknife every
    metrics platform runs for ratio metrics.  θ_i drops day i entirely
    (rate = (C−c_i)/(N−n_i)); Var_jk = (d−1)/d · Σ(θ_i − θ̄_·)², expanded
    to the moment form so no second pass is needed.

    Determinism: day totals are exact int64 and each θ_i is one division
    of exacts; the d-sized float sums Σθ and Σθ² are made order-free by
    casting each term to DECIMAL(20/22-scale) before the exact decimal
    sum (the ``source_token_entropy`` discipline); the variance and CI are
    single parse trees, each rounded once.  Scale shape: one corpus
    shuffle (daily aggregate), a 1-row broadcast total, a |days|-row map
    and one more 1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("c"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("c").cast("long").alias("cc"),
    )  # 1 row, broadcast, lazy
    theta = (F.col("cc") - F.col("c")).cast("double") / (F.col("nn") - F.col("n"))
    jk = (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "d",
            "nn",
            "cc",
            theta.alias("theta_i"),
        )
        .agg(
            F.max("d").alias("d"),
            F.max("nn").alias("nn"),
            F.max("cc").alias("cc"),
            F.sum(F.col("theta_i").cast("decimal(20,18)")).alias("sum_t"),
            F.sum((F.col("theta_i") * F.col("theta_i")).cast("decimal(22,20)")).alias("sum_t2"),
        )
    )
    dd = F.col("d").cast("double")
    jk_var = (dd - 1.0) / dd * (
        F.col("sum_t2").cast("double")
        - F.col("sum_t").cast("double") * F.col("sum_t").cast("double") / dd
    )
    rate = F.col("cc").cast("double") / F.col("nn")
    half = F.lit(1.959963984540054) * F.sqrt(jk_var)
    return jk.select(
        F.col("d").alias("n_days"),
        F.col("cc").alias("purchases"),
        F.col("nn").alias("events"),
        F.round(rate, 9).alias("rate"),
        F.round(jk_var, 9).alias("jk_var"),
        F.round(rate - half, 9).alias("ci_lo"),
        F.round(rate + half, 9).alias("ci_hi"),
    )


# --- one-pass user feature vector ------------------------------------------------

#: fixed event-type vocabulary for the per-type feature columns.
FEATURE_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_FEATURE_TYPE_COUNTS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
    for t in FEATURE_EVENT_TYPES
)
_FEATURE_ENTROPY_TERMS = " + ".join(
    f"(CASE WHEN n_{t} = 0 THEN 0.0 ELSE CAST(n_{t} AS DOUBLE) * ln(CAST(n_{t} AS DOUBLE)) END)"
    for t in FEATURE_EVENT_TYPES
)
_FEATURE_MODAL = "CASE " + " ".join(
    f"WHEN n_{t} >= greatest({', '.join('n_' + u for u in FEATURE_EVENT_TYPES)}) THEN '{t}'"
    for t in FEATURE_EVENT_TYPES
) + " END"

_USER_FEATURES_ORACLE = f"""
WITH base AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS value_sum,
         MIN(ts) AS first_ts, MAX(ts) AS last_ts,
         {_FEATURE_TYPE_COUNTS}
  FROM events GROUP BY 1
),
sess AS (
  SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions
  FROM (
    SELECT user_id,
           CASE WHEN datediff('microsecond', lag(ts) OVER w, ts) IS NULL
                  OR datediff('microsecond', lag(ts) OVER w, ts) > 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
  ) GROUP BY 1
),
mx AS (SELECT MAX(ts) AS corpus_max FROM events)
SELECT b.user_id, b.n_events, b.n_active_days, s.n_sessions,
       CAST(b.value_sum AS DOUBLE) AS value_sum,
       CAST(epoch_us(mx.corpus_max) - epoch_us(b.last_ts) AS BIGINT) AS recency_us,
       CAST(epoch_us(b.last_ts) - epoch_us(b.first_ts) AS BIGINT) AS tenure_us,
       {", ".join(f"b.n_{t}" for t in FEATURE_EVENT_TYPES)},
       ROUND(CASE WHEN b.n_events = 0 THEN 0.0
             ELSE ln(CAST(b.n_events AS DOUBLE)) - ({_FEATURE_ENTROPY_TERMS}) / b.n_events END, 9)
         AS type_entropy,
       {_FEATURE_MODAL} AS modal_type
FROM base b JOIN sess s ON s.user_id = b.user_id CROSS JOIN mx
"""


@register("user_feature_vector", oracle=_USER_FEATURES_ORACLE, tags=("behavior", "features", "r9"))
def q_user_feature_vector(
    spark: SparkSession, sf_dir: str, use_warehouse: bool = False
) -> DataFrame:
    """Feature-store extraction: ONE wide row per user with the features a
    churn/propensity model trains on — activity volume (events, active
    days, sessions), monetary mass, recency and tenure in exact epoch-µs,
    per-type counts over the FIXED type vocabulary, type-mix Shannon
    entropy, and the modal event type (alphabetical tie-break) — the
    event-side sibling of ``customer_rfm_segments`` and the assembled form
    of ``user_event_entropy`` / ``modal_event_type_per_user``, produced in
    a single pass instead of one query per feature.

    Scale shape: one user-keyed conditional-sum aggregate carries every
    per-type column (wide aggregation beats |types| separate passes), the
    sessionizer's window shares the same user-keyed exchange, the join is
    co-partitioned on user_id, and the corpus max is a broadcast 1-row
    aggregate.  Exactness: counts/µs are int64, value mass is exact
    decimal, and entropy/modal are FIXED {len(FEATURE_EVENT_TYPES)}-term
    parse trees over the exact per-type counts (literal sums, not float
    aggregations — order-free by construction), rounded once.

    ``use_warehouse=True`` reads the user-bucketed events warehouse
    (``sources.warehouse.build_events_warehouse``) instead of raw parquet:
    the wide aggregate, the sessionizer's window, AND the join then all
    inherit the user_id distribution from the scan — zero user-keyed
    exchanges (pinned in ``tests/test_bucketing.py``)."""
    from . import events as events_ops

    ev = events_ops.load_events(spark, sf_dir, use_warehouse)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct(F.to_date("ts")).cast("long").alias("n_active_days"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("value_sum"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    ] + [
        F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long").alias(f"n_{t}")
        for t in FEATURE_EVENT_TYPES
    ]
    base = ev.groupBy("user_id").agg(*aggs)
    sess = (
        events_ops.sessionize(ev, "user_id", "ts", events_ops.SESSION_GAP_MIN)
        .groupBy("user_id")
        .agg(F.max("session_id").cast("long").alias("n_sessions"))
    )
    mx = ev.agg(F.max("ts").alias("corpus_max"))  # 1 row, broadcast, lazy
    ent_terms = None
    for t in FEATURE_EVENT_TYPES:
        c = F.col(f"n_{t}")
        term = F.when(c == 0, 0.0).otherwise(c.cast("double") * F.log(c.cast("double")))
        ent_terms = term if ent_terms is None else ent_terms + term
    entropy = F.when(
        F.col("n_events") == 0, 0.0
    ).otherwise(F.log(F.col("n_events").cast("double")) - ent_terms / F.col("n_events"))
    best = F.greatest(*[F.col(f"n_{t}") for t in FEATURE_EVENT_TYPES])
    modal = F.when(F.col(f"n_{FEATURE_EVENT_TYPES[0]}") >= best, FEATURE_EVENT_TYPES[0])
    for t in FEATURE_EVENT_TYPES[1:]:
        modal = modal.when(F.col(f"n_{t}") >= best, t)
    return (
        base.join(sess, "user_id")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            "n_events",
            "n_active_days",
            "n_sessions",
            F.col("value_sum").cast("double").alias("value_sum"),
            (F.unix_micros("corpus_max") - F.unix_micros("last_ts")).cast("long").alias("recency_us"),
            (F.unix_micros("last_ts") - F.unix_micros("first_ts")).cast("long").alias("tenure_us"),
            *[F.col(f"n_{t}") for t in FEATURE_EVENT_TYPES],
            F.round(entropy, 9).alias("type_entropy"),
            modal.alias("modal_type"),
        )
    )
