"""OLAP analytics beyond the reference surface: multi-dimensional grouping
(CUBE), exact and approximate distinct counts, order statistics.

The reference has none of these (SURVEY.md §2.4: "no distinct-agg, grouping
sets / cube / rollup, or approximate aggregates"); Spark provides them
natively and an analytics engine should expose them.

Scale strategy:
- CUBE over (business, month) multiplies shuffle rows by the number of
  grouping sets (4 here) — fine for low-cardinality dimensions; at high
  cardinality you enumerate the needed grouping sets instead.
- ``approx_count_distinct`` (HyperLogLog++) is the 100 TB path for distinct
  users: constant memory per group vs the exact version's shuffle of every
  distinct key.  Approximate → rows-only driver check; pytest bounds its
  error against the exact count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table


_CUBE_ORACLE = """
SELECT l_returnflag AS business,
       CAST(month(l_shipdate) AS INTEGER) AS ship_month,
       COUNT(*) AS trip_count
FROM lineitem
GROUP BY CUBE (1, 2)
"""


@register("cube_trip_counts", oracle=_CUBE_ORACLE, tags=("agg", "cube"))
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: counts at every aggregation level of (business, month) —
    detail, per-business, per-month, grand total (nulls mark rolled-up
    dimensions in both engines)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("business"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
    )
    return li.cube("business", "ship_month").agg(F.count(F.lit(1)).alias("trip_count"))


_ROLLUP_ORACLE = """
SELECT sn.n_name AS Pickup_Borough,
       s.s_name AS Pickup_Zone,
       COUNT(*) AS trip_count
FROM lineitem l
LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
LEFT JOIN nation sn ON s.s_nationkey = sn.n_nationkey
GROUP BY ROLLUP (1, 2)
"""


@register("rollup_borough_zone_counts", oracle=_ROLLUP_ORACLE, tags=("agg", "rollup"))
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP along the natural hierarchy borough → zone: subtotals per
    borough and a grand total."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "supplier", "nation")}
    sup, nat = t["supplier"], t["nation"]
    dim = sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"], "left").select(
        "s_suppkey", F.col("n_name").alias("Pickup_Borough"), F.col("s_name").alias("Pickup_Zone")
    )
    li = t["lineitem"].select("l_suppkey")
    return (
        li.join(F.broadcast(dim), li["l_suppkey"] == dim["s_suppkey"], "left")
        .rollup("Pickup_Borough", "Pickup_Zone")
        .agg(F.count(F.lit(1)).alias("trip_count"))
    )


_DISTINCT_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""


@register("distinct_users_by_event_type", oracle=_DISTINCT_ORACLE, tags=("agg", "distinct"))
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct count (expands to a two-phase aggregate in Spark)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_users"))


#: HLL++ rsd requested from approx_count_distinct, and the bound the oracle
#: enforces: 3·rsd relative (99.7%-ish envelope) with an absolute floor of 2
#: for tiny cardinalities
APPROX_DISTINCT_RSD = 0.02

_APPROX_DISTINCT_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       TRUE AS est_within_tol
FROM events GROUP BY event_type
"""


@register(
    "approx_distinct_users_by_event_type",
    oracle=_APPROX_DISTINCT_ORACLE,
    tags=("agg", "approx"),
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct count — the constant-memory scale path.

    Oracle form (round 9, same pattern as
    ``daily_distinct_users_sketch_rollup``): the raw HLL++ estimate has no
    cross-engine twin, so the registered output carries it as a BOUND
    check — ``est_within_tol`` is computed Spark-side from the real
    estimate (|est − exact| ≤ max(2, 3·{APPROX_DISTINCT_RSD}·exact)) and
    the DuckDB twin asserts it TRUE next to the exact-matching distinct
    counts; an estimator drifting out of envelope now FAILS the hash gate
    instead of hiding behind a rows-only row.  pytest keeps the direct
    raw-estimate bound too (``test_approx_distinct_within_rsd``)."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=APPROX_DISTINCT_RSD).alias("est"),
        F.count_distinct("user_id").cast("long").alias("n_users_exact"),
    )
    tol = F.greatest(F.lit(2.0), 3 * APPROX_DISTINCT_RSD * F.col("n_users_exact"))
    return agg.select(
        "event_type",
        "n_users_exact",
        (F.abs(F.col("est") - F.col("n_users_exact")) <= tol).alias("est_within_tol"),
    )


# --- HyperLogLog from first principles (re-aggregatable registers) -----------

HLL_M = 64  # registers (b = 6 index bits)
HLL_HASH_BITS = 60  # 15 md5 hex chars → non-negative 60-bit hash
HLL_RHO_MAX = HLL_HASH_BITS - 6 + 1  # 55: rho of an all-zero remainder
#: alpha_m · m² · 2^55 folded into ONE double literal so the estimate is a
#: single int64→double conversion + one division on both engines
_HLL_C = 1.046802484394006e20  # 0.7213/(1+1.079/64) · 64² · 2^55

_HLL_ORACLE = f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
), reg AS (
  SELECT event_type, h % {HLL_M} AS bucket,
         MAX(CASE WHEN (h >> 6) = 0 THEN {HLL_RHO_MAX}
                  ELSE {HLL_RHO_MAX} - length(bin(h >> 6)) END) AS rho
  FROM h GROUP BY 1, 2
), s AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_RHO_MAX} - rho)) AS BIGINT)
           + ({HLL_M} - COUNT(*)) * (CAST(1 AS BIGINT) << {HLL_RHO_MAX}) AS s_int,
         CAST({HLL_M} - COUNT(*) AS BIGINT) AS n_empty
  FROM reg GROUP BY 1
), est AS (
  SELECT event_type,
         CASE WHEN {_HLL_C!r} / CAST(s_int AS DOUBLE) <= 2.5 * {HLL_M} AND n_empty > 0
              THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE) / n_empty)
              ELSE {_HLL_C!r} / CAST(s_int AS DOUBLE) END AS e
  FROM s
), ex AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM events GROUP BY 1
)
SELECT ex.event_type, ex.n_exact,
       ROUND(est.e, 9) AS hll_estimate,
       ROUND((est.e - ex.n_exact) / ex.n_exact, 9) AS rel_err
FROM ex JOIN est USING (event_type)
"""


@register("hll_distinct_users_from_scratch", oracle=_HLL_ORACLE, tags=("agg", "approx", "sketch", "r10"))
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog implemented from first principles (Flajolet et al. 2007)
    as DATA, not as an opaque aggregate: per event_type, 64 registers
    M_j = max leading-zero-rank of a 60-bit md5-derived hash, raw estimate
    α·m²/Σ2^(−M_j), reported against the exact distinct count.

    The register TABLE is the point — unlike ``approx_count_distinct``
    (HLL++ sealed inside an agg buffer), explicit registers are
    RE-AGGREGATABLE data: daily register tables merge by ``max`` per bucket
    into weekly/monthly cardinalities without touching raw events — the
    sketch-rollup pattern a 100 TB metrics pipeline stores, and the same
    reason ``cms_heavy_hitter_estimates`` materializes its counter matrix.

    Unlike the builtin (whose xxhash64 register layout has no SQL twin),
    every step here is deterministic and engine-neutral, so the driver
    hash-checks the ESTIMATES bit-for-bit: Σ2^(−M_j) is kept as the exact
    integer Σ2^(55−M_j) (≤ 64·2^55 < 2^63 — no float accumulation), and
    the estimate is one literal-constant division.  Plan: one (type,
    bucket)-keyed aggregate (≤ |types|·64 groups), one |types| rollup, and
    the exact-count twin for the error column; the sketch side never holds
    more than m longs per group."""
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast("long")
    rem = F.shiftright(h, 6)
    rho = F.when(rem == 0, HLL_RHO_MAX).otherwise(
        HLL_RHO_MAX - F.length(F.conv(rem, 10, 2))
    )
    reg = (
        ev.select("event_type", (h % HLL_M).alias("bucket"), rho.alias("rho"))
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    # shiftleft with a COLUMN shift amount: only the SQL form accepts it
    # (the PySpark wrapper pins numBits to a Python int)
    s = reg.groupBy("event_type").agg(
        (
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - rho)"))
            + (HLL_M - F.count(F.lit(1))) * F.lit(1 << HLL_RHO_MAX).cast("long")
        ).cast("long").alias("s_int"),
        (HLL_M - F.count(F.lit(1))).cast("long").alias("n_empty"),
    )
    raw = F.lit(_HLL_C) / F.col("s_int").cast("double")
    # Flajolet small-range (linear-counting) correction: raw HLL saturates
    # low cardinalities toward α·m²/Σ≈m·log-ish bias, while the count of
    # still-empty registers is a near-sufficient statistic there
    est = F.when(
        (raw <= 2.5 * HLL_M) & (F.col("n_empty") > 0),
        HLL_M * F.log(F.lit(float(HLL_M)) / F.col("n_empty")),
    ).otherwise(raw)
    ex = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return ex.join(F.broadcast(s), "event_type").select(
        "event_type",
        "n_exact",
        F.round(est, 9).alias("hll_estimate"),
        F.round((est - F.col("n_exact")) / F.col("n_exact"), 9).alias("rel_err"),
    )


_MEDIAN_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, value AS median_value
FROM ranked WHERE rn = (n + 1) // 2
"""


@register("median_value_by_event_type", oracle=_MEDIAN_ORACLE, tags=("agg", "quantile"))
def q_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact *discrete* (lower) median per group: the element at rank
    ⌈n/2⌉ in value order.  Discrete selection — no interpolation — so the
    result is an actual data value and the cross-engine comparison is exact
    (continuous medians interpolate, and two engines' float arithmetic can
    disagree in the last ulp).

    Round-8 keyed sweep: the old ``Window.partitionBy(event_type)`` rank
    funneled each type's ENTIRE value stream through one task (|types| ≈ a
    handful bounds parallelism at 100 TB — the packing-tier trap, r6 items
    2-3); now ``keyed_row_number`` partitions by ranges of (type, value) so a
    type's rows span many partitions.  ``value`` has ties and no unique
    tiebreak, so rn is an arbitrary permutation within each tie group —
    harmless: the rank is only ever mapped back to a VALUE, and equal
    values give the same median under any tie permutation.  At extreme
    per-group cardinality you switch to ``approx_percentile`` below —
    same key, constant memory."""
    from ..functions.skew import keyed_row_number

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # per-type frame size rides out of the helper (count_alias) instead of
    # a second scan+agg of events for a broadcast counts join (r12)
    return (
        keyed_row_number(ev, ["event_type"], ["value"], "rn", count_alias="n")
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("value").alias("median_value"))
    )


#: percentile_approx accuracy (rank error ≤ n/accuracy) and the generous
#: rank window the oracle's bracket check allows: ±max(1, ⌈0.002·n⌉) ranks
#: (20× the sketch's guarantee — the bound should only fail on a broken
#: sketch, not on its documented slack)
APPROX_PCT_ACCURACY = 10_000
APPROX_PCT_WINDOW = 0.002
_APPROX_PCT_PS = (0.5, 0.95, 0.99)

def _approx_pct_oracle() -> str:
    cols = []
    for p in _APPROX_PCT_PS:
        t = int(p * 100)
        w = f"GREATEST(1, CAST(CEIL({APPROX_PCT_WINDOW} * n) AS BIGINT))"
        lo = f"GREATEST(1, CAST(FLOOR(CAST({p} AS DOUBLE) * n) AS BIGINT) - {w})"
        hi = f"LEAST(n, CAST(CEIL(CAST({p} AS DOUBLE) * n) AS BIGINT) + {w})"
        cols.append(f"MAX(CASE WHEN rn = {lo} THEN value END) AS p{t}_lo")
        cols.append(f"MAX(CASE WHEN rn = {hi} THEN value END) AS p{t}_hi")
        cols.append(f"TRUE AS p{t}_ok")
    sel = ",\n       ".join(cols)
    return f"""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, CAST(MIN(n) AS BIGINT) AS n,
       {sel}
FROM ranked GROUP BY event_type
"""


_APPROX_PCT_ORACLE = _approx_pct_oracle()


@register(
    "approx_percentiles_by_event_type",
    oracle=_APPROX_PCT_ORACLE,
    tags=("agg", "quantile", "approx"),
)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL/GK-sketch percentiles (p50/p95/p99) — the constant-memory scale
    path for order statistics.

    Oracle form (round 9): the sketch values themselves have no
    cross-engine twin, so the registered output brackets each estimate
    between EXACT order statistics — for each p, the exact values at
    ranks ⌊p·n⌋ − w and ⌈p·n⌉ + w (w = max(1, ⌈{APPROX_PCT_WINDOW}·n⌉),
    20× the sketch's rank-error guarantee of n/{APPROX_PCT_ACCURACY}) —
    and asserts containment as ``p*_ok`` booleans the DuckDB twin expects
    TRUE, alongside the hash-exact bracket values and counts.  A sketch
    whose estimate leaves its rank envelope now FAILS the driver's hash
    gate.  Rank selection rides the two-phase
    ``keyed_row_number`` (no |event_types|-bounded window); the brackets
    come from the same ranked frame as the exact-median query."""
    from ..functions.skew import keyed_row_number

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ests = ev.groupBy("event_type").agg(
        F.percentile_approx("value", list(_APPROX_PCT_PS), APPROX_PCT_ACCURACY).alias("pcts")
    )
    # per-type frame size from the helper (count_alias) — one events scan
    # fewer than the old broadcast counts join (r12)
    ranked = keyed_row_number(ev, ["event_type"], ["value"], "rn", count_alias="n")
    w = F.greatest(F.lit(1).cast("long"), F.ceil(APPROX_PCT_WINDOW * F.col("n")).cast("long"))
    sel_cols = []
    for p in _APPROX_PCT_PS:
        t = int(p * 100)
        lo_rank = F.greatest(
            F.lit(1).cast("long"), F.floor(F.lit(p) * F.col("n")).cast("long") - w
        )
        hi_rank = F.least(
            F.col("n").cast("long"), F.ceil(F.lit(p) * F.col("n")).cast("long") + w
        )
        sel_cols.append(F.max(F.when(F.col("rn") == lo_rank, F.col("value"))).alias(f"p{t}_lo"))
        sel_cols.append(F.max(F.when(F.col("rn") == hi_rank, F.col("value"))).alias(f"p{t}_hi"))
    brackets = ranked.groupBy("event_type").agg(
        F.min("n").cast("long").alias("n"), *sel_cols
    )
    out_cols = ["event_type", "n"]
    joined = brackets.join(ests, "event_type")
    for i, p in enumerate(_APPROX_PCT_PS):
        t = int(p * 100)
        est = F.col("pcts")[i]
        out_cols.append(f"p{t}_lo")
        out_cols.append(f"p{t}_hi")
        joined = joined.withColumn(
            f"p{t}_ok", (F.col(f"p{t}_lo") <= est) & (est <= F.col(f"p{t}_hi"))
        )
        out_cols.append(f"p{t}_ok")
    return joined.select(*out_cols)


_UNPIVOT_ORACLE = """
WITH m AS (
  SELECT l_returnflag AS business,
         CAST(month(l_shipdate) AS INTEGER) AS ship_month,
         CAST(COUNT(*) AS DOUBLE) AS n_trips,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY 1, 2
)
SELECT business, ship_month, 'n_trips' AS metric, n_trips AS metric_value FROM m
UNION ALL
SELECT business, ship_month, 'revenue', revenue FROM m
"""


@register("unpivot_monthly_metrics", oracle=_UNPIVOT_ORACLE, tags=("agg", "unpivot"))
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via ``DataFrame.unpivot`` (A10's pivot in
    reverse): the (business, month) metric matrix melts into one
    (metric, value) row per cell — the shape metric stores and chart
    layers ingest.  Pure map-side after the aggregate; no extra shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy(
        F.col("l_returnflag").alias("business"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_trips"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )
    return wide.unpivot(
        ids=["business", "ship_month"],
        values=["n_trips", "revenue"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


_MINMAX_ORACLE = """
SELECT event_type,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


@register("value_extremes_by_event_type", oracle=_MINMAX_ORACLE, tags=("agg",))
def q_value_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count(F.lit(1)).alias("n"),
    )


# --- correlation from exact sufficient statistics ----------------------------

_CORR_ORACLE = """
WITH s AS (
  SELECT event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(hour(ts)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * hour(ts)) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(hour(ts) * hour(ts)) AS DOUBLE) AS syy
  FROM events GROUP BY 1
)
SELECT event_type, n,
       ((n * sxy) - (sx * sy))
         / (sqrt((n * sxx) - (sx * sx)) * sqrt((n * syy) - (sy * sy))) AS corr_value_hour
FROM s
"""


@register("corr_value_hour_by_event_type", oracle=_CORR_ORACLE, tags=("agg", "stats"))
def q_corr_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation (value vs hour-of-day) per event type, computed
    from *exact sufficient statistics*: all six sums accumulate in
    decimal/integer (order-independent, overflow-checked), and only the
    final closed-form expression runs in double with a pinned evaluation
    order — so results are bit-identical across engines AND across partition
    counts.  The built-in ``corr()`` is the one-liner alternative, but its
    streaming-covariance accumulation is reduction-order-sensitive, which
    breaks differential testing; same single-shuffle plan either way."""
    ev = load_table(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,2)")
    y = F.hour("ts")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy")) - (F.col("sx") * F.col("sy"))
    den = F.sqrt((n * F.col("sxx")) - (F.col("sx") * F.col("sx"))) * F.sqrt(
        (n * F.col("syy")) - (F.col("sy") * F.col("sy"))
    )
    return s.select("event_type", "n", (num / den).alias("corr_value_hour"))


# --- exact quartiles + IQR outliers ------------------------------------------

_QUARTILE_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       MAX(CASE WHEN rn = greatest(((n + 1) * 1) // 4, 1) THEN value END) AS q1,
       MAX(CASE WHEN rn = greatest(((n + 1) * 2) // 4, 1) THEN value END) AS q2,
       MAX(CASE WHEN rn = greatest(((n + 1) * 3) // 4, 1) THEN value END) AS q3
FROM ranked GROUP BY event_type
"""


def _exact_quartiles(ev: DataFrame) -> DataFrame:
    """Exact discrete quartiles per event_type via rank selection (same
    no-interpolation discipline as the median above: results are actual
    data values, so cross-engine comparison is exact).  Round-8 keyed
    sweep: rank numbering via ``keyed_row_number`` (no |types|-bounded
    window; tie permutations within equal values are harmless for
    value-at-rank selection — see the median)."""
    from ..functions.skew import keyed_row_number

    vals = ev.select("event_type", "value")
    # per-type frame size from the helper (count_alias) — drops the second
    # events scan the broadcast counts join paid (r12)
    ranked = keyed_row_number(vals, ["event_type"], ["value"], "rn", count_alias="n")
    qs = [
        F.max(
            F.when(F.col("rn") == F.expr(f"greatest(((n + 1) * {k}) div 4, 1)"), F.col("value"))
        ).alias(f"q{k}")
        for k in (1, 2, 3)
    ]
    return ranked.groupBy("event_type").agg(*qs)


@register("quartiles_by_event_type", oracle=_QUARTILE_ORACLE, tags=("agg", "quantile"))
def q_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact q1/q2/q3 per group — one shuffle, rank selection, pivot by
    CASE.  Generalizes the discrete median to arbitrary rank positions."""
    return _exact_quartiles(load_table(spark, sf_dir, "events"))


_IQR_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), q AS (
  SELECT event_type,
         MAX(CASE WHEN rn = greatest(((n + 1) * 1) // 4, 1) THEN value END) AS q1,
         MAX(CASE WHEN rn = greatest(((n + 1) * 3) // 4, 1) THEN value END) AS q3
  FROM ranked GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value
FROM events e JOIN q ON e.event_type = q.event_type
WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)
   OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
"""


@register("iqr_outlier_events", oracle=_IQR_ORACLE, tags=("agg", "quantile", "anomaly"))
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection: events outside
    [q1 − 1.5·IQR, q3 + 1.5·IQR] of their type's value distribution — the
    distribution-aware upgrade of the reference's fixed-threshold anomaly
    check (task5's ``> 300 s``; SURVEY.md §2.2 F6).  The fence arithmetic is
    a fixed chain of IEEE ops on values both engines hold bit-identically,
    so the flag set matches exactly.  Per-type quartiles are a |types|-row
    table → broadcast join back against the fact; the only big stage is the
    one rank shuffle."""
    ev = load_table(spark, sf_dir, "events")
    q = _exact_quartiles(ev).select("event_type", "q1", "q3")
    fence_lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    fence_hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .filter((F.col("value") < fence_lo) | (F.col("value") > fence_hi))
        .select("event_id", "event_type", "value")
    )


# --- winsorization ------------------------------------------------------------

_WINSOR_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
), p AS (
  SELECT event_type,
         MAX(CASE WHEN rn = greatest(((n + 1) * 5) // 100, 1) THEN value END) AS p05,
         MAX(CASE WHEN rn = least(greatest(((n + 1) * 95) // 100, 1), n) THEN value END) AS p95
  FROM ranked GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       least(greatest(e.value, p.p05), p.p95) AS value_winsorized,
       (e.value < p.p05 OR e.value > p.p95) AS clamped
FROM events e JOIN p ON e.event_type = p.event_type
"""


@register("winsorized_values_by_event_type", oracle=_WINSOR_ORACLE, tags=("agg", "quantile", "scrub"))
def q_winsorized_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp each event's value to its type's exact
    rank-based [p05, p95] band — the outlier TAMING counterpart of the IQR
    DETECTOR above (robust statistics pipelines clip rather than drop, so
    row counts and joins downstream stay stable).

    Exact rank selection (same discrete positions as the quartile family —
    no interpolation, so no float synthesis: every output value is one of
    the input's own doubles, and LEAST/GREATEST comparisons are
    bit-deterministic).  Plan (round-8 keyed sweep): rank numbering via
    ``keyed_row_number`` — a type's rows span many partitions instead of
    funneling through one |types|-bounded window task; tie permutations
    within equal values are harmless for value-at-rank selection (see the
    median) — then the |types|-row percentile table broadcasts back
    against the fact, identical shape to the IQR plan."""
    from ..functions.skew import keyed_row_number

    ev = load_table(spark, sf_dir, "events")
    vals = ev.select("event_type", "value")
    # per-type frame size from the helper (count_alias) — one scan fewer (r12)
    ranked = keyed_row_number(vals, ["event_type"], ["value"], "rn", count_alias="n")
    pos05 = F.greatest(F.floor(((F.col("n") + 1) * 5) / 100).cast("long"), F.lit(1))
    pos95 = F.least(
        F.greatest(F.floor(((F.col("n") + 1) * 95) / 100).cast("long"), F.lit(1)), F.col("n")
    )
    p = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == pos05, F.col("value"))).alias("p05"),
        F.max(F.when(F.col("rn") == pos95, F.col("value"))).alias("p95"),
    )
    return (
        ev.join(F.broadcast(p), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias("value_winsorized"),
            ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))).alias("clamped"),
        )
    )


# --- mergeable distinct-count sketches ----------------------------------------


def sketch_rollup_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full mergeable-sketch readout — per event_type, the RAW
    DataSketches HLL estimate from the union of that type's daily
    sketches, alongside day count and exact distinct.  The raw estimate
    has no cross-engine SQL twin (DuckDB's approx_count_distinct is a
    different HLL — different hashing/register math), so this detail
    frame is pinned in pytest (determinism, union-of-dailies ≡ one
    whole-corpus sketch, estimate within tolerance) while the registered
    query below exposes the ORACLE-CHECKABLE projection of the same
    computation."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.to_date("ts").alias("day"), "event_type", "user_id")
        .groupBy("day", "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    merged = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).cast("long").alias("distinct_users_est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("distinct_users_exact")
    )
    return merged.join(exact, "event_type").select(
        "event_type", "n_days", "distinct_users_est", "distinct_users_exact"
    )


#: tolerance the sketch estimate must meet vs exact distinct: 5% relative
#: (≈3 rsd for the default lgK=12 DataSketches HLL, rsd ≈ 1.04/√4096) with
#: a floor of 2 for tiny cardinalities — the same envelope the pytest pin
#: has enforced since round 6
SKETCH_TOL_REL = 0.05
SKETCH_TOL_ABS = 2

_SKETCH_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users_exact,
       TRUE AS est_within_tol
FROM events GROUP BY event_type
"""


@register(
    "daily_distinct_users_sketch_rollup",
    oracle=_SKETCH_ROLLUP_ORACLE,
    tags=("agg", "approx", "sketch"),
)
def q_daily_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count state — the warehouse pattern plain
    ``approx_count_distinct`` cannot express: build one DataSketches HLL
    sketch per (day, event_type) at ingest, then answer any date-range
    distinct-user question later by UNIONING the precomputed sketches —
    no rescan of the events, additive across arbitrary ranges.

    Oracle form (round-8 verdict item 5 — previously rows-only): the raw
    HLL estimate cannot hash-match a DuckDB twin (different HLL
    implementation), so the registered output carries the estimate as a
    BOUND check instead — ``est_within_tol`` is computed Spark-side from
    the real DataSketches estimate (|est − exact| ≤ max({SKETCH_TOL_ABS},
    {SKETCH_TOL_REL}·exact)) and the oracle asserts it TRUE for every
    type, alongside exact-matching n_days and distinct_users_exact.  An
    estimate drifting outside the envelope now FAILS the driver's hash
    gate rather than hiding behind a rows-only row.  The raw estimate
    surface lives in ``sketch_rollup_detail`` with its own pytest pins
    (determinism, union-of-dailies ≡ whole-corpus sketch, tolerance).

    Scale: daily sketch state is O(days × types × sketch_size) — KBs per
    key — and the rollup shuffles sketch BINARIES, never user ids."""
    est = F.col("distinct_users_est")
    exact = F.col("distinct_users_exact")
    return sketch_rollup_detail(spark, sf_dir).select(
        "event_type",
        "n_days",
        "distinct_users_exact",
        (
            F.abs(est - exact)
            <= F.greatest(F.lit(SKETCH_TOL_ABS), exact * SKETCH_TOL_REL)
        ).alias("est_within_tol"),
    )



_SKYLINE_ORACLE = """
WITH per_date AS (
  SELECT CAST(o_orderdate AS DATE) AS d, MAX(o_totalprice) AS max_p
  FROM orders GROUP BY 1
), frontier AS (
  SELECT d, max_p,
         MAX(max_p) OVER (ORDER BY d DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS later_max
  FROM per_date
)
SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_totalprice
FROM orders o
JOIN frontier f ON CAST(o.o_orderdate AS DATE) = f.d AND o.o_totalprice = f.max_p
WHERE f.later_max IS NULL OR f.max_p > f.later_max
"""


@register("order_skyline_price_date", oracle=_SKYLINE_ORACLE, tags=("olap", "skyline", "r4"))
def q_order_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of orders over (totalprice, orderdate): an
    order survives iff NO other order has a later-or-equal date AND a
    higher price (resp. equal price and strictly later date) — the classic
    preference query ("best tradeoffs", Borzsony et al. 2001).

    The 2-D skyline reduces to a sort-scan: collapse to per-date maxima
    (one hash agg — the corpus-sized step), then a running max over the
    |dates|-bounded frontier ordered date-descending; a date's champion is
    on the skyline iff it beats every strictly-later date's max.  The
    final join re-attaches the winning order rows by (date, price)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("o_orderdate"), "o_totalprice"
    )
    per_date = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("max_p")
    )
    w = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, -1)
    frontier = per_date.select(
        "d", "max_p", F.max("max_p").over(w).alias("later_max")
    ).filter(F.col("later_max").isNull() | (F.col("max_p") > F.col("later_max")))
    return orders.join(
        F.broadcast(frontier),
        (orders["o_orderdate"] == frontier["d"]) & (orders["o_totalprice"] == frontier["max_p"]),
    ).select("o_orderkey", "o_orderdate", "o_totalprice")



_ABC_ORACLE = """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey,
         CAST(revenue AS DOUBLE) AS revenue,
         CAST(SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(revenue) OVER () AS DOUBLE) AS cum_share
  FROM rev
)
SELECT o_custkey, revenue, cum_share,
       CASE WHEN cum_share <= 0.8 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


@register("customer_abc_classes", oracle=_ABC_ORACLE, tags=("olap", "pareto", "r4"))
def q_customer_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto revenue classification: rank customers by exact-decimal
    revenue, accumulate their share of the total, and band into A (first
    80% of revenue), B (to 95%), C (tail) — the classic inventory/CRM
    segmentation.  Cumulation runs over exact decimals in a deterministic
    (revenue desc, custkey) order, so the banding is reproducible; the
    unpartitioned window is entity-table-sized (customers, not orders) —
    at larger scale the same banding runs on a quantile-bucketed
    pre-aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec")
    )
    from ..functions.skew import global_running_sum

    # round-8 sweep: the cumulative-revenue window over |customers| rows is
    # now the two-phase running sum (descending order
    # encoded as ascending -rev_dec; exact decimal algebra, so the cum
    # shares are bit-identical); the grand total broadcasts from a 1-row
    # aggregate instead of an unbounded global window
    # the grand total rides out of the helper (total_alias; same exact
    # decimal algebra as the offsets) — the r11 persist + 1-row crossJoin
    # leg is gone, rev now has exactly one consumer (r12)
    ranked = global_running_sum(
        rev.withColumn("_neg", -F.col("rev_dec")),
        ["_neg", "o_custkey"],
        "rev_dec",
        "cum_dec",
        total_alias="tot_dec",
    ).select(
        "o_custkey",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("cum_dec").cast("double") / F.col("tot_dec").cast("double")).alias("cum_share"),
    )
    return ranked.select(
        "o_custkey",
        "revenue",
        "cum_share",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# --- interpolated percentiles (ANSI percentile_cont) -------------------------

# Both engines implement ANSI linear interpolation at rank p*(n-1):
# v[lo] + frac*(v[hi]-v[lo]).  The sorted-value inputs are identical sets, so
# the only cross-engine noise is the last-ulp of that one expression — one
# 9 dp rounding absorbs it (same discipline as the cosine/TF-IDF tiers; the
# exact rank-selection quartiles above stay the no-rounding ground truth).
_PCTL_CONT_ORACLE = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 9) AS p25,
       ROUND(quantile_cont(value, 0.50), 9) AS p50,
       ROUND(quantile_cont(value, 0.75), 9) AS p75,
       ROUND(quantile_cont(value, 0.99), 9) AS p99
FROM events
GROUP BY event_type
"""


@register("percentile_cont_by_event_type", oracle=_PCTL_CONT_ORACLE, tags=("agg", "quantile"))
def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``percentile_cont`` per group — the interpolating quantile
    surface (the exact rank-selection quartiles keep the discrete
    semantics; dashboards and SLO reports expect the interpolated one).

    Spark evaluates this as a true aggregate: per-group sorted buffers
    merged map-side, one shuffle on the group key.  Unlike the sketch
    path (``approx_percentiles_by_event_type``) this is exact, at the cost
    of buffering each group's values — appropriate when groups are bounded
    (here: |event types|); at 100 TB with unbounded groups, use the sketch."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        F.round(F.expr(f"percentile_cont({p}) WITHIN GROUP (ORDER BY value)"), 9).alias(name)
        for p, name in ((0.25, "p25"), (0.50, "p50"), (0.75, "p75"), (0.99, "p99"))
    ]
    return ev.groupBy("event_type").agg(*aggs)


# --- z-order clustering extents ----------------------------------------------


def _zorder_extents_oracle() -> str:
    from ..functions.zorder import zorder_sql

    z = zorder_sql("(l_partkey % 256)", "(l_suppkey % 256)")
    return f"""
WITH keyed AS (
  SELECT (l_partkey % 256) AS px, (l_suppkey % 256) AS sx,
         {z} AS zkey
  FROM lineitem
)
SELECT (zkey >> 8) AS zbucket,
       COUNT(*) AS n_rows,
       MIN(px) AS min_part, MAX(px) AS max_part,
       MIN(sx) AS min_supp, MAX(sx) AS max_supp
FROM keyed GROUP BY 1
"""


@register("lineitem_zorder_extents", oracle=_zorder_extents_oracle(), tags=("layout", "zorder"))
def q_zorder_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: Morton-key lineitem on (partkey, suppkey) and
    report each z-bucket's row count and per-dimension min/max extents
    (keys folded onto a 256×256 grid, 256 buckets of 16×16 each) —
    the measurable property that makes the layout worth paying for: every
    bucket's extent is a bounded RECTANGLE of the 2-D key space, so a
    z-sorted write gives parquet row-group skipping on filters over
    EITHER key (single-column sort bounds one dimension; z-order bounds
    both at ~√ granularity each).  ``functions.zorder`` documents the
    write-side recipe (`repartitionByRange` + `sortWithinPartitions` on
    the same key).

    Plan: pure integer bit arithmetic inside whole-stage codegen (no UDF),
    one aggregation on the 256-value bucket key — scan-bound at any
    scale.  Identical magic-number ladder runs as ANSI SQL on the oracle,
    so the key itself (not just the extents) is differentially pinned."""
    from ..functions.zorder import zorder_key

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("px"),
        (F.col("l_suppkey") % 256).alias("sx"),
    )
    keyed = li.select("px", "sx", zorder_key("px", "sx").alias("zkey"))
    return keyed.groupBy(F.shiftright("zkey", 8).alias("zbucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("px").alias("min_part"),
        F.max("px").alias("max_part"),
        F.min("sx").alias("min_supp"),
        F.max("sx").alias("max_supp"),
    )


# --- join-key skew profile ---------------------------------------------------

_SKEW_PROFILE_ORACLE = """
WITH kc AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n, user_id) AS rn,
         COUNT(*) OVER () AS k
  FROM kc
)
SELECT MAX(k) AS n_keys,
       CAST(SUM(n) AS BIGINT) AS total_rows,
       MAX(n) AS max_rows_per_key,
       MAX(CASE WHEN rn = greatest((k * 2) // 4, 1) THEN n END) AS p50,
       MAX(CASE WHEN rn = greatest((k * 99) // 100, 1) THEN n END) AS p99,
       ROUND(CAST(MAX(n) AS DOUBLE) * MAX(k) / SUM(n), 9) AS skew_factor
FROM ranked
"""


@register("join_key_skew_profile", oracle=_SKEW_PROFILE_ORACLE, tags=("diagnostic", "skew"))
def q_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit for events.user_id — the pre-flight check
    that decides between a plain join, a salted join (``functions.skew``),
    and AQE skew splitting: per-key cardinalities reduced to key count,
    max, exact rank-selected p50/p99, and the max/mean skew factor (the
    straggler multiplier a key-hashed shuffle would suffer).

    Plan: one map-side-combined count per key, then rank selection over
    the |keys|-sized profile (same discipline as the exact quartiles —
    percentiles are true data values).  The skew factor divides ONCE at
    the end (max·k/total, 9 dp) so both engines agree bitwise.  At 100 TB
    run it on a sample or on the aggregated key histogram you already
    maintain; the output is O(1)."""
    from ..functions.skew import global_row_number

    kc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # round-8 sweep: rank numbering over the |keys|-sized profile via the
    # two-phase pattern (the old unpartitioned window +
    # global-count window funneled every key through one task); the key
    # count rides out of the helper (count_alias) — the r11 persist +
    # 1-row crossJoin leg is gone, kc now has exactly one consumer (r12)
    ranked = global_row_number(kc, ["n", "user_id"], "rn", count_alias="k")
    return ranked.agg(
        F.max("k").alias("n_keys"),
        F.sum("n").cast("long").alias("total_rows"),
        F.max("n").alias("max_rows_per_key"),
        F.max(F.when(F.col("rn") == F.expr("greatest((k * 2) div 4, 1)"), F.col("n"))).alias("p50"),
        F.max(F.when(F.col("rn") == F.expr("greatest((k * 99) div 100, 1)"), F.col("n"))).alias("p99"),
        F.round(F.max("n").cast("double") * F.max("k") / F.sum("n"), 9).alias("skew_factor"),
    )


EQUIDEPTH_BUCKETS = 8

_EQUIDEPTH_ORACLE = f"""
WITH b AS (
  SELECT event_type, value,
         NTILE({EQUIDEPTH_BUCKETS}) OVER (
           PARTITION BY event_type ORDER BY value, event_id) AS bucket
  FROM events
)
SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
       MIN(value) AS lo, MAX(value) AS hi, COUNT(*) AS n
FROM b GROUP BY 1, 2
"""


@register("equi_depth_histogram_by_event_type", oracle=_EQUIDEPTH_ORACLE, tags=("agg", "quantile", "r5"))
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of ``events.value`` per event type: NTILE
    splits each group into {EQUIDEPTH_BUCKETS} equal-population buckets and
    the aggregate reports each bucket's [lo, hi] bounds and count — the
    histogram CBO statistics and drift monitors actually want (the fixed-
    WIDTH ``value_histogram`` starves in dense regions and wastes buckets in
    sparse ones; equal population adapts bin width to the distribution).

    Tie order is pinned (value, event_id) so the SQL-standard NTILE remainder
    rule — first ``n % B`` buckets take the extra row — assigns identically
    on both engines.  Plan (round-8 keyed sweep): per-type rank numbering
    via ``keyed_row_number`` over the duplicate-free (value, event_id)
    order — a type's rows span many partitions instead of funneling
    through one |types|-bounded window task — then ``ntile_from_rn``
    arithmetic (bit-identical to the window NTILE) and a map-side-
    combinable (type, bucket) agg; bucket bounds are true data values,
    never synthesized floats.  For monitoring-grade bounds swap in
    ``approx_percentiles_by_event_type``'s sketch; THIS form is the exact
    oracle that validates it."""
    from ..functions.skew import keyed_row_number, ntile_from_rn

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "event_id")
    # per-type frame size from the helper (count_alias) — one scan fewer (r12)
    return (
        keyed_row_number(ev, ["event_type"], ["value", "event_id"], "_rn", count_alias="_n")
        .select(
            "event_type",
            "value",
            ntile_from_rn(F.col("_rn"), F.col("_n"), EQUIDEPTH_BUCKETS)
            .cast("bigint")
            .alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"), F.count(F.lit(1)).alias("n"))
    )


BASKET_MIN_PAIR_COUNT = 2
BASKET_TOP_K = 100

_BASKET_LIFT_ORACLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS baskets FROM items),
item_counts AS (
  SELECT l_partkey, COUNT(*) AS cnt FROM items GROUP BY 1
),
pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_count
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, pair_count,
       ROUND(CAST(pair_count AS DOUBLE) / n.baskets, 9) AS support,
       ROUND(CAST(pair_count AS DOUBLE) / ca.cnt, 9) AS confidence_a_b,
       ROUND(CAST(pair_count * n.baskets AS DOUBLE) / (ca.cnt * cb.cnt), 9) AS lift
FROM pair_counts
JOIN item_counts ca ON ca.l_partkey = part_a
JOIN item_counts cb ON cb.l_partkey = part_b
CROSS JOIN n
WHERE pair_count >= {BASKET_MIN_PAIR_COUNT}
ORDER BY lift DESC, part_a, part_b
LIMIT {BASKET_TOP_K}
"""


@register("basket_part_pair_lift", oracle=_BASKET_LIFT_ORACLE, tags=("olap", "mining", "r5"))
def q_basket_part_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over order line items: for every part pair
    co-ordered in ≥ {BASKET_MIN_PAIR_COUNT} baskets, the association metrics
    (support, confidence, lift), top-{BASKET_TOP_K} by lift — the 2-itemset
    core of FP-growth-style affinity analysis, done as plain relational
    algebra.

    Scale shape: baskets materialize as per-order DISTINCT part ARRAYS
    (one orderkey-keyed shuffle), and the C(basket,2) pair fan-out runs
    MAP-SIDE as a nested array transform over each sorted basket — baskets
    are naturally bounded (≤ 7 lines/order here, ≤ tens anywhere), so the
    expansion is LINEAR in the fact table with a small constant, never
    |parts|², and no self-join exchange exists at all (the earlier
    items⋈items formulation re-shuffled both sides on orderkey).  One
    more shuffle aggregates pairs; the per-part counts are |parts|-sized
    and joined back broadcast.  Every metric is a single division of
    exact int64 counts rounded to 9 dp, so both engines agree bitwise.
    The final top-K is a TakeOrderedAndProject, not a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    n_baskets = baskets.agg(F.count(F.lit(1)).alias("baskets"))
    item_counts = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from ..functions.arrays import ordered_pairs

    pair_counts = (
        baskets.select(F.explode(ordered_pairs("parts", "part_a", "part_b")).alias("p"))
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= BASKET_MIN_PAIR_COUNT)
    )
    ca = item_counts.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    cb = item_counts.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    out = (
        pair_counts.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "pair_count",
            F.round(F.col("pair_count").cast("double") / F.col("baskets"), 9).alias("support"),
            F.round(F.col("pair_count").cast("double") / F.col("cnt_a"), 9).alias("confidence_a_b"),
            F.round(
                (F.col("pair_count") * F.col("baskets")).cast("double")
                / (F.col("cnt_a") * F.col("cnt_b")),
                9,
            ).alias("lift"),
        )
    )
    return out.orderBy(F.desc("lift"), "part_a", "part_b").limit(BASKET_TOP_K)


MAD_Z_CUTOFF = 3.5  # Iglewicz–Hoaglin modified z-score threshold

_MAD_ORACLE = f"""
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type, value AS m FROM ranked WHERE rn = (n + 1) // 2
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, med.m,
         abs(e.value - med.m) AS dev
  FROM events e JOIN med ON med.event_type = e.event_type
),
dranked AS (
  SELECT event_type, dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, dev AS mad FROM dranked WHERE rn = (n + 1) // 2
)
SELECT d.event_id, d.event_type, d.value,
       ROUND(0.6745 * (d.value - d.m) / mad.mad, 9) AS robust_z
FROM dev d JOIN mad ON mad.event_type = d.event_type
WHERE mad.mad <> 0
  AND abs(ROUND(0.6745 * (d.value - d.m) / mad.mad, 9)) > {MAD_Z_CUTOFF}
"""


@register("mad_outlier_events", oracle=_MAD_ORACLE, tags=("agg", "quantile", "anomaly", "r5"))
def q_mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via the MAD modified z-score (Iglewicz &
    Hoaglin): flag events where |0.6745·(x − median)/MAD| > {MAD_Z_CUTOFF}.
    Completes the anomaly ladder — fixed threshold (reference task 5) →
    IQR fences (``iqr_outlier_events``) → MAD, which keeps a 50 % breakdown
    point where the IQR's 25 % lets heavy contamination drag the fences.

    Both medians are exact DISCRETE rank selections (the
    ``median_value_by_event_type`` rule: element ⌈n/2⌉), so every
    intermediate is a true data value and the single rounded division is
    the only synthesized float — bit-identical cross-engine.  Plan
    (round-8 keyed sweep): two rank-selection passes over events via
    ``keyed_row_number`` (median, then median of absolute deviations) —
    each type's rows span many partitions instead of funneling through
    one |types|-bounded window task; tie permutations within equal
    values/deviations are harmless for value-at-rank selection (see the
    median) — with the |types|-row median frames joined back broadcast;
    sketch swap-in documented on the quartile family for extreme
    per-group cardinality."""
    from ..functions.skew import keyed_row_number

    def keyed_median(frame: DataFrame, col: str, alias: str) -> DataFrame:
        # per-type frame size from the helper (count_alias): the old
        # broadcast counts join re-executed `frame` once more per call —
        # for the deviations pass that was a whole events scan + join (r12)
        return (
            keyed_row_number(
                frame.select("event_type", col), ["event_type"], [col], "rn", count_alias="n"
            )
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(col).alias(alias))
        )

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = keyed_median(ev, "value", "m")
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("m"))
    )
    mad = keyed_median(dev, "dev", "mad")
    z = F.round(F.lit(0.6745) * (F.col("value") - F.col("m")) / F.col("mad"), 9)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") != 0)
        .select("event_id", "event_type", "value", z.alias("robust_z"))
        .filter(F.abs(F.col("robust_z")) > MAD_Z_CUTOFF)
    )


RFM_REFERENCE_DATE = "2001-09-01"  # just past the synthetic order horizon
RFM_BANDS = 5

_RFM_ORACLE = f"""
WITH base AS (
  SELECT o_custkey AS custkey,
         date_diff('day', MAX(o_orderdate), TIMESTAMP '{RFM_REFERENCE_DATE} 00:00:00')
           AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY 1
),
scored AS (
  SELECT custkey, recency_days, frequency, monetary,
         NTILE({RFM_BANDS}) OVER (ORDER BY recency_days DESC, custkey) AS r_score,
         NTILE({RFM_BANDS}) OVER (ORDER BY frequency ASC, custkey) AS f_score,
         NTILE({RFM_BANDS}) OVER (ORDER BY monetary ASC, custkey) AS m_score
  FROM base
)
SELECT custkey, recency_days, frequency, monetary,
       CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) AS rfm_code
FROM scored
"""


@register("customer_rfm_segments", oracle=_RFM_ORACLE, tags=("olap", "segmentation", "r5"))
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order, as of
    {RFM_REFERENCE_DATE}), Frequency (order count), Monetary (exact-decimal
    revenue) — each NTILE-scored into {RFM_BANDS} bands (5 = best: most
    recent / most frequent / highest spend) and packed into the classic
    3-digit ``rfm_code``.  The standard customer-value lens marketing and
    churn models consume, produced as one relational flow.

    Determinism: recency is exact integer day math, monetary is a DECIMAL
    sum cast once, each NTILE orders by (measure, custkey) so band edges
    tie-break identically on both engines.  Plan: one orders aggregation
    (customer-keyed shuffle), then the three measures stacked under a
    measure key ``_m`` and numbered by ONE ``keyed_row_number`` (descending
    recency encoded as ascending ``-recency_days``; every measure is an
    exact double), ntile arithmetic from the per-measure frame size, and a
    customer-keyed regroup back to one row per customer.  No
    single-partition sort, and the aggregate feeds one numbering instead
    of three chained ones that each re-ran everything below them."""
    from ..functions.skew import keyed_row_number, ntile_from_rn

    orders = load_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(RFM_REFERENCE_DATE).cast("date"), F.max("o_orderdate").cast("date")
        ).cast("bigint").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("monetary"),
    )
    measures = ("recency_days", "frequency", "monetary")
    stacked = base.select(
        "custkey",
        *measures,
        F.inline(F.array(
            F.struct(F.lit(0).alias("_m"), (-F.col("recency_days")).cast("double").alias("_v")),
            F.struct(F.lit(1).alias("_m"), F.col("frequency").cast("double").alias("_v")),
            F.struct(F.lit(2).alias("_m"), F.col("monetary").alias("_v")),
        )),
    )
    ranked = keyed_row_number(stacked, ["_m"], ["_v", "custkey"], "_rn", count_alias="_n")
    tile = ntile_from_rn(F.col("_rn"), F.col("_n"), RFM_BANDS).cast("bigint")
    scored = ranked.groupBy("custkey", *measures).agg(
        *[
            F.max(F.when(F.col("_m") == m, tile)).alias(score)
            for m, score in enumerate(("r_score", "f_score", "m_score"))
        ]
    )
    return scored.withColumn(
        "rfm_code",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast("bigint"),
    )


WILSON_Z = 1.959963985  # two-sided 95%
_WZ2 = WILSON_Z * WILSON_Z  # same literal inlined into BOTH engines' arithmetic

_WILSON_ORACLE = f"""
WITH per_user AS (
  SELECT event_type, user_id, COUNT(*) AS k FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type,
         COUNT(*) AS n_users,
         CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS repeaters
  FROM per_user GROUP BY 1
)
SELECT event_type, n_users, repeaters,
       ROUND(CAST(repeaters AS DOUBLE) / n_users, 9) AS rate,
       ROUND((CAST(repeaters AS DOUBLE) / n_users + {_WZ2!r} / (2 * n_users))
               / (1 + {_WZ2!r} / n_users)
             - ({WILSON_Z!r} / (1 + {_WZ2!r} / n_users))
               * sqrt((CAST(repeaters AS DOUBLE) / n_users) * (1 - CAST(repeaters AS DOUBLE) / n_users) / n_users
                      + {_WZ2!r} / (4 * CAST(n_users AS DOUBLE) * n_users)), 9) AS wilson_low,
       ROUND((CAST(repeaters AS DOUBLE) / n_users + {_WZ2!r} / (2 * n_users))
               / (1 + {_WZ2!r} / n_users)
             + ({WILSON_Z!r} / (1 + {_WZ2!r} / n_users))
               * sqrt((CAST(repeaters AS DOUBLE) / n_users) * (1 - CAST(repeaters AS DOUBLE) / n_users) / n_users
                      + {_WZ2!r} / (4 * CAST(n_users AS DOUBLE) * n_users)), 9) AS wilson_high
FROM base
"""


@register("repeat_rate_wilson_ci", oracle=_WILSON_ORACLE, tags=("agg", "stats", "r5"))
def q_repeat_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty-aware metric reporting: per event type, the share of
    users who REPEAT (≥2 events) with its 95% Wilson score interval — the
    interval that stays honest at small n and extreme rates where the
    naïve ±z√(p(1−p)/n) Wald band collapses or exits [0,1].  Every rate a
    dashboard ships should carry one of these; this is the template.

    Cross-engine determinism: z and z² are the SAME literals inlined into
    both arithmetic trees, the formula is one fixed parse of divisions and
    a sqrt over exact counts, rounded once per bound.  Plan: a user-keyed
    pre-aggregation then a |types|-sized rollup — map-side combined, one
    shuffle each."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("k"))
    base = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("k") >= 2).cast("int")).alias("repeaters"),
    )
    n = F.col("n_users")
    p = F.col("repeaters").cast("double") / n
    denom = F.lit(1) + F.lit(_WZ2) / n
    center = (p + F.lit(_WZ2) / (F.lit(2) * n)) / denom
    half = (F.lit(WILSON_Z) / denom) * F.sqrt(
        p * (F.lit(1) - p) / n + F.lit(_WZ2) / (F.lit(4) * n.cast("double") * n)
    )
    return base.select(
        "event_type",
        "n_users",
        "repeaters",
        F.round(p, 9).alias("rate"),
        F.round(center - half, 9).alias("wilson_low"),
        F.round(center + half, 9).alias("wilson_high"),
    )


_GINI_ORACLE = """
WITH rev AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_custkey) AS i, COUNT(*) OVER () AS n,
         SUM(r) OVER () AS tot
  FROM rev
),
s AS (
  SELECT MAX(n) AS n, MAX(tot) AS tot,
         SUM(i * r) AS weighted  -- Σ i·x(i) over the ascending ranking
  FROM ranked
)
SELECT n AS n_customers,
       ROUND(tot, 2) AS total_revenue,
       ROUND(2.0 * weighted / (n * tot) - (n + 1.0) / n, 9) AS gini
FROM s
"""


@register("customer_revenue_gini", oracle=_GINI_ORACLE, tags=("olap", "pareto", "r5"))
def q_customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the scalar
    inequality measure completing the Pareto family (``customer_abc_classes``
    bands members, ``order_skyline`` finds extremes; Gini summarizes HOW
    concentrated the whole distribution is, 0 = uniform, →1 = one customer
    is the business).  Computed by the exact rank formula
    G = 2·Σi·x₍ᵢ₎/(n·Σx) − (n+1)/n over the ascending revenue ranking.

    Revenue is an exact DECIMAL sum per customer cast once; the rank
    weighting Σi·x₍ᵢ₎ is a float sum over an UNORDERED aggregate — but
    every term is i·x with exact i and the 9-dp rounding absorbs fold-order
    ulp noise (terms share magnitude; no cancellation).  Ties in revenue
    rank by custkey on both engines.  Plan: customer rollup (one shuffle),
    |customers|-sized global rank window (sketch swap documented on the
    median family at extreme n), 1-row output."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("r")
    )
    # round-8 sweep: global rank numbering via the two-phase pattern (no
    # |customers|-sized single-partition sort); n and the revenue total
    # broadcast from a 1-row aggregate instead of unbounded global windows
    from ..functions.skew import global_row_number

    # n and tot fold into the single final aggregate over the ranked rows
    # (same row multiset, so the count is exact and the double total is the
    # same arbitrary-order reduction class as before) — the r11 persist +
    # 1-row crossJoin leg is gone, rev now has exactly one consumer (r12)
    ranked = global_row_number(rev, ["r", "o_custkey"], "i")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("tot"),
        F.sum(F.col("i") * F.col("r")).alias("weighted"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("tot"), 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.col("weighted") / (F.col("n") * F.col("tot"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            9,
        ).alias("gini"),
    )


# --- weighted median ---------------------------------------------------------

_WEIGHTED_MEDIAN_ORACLE = """
WITH r AS (
  SELECT l_returnflag AS flag, l_discount AS disc,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT flag, disc,
         SUM(rev) OVER (PARTITION BY flag ORDER BY disc
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(rev) OVER (PARTITION BY flag) AS tot
  FROM r
)
SELECT flag, MIN(disc) AS weighted_median_discount
FROM c WHERE 2 * cum >= tot
GROUP BY flag
"""


@register("revenue_weighted_median_discount", oracle=_WEIGHTED_MEDIAN_ORACLE, tags=("analytics", "agg", "r6"))
def q_revenue_weighted_median_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: per return flag, the discount level at which half
    the REVENUE (not half the rows) sits at or below — the
    distribution-over-weight statistic behind 'half our revenue ships at
    ≤ X% discount' (``percentile_cont`` queries answer the unweighted
    form; a row-median discount would overweight cheap lines).

    Exactness discipline: the crossing test is ``2·cum ≥ tot`` in DECIMAL
    arithmetic — no 0.5× double epsilon at the boundary — over cumulative
    sums of the exact decimal revenue.  Plan: one (flag, discount) hash
    aggregate collapses the fact scan to |flags|×|discount levels| rows
    (map-side partials do the heavy lifting), and every window after that
    runs on that tiny frame — the pattern for weighted quantiles over any
    low-cardinality weight axis at 100 TB.  For continuous axes you bucket
    first (cf. ``value_histogram``) and pay one more shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    r = (
        li.groupBy(F.col("l_returnflag").alias("flag"), F.col("l_discount").alias("disc"))
        .agg(rev.alias("rev"))
    )
    w_cum = Window.partitionBy("flag").orderBy("disc").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy("flag")
    c = r.select(
        "flag",
        "disc",
        F.sum("rev").over(w_cum).alias("cum"),
        F.sum("rev").over(w_tot).alias("tot"),
    )
    return (
        c.filter(F.lit(2) * F.col("cum") >= F.col("tot"))
        .groupBy("flag")
        .agg(F.min("disc").alias("weighted_median_discount"))
    )



# --- Poisson-bootstrap confidence intervals -----------------------------------

BOOT_B = 32  # resamples
BOOT_LO_RANK = 4  # 4th / 29th of 32 sorted resample means ≈ central 80% CI
BOOT_HI_RANK = 29
#: Poisson(1) CDF as exact double literals (inverse-CDF sampling thresholds)
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
)
#: ONE md5 per row yields a 32-bit seed; each of the B uniforms is then a
#: cheap integer mix of (seed, b) — a 32-bit multiply-xor-shift finalizer
#: (two rounds of ``x ^= x>>16; x *= 0x45d9f3b`` over ``seed + b·Knuth``,
#: everything reduced mod 2^32 so no signed-64 overflow on either engine).
#: Cryptographic hashing was the dominant fan-out cost (round-4: B md5s per
#: row, 9.4 s; round-5: ceil(B/3) via 3 uniforms per hash, 6.4 s); one hash
#: plus B integer mixes removes it from the per-draw path entirely.  32
#: bits is far beyond the Poisson thresholds' resolution, and the division
#: by 2^32 is one exact double op — bit-identical cross-engine.
_MIX_KNUTH = 2654435761  # Knuth's 32-bit multiplicative constant
_MIX_MUL = 0x45D9F3B  # lowbias32-style finalizer multiplier (< 2^27)
_MOD32 = 1 << 32
_U32 = float(1 << 32)


def _pois_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t!r} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE {len(_POIS_CDF)} END"


_BOOT_ORACLE = f"""
WITH seeds AS (
  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS seed
  FROM events
), m0 AS (
  SELECT event_type, v, CAST(b AS INTEGER) AS b,
         (seed + b * {_MIX_KNUTH}) % {_MOD32} AS x0
  FROM seeds, UNNEST(range({BOOT_B})) AS u(b)
), m1 AS (
  SELECT event_type, v, b, (xor(x0, x0 >> 16) * {_MIX_MUL}) % {_MOD32} AS x1 FROM m0
), m2 AS (
  SELECT event_type, v, b, (xor(x1, x1 >> 16) * {_MIX_MUL}) % {_MOD32} AS x2 FROM m1
), draws AS (
  SELECT event_type, b, v,
         {_pois_case_sql(f"(CAST(xor(x2, x2 >> 16) AS DOUBLE) / {_U32!r})")} AS w
  FROM m2
), rs AS (
  SELECT event_type, b,
         CAST(SUM(w * v) AS DOUBLE) / SUM(w) AS m
  FROM draws GROUP BY 1, 2 HAVING SUM(w) > 0
), ranked AS (
  SELECT event_type, m, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n_rs
  FROM rs
), ci AS (
  SELECT event_type,
         MIN(CASE WHEN rn = {BOOT_LO_RANK} THEN m END) AS lo,
         MIN(CASE WHEN rn = {BOOT_HI_RANK} THEN m END) AS hi,
         MIN(n_rs) AS n_resamples
  FROM ranked GROUP BY 1
), base AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_value
  FROM events GROUP BY 1
)
SELECT base.event_type, base.n_events,
       ROUND(base.mean_value, 9) AS mean_value,
       ROUND(ci.lo, 9) AS ci_lo,
       ROUND(ci.hi, 9) AS ci_hi,
       CAST(ci.n_resamples AS BIGINT) AS n_resamples
FROM base JOIN ci USING (event_type)
"""


@register("bootstrap_mean_ci", oracle=_BOOT_ORACLE, tags=("agg", "stats", "r10"))
def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-type mean value —
    the one-pass bootstrap a distributed system can actually run (Chamandy
    et al. 2012, "Estimating Uncertainty for Massive Data Streams"):
    sampling WITH replacement needs coordinated global draws, but Poisson(1)
    weights per (row, resample) approximate it with independent per-row
    randomness, so all {BOOT_B} resamples ride ONE map-side pass.

    Determinism (the engine's sketch-tier discipline): ONE md5 per row
    seeds a 32-bit integer; each (row, resample) uniform is a multiply-
    xor-shift finalizer over (seed + b·Knuth) reduced mod 2^32 at every
    step (no signed-64 overflow on either engine, no ANSI-mode hazard),
    divided once by 2^32 — exact in a double, so the DuckDB oracle
    reproduces every resample bit-for-bit and the driver hash-checks the
    CI itself.  (Round-5 carried ceil(B/3) md5s per row as the #2 sweep
    cost; the crypto hash is now per-ROW, the per-DRAW work is four
    integer ops.)  The Poisson inverse CDF is a literal threshold chain,
    resample sums are exact DECIMAL / int64, each mean one division.
    The CI is rank-based: the {BOOT_LO_RANK}th/{BOOT_HI_RANK}th of the
    {BOOT_B} sorted resample means (central ~80%).

    Plan: {BOOT_B}× row fan-out collapsing immediately into a
    (type, resample)-keyed partial aggregate — cardinality |types|·{BOOT_B}
    — then a |types|-sized rank selection; the fan-out never survives an
    exchange."""
    ev = load_table(spark, sf_dir, "events")
    # the md5 seed is projected once per row (cross-engine contract) and
    # the value is carried as EXACT integer micro-units — decimal(18,6)
    # scaled by 10^6 is integral by construction, so every downstream sum
    # is exact int64 algebra
    seed = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    narrow = ev.select(
        "event_type",
        seed.alias("seed"),
        (F.col("value").cast("decimal(18,6)") * 1000000).cast("long").alias("v_micros"),
    )

    # r12 (guide §4.2): the B-way fan-out — 32 draws × (integer mix + a
    # 7-branch CASE + a decimal multiply) per event as codegen'd JVM
    # expressions over |events|·B exploded rows — moves into ONE Arrow
    # pass: NumPy evaluates the identical integer mix on an (n × B) int64
    # matrix (no signed-64 overflow: x < 2^32, multiplier < 2^27) and
    # searchsorted(CDF, u, 'right') IS the CASE chain (smallest k with
    # u < cdf[k], else len).  Each batch emits per-(type, b) partial sums
    # (types·B rows, model-sized) plus a b = -1 row carrying the base
    # count/total, so nothing corpus-sized survives the pass and the old
    # second events scan for the base stats is gone too.
    n_b, cdf = BOOT_B, _POIS_CDF
    knuth, mul, mod32, u32 = _MIX_KNUTH, _MIX_MUL, _MOD32, _U32

    def partials(batches):
        import numpy as np
        import pandas as pd

        bs = (np.arange(n_b, dtype=np.int64) * knuth)[None, :]  # (1, B)
        thresholds = np.asarray(cdf, dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = (pdf["seed"].to_numpy(dtype=np.int64)[:, None] + bs) % mod32
            x = ((x ^ (x >> 16)) * mul) % mod32
            x = ((x ^ (x >> 16)) * mul) % mod32
            u = (x ^ (x >> 16)).astype(np.float64) / u32  # exact: ints < 2^32
            w = np.searchsorted(thresholds, u, side="right")
            v = pdf["v_micros"].to_numpy(dtype=np.int64)
            types = pdf["event_type"].to_numpy()
            out_t, out_b, out_sw, out_swv = [], [], [], []
            for t in pd.unique(types):
                m = types == t
                wt = w[m]
                out_t.extend([t] * (n_b + 1))
                out_b.extend(range(n_b))
                out_sw.extend(wt.sum(axis=0).tolist())
                out_swv.extend((wt * v[m][:, None]).sum(axis=0).tolist())
                out_b.append(-1)  # base-stat row: (count, Σ v_micros)
                out_sw.append(int(m.sum()))
                out_swv.append(int(v[m].sum()))
            yield pd.DataFrame(
                {"event_type": out_t, "b": out_b, "sw": out_sw, "swv_micros": out_swv}
            )

    agg = (
        narrow.mapInPandas(
            partials, schema="event_type string, b int, sw long, swv_micros long"
        )
        .groupBy("event_type", "b")
        .agg(F.sum("sw").alias("sw"), F.sum("swv_micros").alias("swv_micros"))
        .collect()  # ≤ |types|·(B+1) rows — model-sized, never corpus-sized
    )
    # Driver-side rank selection over ≤ |types|·B resample means (the
    # CC-fingerprint rule).  float(Fraction(micros, 10^6)) is the
    # correctly-rounded nearest double of the exact decimal value — the
    # same result as the old CAST(DECIMAL(28,6) AS DOUBLE) — and the one
    # IEEE division by the int count matches the old double/long divide;
    # rank ties carry equal VALUES, so sorted() reproduces the window's
    # value-at-rank picks exactly.
    from fractions import Fraction

    per_type: dict[str, dict] = {}
    for r in agg:
        d = per_type.setdefault(r["event_type"], {"ms": [], "n": 0, "tot": 0})
        if r["b"] == -1:
            d["n"], d["tot"] = r["sw"], r["swv_micros"]
        elif r["sw"] > 0:
            d["ms"].append(float(Fraction(r["swv_micros"], 10**6)) / r["sw"])
    rows = []
    for t in sorted(per_type):
        d = per_type[t]
        ms = sorted(d["ms"])
        rows.append(
            (
                t,
                d["n"],
                float(Fraction(d["tot"], 10**6)) / d["n"] if d["n"] else None,
                ms[BOOT_LO_RANK - 1] if len(ms) >= BOOT_LO_RANK else None,
                ms[BOOT_HI_RANK - 1] if len(ms) >= BOOT_HI_RANK else None,
                len(ms),
            )
        )
    out = spark.createDataFrame(
        rows,
        "event_type string, n_events long, mean_value double, "
        "lo double, hi double, n_resamples long",
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("mean_value", 9).alias("mean_value"),
        F.round("lo", 9).alias("ci_lo"),
        F.round("hi", 9).alias("ci_hi"),
        "n_resamples",
    )
