"""Per-group feature normalization — declarative window form (the plan to
run) plus the ``applyInPandas`` grouped-map form (the API surface, proven
equivalent).

The grouped-map pattern — whole group in, whole group out as one pandas
frame — is the escape hatch for per-group logic that needs the full group in
memory (model scoring, per-entity calibration).  Min-max scaling is used
here because its arithmetic ((x - min) / (max - min)) is bit-deterministic:
min/max are order-independent, so the DuckDB oracle matches exactly even
through the Arrow round-trip — proving the plumbing without a tolerance
fudge.

WHICH FORM TO RUN: for an expressible-in-SQL scaler over MANY SMALL groups
(per-user events: ~10 rows/group), grouped-map is the wrong physical shape
— one Python function call + two pandas frame constructions per group make
the per-group overhead, not the arithmetic, the cost (measured 3.7 s vs
0.4 s at sf0.1).  The registered query therefore plans the window form
(one shuffle, JVM-side, any group size); ``minmax_normalize`` remains the
grouped-map escape hatch for logic a window can't express, and
``test_datapipe.py`` pins the two bit-identical.  The UDF is a closure —
see the pickle-by-value rule in ``streaming.stateful``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..registry import register
from ..sources import load_table

NORMALIZED_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("norm_value", DoubleType()),
    ]
)


def minmax_normalize(df: DataFrame, key: str = "user_id", value: str = "value") -> DataFrame:
    """Per-key min-max scaling to [0, 1]; constant groups yield null."""

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = pdf[value].min(), pdf[value].max()
        # constant groups must be true NULLs, not NaN: a float64 Series of
        # None is NaN, which Arrow ships to Spark as NaN — the SQL CASE
        # oracle yields NULL, and NaN vs NULL hash-mismatches.  The masked
        # nullable Float64 dtype round-trips through Arrow as real nulls.
        norm = (
            (pdf[value] - lo) / (hi - lo)
            if hi > lo
            else pd.array([pd.NA] * len(pdf), dtype="Float64")
        )
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf[key],
                "value": pdf[value],
                "norm_value": norm,
            }
        )

    return df.groupBy(key).applyInPandas(scale, schema=NORMALIZED_SCHEMA)


def minmax_normalize_window(df: DataFrame, key: str = "user_id", value: str = "value") -> DataFrame:
    """Window-function formulation of the same scaler: one hash exchange on
    the key, unbounded min/max frames, all JVM-side — the shape that wins
    whenever the per-group logic is SQL-expressible (any group size, no
    per-group Python dispatch)."""
    from pyspark.sql import Window

    w = Window.partitionBy(key)
    lo, hi = F.min(value).over(w), F.max(value).over(w)
    return df.select(
        "event_id",
        F.col(key).alias("user_id"),
        F.col(value).alias("value"),
        F.when(hi > lo, (F.col(value) - lo) / (hi - lo)).alias("norm_value"),
    )


_MINMAX_ORACLE = """
SELECT event_id, user_id, value,
       CASE WHEN MAX(value) OVER w > MIN(value) OVER w
            THEN (value - MIN(value) OVER w) / (MAX(value) OVER w - MIN(value) OVER w)
       END AS norm_value
FROM events
WINDOW w AS (PARTITION BY user_id)
"""


@register("minmax_normalized_values", oracle=_MINMAX_ORACLE, tags=("datapipe", "window"))
def q_minmax_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user min-max scaling, window form (see module docstring for why
    the registered plan is the window, not the grouped-map: ~10-row groups
    make per-group Python dispatch the dominant cost — 9× at sf0.1)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return minmax_normalize_window(ev)


# --- cross-source quantile normalization ----------------------------------------


_QN_ORACLE = """
WITH scored AS (
  SELECT doc_id, source,
         CAST(n_chars AS DOUBLE)
           / len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS score
  FROM documents
),
ranked AS (
  SELECT doc_id, source, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY score, doc_id) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns
  FROM scored
),
g AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY 1),
lat AS (
  SELECT score, CAST(SUM(c) OVER (ORDER BY score) AS BIGINT) AS cum,
         CAST(SUM(c) OVER (ORDER BY score) - c AS BIGINT) AS below
  FROM g
),
nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM g),
pos AS (
  SELECT r.doc_id, r.source, r.score,
         CASE WHEN r.ns = 1 THEN 0.5 ELSE CAST(r.i - 1 AS DOUBLE) / (r.ns - 1) END
           * (nn.n - 1) AS p
  FROM ranked r CROSS JOIN nn
),
j AS (
  SELECT doc_id, source, score, p,
         CAST(floor(p) + 1 AS BIGINT) AS jlo,
         p - floor(p) AS frac
  FROM pos
),
lo AS (
  SELECT j.doc_id, j.source, j.score, j.frac, j.jlo, lat.score AS xlo
  FROM j JOIN lat ON j.jlo > lat.below AND j.jlo <= lat.cum
),
hi AS (
  SELECT lo.doc_id, lo.source, lo.score, lo.frac, lo.xlo,
         CASE WHEN lo.frac = 0 THEN lo.xlo ELSE h.score END AS xhi
  FROM lo LEFT JOIN lat h ON lo.frac <> 0 AND lo.jlo + 1 > h.below AND lo.jlo + 1 <= h.cum
)
SELECT doc_id, source, ROUND(score, 9) AS score,
       ROUND(xlo * (1 - frac) + xhi * frac, 9) AS norm_score
FROM hi
"""


@register("quantile_normalized_scores", oracle=_QN_ORACLE, tags=("datapipe", "normalize", "mixture", "r9"))
def q_quantile_normalized_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quantile normalization of a per-document score (here
    chars-per-token, a verbosity proxy deliberately DIFFERENT per source):
    each document's value is replaced by the POOLED distribution's
    interpolated quantile at the document's source-local rank fraction —
    after the transform every source has the same marginal distribution,
    so one global threshold treats them identically (the microarray
    normalization workhorse, Bolstad et al. 2003, applied to curation
    scores; the transform ``source_score_calibration`` audits the need
    for).  Rank fraction f = (i−1)/(n_s−1) (midpoint for singleton
    sources); target = linear interpolation between pooled order
    statistics x_(⌊f(N−1)⌋+1) and the next.

    Scale shape (round-8 sweep): source-local ranks via the two-level
    ``keyed_row_number`` (a source's docs span many partitions — the old
    ``Window.partitionBy(source)`` bounded parallelism by |sources|),
    per-source counts via a broadcast join on the tiny per-source
    aggregate, the pooled order statistics come from the collapsed score
    LATTICE via the two-phase global running sum (the lattice is
    real-valued chars-per-token, so distinct scores grow with docs —
    never a single-partition cumulative window), and each doc fetches its
    two bracketing order statistics via range joins against the broadcast
    lattice.
    Exactness: ranks/cumulative counts are int64; f, p, frac and the
    interpolation are fixed double parse trees over exact ints and
    identical score doubles; ties in the local rank break on doc_id.  The
    frac = 0 branch skips the upper lookup entirely (p lands exactly on an
    order statistic), keeping the hi join's row count honest."""
    from ..functions.skew import global_running_sum, keyed_row_number

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " "
    )
    scored = docs.select(
        "doc_id",
        "source",
        (F.col("n_chars").cast("double") / F.size(toks)).alias("score"),
    )
    # scored feeds the rank chain AND the per-score histogram (+ its 1-row
    # total); each consumer re-runs the narrow tokenize pass, which is
    # cheaper than pinning it.  The per-source frame size rides out of the
    # helper (count_alias) — the old
    # broadcast per_src join was a third tokenize pass (r12)
    ranked = keyed_row_number(
        scored, ["source"], ["score", "doc_id"], "i", count_alias="ns"
    ).withColumn("i", F.col("i").cast("long"))
    g = scored.groupBy("score").agg(F.count(F.lit(1)).cast("long").alias("c"))
    lat = global_running_sum(g, ["score"], "c", "_cum").select(
        F.col("score").alias("xval"),
        F.col("_cum").cast("long").alias("cum"),
        (F.col("_cum") - F.col("c")).cast("long").alias("below"),
    )
    nn = g.agg(F.sum("c").cast("long").alias("n"))  # 1 row, broadcast, lazy
    p = (
        F.when(F.col("ns") == 1, F.lit(0.5)).otherwise(
            (F.col("i") - 1).cast("double") / (F.col("ns") - 1)
        )
        * (F.col("n") - 1)
    )
    j = (
        ranked.crossJoin(F.broadcast(nn))
        .withColumn("p", p)
        .withColumn("jlo", (F.floor("p") + 1).cast("long"))
        .withColumn("frac", F.col("p") - F.floor("p"))
    )
    lo = j.join(
        F.broadcast(lat),
        (F.col("jlo") > F.col("below")) & (F.col("jlo") <= F.col("cum")),
    ).select("doc_id", "source", "score", "frac", "jlo", F.col("xval").alias("xlo"))
    hi_lat = lat.select(
        F.col("xval").alias("xhi_val"), F.col("cum").alias("hcum"), F.col("below").alias("hbelow")
    )
    hi = lo.join(
        F.broadcast(hi_lat),
        (F.col("frac") != 0)
        & (F.col("jlo") + 1 > F.col("hbelow"))
        & (F.col("jlo") + 1 <= F.col("hcum")),
        "left",
    ).select(
        "doc_id",
        "source",
        "score",
        "frac",
        "xlo",
        F.when(F.col("frac") == 0, F.col("xlo")).otherwise(F.col("xhi_val")).alias("xhi"),
    )
    return hi.select(
        "doc_id",
        "source",
        F.round("score", 9).alias("score"),
        F.round(F.col("xlo") * (1 - F.col("frac")) + F.col("xhi") * F.col("frac"), 9).alias(
            "norm_score"
        ),
    )
