"""Hand-case pins for the round-4 analytics operators whose semantics have
edge cases (skyline domination, EWMA bias correction, ABC banding).
Registered-query parity is covered by ``test_oracle_parity``."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


def test_skyline_domination_semantics(spark, tmp_path, tmp_stage):
    """Later-or-equal date + strictly higher price dominates; equal price at
    a strictly later date dominates; same-date equal-price duplicates are
    both kept."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.analytics import (
        q_order_skyline,
    )

    d = dt.datetime
    rows = [
        # (key, date, price)
        (1, d(2024, 1, 1), 100.0),  # dominated by 3 (later, higher)
        (2, d(2024, 1, 2), 90.0),   # dominated by 3 (later date, higher price? 3 is later & higher)
        (3, d(2024, 1, 3), 120.0),  # skyline (latest high point)
        (4, d(2024, 1, 4), 80.0),   # skyline (latest date)
        (5, d(2024, 1, 1), 120.0),  # dominated by 3: equal price, later date
        (6, d(2024, 1, 4), 80.0),   # duplicate of 4: both kept
    ]
    spark.createDataFrame(
        [Row(o_orderkey=k, o_custkey=1, o_orderstatus="F", o_totalprice=p, o_orderdate=t,
             o_orderpriority="1") for k, t, p in rows]
    ).write.parquet(f"{tmp_path}/orders.parquet")
    got = {r["o_orderkey"] for r in q_order_skyline(spark, str(tmp_path)).collect()}
    assert got == {3, 4, 6}


def test_ewma_matches_pandas_adjust_true(spark, tmp_path, tmp_stage):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        EWMA_ALPHA,
        q_daily_ewma_counts,
    )

    base = dt.datetime(2024, 3, 1)
    # events on days 0,0,0,2,5,5 → dense counts [3,0,1,0,0,2]
    offs = [0, 0, 0, 2, 5, 5]
    spark.createDataFrame(
        [Row(event_id=i, ts=base + dt.timedelta(days=o, minutes=i), user_id=1,
             event_type="click", value=1.0, props="{}") for i, o in enumerate(offs)]
    ).write.parquet(f"{tmp_path}/events.parquet")
    got = {r["day"].isoformat(): r["ewma"] for r in q_daily_ewma_counts(spark, str(tmp_path)).collect()}
    series = pd.Series([3, 0, 1, 0, 0, 2], dtype=float)
    want = series.ewm(alpha=EWMA_ALPHA, adjust=True).mean()
    for i, day in enumerate(pd.date_range("2024-03-01", periods=6)):
        assert got[day.date().isoformat()] == pytest.approx(want.iloc[i], abs=1e-8), i


def test_abc_classes_band_by_cumulative_share(spark, tmp_path, tmp_stage):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.analytics import (
        q_customer_abc,
    )

    d = dt.datetime(2024, 1, 1)
    # customer revenues: 70, 15, 10, 5 → cum shares 0.70 (A), 0.85 (B... wait
    # 0.85 > 0.8 → B), 0.95 (B), 1.00 (C)
    rows = [(1, 70.0), (2, 15.0), (3, 10.0), (4, 5.0)]
    spark.createDataFrame(
        [Row(o_orderkey=i, o_custkey=c, o_orderstatus="F", o_totalprice=p,
             o_orderdate=d, o_orderpriority="1") for i, (c, p) in enumerate(rows)]
    ).write.parquet(f"{tmp_path}/orders.parquet")
    got = {r["o_custkey"]: r["abc_class"] for r in q_customer_abc(spark, str(tmp_path)).collect()}
    assert got == {1: "A", 2: "B", 3: "B", 4: "C"}


def test_zorder_key_matches_python_reference(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.zorder import (
        zorder_key,
    )

    def py_morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (255, 256)]
    df = spark.createDataFrame(vals, "x long, y long")
    got = {(r["x"], r["y"]): r["z"] for r in df.select("x", "y", zorder_key("x", "y").alias("z")).collect()}
    for x, y in vals:
        assert got[(x, y)] == py_morton(x, y), (x, y)


def test_zorder_bounds_both_dimensions(spark):
    """Chunks of a z-sorted layout span bounded rectangles: max extent of
    EACH dimension per chunk is ~sqrt(domain), where a single-column sort
    leaves the other dimension unbounded."""
    import itertools

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.zorder import (
        zorder_key,
    )

    # full 64x64 grid → 16 chunks of 256 rows each under a z-sort
    grid = spark.createDataFrame(
        [(x, y) for x, y in itertools.product(range(64), range(64))], "x long, y long"
    )
    rows = grid.select("x", "y", zorder_key("x", "y").alias("z")).orderBy("z").collect()
    for c in range(16):
        chunk = rows[c * 256 : (c + 1) * 256]
        xs = [r["x"] for r in chunk]
        ys = [r["y"] for r in chunk]
        assert max(xs) - min(xs) <= 15 and max(ys) - min(ys) <= 15  # 16x16 rectangle
