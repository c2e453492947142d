"""Unit semantics for the round-4 behavioral-analytics and record-linkage
operators (DuckDB parity for the registered queries lives in
``test_oracle_parity``; these pin the math on hand-built frames)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.linkage import (
    deletion_variants,
    fuzzy_pairs,
)


def _events(spark, rows):
    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=base + dt.timedelta(minutes=i),
                user_id=u,
                event_type=t,
                value=1.0,
                props="{}",
            )
            for i, (u, t) in enumerate(rows)
        ]
    )


def test_entropy_zero_for_single_type_uniform_for_even_mix(spark, tmp_path, tmp_stage):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.behavior import (
        q_user_event_entropy,
    )

    ev = _events(
        spark,
        [(1, "click")] * 4 + [(2, "click"), (2, "view"), (2, "click"), (2, "view")],
    )
    ev.write.parquet(f"{tmp_path}/events.parquet")
    out = {r["user_id"]: r for r in q_user_event_entropy(spark, str(tmp_path)).collect()}
    assert out[1]["entropy"] == pytest.approx(0.0, abs=1e-12)
    assert out[1]["n_types"] == 1
    assert out[2]["entropy"] == pytest.approx(math.log(2), abs=1e-9)
    assert out[2]["n_events"] == 4


def test_transition_probs_row_normalized_and_ordered(spark, tmp_path, tmp_stage):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.behavior import (
        q_event_transition_probs,
    )

    # user 1: a->b->a->c ; user 2: a->b  (transitions: a->b ×2, b->a, a->c)
    ev = _events(spark, [(1, "a"), (1, "b"), (1, "a"), (1, "c"), (2, "a"), (2, "b")])
    ev.write.parquet(f"{tmp_path}/events.parquet")
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p"])
        for r in q_event_transition_probs(spark, str(tmp_path)).collect()
    }
    assert got[("a", "b")] == (2, pytest.approx(2 / 3))
    assert got[("a", "c")] == (1, pytest.approx(1 / 3))
    assert got[("b", "a")] == (1, pytest.approx(1.0))
    # out-probabilities sum to 1 per source state
    mass: dict[str, float] = {}
    for (src, _), (_, p) in got.items():
        mass[src] = mass.get(src, 0.0) + p
    assert all(abs(m - 1.0) < 1e-12 for m in mass.values())


def test_deletion_variants_cover_distance_one_neighborhood(spark):
    df = spark.createDataFrame([Row(k=1, name="abc")])
    got = {r["variant"] for r in deletion_variants(df, "name").collect()}
    assert got == {"abc", "bc", "ac", "ab"}


def test_fuzzy_pairs_finds_sub_ins_del_and_rejects_distance_two(spark):
    rows = [
        Row(c_custkey=1, c_name="martha"),
        Row(c_custkey=2, c_name="marsha"),   # substitution: dist 1
        Row(c_custkey=3, c_name="marthas"),  # insertion: dist 1
        Row(c_custkey=4, c_name="marta"),    # deletion: dist 1 (vs martha)
        Row(c_custkey=5, c_name="zzzzzz"),   # far away
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r["name_a"], r["name_b"]): r["dist"]
        for r in fuzzy_pairs(df, "c_custkey", "c_name").collect()
    }
    assert got[("marsha", "martha")] == 1
    assert got[("martha", "marthas")] == 1
    assert got[("marta", "martha")] == 1
    assert not any("zzzzzz" in pair for pair in got)
    # distance-2 pair (marsha vs marthas) must NOT appear even though both
    # are near martha — verify step rejects blocking false positives
    assert ("marsha", "marthas") not in got
    # every reported pair is genuinely within distance 1
    assert set(got.values()) <= {0, 1}


def test_apply_agg_deltas_hand_case(spark):
    """IVM by hand: base over old {k1:(2 orders, 30.00), k2:(1, 5.00)};
    change = update one k1 order (+1.50), delete k2's only order, insert a
    k3 order.  Maintained result must equal a recompute over new, and the
    emptied group k2 must vanish."""
    from pyspark.sql import functions as F
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.merge import (
        apply_agg_deltas,
    )

    old = spark.createDataFrame(
        [(1, "k1", 10.0), (2, "k1", 20.0), (3, "k2", 5.0)],
        "okey long, grp string, amt double",
    )
    new = spark.createDataFrame(
        [(1, "k1", 11.5), (2, "k1", 20.0), (4, "k3", 7.0)],
        "okey long, grp string, amt double",
    )
    base = old.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("amt").cast("decimal(18,2)")).alias("rev_dec"),
    )
    out = {
        r["grp"]: (r["n_orders"], float(r["rev_dec"]))
        for r in apply_agg_deltas(base, new, old, "okey", "grp", "amt").collect()
    }
    assert out == {"k1": (2, 31.5), "k3": (1, 7.0)}
