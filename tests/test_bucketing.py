"""Bucketed-table co-located join: the write-time shuffle must make the
read-time join exchange-free on the fact×fact edge.

This pins the engine's 100 TB answer for lineitem⋈orders (SCALE.md): both
sides bucketed by the join key at ingest ⇒ no Exchange in the join plan,
and with sorted buckets no Sort either.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.plans import plan_string
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import code_fingerprint
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.sinks import write_bucketed_table
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import source_key, stage_root

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed_table(li, "li_bucketed", "l_orderkey", n_buckets=8)
    write_bucketed_table(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "orders_bucketed", "l_orderkey", n_buckets=8
    )
    yield "li_bucketed", "orders_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def _exchanges(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE))


def test_bucketed_join_is_exchange_free(spark, bucketed_tables):
    li_t, ord_t = bucketed_tables
    joined = spark.table(li_t).join(spark.table(ord_t), "l_orderkey")
    assert _exchanges(plan_string(joined)) == 0, plan_string(joined)
    # same join over the raw (unbucketed) parquet DOES shuffle — the write
    # paid for exactly the exchanges the read saves
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        raw_plan = plan_string(li.join(orders, "l_orderkey"))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert _exchanges(raw_plan) >= 2


def test_bucketed_aggregation_is_exchange_free(spark, bucketed_tables):
    li_t, _ = bucketed_tables
    agg = spark.table(li_t).groupBy("l_orderkey").agg(F.sum("l_extendedprice").alias("s"))
    assert _exchanges(plan_string(agg)) == 0


def test_bucketed_join_result_matches_raw(spark, bucketed_tables):
    li_t, ord_t = bucketed_tables
    bucketed_n = spark.table(li_t).join(spark.table(ord_t), "l_orderkey").count()
    li = load_table(spark, SF_SMOKE, "lineitem")
    orders = load_table(spark, SF_SMOKE, "orders")
    raw_n = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).count()
    assert bucketed_n == raw_n


def test_enriched_trips_warehouse_path_is_exchange_free(spark):
    """The opt-in warehouse path: after the one-time bucketed ingest, the
    enriched view's lineitem⋈orders edge plans with zero shuffle Exchanges
    (dims broadcast; bucket metadata covers the fact×fact key), and the
    result is row-identical to the raw-parquet path."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.enrich import (
        enriched_trips,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.warehouse import (
        build_trip_warehouse,
    )

    names = build_trip_warehouse(spark, SF_SMOKE)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            wh_plan = plan_string(enriched_trips(spark, SF_SMOKE, use_warehouse=True))
            raw_plan = plan_string(enriched_trips(spark, SF_SMOKE))
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # dims still BroadcastExchange (not counted); the orderkey edge: none
        assert _exchanges(wh_plan) == 0, wh_plan
        assert _exchanges(raw_plan) >= 2, raw_plan

        raw = enriched_trips(spark, SF_SMOKE).collect()
        wh = enriched_trips(spark, SF_SMOKE, use_warehouse=True).collect()
        key = lambda r: (r["l_orderkey"], r["l_linenumber"])
        assert sorted(raw, key=key) == sorted(wh, key=key)
    finally:
        for name in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_tpch_factxfact_tier_warehouse_path_is_exchange_free(spark):
    """Round-3 verdict stretch: the two TPC-H queries that shuffle on
    orderkey by necessity (Q21/Q12 shapes) ride the bucketed warehouse the
    same way enriched_trips does.  With ``use_warehouse=True`` the
    li⋈orders join — and for Q21 the per-order aggregation and join-back
    too — reuse the bucket distribution; the only shuffle Exchange left is
    the final tiny rollup (s_name / l_linestatus).  Results must be
    row-identical to the raw path."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import (
        q_late_line_priority_mix,
        q_sole_late_suppliers,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.warehouse import (
        build_trip_warehouse,
    )

    names = build_trip_warehouse(spark, SF_SMOKE)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            for fn in (q_sole_late_suppliers, q_late_line_priority_mix):
                wh_plan = plan_string(fn(spark, SF_SMOKE, use_warehouse=True))
                raw_plan = plan_string(fn(spark, SF_SMOKE))
                # one Exchange: the final rollup over a tiny key space
                assert _exchanges(wh_plan) == 1, (fn.__name__, wh_plan)
                assert _exchanges(raw_plan) > _exchanges(wh_plan), (fn.__name__, raw_plan)
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for fn, sort_key in (
            (q_sole_late_suppliers, "s_name"),
            (q_late_line_priority_mix, "l_linestatus"),
        ):
            raw = sorted(fn(spark, SF_SMOKE).collect(), key=lambda r: r[sort_key])
            wh = sorted(
                fn(spark, SF_SMOKE, use_warehouse=True).collect(), key=lambda r: r[sort_key]
            )
            assert raw == wh, fn.__name__
    finally:
        for name in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_trip_warehouse_reattaches_its_committed_files(spark, tmp_stage):
    """A catalog without the warehouse entries (what a fresh JVM sees)
    re-attaches the bucket files at the shared rule's directory without
    rewriting them, and the re-attached tables keep the exchange-free
    lineitem⋈orders plan."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.enrich import (
        enriched_trips,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.warehouse import (
        build_trip_warehouse,
    )

    names = build_trip_warehouse(spark, SF_SMOKE)
    stamps = {
        tbl: os.path.join(
            stage_root(), source_key(SF_SMOKE, tbl),
            f"wh_{tbl}_{code_fingerprint(build_trip_warehouse)}", "_SUCCESS",
        )
        for tbl in names
    }
    before = {tbl: os.stat(path).st_mtime_ns for tbl, path in stamps.items()}
    try:
        for name in names.values():
            spark.sql(f"DROP TABLE {name}")
        assert build_trip_warehouse(spark, SF_SMOKE) == names
        assert all(spark.catalog.tableExists(name) for name in names.values())
        assert {tbl: os.stat(path).st_mtime_ns for tbl, path in stamps.items()} == before
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            wh_plan = plan_string(enriched_trips(spark, SF_SMOKE, use_warehouse=True))
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert _exchanges(wh_plan) == 0, wh_plan
    finally:
        for name in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {name}")


# --- user-bucketed events warehouse ----------------------------------------------


@pytest.fixture(scope="module")
def events_warehouse(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.warehouse import (
        build_events_warehouse,
    )

    name = build_events_warehouse(spark, SF_SMOKE, force=True)
    assert spark.catalog.tableExists(name)
    yield name
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_events_warehouse_builds_on_first_use(spark):
    """A session whose catalog holds no events warehouse (a fresh JVM, or
    one that never built it) builds or re-attaches it on the first
    ``use_warehouse=True`` read instead of failing, and the sessionizer
    still plans with neither Exchange nor Sort."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    for table in spark.catalog.listTables():
        if table.name.startswith("wh_events"):
            spark.sql(f"DROP TABLE {table.name}")
    query = load_all()["events_sessionize"].fn
    wh = query(spark, SF_SMOKE, use_warehouse=True)
    wh_plan = plan_string(wh)
    assert _exchanges(wh_plan) == 0, wh_plan
    assert _sorts(wh_plan) == 0, wh_plan
    key = lambda r: (r.user_id, r.session_id)
    assert sorted(wh.collect(), key=key) == sorted(query(spark, SF_SMOKE).collect(), key=key)


def test_events_warehouse_user_agg_is_exchange_free(spark, events_warehouse):
    """A user-keyed aggregation over the bucketed events table must not
    shuffle: the scan's bucket distribution satisfies the aggregate."""
    agg = (
        spark.table(events_warehouse)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert _exchanges(plan_string(agg)) == 0


def test_feature_vector_warehouse_path_matches_raw(spark, events_warehouse):
    """use_warehouse=True must produce byte-identical features with fewer
    user-keyed exchanges than the raw-parquet plan."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.behavior import (
        q_user_feature_vector,
    )

    raw = q_user_feature_vector(spark, SF_SMOKE)
    wh = q_user_feature_vector(spark, SF_SMOKE, use_warehouse=True)
    key = lambda r: r.user_id
    assert sorted(raw.collect(), key=key) == sorted(wh.collect(), key=key)
    assert _exchanges(plan_string(wh)) < _exchanges(plan_string(raw))


def _sorts(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Sort", plan, flags=re.MULTILINE))


def test_sessionize_warehouse_drops_exchange_and_sort(spark, events_warehouse):
    """The sessionizer's window requires distribution on user_id and order
    (user_id, ts, event_id) — exactly the warehouse's bucket + sort spec,
    so the bucketed plan needs NEITHER an Exchange NOR a Sort, and the
    downstream (user_id, session_id) groupBy is satisfied by the same
    distribution: zero exchanges in the whole query."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
        q_events_sessions,
    )

    raw = q_events_sessions(spark, SF_SMOKE)
    wh = q_events_sessions(spark, SF_SMOKE, use_warehouse=True)
    wh_plan = plan_string(wh)
    assert _exchanges(wh_plan) == 0, wh_plan
    assert _sorts(wh_plan) == 0, wh_plan
    key = lambda r: (r.user_id, r.session_id)
    assert sorted(raw.collect(), key=key) == sorted(wh.collect(), key=key)


def test_user_session_stats_warehouse_is_exchange_free(spark, events_warehouse):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
        q_user_session_stats,
    )

    raw = q_user_session_stats(spark, SF_SMOKE)
    wh = q_user_session_stats(spark, SF_SMOKE, use_warehouse=True)
    wh_plan = plan_string(wh)
    assert _exchanges(wh_plan) == 0, wh_plan
    assert _sorts(wh_plan) == 0, wh_plan
    key = lambda r: r.user_id
    assert sorted(raw.collect(), key=key) == sorted(wh.collect(), key=key)


def test_growth_accounting_warehouse_keeps_only_day_exchange(spark, events_warehouse):
    """The (user_id, day) distinct and the user window inherit the bucketed
    distribution (HashPartitioning(user_id) satisfies clustering on the
    superset key); only the |days × statuses|-sized count and the 1-row
    max-day aggregate may exchange."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
        q_user_growth_accounting,
    )

    raw = q_user_growth_accounting(spark, SF_SMOKE)
    wh = q_user_growth_accounting(spark, SF_SMOKE, use_warehouse=True)
    raw_plan, wh_plan = plan_string(raw), plan_string(wh)
    assert _exchanges(wh_plan) < _exchanges(raw_plan), wh_plan
    key = lambda r: (r.day, r.status)
    assert sorted(raw.collect(), key=key) == sorted(wh.collect(), key=key)


def test_top_session_paths_warehouse_drops_user_exchange(spark, events_warehouse):
    """The path query's only remaining exchanges under the warehouse are the
    tiny |distinct paths| count and the top-k — the user-keyed window and
    the (user, session) aggregate ride the bucketed scan."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
        q_top_session_paths,
    )

    raw = q_top_session_paths(spark, SF_SMOKE)
    wh = q_top_session_paths(spark, SF_SMOKE, use_warehouse=True)
    raw_plan, wh_plan = plan_string(raw), plan_string(wh)
    assert _exchanges(wh_plan) < _exchanges(raw_plan), wh_plan
    assert _sorts(wh_plan) < _sorts(raw_plan), wh_plan
    key = lambda r: (-r.n_sessions, r.path)
    assert sorted(raw.collect(), key=key) == sorted(wh.collect(), key=key)
