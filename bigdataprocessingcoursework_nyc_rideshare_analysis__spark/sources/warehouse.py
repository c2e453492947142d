"""Bucketed trip and events warehouses — the amortized answer to the
fact×fact shuffle.

``enriched_trips`` joins lineitem⋈orders on orderkey: at 100 TB that is the
single heaviest exchange in the rideshare tier, and it is paid by EVERY
query built on the enriched view.  The warehouse pays that shuffle once at
ingest instead: ``build_trip_warehouse`` writes lineitem and orders as
bucketed+sorted tables keyed by orderkey, after which the join is
exchange-free — Catalyst reads the bucketing metadata, sees both sides
already hash-distributed on the join key, and plans a sort-merge join with
no Exchange and no Sort (pinned in ``tests/test_bucketing.py``).
``build_events_warehouse`` does the same for the events fact by user.

A warehouse table is a materialized artifact like a staged frame, written
and reused by the same rule (``sources.tables.materialize``): its bucket
files live under the stage root at
``<source key>/wh_<table>_<code fingerprint>``, keyed by the source parquet
and every line of package code its builder reaches (``load_table``'s
normalization, ``sinks.write_bucketed_table``, the bucket spec below), and
a rebuild deletes the directory it supersedes.  The bucketing METADATA
lives in the session catalog, which a fresh JVM loses while the files
survive: the table's catalog name is a pure function of its directory, and
a session without the entry re-attaches the committed files with ``CREATE
TABLE … CLUSTERED BY … LOCATION`` (the column list read from the files)
instead of re-shuffling.  The re-attached scan is bucket-aware like the
original (same plan pins).

This is deliberately NOT wired into the registered queries by default: the
driver's correctness harness runs against the raw parquet directories.
Pipelines opt in via ``use_warehouse=True`` (``trip_tables``,
``operators.events.load_events``), which builds on first use.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from .sinks import write_bucketed_table
from .tables import load_table, materialize, read_parquet

#: bucket count of every warehouse table; equal on both sides of a join
#: for the exchange-free plan.  At a real 100 TB ingest pick it so each
#: bucket file lands in the 128 MB–1 GB range.
_BUCKETS = 32
#: (table, bucket key) — the two sides of the fact×fact edge
_TRIP_SPEC = (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))


def _catalog_name(path: str) -> str:
    """The catalog name of the warehouse table stored at ``path``."""
    digest = hashlib.sha1(os.path.abspath(path).encode()).hexdigest()[:8]
    return f"{os.path.basename(path)}_{digest}"


def _bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    bucket_by: str,
    sort_by: list[str],
    builder,
    force: bool,
) -> str:
    """Materialize ``table`` bucketed by ``bucket_by`` and sorted within
    buckets by ``sort_by``, keyed by ``builder``'s code; make sure this
    session's catalog holds it; return its catalog name."""

    def write(path: str) -> None:
        name = _catalog_name(path)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed_table(
            load_table(spark, sf_dir, table), name, bucket_by, _BUCKETS, sort_by=sort_by, path=path
        )

    path = materialize(sf_dir, table, f"wh_{table}", builder, write, force)
    name = _catalog_name(path)
    if not spark.catalog.tableExists(name):
        ddl = read_parquet(spark, path).schema.toDDL()
        sort_cols = ", ".join(f"`{c}`" for c in sort_by)
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING PARQUET "
            f"CLUSTERED BY (`{bucket_by}`) SORTED BY ({sort_cols}) "
            f"INTO {_BUCKETS} BUCKETS LOCATION '{os.path.abspath(path)}'"
        )
    return name


def build_trip_warehouse(spark: SparkSession, sf_dir: str, force: bool = False) -> dict[str, str]:
    """One-time ingest: write lineitem and orders bucketed and sorted by
    orderkey (reused across sessions until the source or the code moves,
    rewritten with ``force``).  Returns ``{source_table: catalog_name}``."""
    return {
        tbl: _bucketed(spark, sf_dir, tbl, key, [key], build_trip_warehouse, force)
        for tbl, key in _TRIP_SPEC
    }


def trip_tables(
    spark: SparkSession, sf_dir: str, *names: str, use_warehouse: bool = False
) -> dict[str, DataFrame]:
    """The named star-schema tables.  With ``use_warehouse`` lineitem and
    orders come from the orderkey-bucketed tables (built on first use)
    instead of parquet: both fact sides then arrive hash-distributed on the
    join key and the fact×fact join plans with NO Exchange and NO Sort —
    the per-query shuffle is paid once at ingest.  Only the tables the
    caller keeps are read.  Default stays on raw parquet (the driver's
    oracle harness owns no warehouse)."""
    wh = build_trip_warehouse(spark, sf_dir) if use_warehouse else {}
    return {n: spark.table(wh[n]) if n in wh else load_table(spark, sf_dir, n) for n in names}


def build_events_warehouse(spark: SparkSession, sf_dir: str, force: bool = False) -> str:
    """One-time ingest of the events fact bucketed by ``user_id`` and
    sorted within buckets by ``(user_id, ts, event_id)`` — the behavioral
    tier's counterpart to the orderkey trip warehouse.  Every user-keyed
    aggregation (feature vectors, retention, growth accounting) drops its
    Exchange, and user-partitioned WINDOWS (sessionize, transitions, lag
    features) inherit both the distribution and the sort from the scan —
    the two heaviest recurring costs of the events tier, paid once.
    Reused like ``build_trip_warehouse``; returns the catalog name."""
    return _bucketed(
        spark, sf_dir, "events", "user_id", ["user_id", "ts", "event_id"],
        build_events_warehouse, force,
    )
