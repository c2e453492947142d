"""Bucketed trip warehouse — the amortized answer to the fact×fact shuffle.

``enriched_trips`` joins lineitem⋈orders on orderkey: at 100 TB that is the
single heaviest exchange in the rideshare tier, and it is paid by EVERY
query built on the enriched view.  The warehouse pays that shuffle once at
ingest instead: ``build_trip_warehouse`` writes lineitem and orders as
bucketed+sorted managed tables keyed by orderkey, after which the join is
exchange-free — Catalyst reads the bucketing metadata, sees both sides
already hash-distributed on the join key, and plans a sort-merge join with
no Exchange and no Sort (pinned in ``tests/test_bucketing.py``).

This is deliberately NOT wired into the registered queries: the driver's
correctness harness runs against the raw parquet directories, and a
registered query that writes managed tables into an arbitrary cwd-relative
warehouse would be a side effect, not a query.  Pipelines opt in via
``enriched_trips(..., use_warehouse=True)`` after a one-time build.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from .tables import load_table
from .sinks import write_bucketed_table

#: (table, bucket key) — the two sides of the fact×fact edge
_WAREHOUSE_SPEC = (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))
DEFAULT_BUCKETS = 32


def _suffix(sf_dir: str) -> str:
    """Scale-factor-specific table suffix so warehouses for different test
    dirs coexist (sf0.001 → ``sf0_001``)."""
    return re.sub(r"[^0-9A-Za-z]+", "_", os.path.basename(os.path.normpath(sf_dir)))


def warehouse_table_names(sf_dir: str) -> dict[str, str]:
    sfx = _suffix(sf_dir)
    return {tbl: f"wh_{tbl}_{sfx}" for tbl, _ in _WAREHOUSE_SPEC}


MARKER_NAME = "_BDPC_WAREHOUSE_MARKER.json"


def _source_key(sf_dir: str, tables: tuple[str, ...]) -> str:
    """Content key of the warehouse's source parquet: abs path + size +
    mtime per file — the same invalidation rule as ``datapipe.stage``, so
    regenerated testdata rebuilds and an unchanged source reuses."""
    parts = [f"wh1:{os.path.abspath(sf_dir)}"]
    for tbl in tables:
        path = os.path.join(sf_dir, f"{tbl}.parquet")
        if os.path.isdir(path):
            for fname in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, fname))
                parts.append(f"{tbl}/{fname}:{st.st_size}:{st.st_mtime_ns}")
        elif os.path.exists(path):
            st = os.stat(path)
            parts.append(f"{tbl}:{st.st_size}:{st.st_mtime_ns}")
        else:
            parts.append(f"{tbl}:absent")
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def _table_location(spark: SparkSession, table: str) -> str | None:
    """Local-filesystem directory of a warehouse table (None off-local)."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh.scheme not in ("", "file"):
        return None
    return os.path.join(wh.path or wh.netloc, table.lower())


def _ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    src_tbl: str,
    table: str,
    bucket_by: str,
    n_buckets: int,
    sort_by: list[str] | None,
    force: bool,
) -> None:
    """Content-addressed bucketed ingest (r12): rebuild only when the
    source parquet, bucket spec, or sort spec changed — the warehouse is a
    cache exactly like the staged frames, and ``force=True`` in every
    bench invocation re-paid the fact shuffle per sweep for nothing.

    The bucketing METADATA lives in the session catalog (in-memory derby),
    which a fresh JVM loses even though the bucket FILES survive — so a
    marker (source key + spec + schema DDL) is written into the table
    directory (underscore-prefixed: data scans ignore it), and a fresh
    session re-attaches the existing files with ``CREATE TABLE ... USING
    PARQUET CLUSTERED BY ... LOCATION`` instead of re-shuffling.  The
    re-attached scan is bucket-aware like the original (same plan pins in
    ``tests/test_bucketing.py``)."""
    loc = _table_location(spark, table)
    want = None
    if loc is not None:
        want = {
            "src_key": _source_key(sf_dir, (src_tbl,)),
            "bucket_by": bucket_by,
            "n_buckets": n_buckets,
            "sort_by": list(sort_by or [bucket_by]),
        }
        marker = os.path.join(loc, MARKER_NAME)
        if not force and os.path.exists(marker):
            try:
                with open(marker) as fh:
                    have = json.load(fh)
            except Exception:
                have = None
            if have is not None and {k: have.get(k) for k in want} == want:
                if not spark.catalog.tableExists(table):
                    sort_cols = ", ".join(f"`{c}`" for c in have["sort_by"])
                    spark.sql(
                        f"CREATE TABLE {table} ({have['schema_ddl']}) USING PARQUET "
                        f"CLUSTERED BY (`{bucket_by}`) SORTED BY ({sort_cols}) "
                        f"INTO {n_buckets} BUCKETS LOCATION '{os.path.abspath(loc)}'"
                    )
                return  # fresh: files + catalog entry both in place
    # (re)build: clear any stale catalog entry / orphaned directory first
    df = load_table(spark, sf_dir, src_tbl)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _remove_stray_location(spark, table)
    write_bucketed_table(df, table, bucket_by, n_buckets, sort_by=sort_by, path=loc)
    if loc is not None and want is not None and os.path.isdir(loc):
        want["schema_ddl"] = df.schema.toDDL()
        with open(os.path.join(loc, MARKER_NAME), "w") as fh:
            json.dump(want, fh)


def build_trip_warehouse(
    spark: SparkSession, sf_dir: str, n_buckets: int = DEFAULT_BUCKETS, force: bool = False
) -> dict[str, str]:
    """One-time ingest: write lineitem and orders bucketed by orderkey.

    Content-addressed and idempotent (see ``_ensure_bucketed``): rebuilds
    when the source parquet / bucket count changed or ``force``, reuses the
    on-disk bucket files otherwise — including across JVMs.  Bucket count
    must match on both sides for the exchange-free join; at a real 100 TB
    ingest pick ``n_buckets`` so each bucket file lands in the 128 MB–1 GB
    range.  Returns ``{source_table: warehouse_table_name}``.
    """
    names = warehouse_table_names(sf_dir)
    for tbl, key in _WAREHOUSE_SPEC:
        _ensure_bucketed(spark, sf_dir, tbl, names[tbl], key, n_buckets, None, force)
    return names


def trip_tables(
    spark: SparkSession, sf_dir: str, *names: str, use_warehouse: bool = False
) -> dict[str, DataFrame]:
    """The named star-schema tables.  With ``use_warehouse`` lineitem and
    orders come from the orderkey-bucketed managed tables (built on first
    use) instead of parquet: both fact sides then arrive hash-distributed
    on the join key and the fact×fact join plans with NO Exchange and NO
    Sort — the per-query shuffle is paid once at ingest.  Only the tables
    the caller keeps are read.  Default stays on raw parquet (the driver's
    oracle harness owns no warehouse)."""
    wh = build_trip_warehouse(spark, sf_dir) if use_warehouse else {}
    return {n: spark.table(wh[n]) if n in wh else load_table(spark, sf_dir, n) for n in names}


def _remove_stray_location(spark: SparkSession, table: str) -> None:
    """Delete an orphaned managed-table directory (location exists on the
    local filesystem, table absent from the current catalog)."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh.scheme not in ("", "file"):
        return  # non-local warehouse: nothing we should touch
    loc = os.path.join(wh.path or wh.netloc, table.lower())
    if os.path.exists(loc):
        shutil.rmtree(loc, ignore_errors=True)


# --- user-bucketed events warehouse ---------------------------------------------

def events_warehouse_name(sf_dir: str) -> str:
    return f"wh_events_{_suffix(sf_dir)}"


def build_events_warehouse(
    spark: SparkSession, sf_dir: str, n_buckets: int = DEFAULT_BUCKETS, force: bool = False
) -> str:
    """One-time ingest of the events fact bucketed by ``user_id`` and
    sorted within buckets by ``(user_id, ts, event_id)`` — the behavioral
    tier's counterpart to the orderkey trip warehouse.  Every user-keyed
    aggregation (feature vectors, retention, growth accounting) drops its
    Exchange, and user-partitioned WINDOWS (sessionize, transitions, lag
    features) inherit both the distribution and the sort from the scan —
    the two heaviest recurring costs of the events tier, paid once.
    Idempotent; returns the managed-table name."""
    name = events_warehouse_name(sf_dir)
    _ensure_bucketed(
        spark, sf_dir, "events", name, "user_id", n_buckets,
        ["user_id", "ts", "event_id"], force,
    )
    return name
