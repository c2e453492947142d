"""SparkSession factory.

The reference builds a bare session per script (``codes/task1.py:16-19``) and
tunes nothing.  Our factory turns on the settings that matter at the 100 TB
design point:

- AQE (runtime coalescing of shuffle partitions, skew-join splitting) so the
  same logical plans survive a 1000-executor cluster with skewed zone keys
  (Manhattan-style skew: one borough holds ~40% of trips).
- Deterministic UTC session timezone so timestamp semantics match the DuckDB
  oracle byte-for-byte.
- ``nanosAsLong`` so parquet files written with nanosecond timestamps (the
  driver's ``events`` table) are readable; ``sources.tables`` converts them
  to proper timestamps.

Cache ownership contract: some query bodies pin multiply-consumed subtrees
with a query-scoped ``persist()`` to avoid recomputing them; no result
depends on a pin being alive (see ``functions.cachectl``).  The bench
harness and the verification driver clear these between queries
(``clearCache``); a consumer composing several queries in ONE session
should call ``functions.cachectl.release_query_caches(spark)`` after
materializing each query's results, or the pinned blocks accumulate until
LRU eviction.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs that are safe to (re)apply on an existing session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # "timestamp" casts/literals resolve through this conf; pin the instant
    # type so a deployment default of TIMESTAMP_NTZ can't flip the meaning
    # of every cast("timestamp") in the engine (oracle compares epoch values)
    "spark.sql.timestampType": "TIMESTAMP_LTZ",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bucketed scans REPORT their within-bucket sort order, so windows and
    # sort-merge joins over warehouse tables drop their Sort, not just the
    # Exchange.  Gated since Spark 3.0 behind this "legacy" flag because the
    # order only holds with one file per bucket — which Spark still verifies
    # at planning (multi-file buckets fall back to sorting), and our
    # write_bucketed_table guarantees by repartitioning to one writer task
    # per bucket.  Pinned in tests/test_bucketing.py.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # runtime bloom-filter pruning on shuffle joins: the probe side drops
    # rows that can't match before the exchange — the big lever for the
    # fact×fact joins (lineitem⋈orders) at 100 TB.  Default-on in Spark 4;
    # pinned so a deployment override can't silently regress it.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-created session.

    The verification driver hands us its own SparkSession; queries call this
    defensively so behavior does not depend on who built the session.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-modifiable in this deployment; keep going
    return spark


def aqe_off_clone(spark: SparkSession) -> SparkSession:
    """A cloned session (shared SparkContext, isolated SQLConf) with AQE
    disabled — for queries whose plan is STATIC and already optimal, where
    AQE's per-stage materialization barriers only add latency/variance.

    Scoping matters: disabling AQE on the caller's session would leak into
    every subsequent query in a sweep (AQE is the right default — skew-join
    splitting and partition coalescing are load-bearing at 100 TB).
    ``newSession()`` gives the one query its own conf; DataFrames built on
    the clone execute under it, and the parent session is untouched.

    The clone inherits ALL of the parent's explicitly-set SQL confs
    (``newSession`` resets runtime-set confs to the SparkConf base, which
    may differ from what the caller's harness set — timezone, ANSI toggles,
    shuffle sizing), then re-applies the engine's runtime confs and turns
    AQE off.  One clone is cached per parent session (on the parent object)
    so repeated invocations in a sweep don't accumulate sessions — and the
    parent's confs are RE-SYNCED onto the cached clone on every call
    (round-6 advice): a harness retuning e.g. shuffle partitions mid-sweep
    propagates, and a conf mutated on the shared clone resets to the
    parent's view instead of silently persisting across calls.  (Confs set
    ONLY on the clone and never on the parent are the one thing a re-sync
    cannot clear; none of the engine's callers do that.)"""
    clone = getattr(spark, "_bdpc_aqe_off_clone", None)
    if clone is None:
        clone = spark.newSession()
        spark._bdpc_aqe_off_clone = clone
    try:
        # every explicitly-set SQL conf on the parent (sessionState settings
        # map holds set values only, not defaults) — generic, not a
        # hand-picked key list, so harness-set confs carry over too
        parent_confs = dict(spark._jsparkSession.sessionState().conf().getAllConfs())
    except Exception:  # non-JVM session shims: fall back to the known key
        parent_confs = {}
        try:
            parent_confs["spark.sql.shuffle.partitions"] = spark.conf.get(
                "spark.sql.shuffle.partitions"
            )
        except Exception:
            pass
    for key, value in parent_confs.items():
        try:
            clone.conf.set(key, value)
        except Exception:
            pass  # static/non-modifiable conf; keep going
    configure(clone)
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    return clone


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Spark's
    ``CodegenMetrics`` source-size histogram counts one sample per
    compile; a generated-code cache hit adds none)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_SOURCE_CODE_SIZE().getCount())


def get_spark(
    app_name: str = "bdpc-nyc-rideshare-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``shuffle_partitions`` defaults to 2x the local core count (bounded) —
    small enough that sf0.1 partitions stay cache-resident, large enough to
    keep every core busy.  On a real cluster you would size this (or let AQE
    coalesce) so post-shuffle partitions land near 128-256 MB.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        # A long-lived driver running hundreds of queries accumulates
        # status-store state (job/stage/task rows and SQL execution
        # graphs live in the driver's InMemoryStore even with the UI
        # off), growing the GC live set as the session ages.  Bounded
        # retention is standard hygiene for such a driver, NOT a
        # measured speedup: one r11 A/B pair read −19% sweep total with
        # these caps (311.4 vs 383.5 s), but a later paired control in a
        # degraded host window read no difference (454–462 s both ways),
        # so the honest claim is only that the caps bound live-set
        # growth at zero cost.  Raise per deployment when status APIs
        # need deeper history.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "10")
        .config("spark.appStateStore.asyncTracking.enable", "true")
        # Generated-code cache: Spark keeps 100 compiled classes, keyed on
        # the generated source.  A session re-running a fixed query mix
        # recompiles every class the cap evicted: the six event_ranking
        # queries generate ~280 distinct classes per pass, so at 100 each
        # pass re-ran ~283 Janino compiles (12-15% of the JVM's samples;
        # 4 vCPU, sf0.01).  All 303 queries at sf0.001 generate 3,978
        # classes (median 9 per query, p90 26, max 99) and metaspace grows
        # ~37 KB per class, so 1000 entries bound the cache near 37 MB.
        # Static conf: a session built elsewhere (the verification
        # driver's) keeps Spark's default.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # local mode runs every executor thread inside the driver JVM, so
        # the 1g spark.driver.memory default caps the WHOLE engine — 32
        # concurrent tasks' shuffle/agg buffers OOM long before the host's
        # RAM is touched.  Heap is reserved lazily, so a large ceiling
        # costs nothing when idle.  (Only effective at JVM launch; the
        # verification driver's own session keeps its own sizing.)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return configure(builder.getOrCreate())
