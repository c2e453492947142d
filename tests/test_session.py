"""aqe_off_clone: per-query conf isolation with parent re-sync semantics."""

from __future__ import annotations

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import aqe_off_clone

from .conftest import SF_SMOKE


def test_clone_is_cached_and_isolated(spark):
    c1 = aqe_off_clone(spark)
    c2 = aqe_off_clone(spark)
    assert c1 is c2  # one clone per parent — sweeps don't accumulate sessions
    assert c1 is not spark
    assert c1.conf.get("spark.sql.adaptive.enabled") == "false"
    # the parent keeps AQE (the right default everywhere else)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_clone_resyncs_parent_confs_on_each_call(spark):
    """Round-6 advice: the cached clone must follow the PARENT's conf view —
    a harness retuning shuffle partitions mid-sweep propagates, and a conf
    mutated on the shared clone resets instead of persisting."""
    clone = aqe_off_clone(spark)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # parent retunes after the clone exists -> next call re-syncs
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        assert aqe_off_clone(spark).conf.get("spark.sql.shuffle.partitions") == "7"
        # a mutation leaked onto the shared clone resets on the next call
        clone.conf.set("spark.sql.shuffle.partitions", "3")
        assert aqe_off_clone(spark).conf.get("spark.sql.shuffle.partitions") == "7"
        # AQE stays off through every re-sync
        assert clone.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_release_query_caches_frees_all_blocks_in_a_two_query_session(spark):
    """Query bodies do not pin caches: after the four queries that used to
    persist a subtree inside their body have run in one session, the
    cache manager is already empty with no release call, and the release
    hook has nothing left to free."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.cachectl import (
        release_query_caches,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    spark.catalog.clearCache()
    reg = load_all()
    for name in (
        "conversion_latency_quantiles",
        "session_overlap_histogram",
        "basket_part_pair_lift",
        "quantile_normalized_scores",
    ):
        assert len(reg[name].fn(spark, SF_SMOKE).collect()) > 0, name
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert release_query_caches(spark) == 0


def test_repeated_event_ranking_mix_compiles_no_generated_code(spark):
    """The six event_ranking queries generate ~280 distinct classes per
    run.  With Spark's default 100-entry generated-code cache every repeat
    run recompiled ~284 of them; get_spark's 1000-entry cache keeps them,
    so the second run of the unchanged mix compiles none."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.session import codegen_compiles

    reg = load_all()
    mix = (
        "mad_outlier_events",
        "customer_rfm_segments",
        "peak_concurrent_sessions",
        "session_overlap_histogram",
        "events_global_sequence",
        "quartiles_by_event_type",
    )

    def run_mix() -> None:
        for name in mix:
            reg[name].fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    run_mix()
    compiled = codegen_compiles(spark)
    run_mix()
    assert codegen_compiles(spark) - compiled == 0
