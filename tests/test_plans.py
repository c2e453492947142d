"""Physical-plan pins: the plan we *want*, not just the first one that runs.

At 100 TB these properties are the difference between minutes and days:
dimension joins must broadcast, scans must prune to referenced columns,
top-K must not materialize a global sort, and no operator may degenerate
into a cartesian product (except the deliberate brute-force ANN baseline).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.anomaly import q_daily_avg_wait
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.enrich import enriched_trips
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.rollup import q_trip_count
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.topk import q_route_revenue_top30
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.plans import plan_string

from .conftest import SF_SMOKE


def test_enrich_uses_broadcast_joins(spark):
    plan = plan_string(enriched_trips(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rollup_prunes_scan_columns(spark):
    plan = plan_string(q_trip_count(spark, SF_SMOKE))
    # the lineitem scan must read only the two referenced columns
    scan = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert scan, plan
    schema_line = scan[0]
    assert "l_returnflag" in schema_line and "l_shipdate" in schema_line
    assert "l_extendedprice" not in schema_line and "l_comment" not in schema_line


def test_rollup_has_partial_aggregation(spark):
    plan = plan_string(q_trip_count(spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_topk_plans_take_ordered_not_global_sort(spark):
    plan = plan_string(q_route_revenue_top30(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_month_filter_pushed_to_scan(spark):
    df = q_daily_avg_wait(spark, SF_SMOKE)
    plan = plan_string(df)
    # the January predicate must sit in the scan stage (pushed/partial),
    # not above a full materialization — look for a PushedFilters or an
    # early Filter directly over the FileScan
    assert "month" in plan.lower()
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_on_hot_path(spark):
    plan = plan_string(q_trip_count(spark, SF_SMOKE), mode="codegen")
    assert "WholeStageCodegen" in plan


def test_star_join_broadcasts_every_dimension(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.olap import q_revenue_by_nation

    plan = plan_string(q_revenue_by_nation(spark, SF_SMOKE))
    # customer, nation, region all ride the broadcast hint; only the
    # fact×fact lineitem⋈orders edge may shuffle
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_segment_filter_pushed_into_customer_scan(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.olap import q_top_building_orders

    plan = plan_string(q_top_building_orders(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    # the BUILDING predicate must reach the parquet scan
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line and "BUILDING" in line]
    assert pushed, plan


# --- TPC-H tier plan pins ---------------------------------------------------


def test_pricing_summary_is_pure_scan_plus_partial_agg(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import q_pricing_summary

    plan = plan_string(q_pricing_summary(spark, SF_SMOKE))
    # scan-bound archetype: no join, partial+final agg, shipdate pushed
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "l_shipdate" in l]
    assert pushed, plan


def test_discount_revenue_pushes_all_predicates(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import q_discount_revenue

    plan = plan_string(q_discount_revenue(spark, SF_SMOKE))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any(
        "l_shipdate" in l and "l_discount" in l and "l_quantity" in l for l in pushed
    ), plan


def test_late_shipments_plans_semi_join(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import q_late_shipments

    plan = plan_string(q_late_shipments(spark, SF_SMOKE))
    # EXISTS must become a semi join (one output row per order), never a
    # distinct-after-inner-join
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_returned_losses_broadcasts_dims_and_takes_ordered(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import q_returned_losses

    plan = plan_string(q_returned_losses(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # returnflag reaches the lineitem scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "l_returnflag" in l]
    assert pushed, plan


def test_top_supplier_scans_lineitem_once(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import q_top_supplier

    df = q_top_supplier(spark, SF_SMOKE)
    plan = plan_string(df)
    # the rank()-over-aggregate form must not duplicate the fact scan the
    # way the literal join-against-own-MAX does (exchange reuse does not
    # fire across the broadcast boundary)
    assert plan.count("lineitem.parquet") <= 1 or plan.count("Scan parquet") <= 2, plan


def test_dormant_customers_plans_anti_join(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import q_dormant_customers

    plan = plan_string(q_dormant_customers(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    # orderdate window reaches the orders scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "o_orderdate" in l]
    assert pushed, plan


def test_cheapest_supplier_single_aggregation(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import q_cheapest_supplier

    plan = plan_string(q_cheapest_supplier(spark, SF_SMOKE))
    # struct-min argmin: ONE aggregation pass (partial+final — struct
    # ordering is not hash-aggregable, so Catalyst plans SortAggregate,
    # still map-side partial + one exchange), no join-back of offers
    # against a per-group minimum, no window
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") <= 4  # one real exchange (double-printed)
    assert "Window" not in plan


def test_disjunctive_join_pushes_implied_predicates(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import (
        q_disjunctive_brand_revenue,
    )

    plan = plan_string(q_disjunctive_brand_revenue(spark, SF_SMOKE))
    # Catalyst must derive the per-side implications of the OR-of-ANDs:
    # quantity bounds reach the lineitem scan, brand/size reach part
    assert any("PushedFilters" in l and "l_quantity" in l for l in plan.splitlines()), plan
    assert any("PushedFilters" in l and "p_brand" in l for l in plan.splitlines()), plan


def test_sole_late_suppliers_one_fact_aggregation(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.tpch import (
        q_sole_late_suppliers,
    )

    plan = plan_string(q_sole_late_suppliers(spark, SF_SMOKE))
    # EXISTS + NOT EXISTS collapsed into one per-order aggregation joined
    # back: no semi/anti join nodes, no third/fourth lineitem pass
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "CartesianProduct" not in plan


# --- round-3 curation tier plan pins -----------------------------------------


def test_cdc_chunking_shares_one_doc_keyed_exchange(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        q_cdc_chunk_docs,
    )

    plan = plan_string(q_cdc_chunk_docs(spark, SF_SMOKE))
    # the running-sum window and the (doc, chunk) aggregation must reuse the
    # same doc_id hash partitioning: exactly one real shuffle (plans print
    # the tree twice under AQE, hence <= 2 occurrences)
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Window" in plan


def test_incremental_dedup_plans_anti_join_on_pruned_stage(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
        q_incremental_dedup,
    )

    # pin the COLD plan: an earlier test's persisted staged-features frame
    # (all columns) would otherwise be substituted by the cache manager and
    # its full-width parquet scan would show up in ReadSchema
    spark.catalog.clearCache()
    plan = plan_string(q_incremental_dedup(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    # staged-feature scan must prune to (doc_id, fingerprint) — never toks
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines and all("toks" not in l for l in schema_lines), plan


def test_scd2_join_broadcasts_with_residual_interval(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        q_scd2_segment_at_order,
    )

    plan = plan_string(q_scd2_segment_at_order(spark, SF_SMOKE))
    # the equi-key must carry the join (broadcast hash), with the validity
    # interval as a residual condition — never a nested-loop range join
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_triangle_join_has_no_shuffle_on_smoke(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.cluster import (
        q_neardup_triangles,
    )

    spark.catalog.clearCache()
    plan = plan_string(q_neardup_triangles(spark, SF_SMOKE))
    # staged pair set is tiny → both joins broadcast; no cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_source_quota_single_exchange_per_source_sort(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.scrub import (
        q_source_quota_sample,
    )

    plan = plan_string(q_source_quota_sample(spark, SF_SMOKE))
    # one hash exchange on source, in-partition sort, no global sort node
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "Exchange rangepartitioning" not in plan


def test_round4_datapipe_plan_shapes(spark):
    """Plan pins for the round-4 tier: broadcasts where a side is bounded,
    no cartesian products anywhere, hash-keyed joins for the corpus-sized
    paths."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    reg = load_all()
    # LM tier: term/vocab tables broadcast into the token-level join
    for name in ("unigram_logppl_docs", "vocab_coverage_docs"):
        plan = plan_string(reg[name].fn(spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
    # mixture resample: |sources|-row rate table broadcast back to corpus
    plan = plan_string(reg["mixture_resample_docs"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # boilerplate + fuzzy linkage + IVM: equi-joins only, never cartesian
    for name in ("boilerplate_segment_dedup", "fuzzy_customer_pairs", "rollup_apply_cdc"):
        plan = plan_string(reg[name].fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_mixture_weights_single_corpus_scan(spark):
    """source_mixture_weights reads only (source, text): column pruning
    must reach the parquet scan."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    plan = plan_string(load_all()["source_mixture_weights"].fn(spark, SF_SMOKE))
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scans, plan
    assert all("doc_id" not in l and "n_chars" not in l for l in scans)


def test_no_registry_query_plans_a_cartesian_product(spark):
    """Global invariant: no registered query may degenerate into a
    CartesianProduct — the one plan shape that cannot survive scale —
    except the explicitly-documented brute-force ground-truth baselines."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    ALLOWED = {
        "ann_cosine_topk",          # documented brute-force ANN baseline
        "neardup_embedding_cosine", # documented quadratic ground truth
        "neardup_jaccard_pairs",    # documented all-pairs oracle for LSH
    }
    offenders = []
    for name, spec in load_all().items():
        if name in ALLOWED:
            continue
        try:
            plan = plan_string(spec.fn(spark, SF_SMOKE))
        except Exception as exc:  # a query that cannot even plan is its own failure
            offenders.append((name, f"plan build failed: {exc}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """The 100 TB fact-table idiom: a date-partitioned fact joined to a
    selective dim must plan a dynamicpruningexpression inside the scan's
    PartitionFilters — only the dim's partitions are read, discovered at
    runtime.  Pins that session confs keep Spark's DPP armed."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events").withColumn("day", F.to_date("ts"))
    ev.write.partitionBy("day").parquet(f"{tmp_path}/ev")
    fact = spark.read.parquet(f"{tmp_path}/ev")
    dim = ev.groupBy("day").count().filter(F.col("count") > 0).limit(1).select("day")
    plan = plan_string(fact.join(dim, "day").groupBy("event_type").count())
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("dynamicpruning" in ln.lower() for ln in pf), plan


def test_tfidf_plan_construction_launches_no_jobs(spark):
    """Round-3 verdict nit: the TF-IDF family computed the corpus size via
    an eager ``docs.count()`` while BUILDING the plan — one extra Spark job
    per invocation before the query even ran.  Now the dimension is a
    broadcast 1-row aggregate: constructing the DataFrame must launch zero
    jobs (the staged-feature queries get their stage pre-built first —
    stage materialization is a separate, once-per-corpus cost)."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.stage import (
        staged_features,
        staged_tfidf_doc_vectors,
        staged_tfidf_sim_candidates,
        staged_tfidf_topk,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    registry = load_all()
    # pre-build the stages outside the measurement: on a cold stage root the
    # similarity query's staged frames would otherwise run their multi-stage
    # build jobs inside the measured window and fail the footer-read assertion
    staged_features(spark, SF_SMOKE)
    staged_tfidf_topk(spark, SF_SMOKE)
    staged_tfidf_sim_candidates(spark, SF_SMOKE)
    staged_tfidf_doc_vectors(spark, SF_SMOKE)
    tracker = spark.sparkContext.statusTracker()
    for name in (
        "tfidf_top_terms",
        "tfidf_doc_similarity_pairs",
        "hybrid_search_rrf",
        "ndcg_tfidf_vs_overlap",
    ):
        before = set(tracker.getJobIdsForGroup())
        registry[name].fn(spark, SF_SMOKE)  # build only — no action
        new = set(tracker.getJobIdsForGroup()) - before
        # every spark.read.parquet launches ONE 1-stage/1-task footer read
        # for schema inference; the defect being pinned (an eager corpus
        # count()) is a multi-stage job.  Assert nothing but footer reads.
        for jid in new:
            info = tracker.getJobInfo(jid)
            assert info is not None and len(info.stageIds) == 1, (
                f"{name} launched a multi-stage job during plan construction"
            )
            st = tracker.getStageInfo(info.stageIds[0])
            assert st is None or st.numTasks <= 1, (
                f"{name} launched a data-scan job ({st.numTasks} tasks) "
                "during plan construction"
            )


def test_quota_rank_filter_gets_partial_window_group_limit(spark):
    """source_quota_sample's ROW_NUMBER is immediately filtered to
    rank <= quota, so Catalyst must insert a PARTIAL WindowGroupLimit
    BEFORE the source exchange: every map task keeps only a top-quota heap
    per source and the shuffle carries <= quota x |map partitions| rows per
    source.  This is why the plain keyed window is scale-safe HERE while
    the unlimited packing/rank windows needed the two-level rework."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.scrub import (
        q_source_quota_sample,
    )

    plan = plan_string(q_source_quota_sample(spark, SF_SMOKE))
    assert "WindowGroupLimit" in plan, plan
    # formatted mode lists the Partial node's Arguments line; the Partial
    # instance must exist (map-side), not just the Final one
    assert "Partial" in plan, plan


def test_packing_tier_windows_are_not_source_bounded(spark):
    """Round-7 rework (round-6 verdict items 2-3): no full-corpus window in
    the packing/loader tier may partition on the low-cardinality key alone.
    The per-source cumsum (pack_training_sequences, curate_pack_corpus) and
    the unlimited rank windows (preference_pairs_by_source,
    length_bucketed_batches) now label rows with a partition id monotone
    in (key, order), compute tiny per-(partition, key) offsets, broadcast
    them back, and window LOCALLY on (_pid, key) — so parallelism scales
    with the data, not |sources|/|buckets|."""
    import re

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    reg = load_all()
    for name, key in (
        ("pack_training_sequences", "source"),
        ("curate_pack_corpus", "source"),
        ("curate_pack_quality_gated", "source"),
        ("preference_pairs_by_source", "source"),
        ("length_bucketed_batches", "bucket"),
    ):
        plan = plan_string(reg[name].fn(spark, SF_SMOKE))
        # the two-level form: the local window's exchange hashes the
        # order-monotone partition id together with the low-cardinality
        # key — formatted mode puts the partitioning under the Exchange
        # node's Arguments line
        assert re.search(rf"hashpartitioning\(_pid#\d+, {key}#\d+L?, ", plan), (
            f"{name}: no (_pid, key) hash exchange\n{plan}"
        )
        # ...a broadcast join bringing the per-partition offsets back...
        assert "BroadcastHashJoin" in plan, name
        # ...and NO full-corpus window partitioned on the bare key with the
        # data order (the old |keys|-bounded shape).  The offsets window
        # (partitionBy key, orderBy _pid over <= |partitions| rows) and the
        # local window (partitionBy (_pid, key)) are the only keyed windows.
        assert not re.search(
            rf"windowspecdefinition\({key}#\d+L?, (doc_id|_negscore|score)#", plan
        ), f"{name}: full-corpus window still keyed on bare {key}\n{plan}"


def test_rank_helpers_stay_exact_with_query_caches_released(spark):
    """The two-phase rank helpers evaluate their input in two plan branches
    (per-partition totals and the offset join-back), and both must label
    every row with the same partition id.  That id is a pure function of
    the row (its count of hash-sampled bounds below it), so the result
    must not depend on any cache pin: build customer_rfm_segments, release
    every query-scoped cache BEFORE the action (the embedded-consumer
    contract in functions.cachectl), and the output must still equal the
    DuckDB oracle — with no cached relation and no range exchange left in
    the executed plan."""
    import os

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.cachectl import (
        release_query_caches,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all
    from tools.check_oracle import duck_connection, normalize

    sf = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    spec = load_all()["customer_rfm_segments"]
    df = spec.fn(spark, sf)
    release_query_caches(spark)
    spark.catalog.clearCache()
    rows = [tuple(r) for r in df.collect()]
    oracle = duck_connection(sf).execute(spec.oracle)
    want = normalize(oracle.fetchall(), [d[0] for d in oracle.description])
    assert normalize(rows, df.columns) == want
    # collect() (not count()) finalizes df's OWN plan
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in executed, executed
    assert "rangepartitioning" not in executed.lower(), executed


def test_no_data_sized_single_partition_windows(spark):
    """Round-8 sweep (round-7 verdict item 4): no converted query may retain
    an unpartitioned window over a frame that grows with users / docs /
    customers / events.  In plan text an unpartitioned window's
    windowspecdefinition STARTS with an ordered column (partition columns
    carry no ASC/DESC); the only such window allowed is the offsets
    prefix-sum over the ≤|partitions|-row totals frame, which orders by
    _pid.  A windowspec with neither partition nor order columns (the old
    ``Window.partitionBy()`` global-count form) is banned outright."""
    import re

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all

    reg = load_all()
    for name in (
        "user_value_quartiles",
        "conversion_latency_quantiles",
        "psi_click_vs_purchase",
        "join_key_skew_profile",
        "customer_abc_classes",
        "customer_rfm_segments",
        "customer_revenue_gini",
        "quantile_normalized_scores",
        # second pass: low-cardinality KEYED windows over fact frames
        "median_value_by_event_type",
        "quartiles_by_event_type",
        "iqr_outlier_events",
        "winsorized_values_by_event_type",
        "equi_depth_histogram_by_event_type",
        "mad_outlier_events",
        "quality_deciles_by_lang",
        "m4_downsample_values",
        # third pass: candidate-frame global rankers
        "hybrid_search_rrf",
        "ndcg_tfidf_vs_overlap",
        # round-9 oracle-ization: the sketch-percentile brackets rank the
        # raw events frame — must ride keyed_row_number, not a keyed window
        "approx_percentiles_by_event_type",
    ):
        plan = plan_string(reg[name].fn(spark, SF_SMOKE))
        for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
            head = spec.split(",")[0].strip()
            if head.startswith("specifiedwindowframe"):
                raise AssertionError(
                    f"{name}: windowspec with no partition and no order "
                    f"(global single-partition aggregate): {spec}\n{plan}"
                )
            if " ASC" in head or " DESC" in head:  # no partition columns
                assert head.startswith("_pid"), (
                    f"{name}: single-partition window over a data-sized "
                    f"frame (first spec column {head!r}): {spec}\n{plan}"
                )
            # keyed form of the same trap: a window partitioned on the BARE
            # low-cardinality key whose order column is data (not _pid) —
            # the two-level pattern's only keyed windows are
            # (key, orderBy _pid) offsets and (_pid, key, ...) locals
            elif head.split("#")[0] in ("event_type", "lang", "bucket"):
                second = spec.split(",")[1].strip() if "," in spec else ""
                if (" ASC" in second or " DESC" in second) and not second.startswith("_pid"):
                    raise AssertionError(
                        f"{name}: fact-sized window keyed on bare "
                        f"{head.split('#')[0]} with data order: {spec}\n{plan}"
                    )


def test_bound_summaries_pin_one_detail_execution(spark):
    """The r10 bound-summary wrappers consume their detail frame in two
    legs of one output (recall join + anti-join, stats + over-threshold,
    pagerank + node universe, n_results + hits).  Exchange reuse is not
    guaranteed across those shapes, so each wrapper must localCheckpoint
    the detail — the corpus-sized screen executes exactly ONCE and the
    summary's plan reads the pinned RDD, never the corpus again (r10
    driver bench: textrank_keywords 12.7 s vs its 5.5 s single-pass
    detail, the double corpus pass made visible)."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
        q_dedup_simhash,
        q_neardup_embedding_lsh,
        q_neardup_minhash,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.graphrank import q_textrank_keywords
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import q_ann_ivf_topk, q_ann_lsh_topk

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
        dedup_simhash_detail,
        embedding_lsh_detail,
        minhash_lsh_detail,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import ivf_topk_detail, lsh_topk_detail

    # marker = a plan fragment only the corpus-sized detail subtree
    # contains.  Self-validating: the marker must appear in the DETAIL's
    # own plan (else the pin is vacuous) and must be absent from the
    # summary's plan (the checkpoint replaced the subtree).
    cases = [
        (q_neardup_minhash, minhash_lsh_detail, "shingles"),
        (q_dedup_simhash, dedup_simhash_detail, "shingles"),
        (q_neardup_embedding_lsh, embedding_lsh_detail, "embeddings.parquet"),
        (q_ann_lsh_topk, lsh_topk_detail, "embeddings.parquet"),
        (q_ann_ivf_topk, ivf_topk_detail, "embeddings.parquet"),
        # textrank's detail checkpoints its own edge frame (pagerank UNIONs
        # the subtree), so only the summary-side assertions apply
        (q_textrank_keywords, None, "FlatMapGroupsInPandas"),
    ]
    for fn, detail_fn, marker in cases:
        if detail_fn is not None:
            detail_plan = plan_string(detail_fn(spark, SF_SMOKE))
            assert marker in detail_plan, (
                f"{detail_fn.__name__}: marker {marker!r} not in the detail "
                f"plan — pick a new marker\n{detail_plan}"
            )
        plan = plan_string(fn(spark, SF_SMOKE))
        assert "ExistingRDD" in plan, f"{fn.__name__}: detail leg not checkpointed\n{plan}"
        assert marker not in plan, (
            f"{fn.__name__}: corpus subtree ({marker!r}) still in the summary "
            f"plan — the detail would re-execute per leg\n{plan}"
        )
