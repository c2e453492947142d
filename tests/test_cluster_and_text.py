"""Semantics tests for connected-components dedup clustering, TF-IDF,
inverted index, deterministic sampling, and date-spine gap-fill."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.cluster import (
    bfs_hop_distance,
    connected_components,
    q_neardup_cc,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
    JACCARD_THRESHOLD,
    jaccard_pairs,
    shingle_sets,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
    SAMPLE_STRATA,
    TFIDF_TOP_K,
    q_inverted_index,
    q_stratified_hash_sample,
    q_tfidf_top_terms,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
    q_daily_gapfill,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table

from .conftest import SF_SMOKE


def test_connected_components_chain_and_singleton(spark):
    # chain 1-2-3 plus isolated 4: one 3-cluster rooted at 1, one singleton
    edges = spark.createDataFrame([(2, 1), (2, 3)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    got = {r["id"]: r["label"] for r in connected_components(edges, verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_neardup_pairs_land_in_same_cluster(spark):
    assign = {r["doc_id"]: r["cluster_id"] for r in q_neardup_cc(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = jaccard_pairs(shingle_sets(docs), JACCARD_THRESHOLD).collect()
    assert pairs, "smoke corpus should contain near-dup pairs"
    for p in pairs:
        assert assign[p["doc_a"]] == assign[p["doc_b"]]
    # cluster_id is a member of its own cluster (the min doc_id)
    assert all(assign[cid] == cid for cid in set(assign.values()))


def test_keep_best_in_cluster_picks_max_quality_member(spark):
    """Survivor selection: one representative per cluster, drawn from the
    cluster's members, carrying the cluster's maximum quality score (doc_id
    tiebreak)."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.cluster import (
        q_keep_best_in_cluster,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        _quality_score_frame,
    )

    assign = {r["doc_id"]: r["cluster_id"] for r in q_neardup_cc(spark, SF_SMOKE).collect()}
    scores = {r["doc_id"]: r["score"] for r in _quality_score_frame(spark, SF_SMOKE).collect()}
    reps = q_keep_best_in_cluster(spark, SF_SMOKE).collect()
    assert len(reps) == len(set(assign.values()))  # one row per cluster
    for r in reps:
        members = [d for d, c in assign.items() if c == r["cluster_id"]]
        assert r["rep_doc_id"] in members
        best = max(members, key=lambda d: (scores[d], -d))
        assert r["rep_doc_id"] == best and r["rep_score"] == scores[best]
        assert r["cluster_size"] == len(members)


def test_tfidf_topk_and_score_ordering(spark):
    rows = q_tfidf_top_terms(spark, SF_SMOKE).collect()
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in per_doc.values():
        assert len(doc_rows) <= TFIDF_TOP_K
        scores = sorted((r["tfidf"] for r in doc_rows), reverse=True)
        assert scores[0] == max(r["tfidf"] for r in doc_rows)


def test_inverted_index_postings_sorted_and_df_consistent(spark):
    rows = q_inverted_index(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        ids = [int(x) for x in r["postings"].split(",")]  # driver-hashable string form
        assert r["df"] == len(ids)
        assert ids == sorted(set(ids))  # numeric sort, distinct doc_ids


def test_stratified_sample_rates_and_determinism(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    totals = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept_rows = q_stratified_hash_sample(spark, SF_SMOKE).collect()
    kept: dict[str, int] = {}
    for r in kept_rows:
        kept[r["source"]] = kept.get(r["source"], 0) + 1
    for src, thresh in SAMPLE_STRATA.items():
        if totals.get(src, 0) >= 20:
            rate = kept.get(src, 0) / totals[src]
            assert abs(rate - thresh / 16) < 0.25
    for src in totals:
        if src not in SAMPLE_STRATA:
            assert kept.get(src, 0) == totals[src]  # unlisted: kept whole
    again = q_stratified_hash_sample(spark, SF_SMOKE).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in kept_rows)


def test_gapfill_spine_is_dense(spark):
    rows = sorted(q_daily_gapfill(spark, SF_SMOKE).collect(), key=lambda r: r["day"])
    days = [r["day"] for r in rows]
    assert days[-1] - days[0] == datetime.timedelta(days=len(days) - 1)
    assert all(r["n_events"] >= 0 for r in rows)
    assert sum(r["n_events"] for r in rows) == load_table(spark, SF_SMOKE, "events").count()


def test_freqitems_contains_all_true_heavy_hitters(spark):
    """freqItems' one-sided guarantee: any term with frequency above the
    support threshold must appear in the sketch output."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        approx_heavy_hitters_detail,
        q_heavy_hitter_terms,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.text import tokens_col

    docs = load_table(spark, SF_SMOKE, "documents")
    total = docs.select(F.explode(tokens_col("text")).alias("t")).count()
    sketch_df = approx_heavy_hitters_detail(spark, SF_SMOKE)
    # the sketch must stay IN the plan (lazy collect_frequent_items agg), not
    # run eagerly at build time and come back as a collected LocalRelation
    plan = sketch_df._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_frequent_items" in plan
    approx = {r["term"] for r in sketch_df.collect()}
    for r in q_heavy_hitter_terms(spark, SF_SMOKE).collect():
        if r["n"] > 0.02 * total:
            assert r["term"] in approx


def test_merge_upsert_semantics(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", "OLD"), (2, "b", "OLD")], "k long, name string, seg string"
    )
    changes = spark.createDataFrame([(2, "NEW"), (3, "INS")], "k long, seg string")
    got = {r["k"]: (r["name"], r["seg"]) for r in merge_upsert(target, changes, "k").collect()}
    assert got == {1: ("a", "OLD"), 2: ("b", "NEW"), 3: (None, "INS")}


def test_funnel_purchase_before_click_does_not_convert(spark):
    """A purchase that precedes every click must not count as conversion."""
    import datetime as dt

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
        q_click_purchase_funnel,
    )

    rows = q_click_purchase_funnel(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r["converted"]:
            assert r["first_purchase"] >= r["first_click"]
        else:
            assert r["first_purchase"] is None


def test_python_datasource_partitions_and_determinism(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.pydatasource import (
        q_synthetic_source,
    )

    df = q_synthetic_source(spark, "")
    assert df.rdd.getNumPartitions() == 8  # partition planning, not one task
    rows = {r["doc_id"]: r["text"] for r in df.collect()}
    assert len(rows) == 1000
    assert rows[9] == "synthetic document 9 body w w "
    assert rows == {r["doc_id"]: r["text"] for r in q_synthetic_source(spark, "").collect()}


def test_observe_collects_metrics_without_extra_action(spark):
    """df.observe: aggregate metrics piggyback on the SAME action (no second
    job over the data) — the scale-correct way to emit row-count/quality
    metrics from a 100 TB pipeline write."""
    from pyspark.sql import Observation

    docs = load_table(spark, SF_SMOKE, "documents")
    obs = Observation("ingest_gate")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    n = observed.count()  # the one action
    assert obs.get["n_rows"] == n
    assert obs.get["total_chars"] == docs.agg(F.sum(F.length("text"))).collect()[0][0]


def test_star_cc_converges_in_fewer_rounds_on_deep_chain(spark):
    """A 64-node path graph (diameter 63): one-hop label propagation would
    need O(diameter) rounds, large-star/small-star needs O(log diameter)."""
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")

    stats: dict = {}
    got = {
        r["id"]: r["label"]
        for r in connected_components(edges, verts, max_iter=20, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    assert stats["iterations"] <= 10, f"{stats['iterations']} rounds on diameter {n - 1}"


def test_connected_components_without_edges_gives_singletons(spark):
    # a 0-row edge set: the observed fingerprint of an empty checkpoint
    # must still read (and converge) rather than block or fail
    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(1, 4)], "id long")
    stats: dict = {}
    got = {r["id"]: r["label"] for r in connected_components(edges, verts, stats=stats).collect()}
    assert got == {1: 1, 2: 2, 3: 3}
    assert stats["iterations"] == 1


def test_fixpoint_loops_run_no_action_besides_their_checkpoints(spark, monkeypatch):
    """Each round's convergence scalar is read from the job its
    ``localCheckpoint`` already runs: building either loop calls no
    DataFrame action at all."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "src long, dst long"
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    verts = spark.createDataFrame([(i,) for i in range(1, 10)], "id long")
    seeds = spark.createDataFrame([(1,)], "doc_id long")

    def forbidden(*_a, **_k):
        raise AssertionError("driver action inside a fixpoint loop")

    # the session's concrete DataFrame class (pyspark.sql.DataFrame is only
    # its base), so the patch reaches every frame the loops build
    for name in ("collect", "count", "isEmpty", "first", "take", "toPandas"):
        monkeypatch.setattr(type(edges), name, forbidden)
    stats: dict = {}
    cc = connected_components(edges, verts, stats=stats)
    dist = bfs_hop_distance(sym, seeds, 6)
    monkeypatch.undo()

    assert {r["id"]: r["label"] for r in cc.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 6, 7: 7, 8: 7, 9: 9
    }
    assert stats["iterations"] >= 1
    assert {r["doc_id"]: r["hop"] for r in dist.collect()} == {1: 0, 2: 1, 3: 2, 4: 3}
