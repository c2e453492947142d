"""Bound-summary wrappers: the registered one-row (or one-row-per-query)
surfaces that relate a screen's detail output to its exact truth tier.

The DuckDB oracle asserts each Spark-computed boolean TRUE, so on the real
corpus it can only see a boolean that reads FALSE.  These tests feed each
wrapper a deliberately broken detail and check that the boolean flips;
they also pin that building a summary runs no Spark job and that the
summaries match the oracle on empty tables.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe import dedup, similarity
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.stage import (
    staged_embedding_pairs,
    staged_jaccard_pairs,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.registry import load_all
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources.tables import TABLE_NAMES

from .conftest import SF_SMOKE


def test_bound_summaries_run_no_jobs_at_build_time(spark):
    """Building a summary is lazy: once the staged truth tables and the
    parquet schema memo exist, building runs no Spark job at all (an
    eager checkpoint of the detail ran 4–6 of them per build)."""
    reg = load_all()
    names = ("neardup_minhash_lsh", "dedup_simhash", "ann_lsh_topk")
    for name in names:
        reg[name].fn(spark, SF_SMOKE).collect()
    sc = spark.sparkContext
    try:
        for name in names:
            group = f"build:{name}"
            sc.setJobGroup(group, group)
            reg[name].fn(spark, SF_SMOKE)
            sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
            assert jobs == [], f"{name}: {len(jobs)} job(s) ran while the plan was built"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_minhash_summary_flags_missed_strong_pair_and_false_pair(spark, monkeypatch):
    truth = staged_jaccard_pairs(spark, SF_SMOKE).select("doc_a", "doc_b", "jaccard")
    dropped = (
        truth.filter(F.col("jaccard") >= dedup.STRONG_JACCARD).orderBy("doc_a", "doc_b").first()
    )
    assert dropped is not None, "the smoke corpus has no strong pair to drop"
    pairs = truth.select("doc_a", "doc_b")
    # truth pairs are ordered doc_a < doc_b, so the reversed pair is not one
    false_pair = spark.createDataFrame([(dropped.doc_b, dropped.doc_a)], pairs.schema)
    found = pairs.filter(
        (F.col("doc_a") != dropped.doc_a) | (F.col("doc_b") != dropped.doc_b)
    ).union(false_pair)
    want = dedup.q_neardup_minhash(spark, SF_SMOKE).first()
    assert want.found_subset_of_truth and want.strong_pairs_all_found

    monkeypatch.setattr(dedup, "minhash_lsh_detail", lambda spark, sf_dir: found)
    got = dedup.q_neardup_minhash(spark, SF_SMOKE).first()
    assert not got.found_subset_of_truth
    assert not got.strong_pairs_all_found
    assert got.n_true_pairs == want.n_true_pairs
    assert got.n_strong_true_pairs == want.n_strong_true_pairs


def test_simhash_summary_flags_pair_over_threshold(spark, monkeypatch):
    detail = dedup.dedup_simhash_detail(spark, SF_SMOKE)
    over = spark.createDataFrame([(-2, -1, dedup.SIMHASH_MAX_HAMMING + 1)], detail.schema)
    want = dedup.q_dedup_simhash(spark, SF_SMOKE).first()
    assert want.all_pairs_within_threshold

    monkeypatch.setattr(dedup, "dedup_simhash_detail", lambda spark, sf_dir: detail.union(over))
    got = dedup.q_dedup_simhash(spark, SF_SMOKE).first()
    assert not got.all_pairs_within_threshold
    assert got.n_identical_pairs == want.n_identical_pairs
    assert got.identical_pairs_found_h0 == want.identical_pairs_found_h0


def test_simhash_summary_finds_and_flags_identical_pair(spark, tmp_path, tmp_stage, monkeypatch):
    """The smoke and sf0.01 corpora hold no identical documents, so there
    ``identical_pairs_found_h0`` is TRUE over zero pairs.  With one document
    duplicated under a new doc_id the pair is counted, found at hamming 0
    and agrees with the DuckDB twin; a screen that drops the hamming-0
    pairs reads FALSE."""
    from tools.check_oracle import compare, duck_connection

    sf_dir = tmp_path / "sf_dup"
    sf_dir.mkdir()
    for name in TABLE_NAMES:
        if name != "documents":
            os.symlink(os.path.join(SF_SMOKE, f"{name}.parquet"), sf_dir / f"{name}.parquet")
    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    longest = max(range(docs.num_rows), key=lambda i: docs["n_chars"][i].as_py())
    dup = docs.slice(longest, 1).to_pylist()
    dup[0]["doc_id"] = max(docs["doc_id"].to_pylist()) + 1
    pq.write_table(pa.concat_tables([docs, pa.Table.from_pylist(dup, docs.schema)]),
                   sf_dir / "documents.parquet")

    want = dedup.q_dedup_simhash(spark, str(sf_dir)).first()
    assert want.n_identical_pairs >= 1
    assert want.identical_pairs_found_h0
    assert compare("dedup_simhash", spark, duck_connection(str(sf_dir)), str(sf_dir),
                   load_all()["dedup_simhash"]) == "OK"

    detail = dedup.dedup_simhash_detail(spark, str(sf_dir))
    monkeypatch.setattr(dedup, "dedup_simhash_detail",
                        lambda spark, sf_dir: detail.filter(F.col("hamming") > 0))
    got = dedup.q_dedup_simhash(spark, str(sf_dir)).first()
    assert got.n_identical_pairs == want.n_identical_pairs
    assert not got.identical_pairs_found_h0


def test_embedding_summary_flags_cosine_mismatch(spark, monkeypatch):
    truth = staged_embedding_pairs(spark, SF_SMOKE).select("vec_a", "vec_b", "cos_sim")
    first = truth.orderBy("vec_a", "vec_b").first()
    assert first is not None, "the smoke corpus has no near-duplicate embedding pair"
    moved = (F.col("vec_a") == first.vec_a) & (F.col("vec_b") == first.vec_b)
    found = truth.withColumn(
        "cos_sim", F.when(moved, F.col("cos_sim") + 1e-6).otherwise(F.col("cos_sim"))
    )
    want = dedup.q_neardup_embedding_lsh(spark, SF_SMOKE).first()
    assert want.sims_match_truth

    monkeypatch.setattr(dedup, "embedding_lsh_detail", lambda spark, sf_dir: found)
    got = dedup.q_neardup_embedding_lsh(spark, SF_SMOKE).first()
    assert not got.sims_match_truth
    assert got.found_subset_of_truth and got.recall_ge_floor
    assert got.n_true_pairs == want.n_true_pairs


def test_ann_summary_flags_recall_under_floor(spark, monkeypatch):
    """A probe whose neighbours all miss the truth: same number of results
    per query, recall 0, so the mean falls under the floor.  (Keeping half
    of the true neighbours would not: the lsh floor is 0.2.)"""
    lsh = dict(similarity.ANN_METHODS)["lsh"]
    want = {r.query_id: r for r in similarity.q_ann_lsh_topk(spark, SF_SMOKE).collect()}
    assert all(r.mean_recall_ge_floor for r in want.values())

    def missing(spark, sf_dir):
        return lsh(spark, sf_dir).withColumn("neighbor_id", -1 - F.col("neighbor_id"))

    monkeypatch.setattr(
        similarity,
        "ANN_METHODS",
        tuple((m, missing if m == "lsh" else fn) for m, fn in similarity.ANN_METHODS),
    )
    got = {r.query_id: r for r in similarity.q_ann_lsh_topk(spark, SF_SMOKE).collect()}
    assert got.keys() == want.keys()
    assert not any(r.mean_recall_ge_floor for r in got.values())
    assert {q: r.n_results for q, r in got.items()} == {q: r.n_results for q, r in want.items()}
    assert {q: r.n_true for q, r in got.items()} == {q: r.n_true for q, r in want.items()}


def test_bound_summaries_match_oracle_on_empty_tables(spark, tmp_path, tmp_stage):
    """Zero-row copies of every table, with a fresh stage dir: each summary
    still equals its DuckDB twin (one row of 0 / TRUE for the pair
    summaries, no rows for the per-query ANN summary)."""
    from tools.check_oracle import compare, duck_connection

    empty = tmp_path / "sf_empty"
    empty.mkdir()
    for name in TABLE_NAMES:
        src = os.path.join(SF_SMOKE, f"{name}.parquet")
        pq.write_table(pq.read_schema(src).empty_table(), empty / f"{name}.parquet")
    reg = load_all()
    con = duck_connection(str(empty))
    for name in ("neardup_minhash_lsh", "neardup_embedding_lsh", "dedup_simhash", "ann_lsh_topk"):
        assert compare(name, spark, con, str(empty), reg[name]) == "OK", name
