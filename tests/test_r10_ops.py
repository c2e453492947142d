"""Round-5 (r10 tag) operators: exact-substring dedup spans and the IVF-PQ
composite ANN index."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
    EXSUB_L,
    q_dup_substring_spans,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
    N_QUERIES,
    TOP_K,
    ivfpq_topk_detail,
    q_ann_cosine_topk,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.text import tokens_col
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table

from .conftest import SF_SMOKE


# --- exact-substring duplicate spans ------------------------------------------


def test_substring_spans_invariants(spark):
    """Spans are within doc bounds, at least L tokens, per-doc disjoint with
    ≥1-token gaps (maximality of the island merge), and window counts agree
    with span geometry."""
    spans = q_dup_substring_spans(spark, SF_SMOKE).collect()
    assert spans, "fixture corpus has known near-duplicate docs; spans expected"
    n_toks = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", F.size(tokens_col("text")).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in spans:
        assert r["span_end"] - r["span_start"] + 1 == r["span_tokens"]
        assert r["span_tokens"] >= EXSUB_L
        assert 1 <= r["span_start"] <= r["span_end"] <= n_toks[r["doc_id"]]
        # islands merge every window within L: windows inside one span are
        # the positions span_start..span_end-L+1, but only duplicated ones
        # are counted, so n_dup_windows is bounded by the span's window slots
        assert 1 <= r["n_dup_windows"] <= r["span_tokens"] - EXSUB_L + 1
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for doc_id, ivs in by_doc.items():
        ivs.sort()
        for (s1, e1), (s2, e2) in zip(ivs, ivs[1:]):
            # merged islands: next span starts strictly AFTER a gap that no
            # single duplicate window could bridge
            assert s2 > e1 + 1, (doc_id, ivs)


def test_substring_spans_cover_known_near_duplicates(spark):
    """The fixture corpus has no EXACT duplicate documents (verified — the
    dedup family works off near-dups), but its closest near-dup pairs share
    long verbatim runs, which is precisely what the substring pass exists
    to catch where document-level dedup wouldn't fire.  Both sides of the
    corpus's highest-Jaccard pairs must carry a duplicate span, and
    near-identical docs (12↔360: simhash hamming 0, jaccard 0.987) must be
    flagged over most of their length."""
    spans: dict[int, int] = {}
    for r in q_dup_substring_spans(spark, SF_SMOKE).collect():
        spans[r["doc_id"]] = spans.get(r["doc_id"], 0) + r["span_tokens"]
    for doc in (12, 360, 110, 467, 474, 498):  # golden near-dup pairs (test_datapipe)
        assert doc in spans, doc
    n_toks = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "documents")
        .filter(F.col("doc_id").isin(12, 360))
        .select("doc_id", F.size(tokens_col("text")).alias("n"))
        .collect()
    }
    for doc in (12, 360):
        assert spans[doc] >= int(0.8 * n_toks[doc])


def test_substring_spans_cross_doc_only_span(spark, tmp_stage):
    """A synthetic corpus where two docs share an interior run of exactly
    L+2 tokens (hosts otherwise unique) must yield one span of L+2 tokens
    in each, at the right offsets — and a third unique doc yields none."""
    import shutil
    import tempfile

    shared = " ".join(f"shared{i}" for i in range(EXSUB_L + 2))
    rows = [
        (0, f"alpha0 alpha1 alpha2 {shared} omega0 omega1", "en", "s", 0),
        (1, f"beta0 {shared} gamma0 gamma1 gamma2 gamma3", "en", "s", 0),
        (2, " ".join(f"unique{i}" for i in range(EXSUB_L + 10)), "en", "s", 0),
    ]
    d = tempfile.mkdtemp(prefix="exsub_")
    try:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["n_dup_windows"])
            for r in q_dup_substring_spans(spark, d).collect()
        }
        # doc 0: shared run occupies tokens 4..L+5 (3 leading tokens)
        assert got[0] == (4, EXSUB_L + 5, 3)
        # doc 1: shared run occupies tokens 2..L+3 (1 leading token)
        assert got[1] == (2, EXSUB_L + 3, 3)
        assert 2 not in got
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- IVF-PQ composite ANN -------------------------------------------------------


def test_ivfpq_topk_shape_recall_and_determinism(spark):
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in q_ann_cosine_topk(spark, SF_SMOKE).collect()
    }
    got1 = ivfpq_topk_detail(spark, SF_SMOKE).collect()
    got2 = ivfpq_topk_detail(spark, SF_SMOKE).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, got1)) == sorted(map(tuple, got2))  # deterministic
    per_q: dict[int, int] = {}
    for r in got1:
        assert 1 <= r["rank"] <= TOP_K
        assert r["query_id"] != r["neighbor_id"]
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert set(per_q) == set(range(N_QUERIES))
    hits = sum(1 for r in got1 if (r["query_id"], r["neighbor_id"]) in truth)
    recall = hits / len(truth)
    # IVF pruning caps recall below plain PQ; on the near-uniform synthetic
    # embeddings nprobe/lists = 1/4 of the corpus is scanned — floor well
    # below the PQ bar but far above chance (5/500 ≈ 0.01)
    assert recall >= 0.2, recall


def test_ivfpq_candidates_respect_probed_lists(spark):
    """Every IVF-PQ result must come from a coarse list its query probes —
    the pruning contract that makes the index sublinear."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
        IVF_NPROBE,
        train_ivf_centroids,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    centroids = train_ivf_centroids(emb)
    pdf = emb.select("vec_id", "embedding").toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    sims = vecs @ centroids.T
    assign = {int(i): int(np.argmax(sims[k])) for k, i in enumerate(ids)}
    order = np.argsort(-sims, axis=1)
    probes = {int(i): set(map(int, order[k][:IVF_NPROBE])) for k, i in enumerate(ids)}
    for r in ivfpq_topk_detail(spark, SF_SMOKE).collect():
        assert assign[r["neighbor_id"]] in probes[r["query_id"]], r


# --- span-cut transform ---------------------------------------------------------


def test_cut_substrings_consistent_with_spans(spark):
    """One output row per document; n_removed_tokens equals the summed span
    widths; clean token count + removed = original; spanless docs pass
    through with their normalized text intact."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
        q_dedup_cut_substrings,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.text import (
        normalize_text,
    )

    docs = {
        r["doc_id"]: (r["norm"], r["n"])
        for r in load_table(spark, SF_SMOKE, "documents")
        .select(
            "doc_id",
            normalize_text("text").alias("norm"),
            F.size(tokens_col("text")).alias("n"),
        )
        .collect()
    }
    span_sum: dict[int, int] = {}
    for r in q_dup_substring_spans(spark, SF_SMOKE).collect():
        span_sum[r["doc_id"]] = span_sum.get(r["doc_id"], 0) + r["span_tokens"]
    out = q_dedup_cut_substrings(spark, SF_SMOKE).collect()
    assert len(out) == len(docs)
    for r in out:
        norm, n = docs[r["doc_id"]]
        assert r["n_removed_tokens"] == span_sum.get(r["doc_id"], 0)
        n_clean = len(r["clean_text"].split(" ")) if r["clean_text"] else 0
        assert n_clean + r["n_removed_tokens"] == n
        if r["doc_id"] not in span_sum:
            assert r["clean_text"] == norm


def test_corpus_datasheet_totals(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.curate import (
        q_corpus_datasheet,
    )

    rows = q_corpus_datasheet(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert {r["source"] for r in rows} == {
        r["source"] for r in docs.select("source").distinct().collect()
    }
    for r in rows:
        assert 0 < r["top_lang_share"] <= 1.0
        assert 0 <= r["n_spanned_docs"] <= r["n_docs"]
        assert 0.0 <= r["dup_token_share"] < 1.0
        assert abs(r["avg_tokens"] - r["total_tokens"] / r["n_docs"]) < 1e-12


# --- from-scratch HyperLogLog ----------------------------------------------------


def test_hll_from_scratch_error_bound_and_merge(spark):
    """The raw-HLL estimate at m=64 (rsd ≈ 1.04/√64 = 13%) must land within
    a few standard errors of the exact count, and the registers must be
    re-aggregatable: union-max of per-half register tables equals the
    registers of the union — the sketch-merge identity."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.analytics import (
        q_hll_distinct_users,
    )

    for r in q_hll_distinct_users(spark, SF_SMOKE).collect():
        assert abs(r["rel_err"]) <= 0.5, r
        assert r["hll_estimate"] > 0
        assert abs(r["hll_estimate"] / r["n_exact"] - 1.0 - r["rel_err"]) < 1e-6
    # merge identity on raw registers (max per bucket distributes over union)
    ev = load_table(spark, SF_SMOKE, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast("long")
    rho = F.when(F.shiftright(h, 6) == 0, 55).otherwise(
        55 - F.length(F.conv(F.shiftright(h, 6), 10, 2))
    )
    base = ev.select((h % 64).alias("bucket"), rho.alias("rho"), "event_id")
    full = {
        (r["bucket"],): r["m"]
        for r in base.groupBy("bucket").agg(F.max("rho").alias("m")).collect()
    }
    halves = []
    for pred in (F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1):
        halves.append(
            {
                r["bucket"]: r["m"]
                for r in base.filter(pred).groupBy("bucket").agg(F.max("rho").alias("m")).collect()
            }
        )
    merged = {
        b: max(halves[0].get(b, 0), halves[1].get(b, 0))
        for b in set(halves[0]) | set(halves[1])
    }
    assert {(b,): m for b, m in merged.items()} == full


# --- Bloom contamination screen & tokenizer fertility -----------------------------


def test_bloom_screen_no_false_negatives_and_fp_accounting(spark):
    """A Bloom filter can false-positive but NEVER false-negative: every
    true fingerprint overlap must be flagged, so n_flagged >= n_true_overlap
    and n_false_pos is their exact gap; counts bounded by the eval set."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
        q_bloom_contamination_screen,
    )

    rows = q_bloom_contamination_screen(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_flagged"] >= r["n_true_overlap"]
        assert r["n_false_pos"] == r["n_flagged"] - r["n_true_overlap"]
        assert 0 <= r["n_flagged"] <= r["n_eval_docs"]


def test_tokenizer_fertility_ratios(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        q_tokenizer_fertility_by_lang,
    )

    rows = q_tokenizer_fertility_by_lang(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        # the BPE-ish regex splits punctuation off words, so it can only
        # produce at least as many segments as whitespace words
        assert r["fertility"] >= 1.0
        assert r["chars_per_token"] > 1.0
        assert abs(r["fertility"] - round(r["n_tokens"] / r["n_words"], 9)) < 1e-12


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.analytics import (
        BOOT_B,
        q_bootstrap_mean_ci,
    )

    rows1 = {r["event_type"]: r for r in q_bootstrap_mean_ci(spark, SF_SMOKE).collect()}
    rows2 = {r["event_type"]: r for r in q_bootstrap_mean_ci(spark, SF_SMOKE).collect()}
    assert rows1.keys() == rows2.keys()
    for t, r in rows1.items():
        assert r["ci_lo"] <= r["ci_hi"]
        # the resample distribution centers on the observed mean; with the
        # central-80% rank CI the point estimate lies inside at this n
        assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"], r
        assert r["n_resamples"] == BOOT_B
        assert tuple(rows2[t]) == tuple(r)  # bit-deterministic


def test_theilsen_recovers_planted_trend(spark, tmp_stage):
    """On a planted series (day d has 3d+10 events, one wild 1000-event
    outlier day), the median-of-pairwise-slopes estimate must recover slope
    3 exactly — only 10 of 55 pairs touch the outlier — where OLS would be
    dragged.  The median-based intercept evaluates to 13 here (the median-y
    day is x=6, giving 28 − 3·5): the standard estimator's quirk, asserted
    exactly."""
    import shutil
    import tempfile
    from datetime import datetime

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        q_theilsen_daily_trend,
    )

    rows = []
    eid = 0
    for d in range(11):
        n = 3 * d + 10 if d != 5 else 1000  # day 5 is the outlier
        for k in range(n):
            rows.append((eid, datetime(2024, 4, 1 + d, 8 + (k % 12)), 1, "click", 1.0, "{}"))
            eid += 1
    tmp = tempfile.mkdtemp(prefix="ts_")
    try:
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        ).write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        r = q_theilsen_daily_trend(spark, tmp).collect()[0]
        assert r["n_days"] == 11
        assert r["slope"] == 3.0
        assert r["intercept"] == 13.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_compression_ratio_orders_repetition_prose_noise(spark, tmp_stage):
    """The signal's reason to exist: looping text compresses far below
    prose, and random noise barely compresses at all — plus bounds and
    determinism on the real corpus."""
    import shutil
    import string
    import tempfile

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        doc_compression_ratio_detail,
    )

    rng = np.random.RandomState(0)
    noise = "".join(rng.choice(list(string.ascii_letters + string.digits), 2000))
    rows = [
        (0, "spam and eggs " * 150, "en", "s", 0),  # repetitive
        (1, ("the quick brown fox jumps over the lazy dog while rain in "
             "spain falls mainly on the plain and every sentence differs "
             "slightly in wording, rhythm, vocabulary and clause order ") * 10, "en", "s", 0),
        (2, noise, "en", "s", 0),  # incompressible
    ]
    d = tempfile.mkdtemp(prefix="zr_")
    try:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        got = {r["doc_id"]: r for r in doc_compression_ratio_detail(spark, d).collect()}
        assert got[0]["ratio"] < got[1]["ratio"] < got[2]["ratio"]
        assert got[0]["ratio"] < 0.1  # pure repetition collapses
        assert got[2]["ratio"] > 0.6  # noise barely compresses
        for r in got.values():
            assert 0 < r["n_compressed"] and 0 < r["ratio"] <= 1.5
            assert r["n_bytes"] == len(rows[r["doc_id"]][1].encode())
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_label_outliers_flag_planted_mislabel(spark, tmp_stage):
    """A vector planted far from its own class centroid (near the OPPOSITE
    of the class mean direction) must surface as that label's rank-1
    outlier, and every label reports exactly OUTLIER_TOP_K rows with
    descending distances."""
    import shutil
    import tempfile

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
        OUTLIER_TOP_K,
        q_label_outlier_vectors,
    )

    rng = np.random.RandomState(3)
    rows = []
    base = {0: rng.randn(8) * 0.05 + 0.5, 1: rng.randn(8) * 0.05 - 0.5}
    vid = 0
    for label in (0, 1):
        for _ in range(20):
            v = base[label] + rng.randn(8) * 0.02
            rows.append((vid, [float(x) for x in v], label))
            vid += 1
    planted = vid
    rows.append((planted, [float(-x) for x in base[0]], 0))  # mislabeled into class 0
    d = tempfile.mkdtemp(prefix="lo_")
    try:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label long"
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        got = q_label_outlier_vectors(spark, d).collect()
        by_label = {}
        for r in got:
            by_label.setdefault(r["label"], []).append(r)
        for label, rs in by_label.items():
            rs.sort(key=lambda r: r["rank"])
            assert len(rs) == OUTLIER_TOP_K
            dists = [r["dist2"] for r in rs]
            assert dists == sorted(dists, reverse=True)
        assert by_label[0][0]["vec_id"] == planted
        assert by_label[0][0]["dist2"] > 3 * by_label[0][1]["dist2"]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_kcenter_coreset_matches_numpy_greedy(spark):
    """The distributed greedy must replay the NumPy reference exactly
    (same quantization, same max-dist/min-id tie rule), and the covering
    radius must be non-increasing."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
        KCENTER_K,
        coreset_kcenter_detail,
    )

    pdf = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    ids = pdf["vec_id"].to_numpy()
    q = np.floor(np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1_000_000).astype(
        np.int64
    )
    centers = [q[ids == 0][0]]
    expect = [(0, 0, None)]
    for rnd in range(1, KCENTER_K):
        dmin = None
        for c in centers:
            diff = q - c
            d = (diff * diff).sum(axis=1)
            dmin = d if dmin is None else np.minimum(dmin, d)
        k = int(np.lexsort((ids, -dmin))[0])
        expect.append((rnd, int(ids[k]), int(dmin[k])))
        centers.append(q[k])
    got = sorted(
        ((r["round"], r["vec_id"], r["dist2_to_set"]) for r in
         coreset_kcenter_detail(spark, SF_SMOKE).collect())
    )
    assert got == expect
    radii = [d for _, _, d in got[1:]]
    assert radii == sorted(radii, reverse=True) or all(
        radii[i] >= radii[i + 1] for i in range(len(radii) - 1)
    )
