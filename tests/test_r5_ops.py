"""Round-5 additions: SemDeDup, BFS hop distance, overlap chunking,
equi-depth histogram, market-basket lift.  Oracle parity runs in
tools/check_oracle.py; these tests pin the SEMANTICS on hand-built cases
and invariants the differential check can't express."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.cluster import (
    BFS_MAX_HOPS,
    bfs_hop_distance,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.kmeans import (
    semantic_dedup,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
    CHUNK_STRIDE,
    CHUNK_WINDOW,
    q_chunk_docs_overlap,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.analytics import (
    EQUIDEPTH_BUCKETS,
    q_basket_part_pair_lift,
    q_equi_depth_histogram,
)


# --- SemDeDup ----------------------------------------------------------------


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=0) for i, v in enumerate(vecs)]
    )


def _numpy_semdedup(vecs, k, iters, tau):
    """Pure-python reference: same deterministic md5 init, same Lloyd's,
    same keep-earliest pairwise rule."""
    x = np.asarray(vecs, dtype=np.float64)
    ids = list(range(len(vecs)))
    order = sorted(range(len(ids)), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]))
    centroids = x[order[:k]].copy()
    for _ in range(iters):
        scores = x @ centroids.T - 0.5 * (centroids * centroids).sum(axis=1)
        best = np.argmax(scores, axis=1)
        for c in range(k):
            m = x[best == c]
            if len(m):
                centroids[c] = m.mean(axis=0)
    scores = x @ centroids.T - 0.5 * (centroids * centroids).sum(axis=1)
    best = np.argmax(scores, axis=1)
    norms = np.sqrt((x * x).sum(axis=1))
    norms[norms == 0.0] = 1.0
    xn = x / norms[:, None]
    dropped = {}
    for c in set(best):
        members = [i for i in range(len(vecs)) if best[i] == c]
        for pos, i in enumerate(members):
            dropped[i] = any(
                float(xn[i] @ xn[j]) >= tau for j in members[:pos]
            )
    return best, dropped


def test_semantic_dedup_matches_numpy_reference(spark):
    rng = np.random.RandomState(7)
    # random 8-d directions are nearly orthogonal (pairwise cos ≈ N(0, 1/8)),
    # so at tau=0.9 only the PLANTED near-identical copies count as dups
    base = rng.randn(20, 8)
    dups = base[[0, 3, 12]] + rng.randn(3, 8) * 1e-3  # cosine ≈ 1 with originals
    vecs = np.vstack([base, dups])
    got = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in semantic_dedup(_emb_df(spark, vecs), k=2, iters=5, tau=0.9).collect()
    }
    ref_best, ref_dropped = _numpy_semdedup(vecs, k=2, iters=5, tau=0.9)
    assert len(got) == len(vecs)
    for i in range(len(vecs)):
        assert got[i][0] == ref_best[i]
        assert got[i][1] == ref_dropped[i]
    # the planted duplicates (larger ids than their originals) are dropped
    for d in (20, 21, 22):
        assert got[d][1] is True
    # originals are kept
    for o in (0, 3, 12):
        assert got[o][1] is False


def test_semantic_dedup_keep_set_is_tau_separated(spark):
    rng = np.random.RandomState(13)
    vecs = rng.randn(40, 6)
    tau = 0.8
    rows = semantic_dedup(_emb_df(spark, vecs), k=3, iters=4, tau=tau).collect()
    x = np.asarray(vecs, dtype=np.float64)
    xn = x / np.sqrt((x * x).sum(axis=1))[:, None]
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append((r["vec_id"], r["is_dup"]))
    for members in by_cluster.values():
        kept = [i for i, d in members if not d]
        # kept pairs are < tau similar
        for a in range(len(kept)):
            for b in range(a + 1, len(kept)):
                assert float(xn[kept[a]] @ xn[kept[b]]) < tau
        # every dropped member has a smaller-id cluster-mate >= tau
        for i, d in members:
            if d:
                assert any(
                    float(xn[i] @ xn[j]) >= tau for j, _ in members if j < i
                )


# --- BFS hop distance --------------------------------------------------------


def _edges_df(spark, pairs):
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def test_bfs_chain_hops(spark):
    # chain 1-2-3-4-5, seed 1; isolated node 9 unreachable
    edges = _edges_df(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,)], "doc_id long")
    got = {r["doc_id"]: r["hop"] for r in bfs_hop_distance(edges, seeds, 6).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_min_hop_and_cap(spark):
    # diamond: 1-2, 1-3, 2-4, 3-4 → 4 reached at hop 2 exactly once;
    # long tail beyond the cap is excluded
    tail = [(4 + i, 5 + i) for i in range(8)]
    edges = _edges_df(spark, [(1, 2), (1, 3), (2, 4), (3, 4)] + tail)
    seeds = spark.createDataFrame([(1,)], "doc_id long")
    got = {r["doc_id"]: r["hop"] for r in bfs_hop_distance(edges, seeds, 3).collect()}
    assert got[4] == 2
    assert got[5] == 3
    assert 6 not in got  # beyond max_hops
    assert max(got.values()) <= 3


def test_bfs_multi_source_takes_min(spark):
    edges = _edges_df(spark, [(1, 2), (2, 3), (3, 4)])
    seeds = spark.createDataFrame([(1,), (4,)], "doc_id long")
    got = {r["doc_id"]: r["hop"] for r in bfs_hop_distance(edges, seeds, 6).collect()}
    assert got == {1: 0, 4: 0, 2: 1, 3: 1}
    assert BFS_MAX_HOPS >= 3  # registry cap comfortably covers near-dup cluster diameters


def test_bfs_without_seeds_is_empty(spark):
    # a 0-row first frontier: its observed count reads 0 and the loop stops
    edges = _edges_df(spark, [(1, 2), (2, 3)])
    seeds = spark.createDataFrame([], "doc_id long")
    assert bfs_hop_distance(edges, seeds, 6).collect() == []


# --- overlap chunking --------------------------------------------------------


def test_chunk_overlap_tiles_every_document(spark):
    chunks = q_chunk_docs_overlap(spark, SF_SMOKE).collect()
    docs = {
        r["doc_id"]: r["toks"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", F.split(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "), " ").alias("toks"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        toks = docs[doc_id]
        n = len(toks)
        rows.sort(key=lambda r: r["chunk_id"])
        covered = set()
        for i, r in enumerate(rows):
            assert r["chunk_id"] == i
            assert r["start_tok"] == 1 + i * CHUNK_STRIDE
            assert r["n_toks"] == min(CHUNK_WINDOW, n - i * CHUNK_STRIDE)
            # chunk text is exactly the token slice
            lo = r["start_tok"] - 1
            assert r["chunk_text"] == " ".join(toks[lo : lo + r["n_toks"]])
            covered.update(range(lo, lo + r["n_toks"]))
        assert covered == set(range(n))  # full coverage, no token lost
        # consecutive chunks overlap by WINDOW - STRIDE (except a short tail)
        for a, b in zip(rows, rows[1:]):
            overlap = (a["start_tok"] + a["n_toks"]) - b["start_tok"]
            assert overlap >= 1


# --- equi-depth histogram ----------------------------------------------------


def test_equi_depth_buckets_are_balanced_and_ordered(spark):
    rows = q_equi_depth_histogram(spark, SF_SMOKE).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for evt, bs in by_type.items():
        bs.sort(key=lambda r: r["bucket"])
        assert [b["bucket"] for b in bs] == list(range(1, EQUIDEPTH_BUCKETS + 1))
        counts = [b["n"] for b in bs]
        assert max(counts) - min(counts) <= 1  # NTILE balance
        for a, b in zip(bs, bs[1:]):
            assert a["hi"] <= b["lo"]  # buckets ordered, non-overlapping ranges
        for b in bs:
            assert b["lo"] <= b["hi"]


# --- market-basket lift ------------------------------------------------------


def test_basket_lift_metrics_are_consistent(spark):
    rows = q_basket_part_pair_lift(spark, SF_SMOKE).collect()
    assert rows, "expected non-empty pair set at sf0.001"
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_baskets = items.select("l_orderkey").distinct().count()
    cnt = {
        r["l_partkey"]: r["c"]
        for r in items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)  # ordered by lift desc
    for r in rows[:20]:
        assert r["part_a"] < r["part_b"]
        assert r["support"] == pytest.approx(r["pair_count"] / n_baskets, abs=1e-9)
        assert r["confidence_a_b"] == pytest.approx(r["pair_count"] / cnt[r["part_a"]], abs=1e-9)
        assert r["lift"] == pytest.approx(
            r["pair_count"] * n_baskets / (cnt[r["part_a"]] * cnt[r["part_b"]]), abs=1e-7
        )


# --- hybrid RRF --------------------------------------------------------------


def test_rrf_fuses_ranks_consistently(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        RRF_K,
        RRF_TOP_K,
        q_hybrid_search_rrf,
    )

    rows = q_hybrid_search_rrf(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= RRF_TOP_K
    for r in rows:
        assert r["rrf"] == pytest.approx(
            1.0 / (RRF_K + r["lex_rank"]) + 1.0 / (RRF_K + r["tfidf_rank"]), abs=1e-9
        )
    rrfs = [r["rrf"] for r in rows]
    assert rrfs == sorted(rrfs, reverse=True)
    # ranks are a permutation fragment: no duplicates within either ranking
    assert len({r["lex_rank"] for r in rows}) == len(rows)
    assert len({r["tfidf_rank"] for r in rows}) == len(rows)


# --- per-source deterministic sample -----------------------------------------


def test_per_source_sample_exact_k_and_deterministic(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.textstats import (
        GROUP_SAMPLE_K,
        q_per_source_sample_topk,
    )

    rows1 = sorted((r["source"], r["doc_id"]) for r in q_per_source_sample_topk(spark, SF_SMOKE).collect())
    rows2 = sorted((r["source"], r["doc_id"]) for r in q_per_source_sample_topk(spark, SF_SMOKE).collect())
    assert rows1 == rows2  # repartition/rerun stable
    sizes = {
        r["source"]: r["n"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    from collections import Counter

    got = Counter(s for s, _ in rows1)
    for src, n in sizes.items():
        assert got[src] == min(GROUP_SAMPLE_K, n)


# --- MAD robust z-score ------------------------------------------------------


def test_mad_outliers_match_python_reference(spark, tmp_stage):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.analytics import (
        MAD_Z_CUTOFF,
        q_mad_outlier_events,
    )

    got = {(r["event_id"]): r["robust_z"] for r in q_mad_outlier_events(spark, SF_SMOKE).collect()}
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_id", "event_type", "value")
        .collect()
    )
    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append((r["event_id"], r["value"]))
    expected = {}
    for vals in by_type.values():
        xs = sorted(v for _, v in vals)
        m = xs[(len(xs) + 1) // 2 - 1]  # discrete lower median
        devs = sorted(abs(v - m) for _, v in vals)
        mad = devs[(len(devs) + 1) // 2 - 1]
        if mad == 0:
            continue
        for eid, v in vals:
            z = round(0.6745 * (v - m) / mad, 9)
            if abs(z) > MAD_Z_CUTOFF:
                expected[eid] = z
    assert set(got) == set(expected)
    for eid, z in expected.items():
        assert got[eid] == pytest.approx(z, abs=1e-9)


# --- gaps-and-islands streaks ------------------------------------------------


def _events_dir(spark, rows):
    """Write a hand-built events.parquet into a temp sf_dir."""
    import tempfile

    d = tempfile.mkdtemp(prefix="r5_events_")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


def test_longest_streak_hand_case(spark, tmp_stage):
    from datetime import datetime

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        q_longest_daily_streak,
    )

    def ev(i, u, day, hour=1):
        return (i, datetime(2024, 3, day, hour), u, "click", 1.0, "{}")

    rows = [
        # user 1: days 1,2,3 then 5,6 → longest = 3 starting day 1
        ev(1, 1, 1), ev(2, 1, 2), ev(3, 1, 3), ev(4, 1, 5), ev(5, 1, 6),
        # duplicate events same day don't extend streaks
        ev(6, 1, 2, hour=9),
        # user 2: two singleton days → longest = 1, EARLIEST start wins tie
        ev(7, 2, 10), ev(8, 2, 12),
        # user 3: tie between (1,2) and (4,5) runs → earliest wins
        ev(9, 3, 1), ev(10, 3, 2), ev(11, 3, 4), ev(12, 3, 5),
    ]
    d = _events_dir(spark, rows)
    try:
        got = {r["user_id"]: r for r in q_longest_daily_streak(spark, d).collect()}
        assert got[1]["streak_days"] == 3
        assert str(got[1]["streak_start"]) == "2024-03-01"
        assert str(got[1]["streak_end"]) == "2024-03-03"
        assert got[2]["streak_days"] == 1
        assert str(got[2]["streak_start"]) == "2024-03-10"
        assert got[3]["streak_days"] == 2
        assert str(got[3]["streak_start"]) == "2024-03-01"
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_conversion_latency_hand_case(spark, tmp_stage):
    from datetime import datetime

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
        q_conversion_latency,
    )

    rows = [
        # user 1: click 10:00, purchase 10:30 → 1800s
        (1, datetime(2024, 3, 1, 10, 0), 1, "click", 1.0, "{}"),
        (2, datetime(2024, 3, 1, 10, 30), 1, "purchase", 5.0, "{}"),
        # user 2: purchase BEFORE first click → not converted
        (3, datetime(2024, 3, 1, 9, 0), 2, "purchase", 5.0, "{}"),
        (4, datetime(2024, 3, 1, 11, 0), 2, "click", 1.0, "{}"),
        # user 3: click only → not converted
        (5, datetime(2024, 3, 1, 12, 0), 3, "click", 1.0, "{}"),
        # user 4: click 08:00, purchases 08:10 and 09:00 → first wins, 600s
        (6, datetime(2024, 3, 1, 8, 0), 4, "click", 1.0, "{}"),
        (7, datetime(2024, 3, 1, 8, 10), 4, "purchase", 5.0, "{}"),
        (8, datetime(2024, 3, 1, 9, 0), 4, "purchase", 5.0, "{}"),
    ]
    d = _events_dir(spark, rows)
    try:
        row = q_conversion_latency(spark, d).collect()[0]
        assert row["n_clickers"] == 4
        assert row["n_converted"] == 2
        assert row["conversion_rate"] == pytest.approx(0.5, abs=1e-12)
        # latencies sorted: [600s, 1800s]; (n+1)*k//4 rule → p25=600, p50=600, p75=1800
        assert row["p25_us"] == 600 * 1_000_000
        assert row["p50_us"] == 600 * 1_000_000
        assert row["p75_us"] == 1800 * 1_000_000
        assert row["p90_us"] == 1800 * 1_000_000
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


# --- ANN recall report -------------------------------------------------------


def test_ann_recall_report_bounds_and_determinism(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
        N_QUERIES,
        ann_recall_report_detail,
    )

    rows1 = {r["method"]: r for r in ann_recall_report_detail(spark, SF_SMOKE).collect()}
    rows2 = {r["method"]: r for r in ann_recall_report_detail(spark, SF_SMOKE).collect()}
    assert set(rows1) == {"lsh", "ivf", "pq", "ivfpq"}
    for m in rows1:
        r = rows1[m]
        assert r["n_queries"] == N_QUERIES
        assert 0.0 <= r["min_recall"] <= r["mean_recall"] <= 1.0
        # reproducible run-to-run (fixed seeds, deterministic tie order)
        assert rows2[m]["mean_recall"] == r["mean_recall"]
        assert rows2[m]["min_recall"] == r["min_recall"]
    # floors consistent with test_datapipe's index bars: IVF searches
    # nprobe/lists of the corpus; hyperplane LSH on this near-uniform
    # synthetic embedding table is the weaker tier (exactly what the
    # monitor exists to surface)
    assert rows1["lsh"]["mean_recall"] >= 0.2
    assert rows1["ivf"]["mean_recall"] >= 0.3
    assert rows1["pq"]["mean_recall"] >= 0.5
    # composite: IVF pruning caps PQ's recall (scans nprobe/lists of the
    # corpus) but must stay far above chance — same bar as test_r10_ops
    assert rows1["ivfpq"]["mean_recall"] >= 0.2


def test_ann_registered_report_floor_booleans(spark):
    """The registered (hash-gated) report surface: per-method floor
    booleans all TRUE at the smoke scale, panel size exact, and the floor
    constants identical to the ones the detail assertions above enforce."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.similarity import (
        ANN_MEAN_RECALL_FLOORS,
        N_QUERIES,
        q_ann_recall_report,
    )

    rows = {r["method"]: r for r in q_ann_recall_report(spark, SF_SMOKE).collect()}
    assert set(rows) == set(ANN_MEAN_RECALL_FLOORS)
    for m, r in rows.items():
        assert r["n_queries"] == N_QUERIES
        assert r["mean_recall_ge_floor"] is True, m


# --- runtime bloom-filter join pruning ---------------------------------------


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """At 100 TB the single biggest shuffle-join lever after broadcast is the
    RUNTIME BLOOM FILTER: a selective dimension side builds a bloom filter
    that is pushed into the fact side's scan stage, dropping non-joining
    rows BEFORE the shuffle.  Local thresholds normally suppress it (the
    optimization targets >10 GB scans), so this pins that the engine's
    session actually enables the rewrite once sizes warrant it — the conf
    knobs are the test's stand-in for scale."""
    from pyspark.sql import functions as F

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.plans import plan_string
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
        orders = (
            load_table(spark, SF_SMOKE, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")  # selective build side
            .select("o_orderkey")
        )
        joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        plan = plan_string(joined)
        assert "might_contain" in plan or "bloom" in plan.lower(), plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- CUSUM closed form ≡ recursion -------------------------------------------


def test_cusum_closed_form_equals_recursion(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        CUSUM_SLACK,
        CUSUM_THRESH,
        q_cusum_daily_level_shift,
        daily_gapfilled,
    )
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import load_table

    got = {str(r["day"]): (r["cusum"], r["alarm"]) for r in q_cusum_daily_level_shift(spark, SF_SMOKE).collect()}
    series = sorted(
        (str(r["day"]), r["n_events"])
        for r in daily_gapfilled(load_table(spark, SF_SMOKE, "events")).collect()
    )
    mu = sum(n for _, n in series) / len(series)
    k = mu * (1 + CUSUM_SLACK)
    s = 0.0
    for day, n in series:  # textbook recursion s_t = max(0, s_{t-1} + x_t - k)
        s = max(0.0, s + (n - k))
        assert got[day][0] == pytest.approx(s / mu, abs=1e-6)
        assert got[day][1] == (s / mu > CUSUM_THRESH)


def test_cusum_burst_from_day_one(spark, tmp_stage):
    """Positive-start regression case: when the cumulative deviation is
    positive from the very first day (level shift at t=1 — the detector's
    target), the closed form must clamp the running min at the empty
    prefix P_0 = 0, or day 1's statistic is forced to 0 and every later
    day is understated by prefix_1.  Counts 10,10,10,1,1,1 → mean 5.5,
    k = 5.5·(1+slack): the recursion accumulates from day 1."""
    from datetime import datetime

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        CUSUM_SLACK,
        CUSUM_THRESH,
        q_cusum_daily_level_shift,
    )

    rows = []
    eid = 0
    counts = [10, 10, 10, 1, 1, 1]
    for day, n in enumerate(counts, start=1):
        for _ in range(n):
            rows.append((eid, datetime(2024, 3, day, eid % 24), eid, "click", 1.0, "{}"))
            eid += 1
    d = _events_dir(spark, rows)
    got = {
        str(r["day"]): (r["cusum"], r["alarm"])
        for r in q_cusum_daily_level_shift(spark, d).collect()
    }
    mu = sum(counts) / len(counts)
    k = mu * (1 + CUSUM_SLACK)
    s = 0.0
    assert counts[0] > k  # the scenario under test: prefix_1 > 0
    for day, n in enumerate(counts, start=1):
        s = max(0.0, s + (n - k))
        key = f"2024-03-{day:02d}"
        assert got[key][0] == pytest.approx(s / mu, abs=1e-6)
        assert got[key][1] == (s / mu > CUSUM_THRESH)
    assert got["2024-03-01"][0] > 0  # day-1 statistic not clamped to zero


# --- absorbing Markov --------------------------------------------------------


def test_absorption_gamblers_ruin_hand_case(spark, tmp_stage):
    """Chain A where 2 of 3 observed transitions go to purchase and 1 to
    error → P(purchase|A) = 2/3.  And a 2-hop chain B→A only → B inherits
    A's absorption probabilities exactly."""
    from datetime import datetime

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.behavior import (
        absorption_probabilities,
    )

    rows = []
    eid = 0

    def chain(user, *types):
        nonlocal eid
        for i, t in enumerate(types):
            rows.append((eid, datetime(2024, 3, 1, 0, eid % 60, eid // 60), user, t, 1.0, "{}"))
            eid += 1

    # user chains: A→purchase, A→purchase, A→error, B→A→purchase (the B
    # chain's A transition also adds one A→purchase observation: recompute)
    chain(1, "click", "purchase")
    chain(2, "click", "purchase")
    chain(3, "click", "error")
    chain(4, "view", "click", "purchase")
    d = _events_dir(spark, rows)
    try:
        ev = spark.read.parquet(f"{d}/events.parquet")
        got = dict(absorption_probabilities(ev, ("purchase", "error")))
        # click: 3 of 4 observed click-transitions purchase, 1 error
        assert got["click"]["purchase"] == pytest.approx(3 / 4)
        assert got["click"]["error"] == pytest.approx(1 / 4)
        # view always walks through click → inherits click's absorption
        assert got["view"]["purchase"] == pytest.approx(3 / 4)
        assert got["view"]["error"] == pytest.approx(1 / 4)
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)
