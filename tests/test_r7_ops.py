"""Round-7-tier operator pins: duplicate n-gram spans and the interval
self-join concurrency histogram, each against a brute-force pure-Python
reference over the sf0.001 smoke tables, plus path-exercised assertions
that the tricky invariant (span-union counting / multi-bin pair
ownership) actually occurs in the smoke data rather than passing
vacuously."""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from datetime import datetime

import pandas as pd

from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.dedup import (
    DUP_SPAN_N,
    q_duplicate_ngram_spans,
)
from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.events import (
    SESSION_GAP_MIN,
    q_session_overlap_histogram,
)

from tests.conftest import SF_SMOKE


def _tokens(text: str) -> list[str]:
    return re.sub(r"\s+", " ", text.strip().lower()).split(" ")


# --- duplicate n-gram spans ---------------------------------------------------


def _py_dup_spans() -> dict[int, tuple[int, int]]:
    """(n_tokens, dup_tokens) per doc, brute force: every N-gram occurring in
    >=2 distinct docs marks its N token positions covered; covered positions
    are UNION-counted (overlapping duplicated grams share positions)."""
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    grams_by_doc: dict[int, tuple[int, list[tuple[str, int]]]] = {}
    gram_docs: dict[str, set[int]] = defaultdict(set)
    for _, r in docs.iterrows():
        t = _tokens(r.text)
        gs = [(" ".join(t[i : i + DUP_SPAN_N]), i) for i in range(len(t) - DUP_SPAN_N + 1)]
        grams_by_doc[r.doc_id] = (len(t), gs)
        for g, _i in gs:
            gram_docs[g].add(r.doc_id)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    out = {}
    for d, (n, gs) in grams_by_doc.items():
        cov: set[int] = set()
        for g, i in gs:
            if g in dup:
                cov.update(range(i, i + DUP_SPAN_N))
        out[d] = (n, len(cov))
    return out


def test_duplicate_ngram_spans_matches_python_reference(spark):
    expected = _py_dup_spans()
    got = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac)
        for r in q_duplicate_ngram_spans(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    for d, (n, cov) in expected.items():
        assert got[d][0] == n, d
        assert got[d][1] == cov, d
        assert abs(got[d][2] - cov / n) < 1e-12, d


def test_duplicate_ngram_spans_union_path_actually_taken():
    """At least one doc must contain OVERLAPPING duplicated grams (a shared
    run longer than N tokens), or the index-set-distinct union step is
    untested and a naive count(grams)*N implementation would also pass."""
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    gram_docs: dict[str, set[int]] = defaultdict(set)
    per_doc: dict[int, list[tuple[str, int]]] = {}
    for _, r in docs.iterrows():
        t = _tokens(r.text)
        gs = [(" ".join(t[i : i + DUP_SPAN_N]), i) for i in range(len(t) - DUP_SPAN_N + 1)]
        per_doc[r.doc_id] = gs
        for g, _i in gs:
            gram_docs[g].add(r.doc_id)
    dup = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    overlapping = 0
    for d, gs in per_doc.items():
        hits = sorted(i for g, i in gs if g in dup)
        if any(b - a < DUP_SPAN_N for a, b in zip(hits, hits[1:])):
            overlapping += 1
    assert overlapping > 0


# --- session overlap histogram ------------------------------------------------


def _py_spans() -> list[tuple[pd.Timestamp, pd.Timestamp]]:
    ev = (
        pd.read_parquet(f"{SF_SMOKE}/events.parquet")
        .sort_values(["user_id", "ts", "event_id"])
        .reset_index(drop=True)
    )
    gap = pd.Timedelta(minutes=SESSION_GAP_MIN)
    spans = []
    for _uid, grp in ev.groupby("user_id"):
        prev = None
        for ts in grp["ts"]:
            if prev is None or ts - prev > gap:
                spans.append([ts, ts])
            else:
                spans[-1][1] = ts
            prev = ts
    return [(s, e) for s, e in spans]


def test_session_overlap_histogram_matches_python_reference(spark):
    spans = _py_spans()
    counts = [
        sum(1 for j, (s2, e2) in enumerate(spans) if i != j and s1 <= e2 and s2 <= e1)
        for i, (s1, e1) in enumerate(spans)
    ]
    expected = Counter(counts)
    got = {
        r.n_overlapping: r.n_sessions
        for r in q_session_overlap_histogram(spark, SF_SMOKE).collect()
    }
    assert got == dict(expected)


def test_session_overlap_multibin_pair_counted_once(spark, tmp_path, tmp_stage):
    """Hand case exercising the bin-ownership exactly-once rule (absent
    from the sf0.001 smoke data, where no overlapping pair spans two hour
    bins): session A [10:30, 12:10] and session B [11:50, 12:05] share TWO
    hour bins (11:00 and 12:00) — a naive per-bin pair count would report
    n_overlapping=2; the ownership rule (bin == hour(overlap start 11:50))
    must count the pair exactly once.  User 3 is an isolated session
    pinning the zero bucket."""
    rows = []
    eid = 0
    for uid, times in (
        (1, ["10:30", "10:55", "11:20", "11:45", "12:10"]),
        (2, ["11:50", "12:05"]),
        (3, ["03:00"]),
    ):
        for hm in times:
            rows.append((eid, datetime.fromisoformat(f"2026-01-05 {hm}"), uid, "click", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = {
        r.n_overlapping: r.n_sessions
        for r in q_session_overlap_histogram(spark, str(tmp_path)).collect()
    }
    assert got == {0: 1, 1: 2}


# --- span corruption ------------------------------------------------------------


def test_span_corruption_round_trip(spark):
    """Interleaving the target spans back into the input at their sentinels
    must reconstruct the normalized document exactly, for every doc."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.scrub import (
        q_span_corruption_examples,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    norm = {r.doc_id: " ".join(_tokens(r.text)) for _, r in docs.iterrows()}
    rows = q_span_corruption_examples(spark, SF_SMOKE).collect()
    assert {r.doc_id for r in rows} == set(norm)
    corrupted = 0
    for r in rows:
        spans = {}
        if r.target_text:
            parts = re.split(r"<extra_id_(\d+)> ?", r.target_text)
            # split yields ['', k0, text0, k1, text1, ...]
            for k, text in zip(parts[1::2], parts[2::2]):
                spans[int(k)] = text.rstrip()
            corrupted += 1
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda mo: spans[int(mo.group(1))], r.input_text
        )
        assert rebuilt == norm[r.doc_id], r.doc_id
        # dense sentinel numbering 0..n-1 in left-to-right input order
        ks = [int(k) for k in re.findall(r"<extra_id_(\d+)>", r.input_text)]
        assert ks == list(range(len(ks))), r.doc_id
    assert corrupted > 0


def test_span_corruption_rate_near_15pct(spark):
    """On long documents the positional rule masks SPAN_LEN/SPAN_PERIOD of
    tokens (the T5 corruption rate the constants encode)."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.scrub import (
        SPAN_LEN,
        SPAN_PERIOD,
        q_span_corruption_examples,
    )

    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    long_ids = {r.doc_id: len(_tokens(r.text)) for _, r in docs.iterrows() if len(_tokens(r.text)) >= 60}
    assert long_ids
    got = {r.doc_id: r for r in q_span_corruption_examples(spark, SF_SMOKE).collect()}
    for doc_id, n in long_ids.items():
        # masked-token count read from the target: tokens after stripping sentinels
        tgt_tokens = re.sub(r"<extra_id_\d+> ?", "", got[doc_id].target_text).split()
        rate = len(tgt_tokens) / n
        assert abs(rate - SPAN_LEN / SPAN_PERIOD) < 0.06, (doc_id, rate)


# --- Theil–Sen -------------------------------------------------------------------


def test_theilsen_matches_python_reference(spark):
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        q_theilsen_daily_trend,
    )
    import statistics

    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    daily = ev.groupby(ev["ts"].dt.floor("D")).size().sort_index()
    x0 = daily.index.min()
    xs = [(d - x0).days for d in daily.index]
    ys = [float(v) for v in daily.values]
    slopes = [
        (ys[j] - ys[i]) / (xs[j] - xs[i])
        for i in range(len(xs))
        for j in range(i + 1, len(xs))
    ]
    slope = statistics.median(slopes)
    intercept = statistics.median(ys) - slope * statistics.median(xs)
    row = q_theilsen_daily_trend(spark, SF_SMOKE).collect()[0]
    assert row.n_days == len(xs)
    assert abs(row.slope - slope) < 1e-9
    assert abs(row.intercept - intercept) < 1e-9


# --- text normalization audit ------------------------------------------------


def test_text_normalization_flags_fire_on_dirty_docs(spark, tmp_path, tmp_stage):
    """The synthetic corpus is clean (all flags zero — oracle parity is
    vacuous for the flag columns), so pin each detector on constructed
    dirty documents: control char, non-ASCII, doubled space, edge
    whitespace, and the exact whitespace ratio from integer sums."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.datapipe.scrub import (
        q_text_normalization_report,
    )

    rows = [
        (0, "clean text here", "s", "en", 15),
        (1, "bell\x07inside", "s", "en", 11),          # control char
        (2, "café latte", "s", "en", 10),          # non-ASCII
        (3, "double  space", "s", "en", 13),            # doubled space
        (4, " leading and trailing ", "s", "en", 22),   # edge whitespace
        (5, "vertical\x0btab text", "s", "en", 17),     # \x0B: ws AND control
    ]
    df = spark.createDataFrame(
        [(d, t, lang, src, n) for d, t, src, lang, n in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = q_text_normalization_report(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_docs == 6
    assert r.docs_control_chars == 2  # bell + vertical tab
    assert r.docs_non_ascii == 1
    assert r.docs_double_space == 1
    assert r.docs_edge_whitespace == 1
    texts = [t for _, t, _, _, _ in rows]
    ws = sum(sum(1 for ch in t if ch.isspace()) for t in texts)
    total = sum(len(t) for t in texts)
    assert abs(r.ws_char_ratio - ws / total) < 1e-12


# --- co-grouped pandas as-of --------------------------------------------------


def test_cogroup_asof_identical_to_jvm_asof(spark):
    """The cogrouped merge_asof API demo must emit byte-identical rows to
    the production union-tag asof_join restricted to the demo's
    deterministic user sample, including error users with zero clicks
    (null match survives the ASOF left join).  The sample filter commutes
    with the asof join (it keys on user_id, the join's equality key), so
    filtering the production output IS the exact expected answer."""
    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.operators.temporal import (
        COGROUP_USER_MOD,
        q_asof,
        q_asof_cogroup,
    )

    a = sorted(map(tuple, q_asof_cogroup(spark, SF_SMOKE).collect()))
    b = sorted(
        tuple(r)
        for r in q_asof(spark, SF_SMOKE).collect()
        if r["user_id"] % COGROUP_USER_MOD == 0
    )
    assert a == b
    # the no-match → null path must actually occur in the smoke data, or
    # the equality above would never exercise cogroup's unmatched branch
    assert any(r[-1] is None for r in a)


def test_global_running_sum_matches_global_window(spark):
    """The two-phase running sum must equal the naive single-partition
    global window exactly, while keeping the data-sized window PARTITIONED
    (only the P-row offsets frame may pass through one task)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions.skew import (
        global_running_sum,
    )

    df = spark.range(0, 10_007).select(
        F.col("id").alias("k"), (F.xxhash64("id") % 1000).alias("v")
    )
    fast = global_running_sum(df, ["k"], "v", "rs")
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = df.select("k", F.sum("v").over(w).alias("rs"))
    assert sorted(map(tuple, fast.select("k", "rs").collect())) == sorted(
        map(tuple, naive.collect())
    )
    # the big-side window is keyed by the partition id, not global
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "_pid" in plan
